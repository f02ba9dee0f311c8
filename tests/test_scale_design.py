"""Scale-design evidence tests: the physical-plan properties that make
these operators survive 100x data (SURVEY.md §4 / the 100 TB brief).

These assert on .explain output — partition pruning, pushed filters,
broadcast joins, absence of exchanges on bucketed joins — so plan
regressions fail loudly instead of silently degrading at scale.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.io import load_table, write_parquet

from .conftest import SF_SMALL


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    plan = _plan(li.where(F.col("l_quantity") > 30).select("l_orderkey"))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: scan reads only the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_partition_pruning_on_partitioned_write(spark):
    d = tempfile.mkdtemp(prefix="part_write_")
    try:
        ev = load_table(spark, SF_SMALL, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        write_parquet(ev, d, partition_by=["day"], compression="snappy")
        back = spark.read.parquet(d).where(F.col("day") == "2024-01-05")
        plan = _plan(back)
        assert "PartitionFilters" in plan and "day" in plan
        # pruned scan must touch a single partition directory
        n_days = ev.select("day").distinct().count()
        assert back.count() > 0
        assert back.select("day").distinct().count() == 1 < n_days
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_dimension_join_broadcasts(spark):
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["q5_region_revenue"].build(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle


def test_bucketed_join_has_no_exchange(spark):
    """Bucketing both sides on the join key makes the join
    exchange-free — the write-once/join-many pattern the games table
    uses for per-player analytics at scale."""
    d = tempfile.mkdtemp(prefix="bucketed_")
    try:
        ev = load_table(spark, SF_SMALL, "events")
        a = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        b = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
            F.count("*").alias("n_clicks")
        )
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")
        a.write.bucketBy(8, "user_id").sortBy("user_id").option(
            "path", f"{d}/bkt_a"
        ).saveAsTable("bkt_a")
        b.write.bucketBy(8, "user_id").sortBy("user_id").option(
            "path", f"{d}/bkt_b"
        ).saveAsTable("bkt_b")
        # tiny test tables would broadcast (also shuffle-free, but not
        # the property under test); force the sort-merge path a real
        # fact-fact join would take and assert bucketing removed the
        # hash-partition exchanges.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "user_id")
            plan = _plan(joined)
            assert "SortMergeJoin" in plan, plan
            assert "Exchange hashpartitioning" not in plan, plan
            assert joined.count() > 0
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")
        shutil.rmtree(d, ignore_errors=True)


def test_bucketed_entry_join_is_exchange_free(spark):
    """The bucketed_join_revenue catalog entry's JOIN must need no
    exchange on either fact side: the only shuffle left in the whole
    plan is the final groupBy's. Broadcast is disabled so the test
    pins the sort-merge path a real fact-fact pair takes."""
    from lichess_db_spark.plans.catalog_scale import write_bucketed_pair

    orders, li = write_bucketed_pair(spark, SF_SMALL)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_items"))
        )
        plan = _plan(j, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        # exactly one exchange total: the aggregation's
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_zorder_clustering_prunes_files(spark):
    """Z-ordering must make a 2-D box query skippable by per-file
    min/max stats in BOTH dimensions: strictly fewer files overlap the
    query box than under a size-only sort (which packs every price
    into every file) or a round-robin layout (every file spans the
    full range of both columns). Measured from the written files' own
    parquet footers — the same stats a cluster's scan planner uses."""
    import pyarrow.parquet as pq
    import glob as _glob

    from lichess_db_spark.plans.catalog_scale import (
        _BOX_PRICE,
        _BOX_SIZE,
        write_zorder_parts,
    )

    def overlapping(path: str) -> tuple[int, int]:
        files = sorted(_glob.glob(f"{path}/part-*.parquet"))
        hit = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            lo_s = min(md.row_group(g).column(cols["p_size"]).statistics.min for g in range(md.num_row_groups))
            hi_s = max(md.row_group(g).column(cols["p_size"]).statistics.max for g in range(md.num_row_groups))
            lo_p = min(md.row_group(g).column(cols["p_retailprice"]).statistics.min for g in range(md.num_row_groups))
            hi_p = max(md.row_group(g).column(cols["p_retailprice"]).statistics.max for g in range(md.num_row_groups))
            if (
                hi_s >= _BOX_SIZE[0]
                and lo_s <= _BOX_SIZE[1]
                and hi_p >= _BOX_PRICE[0]
                and lo_p < _BOX_PRICE[1]
            ):
                hit += 1
        return hit, len(files)

    z_path = write_zorder_parts(spark, SF_SMALL, n_files=8)
    d = tempfile.mkdtemp(prefix="rr_part_")
    try:
        part = load_table(spark, SF_SMALL, "part")
        part.repartition(8).write.mode("overwrite").parquet(d)
        z_hit, z_n = overlapping(z_path)
        rr_hit, rr_n = overlapping(d)
        assert z_n == rr_n == 8
        # round-robin files all span the full value range -> no skipping
        assert rr_hit == 8, (rr_hit, rr_n)
        assert z_hit < rr_hit, (z_hit, rr_hit)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fuzzy_candidate_filter_is_lossless(spark):
    """The q-gram count filter must admit EVERY pair at edit distance
    <= 1 (Gravano count-filter bound): compare against the unblocked
    all-pairs levenshtein computed in Spark itself."""
    from lichess_db_spark.plans import QUERIES

    got = {
        (r.name_a, r.name_b, r.dist)
        for r in QUERIES["fuzzy_name_match"].build(spark, SF_SMALL).collect()
    }
    names = (
        load_table(spark, SF_SMALL, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    a, b = names.alias("a"), names.alias("b")
    want = {
        (r.name_a, r.name_b, r.dist)
        for r in a.join(b, F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein("a.name", "b.name").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= 1)
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_topk_plans_as_take_ordered(spark):
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["o3_topk_head"].build(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_window_features_share_one_shuffle_per_partitioning(spark):
    """W1-W4 over the same (partition, order) must plan into a single
    Window node (one sort, one exchange) — not one per feature."""
    from lichess_db_spark.operators.windows import add_running_features

    ev = (
        load_table(spark, SF_SMALL, "events")
        .withColumnRenamed("user_id", "Player")
        .withColumnRenamed("event_type", "Event")
        .withColumnRenamed("value", "PlayerElo")
        .withColumn("OpponentElo", F.length("props"))
        .withColumnRenamed("ts", "DateTime")
        .withColumnRenamed("event_id", "ID")
    )
    out = add_running_features(ev)
    plan = _plan(out, "simple")
    # two partitionings -> exactly two Window nodes, two exchanges
    assert plan.count("Window") == 2, plan


def test_games_table_parses_once_without_join(spark):
    """The batch ingest reads each staged byte once: Opponent_* come
    from one window over ID, not a self-join whose second branch
    re-scans and re-parses the PGN (its pruned columns differ, so
    Spark cannot reuse the exchange). The only exchanges are the
    running windows' Player partitioning and the opponent window's ID."""
    import os
    import re

    from lichess_db_spark.plans.ingest import build_games_table

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")
    plan = _plan(build_games_table(spark, fixture), "simple")
    assert plan.count("FileScan binaryFile") == 1, plan
    assert "Join" not in plan, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*), \d+\)", plan)
    assert sorted(re.sub(r"#\d+", "", k) for k in keys) == ["ID", "Player"], plan


def test_games_table_build_makes_few_jvm_round_trips(spark, monkeypatch):
    """The batch ingest and every streaming micro-batch rebuild the
    games plan on the driver. Built from SQL text it costs a few
    hundred py4j round trips; built from ``pyspark.sql.functions``
    calls (each one sets its call-site origin over py4j, and the
    lambdas multiply them) it cost over 4,000. Counting calls, not
    timing them, keeps the bound deterministic."""
    import os

    from py4j.clientserver import ClientServerConnection

    from lichess_db_spark.plans.ingest import build_games_table

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")
    send = ClientServerConnection.send_command
    calls = []
    monkeypatch.setattr(ClientServerConnection, "send_command",
                        lambda self, command: calls.append(command) or send(self, command))
    build_games_table(spark, fixture)
    monkeypatch.undo()
    assert 0 < len(calls) <= 500, len(calls)


def test_tfidf_builds_lazily_without_vocab_broadcast(spark):
    """tfidf_top_terms must not run a job at plan-build (corpus count is
    a cross-joined 1-row aggregate, not a driver .count()) and must not
    force a broadcast of the token->df table — the vocabulary grows with
    the corpus, so that join has to be free to shuffle on token."""
    from lichess_db_spark.plans import QUERIES

    tracker = spark.sparkContext.statusTracker()
    jobs_before = tracker.getJobIdsForGroup(None) or []
    df = QUERIES["tfidf_top_terms"].build(spark, SF_SMALL)
    new_jobs = [j for j in (tracker.getJobIdsForGroup(None) or []) if j not in jobs_before]
    # parquet schema reads are 1-task constant-cost jobs; what must NOT
    # happen at plan-build is an O(data) scan (the old d.count())
    for j in new_jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            assert st is None or st.numTasks <= 1, (
                f"plan-build ran a {st.numTasks}-task stage (job {j})"
            )

    # The only broadcast allowed in the *optimized logical* plan is the
    # 1-row corpus-count; the token-df join must carry no hint. (AQE may
    # still broadcast at runtime when measured sizes are small — that's
    # the desired small-data behavior, so assert on hints, not the
    # physical plan.)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    import re

    hints = re.findall(r"ResolvedHint.*", optimized)
    for h in hints:
        assert "df" not in h.lower() or "n_docs" in h, h
    logical = df._jdf.queryExecution().logical().toString()  # noqa: SLF001
    # exactly one broadcast hint in the user plan: the n_docs single row
    assert logical.count("UnresolvedHint BROADCAST") <= 1, logical
    assert df.where(F.col("rnk") == 1).count() > 0


def test_global_rank_avoids_single_partition_window(spark):
    """o1_global_rank_scalable must produce identical ranks to the
    single-partition twin while keeping every full-data Window out of
    the plan: the only Window allowed is the per-partition-count
    running offset (#partitions rows)."""
    from lichess_db_spark.plans import QUERIES

    scalable = QUERIES["o1_global_rank_scalable"].build(spark, SF_SMALL)
    twin = QUERIES["o1_global_sort_rank"].build(spark, SF_SMALL)

    # assert on the pre-execution plan (post-collect AQE explain prints
    # initial + final plans and double-counts nodes)
    plan = _plan(scalable, "formatted")
    # r9: the range exchange + local positions now materialize behind
    # an eager localCheckpoint BEFORE the offsets branch (one
    # execution feeds both sides — disagreeing boundary re-samples
    # made ranks gap/duplicate under load), so the visible plan scans
    # the checkpointed RDD instead of showing RangePartitioning.
    assert "existingrdd" in plan.lower(), plan[:3000]
    assert "rangepartitioning" not in plan.lower(), plan[:3000]
    simple = _plan(scalable, "simple")
    assert simple.count("Window") == 1, simple  # counts-offset window only

    a = sorted((r["o_orderkey"], str(r["o_orderdate"]), r["rn"]) for r in scalable.collect())
    b = sorted((r["o_orderkey"], str(r["o_orderdate"]), r["rn"]) for r in twin.collect())
    assert a == b and len(a) > 0


def test_spread_barrier_only_has_no_exchange(spark):
    """spread(barrier_only=True) — the scan-dominated variant — must
    keep the projection barrier WITHOUT a cluster-wide exchange: no
    Exchange node anywhere, the barrier is an Arrow identity pass, and
    a filter on the derived column stays above it instead of being
    pushed into the scan with the derivation re-inlined."""
    from lichess_db_spark.functions.text import word_shingles
    from lichess_db_spark.operators._util import spread

    docs = load_table(spark, SF_SMALL, "documents")
    proj = docs.select("doc_id", word_shingles("text", 5).alias("_sh"))
    barriered = spread(proj, barrier_only=True)
    q = barriered.where(F.size("_sh") > 3).select(
        "doc_id", F.transform("_sh", lambda s: F.xxhash64(s)).alias("h")
    )
    plan = _plan(q, "simple")
    assert "Exchange" not in plan, plan[:2000]
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan[:2000]
    # pushdown blocked: the filter references the barrier's output
    # column, and nothing above the barrier re-derives the shingles (a
    # pushed-through filter would re-inline the split/transform chain)
    above = plan.split("MapInArrow")[0]
    assert "split(text" not in above, plan[:3000]
    assert "Filter (size(_sh" in plan, plan[:3000]

    # same values as the exchange form
    plain = spread(proj).where(F.size("_sh") > 3).select("doc_id")
    assert sorted(r.doc_id for r in q.select("doc_id").collect()) == sorted(
        r.doc_id for r in plain.collect()
    )


def test_ivf_partitioned_search_prunes(spark, tmp_path):
    """IVF at rest: corpus written partitionBy(list_id); the n_probe
    search must (a) prune to the probe partitions (PartitionFilters on
    list_id in the scan) and (b) return exactly what the in-memory
    ivf_topk returns with the same index — the at-scale layout changes
    IO, not results."""
    from lichess_db_spark.operators.similarity import (
        ivf_search_partitioned,
        ivf_topk,
        ivf_write_partitioned,
        train_ivf_index,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    index = train_ivf_index(emb)
    path = str(tmp_path / "ivf_corpus")
    ivf_write_partitioned(emb, index, path)

    got_df = ivf_search_partitioned(spark, path, queries, index, k=5, n_probe=4)
    plan = _plan(got_df, "simple")
    assert "PartitionFilters: [list_id" in plan, plan[:2500]

    want = sorted(map(tuple, ivf_topk(emb, queries, k=5, index=index).collect()))
    got = sorted(map(tuple, got_df.collect()))
    assert got == want and len(got) > 0


def test_pgn_parse_is_map_only(spark):
    """The PGN parse must be shuffle-free: game assembly happens inside
    the file row with array expressions (binaryFile -> split -> filter/
    transform -> explode). The previous form exploded lines and
    regrouped them with a per-file window + per-game groupBy — two
    cluster-wide shuffles of every PGN line, pure waste since binaryFile
    already colocates a file's lines in one task."""
    import os

    from lichess_db_spark.sources.pgn import parse_pgn_text

    fixture = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")
    df = parse_pgn_text(spark, fixture)
    plan = _plan(df, "simple")
    assert "Exchange" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Sort" not in plan, plan[:2000]


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling (on in session.py): a hot key whose
    partition exceeds the (lowered) skew threshold must be split at
    runtime — OptimizeSkewedJoin marks the join 'skew=true'."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE re-plans with its own threshold; -1 keeps the SMJ so the
        # skew-split path (not broadcast) is what gets exercised
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 200k rows on one hot key + a sprinkle of others
        big = spark.range(200_000).select(
            F.when(F.col("id") % 20 == 0, F.col("id") % 100).otherwise(0).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        small = spark.range(100).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = big.join(small, "k")
        # must execute *this* DataFrame's queryExecution: a .write
        # spawns a fresh QE and the df's own plan never finalizes
        assert len(joined.collect()) == 200_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_contamination_prunes_with_broadcast_semi_join(spark):
    """The train-side shingle stream must be pruned by a BROADCAST of
    the (small) eval shingle set before the pairing shuffle — the
    property that keeps contamination linear in train size."""
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["contamination_eval_overlap"].build(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_mix_sample_config_broadcasts_and_stays_map_side(spark):
    """The rates config joins as a broadcast dim: no SortMergeJoin, no
    shuffle of the corpus on the mixing key."""
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["mix_sample_sources"].build(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_shuffle(spark):
    """Packing = one hash exchange (the per-stream window) feeding the
    final aggregate; no global sort/range exchange may appear."""
    from lichess_db_spark.operators.curation import pack_sequences

    docs = load_table(spark, SF_SMALL, "documents")
    plan = _plan(pack_sequences(docs, seq_len=512))
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("Exchange hashpartitioning(lang") <= 2  # window + partial-agg reuse


def test_embedding_lsh_candidates_are_id_only(spark):
    """The LSH candidate distinct must shuffle id pairs, never vector
    payloads: no 'ea' / embedding column may appear in any Exchange
    above the bucket join."""
    from lichess_db_spark.plans import QUERIES

    df = QUERIES["dedup_embedding_lsh"].build(spark, SF_SMALL)
    plan = _plan(df)
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1) and ", ea" not in m.group(1)


def test_tpch_fact_fact_join_never_broadcasts(spark):
    """q7/q10/q18 join lineitem to orders on orderkey: at 100 TB orders
    is fact-sized, so that join must be a shuffle join (SMJ/SHJ), while
    every dimension side (nation/supplier/customer-after-filter) stays
    a BroadcastHashJoin."""
    from lichess_db_spark.plans import QUERIES

    # Simulate fact-sized inputs: kill size-estimate broadcasts so only
    # the explicit dimension hints survive (at 100 TB the size stats
    # would exceed the threshold anyway — this is what the plan becomes).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        for name in ("q7_nation_volume", "q10_returned_top_customers"):
            plan = _plan(QUERIES[name].build(spark, SF_SMALL))
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            assert "BroadcastHashJoin" in plan, name
            # the shuffled join must be the orderkey one
            assert "l_orderkey" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tpch_q18_filters_before_join(spark):
    """The HAVING sum(qty) > 160 must run on the pre-join aggregate (a
    Filter above HashAggregate, below the join) — filtering after the
    join would carry every lineitem group through the orderkey
    exchange."""
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["q18_large_orders"].build(spark, SF_SMALL))
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1
    assert "sum_qty" in plan
    # TakeOrderedAndProject caps the output instead of a global sort
    assert "TakeOrderedAndProject" in plan


def test_tpch_q17_self_agg_join_shares_partitioning(spark):
    """Q17 joins lineitem to its own per-partkey aggregate. Both sides
    hash-partition on partkey, so the join itself must not introduce a
    third exchange beyond the two scans' shuffles (AQE may then convert
    the small agg side to broadcast at runtime — also fine)."""
    from lichess_db_spark.plans import QUERIES

    plan = _plan(QUERIES["q17_small_qty_revenue"].build(spark, SF_SMALL))
    # static plan: at most 2 hash exchanges feed the join (one per side)
    pre_final = plan.split("HashAggregate", 1)[0]
    assert plan.count("Exchange hashpartitioning(l_partkey") <= 1, pre_final
    assert plan.count("Exchange hashpartitioning(pk") <= 1


def test_quality_filter_pipeline_is_map_only(spark):
    """Both quality signals (dup-2gram fraction + composite score) are
    per-row array expressions — the only exchange in the whole plan is
    the final tiny (source, verdict) aggregate. A join-based shape
    (like the oracle's four subqueries) would shuffle the corpus 3x."""
    from lichess_db_spark.plans import QUERIES

    # simple mode prints each node once (formatted lists tree + detail)
    plan = _plan(QUERIES["quality_filter_pipeline"].build(spark, SF_SMALL), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


# Plan fingerprints at SF_SMALL: node counts that encode each query's
# intended physical shape (how many shuffles, which join strategies,
# window count, top-k short-circuit). These are REGRESSION GUARDS, not
# scale claims by themselves — some joins legitimately flip between
# broadcast and shuffle with input size (that scale behavior is pinned
# separately, e.g. test_tpch_fact_fact_join_never_broadcasts). A
# failure here means the physical plan drifted: re-derive the shape,
# decide deliberately, and update the expected row.
_PLAN_FINGERPRINTS = {
    # q1/q5/q9/revenue_mom: the extra exchange is two_level_scaled_agg's
    # partial relation — at most (groups x input partitions) rows, the
    # same row count a standard partial/final wire carries (r6)
    "q1_pricing_summary": dict(exchanges=2, bhj=0, smj=0, windows=0, topk=0),
    "q9_profit_by_nation_year": dict(exchanges=2, bhj=3, smj=0, windows=0, topk=0),
    "q10_returned_top_customers": dict(exchanges=1, bhj=3, smj=0, windows=0, topk=1),
    "q15_top_suppliers": dict(exchanges=3, bhj=2, smj=0, windows=0, topk=0),
    # revenue_mom: 2 two-level exchanges + the #months SinglePartition lag
    "revenue_mom_growth": dict(exchanges=3, bhj=0, smj=0, windows=1, topk=0),
    # r6 sampling/CDC/API entries. priority_sample_docs: zero exchanges
    # — TakeOrderedAndProject already lands on one partition, the tiny
    # tau/cut windows reuse it. token_budget: the counts include the
    # (cold) InMemoryRelation build subtree repeated under both
    # InMemoryTableScan branches; the persist executes it once.
    "priority_sample_docs": dict(exchanges=0, bhj=0, smj=0, windows=2, topk=1),
    "priority_sample_by_lang": dict(exchanges=2, bhj=0, smj=0, windows=5, topk=0),
    # sample_token_budget_docs: the ENTRY materializes eagerly (bounded
    # cache lifetime, ADVICE r6) so its returned plan is a checkpoint
    # scan; the lazy plan shape is pinned by
    # test_sample_token_budget_lazy_plan_shape below.
    "latest_event_per_user": dict(exchanges=1, bhj=0, smj=0, windows=3, topk=0),
    # r7: changelog compaction — one key exchange; windows=3 is the
    # Window node plus the partial/final WindowGroupLimit pair (the
    # map-side top-1 pre-prune is the load-bearing scale property)
    "cdc_log_compaction_orders": dict(exchanges=1, bhj=0, smj=0, windows=3, topk=0),
    # r7: tokenizer pair stats — exchange 1 builds the word-frequency
    # vocab (corpus-wide, map-combined), exchange 2 aggregates pairs
    # over the VOCAB only; the rank window sees 50 rows thanks to the
    # window-group-limit pushdown (TakeOrderedAndProject under Window)
    "bpe_pair_counts": dict(exchanges=2, bhj=0, smj=0, windows=1, topk=1),
    # r7: hist:16 MV — 2 exchanges per side (map-combinable (key,bin)
    # count on the fact, then vector assembly over the (groups x 16)
    # relation); the union's merge agg re-uses the sides' key
    # partitioning, so the merge itself adds NO exchange
    "incremental_histogram_orders": dict(exchanges=4, bhj=0, smj=0, windows=0, topk=0),
    # r7: vocab-memoized BPE encode — exchanges: (doc,word) count,
    # vocab distinct, per-doc re-agg; bhj 1 = the vocab token-count
    # broadcast, bhj 2 = the wordless-doc restore join (broadcast at
    # fixture stats; flips to SMJ at scale like any doc-sized dim —
    # the legitimate-flip case the fingerprint header describes)
    "bpe_encode_tokens": dict(exchanges=3, bhj=2, smj=0, windows=0, topk=0),
    # r7: one Lloyd step — map-only assignment (centroid literal in
    # the plan), ONE (cluster, dim) update exchange
    "kmeans_portable_embeddings": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    # r7: the BPE learning loop runs its vocab-sized jobs at BUILD
    # time (like knn_ivf's training); the returned merge table is a
    # LocalTableScan — nothing to pin beyond zero-everything
    "bpe_learned_merges": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    # r7: RRF fusion — the SMJ is the full-outer fusion of two <=20-row
    # top-k legs (Spark cannot broadcast full-outer; both inputs are
    # k-row reductions so the exchange is O(k) regardless of corpus);
    # bhj=2 and the remaining exchanges belong to the BM25 leg;
    # windows=5 counts the two legs' rank windows plus the group-limit
    # partial/final pre-prune pair the rank<=k filters enable
    # (smj 1->0 r14: preferSortMergeJoin=false lets the planner take a
    # shuffled-hash join where the build side fits — guide §9/§3.1)
    "hybrid_search_rrf": dict(exchanges=9, bhj=2, smj=0, windows=5, topk=1),
    "mv_hll_maintenance_orders": dict(exchanges=2, bhj=0, smj=0, windows=0, topk=0),
    "text_metrics_arrow": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "q3_shipping_priority": dict(exchanges=1, bhj=2, smj=0, windows=0, topk=1),
    "q5_region_revenue": dict(exchanges=2, bhj=3, smj=0, windows=0, topk=0),
    "q7_nation_volume": dict(exchanges=3, bhj=4, smj=1, windows=0, topk=0),
    "q17_small_qty_revenue": dict(exchanges=2, bhj=1, smj=0, windows=0, topk=0),
    "q18_large_orders": dict(exchanges=1, bhj=2, smj=0, windows=0, topk=1),
    "quality_filter_pipeline": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    "text_repetition_stats": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "text_lang_id": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    "asof_join_latest_order": dict(exchanges=2, bhj=0, smj=0, windows=1, topk=0),
    "pack_sequences_lang": dict(exchanges=1, bhj=0, smj=0, windows=1, topk=0),
    "tfidf_top_terms": dict(exchanges=5, bhj=1, smj=0, windows=3, topk=0),
    "dedup_exact_groups": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    # r9: the range exchange + local positions sit behind global_rank's
    # eager localCheckpoint (the branch-divergence fix), so the visible
    # plan keeps only the offsets aggregate's two exchanges
    "corpus_shuffle_rank": dict(exchanges=2, bhj=1, smj=0, windows=1, topk=0),
    "repeated_passages": dict(exchanges=2, bhj=0, smj=0, windows=0, topk=0),
    # r5 corpus-statistics family, pinned at SF_SMALL default conf where
    # the vocab-side joins broadcast (under fact-sized stats they flip
    # to SMJ on the token key — the legitimate scale behavior, per the
    # comment above). vocab_overlap's static count includes the
    # tripled distinct-vocab subtree; ReuseExchange dedupes at runtime.
    "token_rarity_score": dict(exchanges=2, bhj=1, smj=0, windows=0, topk=0),
    "bigram_lift_topk": dict(exchanges=4, bhj=2, smj=0, windows=0, topk=1),
    "vocab_overlap_sources": dict(exchanges=7, bhj=3, smj=0, windows=0, topk=0),
    # r5 continuation family. blocklist/pii are map-only before their
    # final (or no) agg; bm25's only corpus-wide shuffle set is the tf
    # agg + doc_id join (dfreq and corpus constants broadcast; the rank
    # window sorts <= k rows post-limit); gapfill's single window is
    # the LOCF scan; dq's exchanges are the per-rule 1-row aggregates
    # (SinglePartition) plus the pk group; pagerank's count is the
    # 3-superstep unrolled DAG over the persisted edge list.
    "blocklist_filter_docs": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    "pii_redact_scan": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "bm25_keyword_search": dict(exchanges=5, bhj=2, smj=0, windows=1, topk=1),
    "dedup_consecutive_events": dict(exchanges=2, bhj=0, smj=0, windows=1, topk=0),
    "approx_topk_terms": dict(exchanges=1, bhj=0, smj=0, windows=1, topk=1),
    "events_hourly_gapfill": dict(exchanges=3, bhj=1, smj=0, windows=1, topk=0),
    "running_distinct_users": dict(exchanges=2, bhj=0, smj=0, windows=2, topk=0),
    "dq_expectations_report": dict(exchanges=8, bhj=1, smj=0, windows=0, topk=0),
    # pagerank's STATIC count repeats the persisted (src,dst,d) edge
    # subtree once per superstep (the cold plan can't see the cache);
    # at runtime InMemoryTableScan replaces every repeat, and the loop
    # body is one join + one dst shuffle per superstep (2.2x cold vs
    # the two-join textbook shape, measured sf0.1)
    "pagerank_part_affinity": dict(exchanges=47, bhj=16, smj=11, windows=1, topk=1),
    "hll_sketch_union_estimate": dict(exchanges=3, bhj=0, smj=0, windows=0, topk=0),
    # both scd2 windows ride ONE user_id exchange (the docstring claim)
    "scd2_user_state_history": dict(exchanges=1, bhj=0, smj=0, windows=2, topk=0),
    # r5 session-2 family (catalog_scale.py). fuzzy's windows are the
    # occurrence-index row_number + nothing else (2 = occ window counted
    # once per gram-side alias under ReuseExchange's static view);
    # triangle/bfs counts are the unrolled iterative DAGs like
    # pagerank's — at SF_SMALL the edge sides broadcast, at fact scale
    # they flip to SMJ (the legitimate size-dependent strategy);
    # ntile/grouping-sets ride exactly ONE exchange (the partitionBy /
    # the post-Expand hash agg); skyline's second exchange is the
    # <=50-row size-level window, never the data.
    # fuzzy: +3 exchanges over the original inline shape for the
    # short-string fallback branch (union + distinct + its pairing) —
    # all on the dictionary, never the corpus
    "fuzzy_name_match": dict(exchanges=7, bhj=3, smj=0, windows=2, topk=0),
    # r15: _copurchase_edges spreads the wedge join's probe side
    # (guide §2.5 — the BHJ probe stage inherited the scan's skewed
    # small-file splits). triangle: +3 round-robin exchanges, one per
    # e1/e2/e3 alias (nondeterministic exchanges are never merged by
    # ReuseExchange) — measured FASTER regardless (5.8 -> 5.3 s warm
    # at sf0.1). bfs: explode-derived symmetrization replaces
    # union(e, swap(e)), so the duplicated wedge-join subtree leaves
    # every superstep's unrolled branch: bhj 18 -> 11 at SF_SMALL.
    "triangle_copurchase_topk": dict(exchanges=10, bhj=3, smj=2, windows=1, topk=1),
    "bfs_copurchase_hops": dict(exchanges=24, bhj=11, smj=3, windows=0, topk=0),
    "window_ntile_deciles": dict(exchanges=1, bhj=0, smj=0, windows=1, topk=0),
    "grouping_sets_revenue": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    "skyline_pareto_parts": dict(exchanges=2, bhj=1, smj=0, windows=1, topk=0),
    # moments: ONE map-side-combinable shuffle carries all six power
    # sums; ewma: all 8 lag terms ride one user_id Window exchange
    "stats_moments_exact": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    "events_ewma_decay": dict(exchanges=1, bhj=0, smj=0, windows=1, topk=0),
    # r5 session-4 family. incremental_agg: the union of the two
    # partial aggregates and the merge groupBy share partitioning on
    # the group key (2 exchanges total, no join — the operator's whole
    # point); assoc_rules' SMJ is the basket-key self-join (the one
    # fact-sized shuffle; priors/totals all broadcast), the other
    # exchanges are 25-row brand aggregates; snapshot_diff is exactly
    # two scan-side exchanges into one full-outer SMJ with the %-slice
    # filters pushed into both scans; transition_matrix = user-sequence
    # window + pair groupBy + the |types|^2-row normalize window.
    "incremental_agg_orders": dict(exchanges=2, bhj=0, smj=0, windows=0, topk=0),
    # assoc_rules: no SMJ at all — the basket self-join is replaced by
    # the collect_set + nested-explode shape, so the only fact-sized
    # exchange is the groupBy(okey); the rest are 25-row brand aggs
    "assoc_rules_brands": dict(exchanges=8, bhj=6, smj=0, windows=0, topk=1),
    "snapshot_diff_orders": dict(exchanges=2, bhj=0, smj=1, windows=0, topk=0),
    "transition_matrix_events": dict(exchanges=3, bhj=0, smj=0, windows=2, topk=0),
    # r8 entries. The map-only trio is the headline: contamination's
    # broadcast eval scan, the quantizer, and epoch upsampling must
    # never grow an exchange.
    "embedding_contamination": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "embedding_int8_quantize": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "upsample_epochs_docs": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    "dataset_split_counts": dict(exchanges=1, bhj=0, smj=0, windows=0, topk=0),
    # fi MV: state+delta partial aggs (union re-groupBy folds into the
    # same two), then rank windows over the tiny merged-state relation
    "incremental_freq_items_orders": dict(exchanges=2, bhj=0, smj=0, windows=2, topk=0),
    # BPE-count packing: vocab build + count join + doc_id carry join
    # + ONE per-lang packing window (the pack plan itself is unchanged)
    "pack_sequences_bpe": dict(exchanges=4, bhj=3, smj=0, windows=1, topk=0),
    # cluster-balanced sample: map-only assignment (0 exchanges of its
    # own), weight-carry join, then the grouped sampler's two-window
    # prune — all windows keyed by cluster, never SinglePartition
    "kmeans_cluster_sample": dict(exchanges=2, bhj=1, smj=0, windows=5, topk=0),
    "tokenizer_fertility_by_lang": dict(exchanges=5, bhj=4, smj=0, windows=0, topk=0),
    # bigram LM: model assembled small-x-small FIRST, so the
    # corpus-sized pairs relation is shuffled once (c2) + c1 + final
    # per-doc agg = 3; the model joins broadcast
    "bigram_lm_score": dict(exchanges=3, bhj=2, smj=0, windows=0, topk=0),
    # hist-quantile MV read: the two (key,bin) partial builds + the
    # state merge re-groupBy fold into 4 key-sized exchanges; the
    # quantile read itself is pure array expressions — 0 windows,
    # nothing fact-sized past the partials
    "hist_quantile_orders": dict(exchanges=4, bhj=0, smj=0, windows=0, topk=0),
    # r8-staged trio (STAGED_NEXT; first driver round r9). gopher is
    # the headline: the whole rule gate must stay a zero-exchange
    # projection fused into the scan. semdedup: the within-cluster
    # pair join broadcasts at fixture stats (flips to the designed
    # cluster-keyed shuffle at scale — the legitimate-flip case); the
    # 2 exchanges + SMJ are the final keep/dup_of left join's sides.
    # dsir: bucket-count agg (1) + per-doc sum (1); the B-sized ratio
    # table joins broadcast BY CONSTRUCTION at any scale.
    # (smj 1->0 r14: the within-cluster pair join now plans as a
    # shuffled-hash join under preferSortMergeJoin=false)
    "semdedup_embeddings": dict(exchanges=2, bhj=1, smj=0, windows=0, topk=0),
    # centroid_far twin: the __d2s kill column rides the same
    # assignment projection — plan shape must stay IDENTICAL to
    # semdedup_embeddings (the keep rule is a select-level swap)
    "semdedup_centroid_far": dict(exchanges=2, bhj=1, smj=0, windows=0, topk=0),
    # exactsubstr: gram-digest keeper window (c1) + doc-key island
    # windows (c2, shared by the prev-max and running-sum windows and
    # BOTH groupBys — islands/runs agg must NOT add an exchange); the
    # per-doc removal table joins broadcast at fixture stats
    # (+1 exchange r14: spread() round-robin before the gram build —
    # the guide §2.5 input-skew fix, see OPTIMIZATION_r14.md)
    "exact_substring_dedup": dict(exchanges=3, bhj=1, smj=0, windows=3, topk=0),
    # clean twin: same shared runs core; the runs-array join
    # broadcasts and the per-token keep test adds NO exchange
    "exact_substring_clean": dict(exchanges=3, bhj=1, smj=0, windows=3, topk=0),
    "gopher_quality_rules": dict(exchanges=0, bhj=0, smj=0, windows=0, topk=0),
    # (+2 exchanges r14: the spread() input-skew fix appears once per
    # DSIR pass — round-robin exchanges are nondeterministic so
    # ReuseExchange never merges them; each carries only raw doc rows)
    "dsir_importance_weights": dict(exchanges=4, bhj=1, smj=0, windows=0, topk=0),
    # bloom: the probe itself is map-only (bitmap literal); the one
    # exchange is the ref-digest distinct and the BHJ is the
    # FPR-measurement exact_dup join the entry keeps deliberately —
    # with_exact=False the whole probe is exchange-free
    "bloom_novelty_docs": dict(exchanges=1, bhj=1, smj=0, windows=0, topk=0),
    # funnel: semdedup's 2 exchanges + the digest-keeper window's
    # exchange + the gopher-join sides; the gopher flags themselves
    # add NO exchange (they fuse into the doc scan), and the final
    # count collapses to a 1-row aggregate (no SinglePartition
    # exchange — partial/final fold)
    # (smj 2->1 r14: one of the funnel's two sort-merge joins plans as
    # shuffled-hash under preferSortMergeJoin=false; the other keeps
    # sort-merge — its build side fails the SHJ size condition)
    "curation_funnel_report": dict(exchanges=5, bhj=2, smj=1, windows=1, topk=0),
    # unimax: the corpus is scanned ONCE at build time (G-row counts
    # collect to the driver, centroid-style); the returned waterfall
    # plan runs entirely on the G-row literal — its 4 exchanges move
    # <= G rows each, and zero parquet scans remain in the plan
    # (asserted separately below)
    "unimax_lang_allocation": dict(exchanges=4, bhj=0, smj=0, windows=2, topk=0),
    # stupid backoff: c2/c1/uni model aggregates (each map-combined)
    # + the final per-doc agg; all three model joins broadcast at
    # fixture stats (word-bucket SMJ at fact-sized vocab — the
    # legitimate flip); the corpus pairs relation is scanned once per
    # join side, never corpus x corpus
    "stupid_backoff_score": dict(exchanges=6, bhj=3, smj=0, windows=0, topk=0),
    # countmin: hist/delta (bin-keyed, map-combined) partials whose
    # union-merge folds into the same partitioning, probe estimate
    # agg, exact-twin agg; the state and exact joins broadcast at
    # fixture stats (state is sketch-bounded at ANY scale — w*d*groups
    # counters — so its broadcast survives 100x data; exact flips to
    # SMJ at fact-sized probe sets, the legitimate-flip case)
    "countmin_mv_orders": dict(exchanges=4, bhj=2, smj=0, windows=0, topk=0),
}


def _fingerprint(p: str) -> dict:
    return dict(
        exchanges=(
            p.count("Exchange hashpartitioning")
            + p.count("Exchange rangepartitioning")
            + p.count("Exchange RoundRobinPartitioning")
            + p.count("Exchange SinglePartition")
        ),
        bhj=p.count("BroadcastHashJoin"),
        smj=p.count("SortMergeJoin"),
        windows=p.count("Window ["),
        topk=int("TakeOrderedAndProject" in p),
    )


def test_export_training_shards_plan_fingerprint(spark):
    """VERDICT r4 item 7: the shard export's pre-write plan, pinned
    under fact-sized stats (1KB broadcast threshold). Expected shape:
    dedup digest aggregate (1 exchange), survivor id join as SMJ with
    one exchange per side (fact-fact — must NOT broadcast the keep
    side, it is O(corpus) rows), the mixing-rates config join as
    broadcast (tiny dim), and ONE window for sequence ids
    (hashpartitioned on (split, stream) — a silently added exchange
    here multiplies at every export rerun)."""
    from lichess_db_spark.operators.curation import export_plan

    docs = load_table(spark, SF_SMALL, "documents")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        p = _plan(
            export_plan(docs, rates={"web": 0.5, "books": 1.0}), "simple"
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert _fingerprint(p) == dict(
        exchanges=4, bhj=1, smj=1, windows=1, topk=0
    ), p


def test_stream_curation_batch_plan_fingerprint(spark):
    """VERDICT r4 item 7: one micro-batch of stream_documents_curation
    (exact-dedup tier + quality gate), pinned under fact-sized stats.
    Per-batch shuffle budget is the streaming scale-killer surface —
    expected: TWO exchanges only (the per-digest window; the digest
    state's side of the anti-join, whose batch side reuses the
    window's hashpartitioning on __digest), anti-join as SMJ (state is
    O(all digests ever) — must not broadcast), quality gate map-only
    (zero additional exchanges)."""
    from lichess_db_spark.operators.curation import (
        curation_projection,
        quality_verdict,
    )
    from lichess_db_spark.streaming.ingest import curation_batch_plan

    docs = load_table(spark, SF_SMALL, "documents")
    seen = docs.where(F.col("doc_id") < 50).select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("__digest")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        kept = (
            curation_projection(curation_batch_plan(docs, seen))
            .where(quality_verdict() == "keep")
            .select(*docs.columns)
        )
        p = _plan(kept, "simple")
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert _fingerprint(p) == dict(
        exchanges=2, bhj=0, smj=1, windows=1, topk=0
    ), p
    # the batch side of the anti-join rides the window's partitioning:
    # both shuffle on __digest, plus the state side — never the corpus
    # twice
    assert p.count("Exchange hashpartitioning(__digest") == 2, p


@pytest.mark.parametrize("name", sorted(_PLAN_FINGERPRINTS))
def test_plan_fingerprint(spark, name):
    from lichess_db_spark.plans import QUERIES

    # Fingerprints describe the cold plan.  Builders that persist()
    # intermediates (dq_expectations_report, pagerank) leave entries in
    # the CacheManager when an earlier test in the same session
    # materialized them; the cached relation then substitutes
    # InMemoryTableScan for whole subtrees and the exchange count
    # drops.  Clear the cache so the fingerprint is order-independent.
    spark.catalog.clearCache()
    p = _plan(QUERIES[name].build(spark, SF_SMALL), "simple")
    got = dict(
        exchanges=(
            p.count("Exchange hashpartitioning")
            + p.count("Exchange rangepartitioning")
            + p.count("Exchange RoundRobinPartitioning")
            + p.count("Exchange SinglePartition")
        ),
        bhj=p.count("BroadcastHashJoin"),
        smj=p.count("SortMergeJoin"),
        windows=p.count("Window"),
        topk=int("TakeOrderedAndProject" in p),
    )
    assert got == _PLAN_FINGERPRINTS[name], (
        f"{name}: physical plan drifted.\nexpected {_PLAN_FINGERPRINTS[name]}"
        f"\ngot      {got}\n{p}"
    )


def test_sample_token_budget_lazy_plan_shape(spark):
    """The operator's lazy plan (release_cache=False) keeps the
    distributed-prefix-sum shape: range exchange + per-partition
    windows + broadcast offset join, never a fact-sized
    SinglePartition window. The catalog entry wraps this in an eager
    localCheckpoint (bounded cache lifetime), so the shape is pinned
    here instead of in _PLAN_FINGERPRINTS."""
    from lichess_db_spark.io import load_table
    from lichess_db_spark.operators.sampling import sample_token_budget

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    keep = sample_token_budget(
        docs, "doc_id", "n_chars", 100_000, release_cache=False
    )
    p = _plan(keep, "simple")
    try:
        assert _fingerprint(p) == dict(
            exchanges=6, bhj=1, smj=0, windows=3, topk=0
        ), p
        # the single-partition window runs over per-partition TOTALS
        # (P rows), never the doc relation: exactly one
        # SinglePartition exchange, fed by the partial-totals agg
        assert p.count("Exchange SinglePartition") == 1, p
    finally:
        spark.catalog.clearCache()


def test_unimax_returned_plan_is_corpus_free(spark):
    """unimax_allocation touches the corpus exactly once, at BUILD
    time (G-row counts collect to the driver); the returned waterfall
    plan must contain NO parquet scan — re-collecting the allocation
    must never re-scan the corpus."""
    from lichess_db_spark.plans import QUERIES

    p = _plan(QUERIES["unimax_lang_allocation"].build(spark, SF_SMALL), "simple")
    assert "FileScan parquet" not in p, p[:2000]


def test_runtime_bloom_filter_join_engages(spark):
    from .conftest import SF_MED

    """Spark's native runtime filtering (InjectRuntimeFilter): a
    selective dim-side predicate on a shuffle join plants a
    bloom_filter_agg on the creation side and a might_contain probe
    above the application-side SCAN — row groups that cannot join are
    skipped before the shuffle, the built-in cousin of our manual
    semi-join prunes. Default thresholds target >10 GB scans, so the
    test lowers them (and restores) to prove the plan shape engages;
    results must be identical with the rule on and off."""
    conf = spark.conf
    saved = {}
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # keep the join a shuffle join so the filter has a side to prune
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in overrides.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        li = load_table(spark, SF_MED, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = (
            load_table(spark, SF_MED, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        q = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("s"),
        )
        plan = _plan(q)
        assert "might_contain" in plan, plan[:4000]
        assert "bloom_filter_agg" in plan, plan[:4000]
        with_filter = q.collect()[0]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    try:
        li = load_table(spark, SF_MED, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = (
            load_table(spark, SF_MED, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        without = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("s"),
            )
        ).collect()[0]
    finally:
        conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    assert (with_filter["n"], with_filter["s"]) == (without["n"], without["s"])
    assert with_filter["n"] > 0


def test_parquet_bloom_filter_written_and_read(spark, tmp_path):
    """Parquet column bloom filters: written on request (the point-
    lookup accelerator for high-cardinality keys — a reader can skip
    whole row groups for keys the filter rules out, the storage-side
    cousin of the runtime join filter) and visible in the file
    footers; a point lookup returns identical rows with and without
    the filter present."""
    import glob as _glob

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    d = str(tmp_path / "bloomed")
    (
        orders.coalesce(2)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        # parquet-mr SKIPS the bloom filter when the column is fully
        # dictionary-encoded (the dictionary already is an exact
        # filter — measured: with the dictionary on, the option is a
        # silent no-op and file bytes are identical). At 100 TB the
        # high-cardinality key columns this feature targets blow the
        # dictionary page limit anyway; the small fixture needs the
        # explicit opt-out to exercise the filter path.
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(d)
    )
    d0 = str(tmp_path / "plain")
    orders.coalesce(2).write.mode("overwrite").parquet(d0)

    def total(path):
        return sum(
            __import__("os").path.getsize(f)
            for f in _glob.glob(f"{path}/part-*.parquet")
        )

    with_bloom, plain = total(d), total(d0)
    # this pyarrow build does not surface bloom_filter_offset in the
    # column metadata, so assert the physical evidence instead: the
    # serialized filter (ndv=20000 -> tens of KB per row group) makes
    # the bloom-enabled files measurably larger than a byte-identical
    # plain write of the same data
    assert with_bloom > plain + 10_000, (with_bloom, plain)  # ~32 KB filter
    key = orders.select("o_custkey").first()["o_custkey"]
    got = spark.read.parquet(d).where(F.col("o_custkey") == key).count()
    want = orders.where(F.col("o_custkey") == key).count()
    assert got == want > 0
