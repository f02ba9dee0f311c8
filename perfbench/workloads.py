"""The workloads and the traced layer sweep.

Every workload is a closed loop with one client: the next operation
starts when the previous one has returned. An operation is

- ``ingest_batch``: one full ingest of the staged months, staged PGN
  to committed year=/month= Parquet (``plans.ingest.build_games_table``
  then ``io.write_parquet``);
- ``eda_mix``: one ``api.LichessDB`` notebook query, collected; the
  eight queries run round-robin over a table set-up wrote.

The streaming ingest (``streaming.ingest.stream_games_ingest``, one
AvailableNow run per landed month) is measured by the traced sweep of
both workloads rather than as a workload of its own; see README.md.

Checks run outside the timed region of each operation; an operation
that raises or gives a wrong answer counts as failed.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import time
from dataclasses import dataclass, field

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import oracle
import pgngen
import stats
from sparkmon import Session, stage_totals

STREAM_TIMEOUT_S = 120
STAGE_REPS = 3
PREFIX_REPS = 2
EDA_SWEEP_REPS = 3


@dataclass(frozen=True)
class Size:
    months: int
    games_per_month: int
    chunk_bytes: int
    warmup_ops: int

    @property
    def games(self) -> int:
        return self.months * self.games_per_month


SIZES = {
    "ingest_batch": Size(months=3, games_per_month=4000, chunk_bytes=1 << 20, warmup_ops=2),
    "eda_mix": Size(months=3, games_per_month=4000, chunk_bytes=1 << 20, warmup_ops=16),
}
SMOKE_SIZE = Size(months=2, games_per_month=300, chunk_bytes=64 << 10, warmup_ops=1)


@dataclass
class Op:
    latency_s: float
    games: int
    ok: bool | None = None  # None: checked after the loop
    tag: str | None = None
    extra: dict = field(default_factory=dict)


def write_games(df: DataFrame, out_dir: str) -> None:
    from lichess_db_spark.io import write_parquet

    write_parquet(
        df.withColumn("year", F.year("DateTime")).withColumn("month", F.month("DateTime")),
        out_dir, partition_by=["year", "month"],
    )


def noop(df: DataFrame) -> None:
    """Force the whole plan without keeping its output (``count()`` may
    prune columns and joins; the noop sink computes every column)."""
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Shared state and set-up: the session, the staged months, the
    work directory. Subclasses add ``prepare``, ``op`` and ``verify``."""

    name = ""
    op_kinds = 1  # ops cycle through this many kinds (traced runs tag whole cycles)

    def __init__(self, sess: Session, seed: int, size: Size, work: str):
        self.sess, self.spark = sess, sess.spark
        self.seed, self.size, self.work = seed, size, work
        self.staged = os.path.join(work, "staged")
        self.staged_glob = os.path.join(self.staged, "*", "*", "*.pgn")
        self.staged_bytes = 0
        self.chunks: list[str] = []
        self.month_keys: list[tuple[int, int]] = []
        self.generate_s = self.stage_s = 0.0
        self.failed_checks = 0

    # ---- set-up ----
    def stage(self) -> None:
        """Generate the months once, then stage them ``STAGE_REPS`` times
        through the package's chunker; keep the median staging time and
        the first copy. Every copy must be byte-identical."""
        t0 = time.perf_counter()
        months = pgngen.generate_months(self.seed, self.size.months, self.size.games_per_month)
        self.generate_s = time.perf_counter() - t0
        self.month_keys = [(y, m) for y, m, _ in months]
        times, copies = [], []
        for rep in range(STAGE_REPS):
            d = self.staged if rep == 0 else os.path.join(self.work, f"staged_rep{rep}")
            t0 = time.perf_counter()
            paths = pgngen.stage_lines(months, d, self.size.chunk_bytes)
            times.append(time.perf_counter() - t0)
            copies.append([pathlib.Path(p).read_bytes() for p in paths])
            if rep == 0:
                self.chunks = paths
            else:
                shutil.rmtree(d)
        if any(c != copies[0] for c in copies[1:]):
            self.failed_checks += 1
        self.stage_s = stats.median(times)
        self.staged_bytes = sum(len(b) for b in copies[0])

    def month_chunks(self, k: int) -> list[str]:
        year, month = self.month_keys[k]
        prefix = os.path.join(self.staged, f"year={year}", f"month={month:02d}") + os.sep
        return [p for p in self.chunks if p.startswith(prefix)]

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int, tag: str | None) -> Op:
        raise NotImplementedError

    def verify(self, ops: list[Op]) -> None:
        """Settle every op whose ``ok`` is still None."""

    def stored_bytes_per_pgn_byte(self) -> float:
        raise NotImplementedError

    # ---- shared pieces ----
    def batch_ingest(self, staged_glob: str, out_dir: str) -> None:
        from lichess_db_spark.plans.ingest import build_games_table

        write_games(build_games_table(self.spark, staged_glob), out_dir)

    def stream_month(self, k: int, watch: str, out_dir: str, ckpt: str) -> Op:
        """Land month ``k``'s chunks in ``watch`` (written under a
        temporary name, then renamed, so the source never sees a partial
        file) and run one AvailableNow ingest over them."""
        from lichess_db_spark.streaming.ingest import stream_games_ingest

        os.makedirs(watch, exist_ok=True)
        for p in self.month_chunks(k):
            dst = os.path.join(watch, os.path.basename(p))
            shutil.copyfile(p, dst + ".landing")
            os.rename(dst + ".landing", dst)
        t0 = time.perf_counter()
        q = stream_games_ingest(self.spark, os.path.join(watch, "*.pgn"), out_dir, ckpt)
        try:
            finished = q.awaitTermination(STREAM_TIMEOUT_S)
        except StreamingQueryException:
            finished = False
        latency = time.perf_counter() - t0
        if q.isActive:
            q.stop()
        ok = None if finished else False
        progress = [p for p in q.recentProgress if p.numInputRows > 0] or list(q.recentProgress)
        dur = lambda key: sum(p.durationMs.get(key, 0) for p in progress)  # noqa: E731
        return Op(latency, self.size.games_per_month, ok, extra={
            "month": k,
            "latency_s": latency,
            "input_rows": sum(p.numInputRows for p in progress),
            "add_batch_ms": dur("addBatch"),
            "trigger_ms": dur("triggerExecution"),
            "latest_offset_ms": dur("latestOffset"),
            "out_dir": out_dir,
        })


class IngestBatch(Workload):
    name = "ingest_batch"

    def prepare(self) -> None:
        self.out = os.path.join(self.work, "games")
        self.want = None
        for _ in range(self.size.warmup_ops):
            self.batch_ingest(self.staged_glob, self.out)

    def op(self, i: int, tag: str | None) -> Op:
        t0 = time.perf_counter()
        with self.sess.tagged(tag):
            self.batch_ingest(self.staged_glob, self.out)
        latency = time.perf_counter() - t0
        n, h = oracle.table_digest(self.out)
        if self.want is None:  # every ingest must rewrite the same table
            self.want = (2 * self.size.games, h)
        return Op(latency, self.size.games, (n, h) == self.want, tag)

    def stored_bytes_per_pgn_byte(self) -> float:
        return oracle.dir_bytes(self.out, ".parquet")[0] / self.staged_bytes


class EdaMix(Workload):
    name = "eda_mix"
    op_kinds = len(oracle.EDA_QUERIES)

    def prepare(self) -> None:
        from lichess_db_spark.api import LichessDB

        self.table = os.path.join(self.work, "games")
        self.batch_ingest(self.staged_glob, self.table)
        self.db = LichessDB(self.spark, self.table)
        for i in range(self.size.warmup_ops):
            getattr(self.db, oracle.EDA_QUERIES[i % len(oracle.EDA_QUERIES)])().collect()

    def op(self, i: int, tag: str | None) -> Op:
        q = oracle.EDA_QUERIES[(i + self.seed) % len(oracle.EDA_QUERIES)]
        t0 = time.perf_counter()
        with self.sess.tagged(tag):
            rows = getattr(self.db, q)().collect()
        latency = time.perf_counter() - t0
        return Op(latency, self.size.games, None, tag, {"query": q, "rows": rows})

    def verify(self, ops: list[Op]) -> None:
        want = oracle.expected_answers(self.table)
        for o in ops:
            o.ok = oracle.answer_ok(o.extra["query"], o.extra.pop("rows"), want[o.extra["query"]])

    def stored_bytes_per_pgn_byte(self) -> float:
        return oracle.dir_bytes(self.table, ".parquet")[0] / self.staged_bytes


WORKLOADS = {w.name: w for w in (IngestBatch, EdaMix)}


# ---------------------------------------------------------------- traced sweep
def layer_sweep(wl: Workload) -> dict[str, tuple[float, str]]:
    """Per-layer metrics on the workload's own staged months: each
    prefix of the lazy pipeline forced to the noop sink, the other
    parse path, the eight queries, and a month-by-month stream."""
    from lichess_db_spark.api import LichessDB
    from lichess_db_spark.plans.games import add_features, clean_games, unpivot_roles
    from lichess_db_spark.sources.pgn import parse_pgn_text
    from lichess_db_spark.sources.pgn_datasource import register_pgn_source

    spark, sess = wl.spark, wl.sess
    out = os.path.join(wl.work, "sweep_games")
    raw = lambda: parse_pgn_text(spark, wl.staged_glob).drop("game_id")  # noqa: E731
    prefixes = {
        "parse": lambda: noop(raw()),
        "clean": lambda: noop(clean_games(raw())),
        "unpivot": lambda: noop(unpivot_roles(clean_games(raw()))),
        "features": lambda: noop(add_features(unpivot_roles(clean_games(raw())))),
        "write": lambda: wl.batch_ingest(wl.staged_glob, out),
    }
    best: dict[str, float] = {}
    for rep in range(PREFIX_REPS):
        for name, fn in prefixes.items():
            t0 = time.perf_counter()
            with sess.tagged(f"pb-{name}-{rep}"):
                fn()
            dt = time.perf_counter() - t0
            best[name] = min(best.get(name, dt), dt)
    register_pgn_source(spark)
    ds_times = []
    for rep in range(PREFIX_REPS):
        t0 = time.perf_counter()
        with sess.tagged(f"pb-pgnds-{rep}"):
            noop(spark.read.format("pgn").load(wl.staged_glob))
        ds_times.append(time.perf_counter() - t0)

    # the eight queries over the table the sweep just wrote
    db = LichessDB(spark, out)
    eda: dict[str, list[float]] = {q: [] for q in oracle.EDA_QUERIES}
    builds, result_rows = [], 0
    for rep in range(EDA_SWEEP_REPS):
        for q in oracle.EDA_QUERIES:
            t0 = time.perf_counter()
            df = getattr(db, q)()
            t1 = time.perf_counter()
            with sess.tagged(f"pb-eda-{q}-{rep}"):
                result_rows += len(df.collect())
            eda[q].append((time.perf_counter() - t1) * 1e3)
            builds.append((t1 - t0) * 1e3)

    # the months again, landing one at a time on one checkpoint
    dirs = [os.path.join(wl.work, "sweep_stream", d) for d in ("watch", "games", "ckpt")]
    months = []
    for k in range(wl.size.months):
        with sess.tagged(f"pb-stream-{k}"):
            o = wl.stream_month(k, *dirs)
        if o.ok is False:
            wl.failed_checks += 1
        months.append(o.extra)
    # the month-by-month stream, with its carried feature state, must
    # write the same rows as the one batch ingest of all months
    if oracle.table_digest(dirs[1]) != oracle.table_digest(out):
        wl.failed_checks += 1

    jobs, stages = sess.snapshot()
    g = lambda *tags: stage_totals(jobs, stages, set(tags))  # noqa: E731
    reps = range(PREFIX_REPS)
    parse = g(*(f"pb-parse-{r}" for r in reps))
    unpivot = g(*(f"pb-unpivot-{r}" for r in reps))
    features = g(*(f"pb-features-{r}" for r in reps))
    write = g(*(f"pb-write-{r}" for r in reps))
    eda_all = g(*(f"pb-eda-{q}-{r}" for q in oracle.EDA_QUERIES for r in range(EDA_SWEEP_REPS)))
    n_eda = len(oracle.EDA_QUERIES) * EDA_SWEEP_REPS
    last_state = os.path.join(months[-1]["out_dir"], "_feature_state")
    state_rows, state_bytes = _state_size(last_state)
    return {
        "staging.s": (wl.stage_s, "s"),
        "staging.chunks": (len(wl.chunks), "count"),
        "pgn.parse_s": (best["parse"], "s"),
        "pgn.executor_cpu_ms": (parse["executor_cpu_ms"] / PREFIX_REPS, "ms"),
        "pgn.scan_bytes_per_staged_byte":
            (write["input_bytes"] / PREFIX_REPS / wl.staged_bytes, "ratio"),
        "pgn_datasource.parse_s": (min(ds_times), "s"),
        "pgn_datasource.rows_read_per_game": (
            sum(m["input_rows"] for m in months) / (len(months) * wl.size.games_per_month),
            "ratio"),
        "pgn_datasource.latest_offset_ms":
            (stats.median([m["latest_offset_ms"] for m in months]), "ms"),
        "games.clean_s": (best["clean"] - best["parse"], "s"),
        "games.unpivot_s": (best["unpivot"] - best["clean"], "s"),
        "windows.features_s": (best["features"] - best["unpivot"], "s"),
        "windows.shuffle_write_mb": ((features["shuffle_write_bytes"]
                                      - unpivot["shuffle_write_bytes"]) / PREFIX_REPS / 1e6, "MB"),
        "windows.task_skew": (_task_skew(sess, features["stage_list"]), "ratio"),
        "io.write_s": (best["write"] - best["features"], "s"),
        "io.files_written": (oracle.dir_bytes(out, ".parquet")[1], "count"),
        "io.scan_mb_per_query": (eda_all["input_bytes"] / n_eda / 1e6, "MB"),
        "io.rows_scanned_per_result_row":
            (eda_all["input_records"] / max(1, result_rows), "ratio"),
        **{f"eda.{q}.ms": (stats.median(v), "ms") for q, v in eda.items()},
        "eda.build_ms": (stats.median(builds), "ms"),
        "eda.jobs_per_query": (eda_all["jobs"] / n_eda, "count"),
        "eda.tasks_per_query": (eda_all["tasks"] / n_eda, "count"),
        "stream.add_batch_ms": (stats.median([m["add_batch_ms"] for m in months]), "ms"),
        "stream.trigger_ms": (stats.median([m["trigger_ms"] for m in months]), "ms"),
        "stream.state_rows": (state_rows, "count"),
        "stream.state_mb": (state_bytes / 1e6, "MB"),
        "stream.latency_growth": (months[-1]["latency_s"] / months[0]["latency_s"], "ratio"),
    }


def _state_size(state_dir: str) -> tuple[int, int]:
    """(rows, bytes) of the newest committed feature-state version."""
    import pyarrow.parquet as pq

    if not os.path.isdir(state_dir):
        return 0, 0
    versions = sorted(
        (int(d[1:]), d) for d in os.listdir(state_dir)
        if d.startswith("v") and d[1:].isdigit()
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    )
    if not versions:
        return 0, 0
    newest = os.path.join(state_dir, versions[-1][1])
    files = [os.path.join(newest, f) for f in os.listdir(newest) if f.endswith(".parquet")]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return rows, sum(os.path.getsize(f) for f in files)


def _task_skew(sess: Session, stage_list: list[dict]) -> float:
    """Max over median task run time in the busiest shuffle-reading
    stage of the features prefix (the window partitions by player)."""
    readers = [s for s in stage_list if s["shuffleReadBytes"] > 0]
    if not readers:
        return 1.0
    busiest = max(readers, key=lambda s: s["executorRunTime"])
    times = sess.task_durations(busiest)
    med = stats.median(times) if times else 0
    return max(times) / med if med > 0 else 1.0
