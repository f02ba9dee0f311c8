"""End-to-end ingest (SURVEY.md §7 phase 4): staged chunks -> parse ->
pipeline -> partitioned parquet, plus the incremental-month property
that justifies replacing the reference's state file with window
recompute (SURVEY §2.9 T3)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.io import write_parquet
from lichess_db_spark.plans.games import games_pipeline
from lichess_db_spark.sources.pgn import parse_pgn_text

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")


def _split_fixture_by_month(out_dir: str) -> None:
    """Write the fixture's games into per-month staged chunk files
    (games 1-3 are 2012-12, games 4-6 are 2013-01)."""
    with open(FIXTURE) as fh:
        text = fh.read()
    games = [g for g in text.split("\n\n1. ") if g.strip()]
    # re-join header blocks with their moves lines
    blocks = []
    parts = text.strip().split("\n\n")
    for i in range(0, len(parts), 2):
        blocks.append(parts[i] + "\n\n" + parts[i + 1] + "\n")
    by_month = {"2012_12": blocks[:3], "2013_01": blocks[3:]}
    for month, blk in by_month.items():
        y, m = month.split("_")
        d = os.path.join(out_dir, f"year={y}", f"month={m}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{month}_00000.pgn"), "w") as fh:
            fh.write("\n".join(blk))


def test_ingest_to_partitioned_parquet(spark):
    staging = tempfile.mkdtemp(prefix="staging_")
    out = tempfile.mkdtemp(prefix="games_out_")
    try:
        _split_fixture_by_month(staging)
        raw = parse_pgn_text(spark, f"{staging}/*/*/*.pgn")
        assert raw.count() == 6
        df = games_pipeline(raw)
        write_parquet(
            df.withColumn("year", F.year("DateTime")).withColumn(
                "month", F.month("DateTime")
            ),
            out,
            partition_by=["year", "month"],
        )
        assert os.path.isdir(os.path.join(out, "year=2012", "month=12"))
        assert os.path.isdir(os.path.join(out, "year=2013", "month=1"))
        back = spark.read.parquet(out)
        assert back.count() == 12
        # partition pruning works on the layout
        dec = back.where((F.col("year") == 2012) & (F.col("month") == 12))
        assert dec.count() == 6
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_incremental_month_equals_full_recompute(spark):
    """The reference persists cum-state between months (.json.zst,
    ingester.py:62-85). Our design recomputes windows over the full
    accumulated table; this asserts the defining property: features
    for month-1 rows are IDENTICAL whether computed over month 1
    alone or over the full history (running frames only look back),
    and month-2 rows correctly continue month-1 counts."""
    staging = tempfile.mkdtemp(prefix="staging_")
    try:
        _split_fixture_by_month(staging)
        full = games_pipeline(
            parse_pgn_text(spark, f"{staging}/*/*/*.pgn")
        )
        m1 = games_pipeline(
            parse_pgn_text(spark, f"{staging}/year=2012/*/*.pgn")
        )
        cols = ["ID", "Role_player", "Player_cum_games_total", "PlayerElo_max"]
        full_m1 = {tuple(r) for r in full.where(F.year("DateTime") == 2012).select(*cols).collect()}
        only_m1 = {tuple(r) for r in m1.select(*cols).collect()}
        assert full_m1 == only_m1
        # continuation: mamalak has 2 games in 2012, so the first 2013
        # game must carry cum_games_total == 3
        jan = full.where(
            (F.year("DateTime") == 2013) & (F.col("Player") == "mamalak")
        ).orderBy("DateTime")
        assert jan.first().Player_cum_games_total == 3
    finally:
        shutil.rmtree(staging, ignore_errors=True)


_MALFORMED_PGN = (
    "[Event \"Rated Blitz game\"]\n"
    "[Site \"https://lichess.org/goodgame\"]\n"
    "[White \"a\"]\n[Black \"b\"]\n[Result \"1-0\"]\n"
    "\n"
    "1. e4 e5 1-0\n"
    "\n"
    "[Malformed header no quotes]\n"
    "[Event \"Rated Blitz game\"]\n"
    "[Site \"https://lichess.org/tailgame\"]\n"
    "[White \"c\"]\n[Black \"d\"]\n[Result \"0-1\"]\n"
    "\n"
    "1. d4 d5 0-1\n"
    "\n"
    "[Event \"Orphan headers with no moves line\"]\n"
    "[Site \"https://lichess.org/orphan\"]\n"
)


def test_parser_tolerates_malformed_input(spark, tmp_path):
    """Run on LF and on CRLF line endings: CRLF exercises the line-split
    regex, and the moves line would keep a trailing CR if the split
    lost its ``\\r?``."""
    for name, newline in (("lf", "\n"), ("crlf", "\r\n")):
        path = tmp_path / f"bad_{name}.pgn"
        path.write_bytes(_MALFORMED_PGN.replace("\n", newline).encode())
        rows = {r.Site: r for r in parse_pgn_text(spark, str(path)).collect()}
        # both complete games parse; the malformed header is ignored;
        # the trailing moves-less game is dropped (reference flushes
        # only on a completed moves line, ingester.py:162-235)
        assert set(rows) == {
            "https://lichess.org/goodgame",
            "https://lichess.org/tailgame",
        }, name
        assert rows["https://lichess.org/tailgame"].White == "c", name
        assert rows["https://lichess.org/tailgame"].Moves == "1. d4 d5 0-1", name


def test_load_table_events_both_timestamp_encodings(spark, tmp_path):
    """The driver fixtures have shipped events.ts as parquet
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across generations;
    load_table must return identical TIMESTAMP_NTZ values for both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = [1704067200_000000, 1704067201_500000, 1704070000_123456]
    cols = {
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["a", "b", "c"]),
        "value": pa.array([1.0, 2.0, 3.0]),
        "props": pa.array(["{}", "{}", "{}"]),
    }
    for unit, scale in (("us", 1), ("ns", 1000)):
        d = tmp_path / f"enc_{unit}"
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": cols["event_id"],
                "ts": pa.array(
                    [v * scale for v in base], pa.timestamp(unit)
                ),
                "user_id": cols["user_id"],
                "event_type": cols["event_type"],
                "value": cols["value"],
                "props": cols["props"],
            }
        )
        pq.write_table(
            tbl, str(d / "events.parquet"),
            store_schema=False,  # force plain parquet logical types
        )
    from lichess_db_spark.io import load_table

    # isAdjustedToUTC=true variant: Spark reads this as TIMESTAMP_LTZ,
    # where a plain NTZ cast would shift by the session timezone
    # (ADVICE r4); load_table must yield the same UTC wall clock as the
    # non-adjusted encodings under ANY session timezone.
    d = tmp_path / "enc_adj"
    d.mkdir()
    tbl = pa.table(
        {
            "event_id": cols["event_id"],
            "ts": pa.array(base, pa.timestamp("us", tz="UTC")),
            "user_id": cols["user_id"],
            "event_type": cols["event_type"],
            "value": cols["value"],
            "props": cols["props"],
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"), store_schema=False)

    from lichess_db_spark.io import load_table

    got_us = load_table(spark, str(tmp_path / "enc_us"), "events")
    got_ns = load_table(spark, str(tmp_path / "enc_ns"), "events")
    assert str(got_us.schema["ts"].dataType) == str(got_ns.schema["ts"].dataType)
    rows_us = sorted((r.event_id, r.ts) for r in got_us.collect())
    rows_ns = sorted((r.event_id, r.ts) for r in got_ns.collect())
    assert rows_us == rows_ns
    assert len(rows_us) == 3

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got_adj = load_table(spark, str(d), "events")
        assert str(got_adj.schema["ts"].dataType) == str(got_us.schema["ts"].dataType)
        rows_adj = sorted((r.event_id, r.ts) for r in got_adj.collect())
        assert rows_adj == rows_us
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
