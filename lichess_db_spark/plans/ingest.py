"""End-to-end ingest orchestration (SURVEY.md §7 phase 4; reference
entry point E1, ingest_lichess.py:9-27).

stage (download/decompress/chunk per month, threaded)
  -> parse   (sources.pgn.parse_pgn_text over the chunk files)
  -> pipeline (plans.games: clean -> unpivot -> features)
  -> write   (gzip parquet, 1M rows/file, year=/month= partition layout)

Incremental months: windows recompute over the full accumulated table
— idiomatic Spark and cheap relative to the scan (SURVEY §2.9 T3); the
continuous alternative (state-store running features) lives in
streaming.ingest for pipelines where reprocessing history is
undesirable.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import write_parquet
from ..sources.pgn import parse_pgn_text
from ..sources.staging import stage_month
from .games import games_pipeline


def stage_months(
    months: list[tuple[int, int]], staging_dir: str, max_concurrent: int = 4
) -> list[str]:
    """Reference loops months serially (ingest_lichess.py:23-27); a
    small thread pool overlaps download with decompression the same
    way its worker thread overlapped conversion (T5)."""
    with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
        futs = [pool.submit(stage_month, y, m, staging_dir) for y, m in months]
        paths: list[str] = []
        for f in futs:
            paths.extend(f.result())
    return paths


def ingest_months(
    spark: SparkSession,
    months: list[tuple[int, int]],
    staging_dir: str,
    out_dir: str,
    include_moves: bool = False,
    compression: str = "gzip",
) -> None:
    """Full E1 twin: stage -> parse -> domain pipeline -> parquet.

    ``compression`` defaults to gzip for reference parity (S5's Drill
    compatibility, ingester.py:418-421); pass ``zstd`` for the faster
    write path — zstd encodes several times faster than gzip at
    comparable ratios (bench_ingest.py --compression zstd measures the
    difference). The write is not the dominant cost: in the traced
    benchmark ingest (perfbench ``--trace 1``, 3 months of 4,000 games,
    local[4] on a 4-core host) ``io.write_s`` is 0.18–0.33 s of a
    1.0–1.8 s operation; the parse (~0.4–0.55 s), the running and
    opponent windows (~0.3–0.4 s) and the driver-side plan build take
    most of the rest.
    """
    stage_months(months, staging_dir)
    df = build_games_table(spark, f"{staging_dir}/*/*/*.pgn", include_moves)
    write_parquet(
        df.withColumn("year", F.year("DateTime")).withColumn("month", F.month("DateTime")),
        out_dir,
        partition_by=["year", "month"],
        compression=compression,
    )


def build_games_table(
    spark: SparkSession, staged_glob: str, include_moves: bool = False
) -> DataFrame:
    """parse + clean + unpivot + features from staged PGN text."""
    return games_pipeline(parse_pgn_text(spark, staged_glob), include_moves)
