#!/usr/bin/env python
"""Ingest throughput benchmark: synthesize N games of PGN, stage to
chunk files, run parse -> clean -> unpivot -> window features ->
partitioned parquet, report games/sec.

Not driver-run (bench.py is the per-round metric); this measures the
E1 pipeline against the reference's single-node ingest, which is a
serial Python loop (~10^3-10^4 games/s class).

    python bench_ingest.py --games 100000 --chunks 16

``--scaling 1,8,32`` instead measures parse-only throughput at each
chunk count (same total games): chunk files are the unit of
parallelism for the non-splittable binaryFile PGN source
(sources/pgn.py), so games/s should scale near-linearly with chunks
up to the core count — the measured evidence for the chunk-level
parallelism claim. Writes BENCH_INGEST.json when --out is given.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

ECOS = ["C00", "D04", "B12", "A00", "C20", "B00"]
OPENINGS = [
    "French Defense: Normal Variation",
    "Queen's Pawn Game: Colle System",
    "Caro-Kann Defense",
    "Hungarian Opening",
    "King's Pawn Game",
    "Owen Defense",
]
TERMS = ["Normal", "Time forfeit", "Abandoned"]
RESULTS = ["1-0", "0-1", "1/2-1/2"]


def synth_pgn(n_games: int, out_dir: str, chunks: int) -> None:
    """Deterministic synthetic PGN in the reference's header shape."""
    os.makedirs(out_dir, exist_ok=True)
    per = n_games // chunks + 1
    gid = 0
    for c in range(chunks):
        with open(os.path.join(out_dir, f"chunk_{c:05d}.pgn"), "w") as fh:
            for _ in range(min(per, n_games - gid)):
                w = f"player{(gid * 2654435761) % 5000:04d}"
                b = f"player{(gid * 40503 + 7) % 5000:04d}"
                res = RESULTS[gid % 3]
                day = 1 + (gid // 86400) % 27
                sec = gid % 86400
                fh.write(
                    f'[Event "Rated Blitz game"]\n'
                    f'[Site "https://lichess.org/g{gid:08d}"]\n'
                    f'[White "{w}"]\n[Black "{b}"]\n'
                    f'[Result "{res}"]\n'
                    f'[UTCDate "2024.01.{day:02d}"]\n'
                    f'[UTCTime "{sec // 3600:02d}:{(sec // 60) % 60:02d}:{sec % 60:02d}"]\n'
                    f'[WhiteElo "{600 + (gid * 97) % 2400}"]\n'
                    f'[BlackElo "{"?" if gid % 100 == 0 else 600 + (gid * 89) % 2400}"]\n'
                    f'[WhiteRatingDiff "+{gid % 30}"]\n'
                    f'[BlackRatingDiff "-{gid % 30}"]\n'
                    f'[ECO "{ECOS[gid % len(ECOS)]}"]\n'
                    f'[Opening "{OPENINGS[gid % len(OPENINGS)]}"]\n'
                    f'[TimeControl "600+8"]\n'
                    f'[Termination "{TERMS[gid % len(TERMS)]}"]\n'
                    f"\n1. e4 e6 2. d4 d5 3. Nc3 Nf6 {res}\n\n"
                )
                gid += 1


def run_scaling(games: int, chunk_counts: list[int], out_path: str | None) -> None:
    """Parse-only throughput at each chunk count, one JSON line."""
    # MUST precede get_spark(): session.py reads the env var at JVM
    # launch. 32 concurrent parse tasks share ONE local-mode heap; at
    # the default 8g, 8x50MB chunks measured GC-thrash inverse scaling.
    # Real clusters give each executor its own heap.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

    from pyspark.sql import functions as F

    from lichess_db_spark.session import get_spark
    from lichess_db_spark.sources.pgn import parse_pgn_text

    spark = get_spark("ingest-scaling-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def parse_gps(staging: str) -> tuple[float, int]:
        t0 = time.perf_counter()
        df = parse_pgn_text(spark, f"{staging}/*.pgn")
        # aggregate over parsed columns so the full parse runs (a bare
        # count could prune the row-assembly work)
        row = df.agg(
            F.count("Site").alias("n"),
            F.sum(F.crc32("White")).alias("_w"),
            F.sum(F.length("Moves")).alias("_m"),
        ).collect()[0]
        return time.perf_counter() - t0, row["n"]

    import gc
    import statistics

    results = {}
    warmed = False
    try:
        for chunks in chunk_counts:
            staging = tempfile.mkdtemp(prefix=f"pgn_scale_{chunks}_")
            try:
                synth_pgn(games, staging, chunks)
                if not warmed:  # JVM/py4j warm-up outside the measurement
                    parse_gps(staging)
                    warmed = True
                # median of 3 with the CPython GC quiesced — the same
                # discipline as bench.py: gen2 collections finalize
                # py4j JavaObjects one blocking gateway call at a time,
                # which measured as monotonically GROWING samples here
                gc.collect()
                gc.disable()
                try:
                    samples = [parse_gps(staging) for _ in range(3)]
                finally:
                    gc.enable()
                    gc.collect()
                sec = statistics.median(s for s, _ in samples)
                n = samples[0][1]
                results[str(chunks)] = {
                    "games_per_sec": round(n / sec, 1),
                    "sec": round(sec, 2),
                    "samples_sec": [round(s, 2) for s, _ in samples],
                    "games": n,
                }
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        base = results[str(chunk_counts[0])]["games_per_sec"]
        payload = {
            "metric": "parse-only games/sec by chunk count (local[32])",
            "unit": "games/sec",
            "games": games,
            "scaling": results,
            "speedup_vs_1chunk": {
                k: round(v["games_per_sec"] / base, 2) for k, v in results.items()
            },
            "note": (
                "chunk files are the parallelism unit of the "
                "non-splittable binaryFile PGN source; scaling "
                "saturates on local[32] because all tasks share one "
                "JVM heap (allocation-bandwidth bound) — per-executor "
                "heaps on a real cluster remove that coupling. "
                "Single-task samples carry ~2x JVM GC/JIT variance; "
                "see samples_sec."
            ),
        }
        print(json.dumps(payload))
        if out_path:
            with open(out_path, "w") as fh:
                json.dump(payload, fh, indent=1)
                fh.write("\n")
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--games", type=int, default=100_000)
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument(
        "--scaling",
        default=None,
        help="comma-separated chunk counts, e.g. 1,8,32: measure "
        "parse-only games/s at each (chunk-parallelism evidence)",
    )
    ap.add_argument("--out", default=None, help="also write the JSON here")
    ap.add_argument(
        "--compression",
        default="gzip",
        choices=["gzip", "zstd", "snappy", "none"],
        help="parquet codec; gzip = reference parity, zstd = fast path",
    )
    args = ap.parse_args()

    if args.scaling:
        run_scaling(
            args.games, [int(c) for c in args.scaling.split(",")], args.out
        )
        return

    from pyspark.sql import functions as F

    from lichess_db_spark.io import write_parquet
    from lichess_db_spark.plans.ingest import build_games_table
    from lichess_db_spark.session import get_spark

    staging = tempfile.mkdtemp(prefix="pgn_bench_")
    out = tempfile.mkdtemp(prefix="games_bench_")
    try:
        t0 = time.perf_counter()
        synth_pgn(args.games, staging, args.chunks)
        t_synth = time.perf_counter() - t0

        spark = get_spark("ingest-bench")
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        df = build_games_table(spark, f"{staging}/*.pgn")
        write_parquet(
            df.withColumn("year", F.year("DateTime")).withColumn("month", F.month("DateTime")),
            out,
            partition_by=["year", "month"],
            compression=args.compression,
        )
        t_ingest = time.perf_counter() - t0
        n_rows = spark.read.parquet(out).count()
        print(
            json.dumps(
                {
                    "metric": "ingest games/sec (parse+features+write)",
                    "value": round(args.games / t_ingest, 1),
                    "unit": "games/sec",
                    "games": args.games,
                    "rows_out": n_rows,
                    "ingest_sec": round(t_ingest, 2),
                    "synth_sec": round(t_synth, 2),
                    "compression": args.compression,
                }
            )
        )
        spark.stop()
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
