"""PGN source: text -> one row per game (SURVEY.md §2.1 S2).

The reference parses PGN with a line state machine inside its
download loop (ingester.py:113-235). Here the same semantics are a
table-valued transform over distributed text:

- ``parse_pgn_text(spark, path)``: the batch path. Each staged chunk
  is read whole (``binaryFile``) and split into games with array
  expressions inside the file row (JVM-side, zero shuffles). A game
  ends at its *moves* line (a non-header, non-blank line); the header
  lines since the previous moves line belong to it.
- ``parse_pgn_partitions``: the imperative state-machine twin, used
  by the ``pgn`` DataSource behind the streaming ingest and as the
  tests' oracle.

Parallelism at 100 TB: one ``.pgn.zst`` month is a single
non-splittable stream, so the unit of parallelism is the month file
(staged to chunked text by sources.staging, cut at game boundaries);
after staging, each chunk file parses in one task, so the unit of
parallelism is the chunk.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

HEADER_RE = re.compile(r'\[(.*?)\s"(.*)"\]')

# headers the canonical schema keeps (ingester.py:286-315); others pass
# through the map and are dropped at projection time.
HEADER_FIELDS = (
    "Event",
    "Site",
    "White",
    "Black",
    "Result",
    "UTCDate",
    "UTCTime",
    "WhiteElo",
    "BlackElo",
    "WhiteRatingDiff",
    "BlackRatingDiff",
    "WhiteTitle",
    "BlackTitle",
    "ECO",
    "Opening",
    "TimeControl",
    "Termination",
)

RAW_GAME_SCHEMA = StructType(
    [StructField(f, StringType()) for f in HEADER_FIELDS]
    + [StructField("Moves", StringType())]
)


def parse_pgn_text(spark: SparkSession, path: str) -> DataFrame:
    """Distributed PGN parse: ZERO shuffles, contractual line order.

    Each staged chunk is read whole via the ``binaryFile`` source
    (non-splittable BY CONTRACT), so a line's position comes from the
    file's own byte content — not from ``monotonically_increasing_id``,
    whose ordering depended on FileSourceScan packing a file's splits
    into partitions in offset order (true today, but not contractual;
    a packing change would silently reassemble games wrong).

    Game assembly happens INSIDE the file row with array expressions
    (split / filter / transform / map_from_entries), then one
    ``posexplode`` emits a row per game: the whole parse is map-only.
    The previous form exploded lines and regrouped them with a
    per-file window + a per-game groupBy — two cluster-wide shuffles
    of every PGN line; at 100 TB that shuffle IO dominated the parse.
    Per the reference state machine (ingester.py:139-235): a
    non-header non-blank line is a game's moves line and closes the
    game; header lines since the previous moves line belong to it;
    malformed header lines are ignored; a trailing moves-less header
    block is dropped.

    Games never straddle *files* after staging (sources.staging cuts
    at blank lines). Memory/parallelism: one staged chunk (~128MB by
    construction) decodes in one task — the unit of parallelism is the
    chunk file, same as before, minus both shuffles.
    """
    files = spark.read.format("binaryFile").load(path)
    # _lines and _midx are materialized in SEPARATE projections: each
    # is referenced many times by downstream lambdas, and referencing
    # the raw expression there would re-evaluate it per element access
    # (split of the whole chunk per line — O(lines²) per file).
    # Multi-referenced non-cheap expressions are exactly what
    # CollapseProject refuses to inline, so the steps stay distinct.
    staged = files.select(
        F.col("path").alias("_file"),
        F.split(F.decode(F.col("content"), "UTF-8"), "\r?\n").alias("_lines"),
    )
    lines = F.col("_lines")
    line = lambda i: F.element_at(lines, i + 1)  # noqa: E731  (0-based)
    # 0-based positions of moves lines (= game ends)
    staged = staged.select(
        "_file",
        "_lines",
        F.filter(
            F.sequence(F.lit(0), F.size(lines) - 1),
            lambda i: (~line(i).startswith("[")) & (F.trim(line(i)) != ""),
        ).alias("_midx"),
    )
    midx = F.col("_midx")

    def game(m: Column, i: Column) -> Column:
        # headers live between the previous game's moves line and m
        prev = F.when(i == 0, F.lit(-1)).otherwise(F.element_at(midx, i))
        rng = F.when(m - 1 >= prev + 1, F.sequence(prev + 1, m - 1)).otherwise(
            F.array().cast("array<int>")
        )
        hlines = F.filter(
            F.transform(rng, lambda j: line(j)), lambda l: l.startswith("[")
        )
        entries = F.transform(
            hlines,
            lambda l: F.struct(
                F.regexp_extract(l, r'\[(\S+)\s"', 1).alias("k"),
                F.regexp_extract(l, r'\[\S+\s"(.*)"\]', 1).alias("v"),
            ),
        )
        return F.struct(
            F.map_from_entries(
                F.filter(entries, lambda e: e["k"] != "")  # malformed -> ignored
            ).alias("h"),
            line(m).alias("Moves"),
        )

    exploded = staged.select(
        "_file",
        F.posexplode(F.transform(midx, game)).alias("_gi", "_g"),
    )
    cols = [F.col("_g.h").getItem(f).alias(f) for f in HEADER_FIELDS]
    return exploded.select(
        F.concat_ws("#", F.col("_file"), F.col("_gi").cast("string")).alias("game_id"),
        *cols,
        F.col("_g.Moves").alias("Moves"),
    )


def parse_pgn_partitions(lines_iter: Iterator[str]) -> Iterator[dict]:
    """Imperative per-partition parser (state-machine twin of
    ingester.py:139-235) for RDD/streaming use. Each yielded dict is
    one game (header fields + Moves)."""
    game: dict = {}
    for raw in lines_iter:
        line = raw.rstrip("\n")
        if line.startswith("["):
            m = HEADER_RE.match(line)
            if m:
                game[m.group(1)] = m.group(2)
        elif line.strip():
            game["Moves"] = line
            yield game
            game = {}
    # trailing game without moves line is dropped (reference flushes
    # only on a completed moves line, ingester.py:162-235)
