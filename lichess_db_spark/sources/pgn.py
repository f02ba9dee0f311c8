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

The array expressions are SQL text (``selectExpr`` with SQL ``x -> ...``
lambdas), not ``pyspark.sql.functions`` calls. The plan is rebuilt
on every batch ingest and every streaming micro-batch, and each
``functions`` call is one or more py4j round trips (PySpark 4 also
records its call-site origin over py4j); Python lambdas inside
``transform``/``filter`` multiply them. On the test fixture the parse
in that form cost ~2,000 round trips per build; as text it costs ~45,
for the same Catalyst plan.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
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
    ``explode`` emits a row per game: the whole parse is map-only.
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
    # The regexes are raw SQL literals (r'...'): no backslash doubling,
    # and spark.sql.parser.escapedStringLiterals cannot change them.
    staged = files.selectExpr(r"split(decode(content, 'UTF-8'), r'\r?\n') AS _lines")
    # 0-based positions of moves lines (= game ends)
    staged = staged.selectExpr(
        "_lines",
        """filter(sequence(0, size(_lines) - 1),
                  i -> NOT startswith(_lines[i], '[') AND trim(_lines[i]) != '') AS _midx""",
    )
    # game i: its moves line m and the header lines from `first` (the
    # line after the previous game's moves line) up to m; header lines
    # with no key are malformed and ignored
    first = "IF(i = 0, 0, _midx[i - 1] + 1)"
    games = staged.selectExpr(
        rf"""explode(transform(_midx, (m, i) -> named_struct(
              'h', map_from_entries(filter(
                     transform(
                       filter(slice(_lines, {first} + 1, m - {first}), l -> startswith(l, '[')),
                       l -> named_struct('k', regexp_extract(l, r'\[(\S+)\s"', 1),
                                         'v', regexp_extract(l, r'\[\S+\s"(.*)"\]', 1))),
                     e -> e.k != '')),
              'Moves', _lines[m]))) AS _g"""
    )
    return games.selectExpr(*(f"_g.h['{f}'] AS {f}" for f in HEADER_FIELDS), "_g.Moves AS Moves")


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
