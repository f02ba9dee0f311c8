"""Scalar column helpers (SURVEY.md §2.8 F1-F14).

All JVM-side column expressions — no Python UDFs. The ingest
pipeline's own derivations (F2-F10) are SQL text in ``plans.games``;
what stays here is shared with the catalog and ``plans.eda``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F8: result -> winner recode (eda.ipynb:cell6). Unmatched -> NULL.
WINNER_MAP = {"0-1": "black", "1-0": "white", "1/2-1/2": "draw"}


def question_to_null(col: Column | str) -> Column:
    """P6: ``"?"`` -> NULL normalization (ingester.py:334)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c != "?", c)


def recode(col: Column | str, mapping: dict[str, str], default: Column | None = None) -> Column:
    """F8/F9: dict recode as a native ``when`` chain (no Python UDF).

    ``default=None`` -> unmatched becomes NULL (polars map_dict
    semantics); pass ``default=F.col(c)`` for identity-otherwise
    (polars ``map_elements(d.get)`` with dict.get fallback used at
    ingester.py:377 keeps the original when missing).
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for k, v in mapping.items():
        cond = c == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    assert expr is not None, "empty mapping"
    return expr.otherwise(default) if default is not None else expr


def elo_bin(col: str, lo: int = 0, hi: int = 4000, width: int = 200) -> Column:
    """F11: polars ``.cut(range(0,4001,200))`` interval labels
    (ingester.py:406): ``"(1800, 2000]"`` with open outer bins.

    One SQL expression (codegen-friendly, one JVM call to build); the
    bin index is ``ceil(x/width)-1`` on the right-closed convention
    polars uses: value v lands in (lo + k*width, lo + (k+1)*width]."""
    c = f"CAST({col} AS DOUBLE)"
    left = f"CAST({lo} + (ceil(({c} - {lo}) / {width}) - 1) * {width} AS INT)"
    return F.expr(
        f"CASE WHEN {c} <= {lo} THEN '(-inf, {lo}]' WHEN {c} > {hi} THEN '({hi}, inf]' "
        f"ELSE concat('(', CAST({left} AS STRING), ', ', CAST({left} + {width} AS STRING), ']') END"
    )


def stable_unit_hash(col: Column | str, modulus: int = 2**32, mult: int = 2654435761) -> Column:
    """W5 replacement: deterministic per-key U[0,1) tag.

    The reference draws an unseeded ``random()`` on a player's first
    appearance and reuses it forever (ingester.py:180-196) — not
    reproducible. A Knuth multiplicative hash of the key is stable,
    uniform enough for sampling, and needs no window/state at all.
    For string keys use ``xxhash64`` upstream to get an int first.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("bigint") * F.lit(mult) % F.lit(modulus)) / F.lit(float(modulus))
