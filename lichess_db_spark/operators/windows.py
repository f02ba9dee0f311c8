"""Running-state window operators (SURVEY.md §2.5 W1-W6).

The reference computes these imperatively in the ingest loop via the
``d_cum_games`` dict (ingester.py:172-218); they are logically window
functions over (partition, time-order) and that is how we express
them: ``rowsBetween(unboundedPreceding, currentRow)`` running frames,
ordered by the reference's (DateTime, ID) sort key (ingester.py:404)
plus explicit tiebreakers for cross-engine determinism.

Scale note: features over one window spec share a single Window
physical node (one sort). A (Player) hash partitioning also satisfies
the (Event, Player) clustering, so ``add_running_features`` sorts
twice on one Player shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def running_frame(partition: Sequence[str], order: Sequence[str]) -> WindowSpec:
    return (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def running_count(w: WindowSpec) -> Column:
    """W1/W2: running count *including the current row* — the
    reference increments before emitting (ingester.py:186-198)."""
    return F.count(F.lit(1)).over(w)


def running_max(col: Column | str, w: WindowSpec) -> Column:
    """W3: running max; NULLs are ignored by ``max`` so a '?'-null
    Elo carries the previous max forward exactly like the reference
    (ingester.py:200-208)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.max(c).over(w)


def add_running_features(
    df: DataFrame,
    player_col: str = "Player",
    type_col: str = "Event",
    elo_col: str = "PlayerElo",
    opp_elo_col: str = "OpponentElo",
    order: Sequence[str] = ("DateTime", "ID"),
) -> DataFrame:
    """W1-W4 in two window specs over one Player shuffle, as SQL text in
    one ``selectExpr``: the input plan is analysed once, and the build
    makes a handful of JVM calls instead of several per column
    function.

    W4 note: the reference's ``Elo_max_faced`` is buggy — it compares
    the player's *own* Elo (ingester.py:210-218), making it identical
    to W3. We implement the *intended* semantics (running max of the
    opponent's Elo) per SURVEY §2.5; the bug-parity variant is just
    ``PlayerElo_max`` again.
    """
    # the SQL text of running_frame, running_count and running_max: the
    # count includes the current row (ingester.py:186-198), and max skips
    # a '?'-null Elo, carrying the previous max (ingester.py:200-208)
    frame = f"ORDER BY {', '.join(order)} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    w_type = f"OVER (PARTITION BY {type_col}, {player_col} {frame})"
    w_all = f"OVER (PARTITION BY {player_col} {frame})"
    return df.selectExpr(
        "*",
        f"CAST(count(1) {w_type} AS INT) AS Player_cum_games_type",
        f"CAST(count(1) {w_all} AS INT) AS Player_cum_games_total",
        f"CAST(max({elo_col}) {w_type} AS INT) AS PlayerElo_max",
        f"CAST(max({opp_elo_col}) {w_type} AS INT) AS PlayerElo_max_faced",
    )
