"""The lichess domain pipeline (SURVEY.md §7 phase 3).

raw parsed games (White/Black wide, all strings)
  -> clean      (P6 '?'-null, F2-F5 casts/derives, P9 flags, F14 backfill)
  -> unpivot    (P2+P3+U1 as a single-scan inline of two role structs —
                 the reference scans its NDJSON twice and merge-sorts,
                 ingester.py:345-404; one scan halves the IO)
  -> features   (W1-W6 running windows over (Event/Player, DateTime, ID),
                 then Opponent_* from one window over ID)
  -> bin        (F11 PlayerElo_bin)

Output is the canonical player-game-role table (SURVEY.md §1.3,
reference ingester.py:284,345-369). Scale: each staged byte is parsed
once, and the only shuffles are two hash partitionings, `Player` (the
running windows; the (Event, Player) window reuses it) then `ID` (the
opponent features); everything else is narrow. At 100 TB, write
bucketed by Player so downstream per-player analytics (cell-8
self-join shape) co-locate for free.

Every column expression is SQL text (``selectExpr``/``F.expr``). The
batch ingest and each streaming micro-batch rebuild this plan on the
driver, and there every ``pyspark.sql.functions`` call costs py4j
round trips (several per call in PySpark 4, which records call-site
origins over py4j): on the test fixture the functions form made ~2,600
per build of clean + unpivot + features, the text form ~160, for the
same Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import elo_bin

# string header columns that get '?'-null treatment (ingester.py:325-334
# applies it to everything except the int-typed columns)
_Q_NULL_COLS = (
    "Event",
    "Site",
    "White",
    "Black",
    "Result",
    "WhiteTitle",
    "BlackTitle",
    "ECO",
    "Opening",
    "TimeControl",
    "Termination",
)

# F3: game ID from the Site URL (ingester.py:339); keeping what follows
# the last slash is robust to any host
_SITE_ID = "substring_index(Site, '/', -1)"


def _unit_hash(col: str) -> str:
    """W5/W6 for string keys: xxhash64 -> [0,1). Spark-side only (the
    DuckDB oracle cannot reproduce xxhash64); the oracle-checked
    variant is ``functions.scalar.stable_unit_hash`` on integer keys."""
    return f"pmod(xxhash64({col}), 4294967296) / 4294967296D"


def _with_sql(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``withColumns`` over SQL text in one ``selectExpr``: existing
    columns are replaced in place, new ones appended in order."""
    kept = [f"{exprs[c]} AS {c}" if c in exprs else c for c in df.columns]
    return df.selectExpr(*kept, *(f"{e} AS {c}" for c, e in exprs.items() if c not in df.columns))


def clean_games(raw: DataFrame, include_moves: bool = False) -> DataFrame:
    """Header strings -> typed game-level columns (one row per game).

    Two projections: the derived columns read the '?'-nulled headers
    of the first (``Tournament`` the unstripped Event).
    """
    df = _with_sql(raw, {c: f"nullif({c}, '?')" for c in _Q_NULL_COLS if c in raw.columns})
    derived = {
        "Tournament": "coalesce(contains(Event, 'tournament'), false)",
        # F7: event name split("tournament")[0].strip() (ingester.py:149)
        "Event": "trim(substring_index(Event, 'tournament', 1))",
        "ID": _SITE_ID,
        # F5+F4: UTCDate + " " + UTCTime -> timestamp (ingester.py:227,338)
        "DateTime": "to_timestamp(concat_ws(' ', UTCDate, UTCTime), 'yyyy.MM.dd HH:mm:ss')",
        # F2+F10+P6: '?' -> NULL, '+' stripped, smallint (ingester.py:334-337)
        **{c: f"CAST(replace(nullif({c}, '?'), '+', '') AS SMALLINT)"
           for c in ("WhiteElo", "BlackElo", "WhiteRatingDiff", "BlackRatingDiff")},
        "WhiteTitle_flag": "WhiteTitle IS NOT NULL",
        "BlackTitle_flag": "BlackTitle IS NOT NULL",
        # W6: per-game random — deterministic replacement for the
        # reference's unseeded random() (drawn twice, second wins,
        # ingester.py:195); keyed on the game ID.
        "ID_random": _unit_hash(_SITE_ID),
        # W5: per-player stable tags (ingester.py:180-196)
        "White_random": _unit_hash("White"),
        "Black_random": _unit_hash("Black"),
    }
    if include_moves and "Moves" in df.columns:
        derived["Evaluation_flag"] = "coalesce(contains(Moves, 'eval'), false)"
        # F7: keep the first 3 moves, cut at the literal "4."
        # (ingester.py:156-158)
        derived["Moves"] = "substring_index(Moves, '4.', 1)"
    df = _with_sql(df, derived)
    return df if include_moves else df.drop("Moves")


def _role_struct(role: str) -> str:
    me, opp = ("White", "Black") if role == "White" else ("Black", "White")
    # F9: 1-0 <-> 0-1 on the Black row, identity otherwise
    # (ingester.py:373-377)
    result = "CASE Result WHEN '1-0' THEN '0-1' WHEN '0-1' THEN '1-0' ELSE Result END"
    fields = {"Role_player": f"'{role}'"}
    fields |= {side + suffix: col + suffix
               for suffix in ("", "Elo", "Title", "Title_flag", "RatingDiff", "_random")
               for side, col in (("Player", me), ("Opponent", opp))}
    fields["Result"] = "Result" if role == "White" else result
    return "named_struct({})".format(", ".join(f"'{k}', {v}" for k, v in fields.items()))


def unpivot_roles(games: DataFrame, include_moves: bool = False) -> DataFrame:
    """P2+P3+U1 as one ``inline``: each game emits a White-perspective
    and a Black-perspective row; Result is inverted on the Black row by
    a CASE (F9 de-UDF'd, reference used a Python lambda at
    ingester.py:377). Single scan — the reference reads its NDJSON
    twice and merge-sorts (ingester.py:329-403)."""
    shared = ["ID", "ID_random", "Event", "Tournament", "ECO", "Opening", "TimeControl",
              "Termination", "DateTime"]
    if include_moves:
        shared += ["Moves", "Evaluation_flag"]
    roles = f"inline(array({_role_struct('White')}, {_role_struct('Black')}))"
    return games.selectExpr(*shared, roles)


def add_features(unpivoted: DataFrame) -> DataFrame:
    """W1-W4 running features + F11 bin, then the reference's global
    sort (O1, ingester.py:404) is left to the caller — sorting is a
    query-time concern in Spark (writers can bucket instead).

    Opponent-side features (reference emits both sides per row,
    ingester.py:345-369) are NOT re-windowed: a game's Opponent_* are
    exactly the other role's Player_* (test-pinned invariant), so one
    unordered window over ID reads them off the game's other row — one
    ID shuffle instead of two more window partitionings. A self-join
    would parse the input twice: its branches prune to different
    columns, so Spark cannot reuse the exchange. Null-ID games are
    dropped (their rows would all share one window); games that share
    an ID share one window, so each row sees the max over the copies.
    """
    from ..operators.windows import add_running_features

    def other_row(c: str) -> str:
        side = "max(CASE WHEN Role_player {} 'White' THEN {} END) OVER (PARTITION BY ID)"
        return (f"CASE WHEN Role_player = 'White' THEN {side.format('!=', c)} "
                f"ELSE {side.format('=', c)} END AS {c.replace('Player', 'Opponent')}")

    features = ("Player_cum_games_type", "Player_cum_games_total", "PlayerElo_max",
                "PlayerElo_max_faced")
    return (
        add_running_features(unpivoted)
        .where("ID IS NOT NULL")
        .select("*", *(F.expr(other_row(c)) for c in features),
                elo_bin("PlayerElo").alias("PlayerElo_bin"))
    )


def games_pipeline(raw: DataFrame, include_moves: bool = False) -> DataFrame:
    """Full phase-3 pipeline: raw parsed games -> canonical table."""
    return add_features(unpivot_roles(clean_games(raw, include_moves), include_moves))
