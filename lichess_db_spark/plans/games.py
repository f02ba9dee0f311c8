"""The lichess domain pipeline (SURVEY.md §7 phase 3).

raw parsed games (White/Black wide, all strings)
  -> clean      (P6 '?'-null, F2-F5 casts/derives, P9 flags, F14 backfill)
  -> unpivot    (P2+P3+U1 as a single-scan explode of two role structs —
                 the reference scans its NDJSON twice and merge-sorts,
                 ingester.py:345-404; explode halves the IO)
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
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import (
    concat_datetime,
    elo_bin,
    elo_smallint,
    invert_result,
    question_to_null,
    site_to_id,
    stable_unit_hash_str,
    strip_tournament_suffix,
    truncate_moves,
)

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


def clean_games(raw: DataFrame, include_moves: bool = False) -> DataFrame:
    """Header strings -> typed game-level columns (one row per game).

    Two ``withColumns`` steps, not one ``withColumn`` per column: each
    call re-analyses the lambda-heavy parse plan beneath it on the
    driver. The derived columns read the '?'-nulled headers of the
    first step (``Tournament`` the unstripped Event).
    """
    df = raw.withColumns({c: question_to_null(c) for c in _Q_NULL_COLS if c in raw.columns})
    game_id = site_to_id("Site")
    derived = {
        "Tournament": F.coalesce(F.col("Event").contains("tournament"), F.lit(False)),
        "Event": strip_tournament_suffix("Event"),
        "ID": game_id,
        "DateTime": concat_datetime("UTCDate", "UTCTime"),
        **{c: elo_smallint(c) for c in ("WhiteElo", "BlackElo",
                                        "WhiteRatingDiff", "BlackRatingDiff")},
        "WhiteTitle_flag": F.col("WhiteTitle").isNotNull(),
        "BlackTitle_flag": F.col("BlackTitle").isNotNull(),
        # W6: per-game random — deterministic replacement for the
        # reference's unseeded random() (drawn twice, second wins,
        # ingester.py:195); keyed on the game ID.
        "ID_random": stable_unit_hash_str(game_id),
        # W5: per-player stable tags
        "White_random": stable_unit_hash_str("White"),
        "Black_random": stable_unit_hash_str("Black"),
    }
    if include_moves and "Moves" in df.columns:
        derived["Evaluation_flag"] = F.coalesce(F.col("Moves").contains("eval"), F.lit(False))
        derived["Moves"] = truncate_moves("Moves")
    df = df.withColumns(derived)
    return df if include_moves else df.drop("Moves")


def _role_struct(role: str, include_moves: bool) -> Column:
    me, opp = ("White", "Black") if role == "White" else ("Black", "White")
    result = F.col("Result") if role == "White" else invert_result("Result")
    fields = [
        F.lit(role).alias("Role_player"),
        F.col(me).alias("Player"),
        F.col(opp).alias("Opponent"),
        F.col(f"{me}Elo").alias("PlayerElo"),
        F.col(f"{opp}Elo").alias("OpponentElo"),
        F.col(f"{me}Title").alias("PlayerTitle"),
        F.col(f"{opp}Title").alias("OpponentTitle"),
        F.col(f"{me}Title_flag").alias("PlayerTitle_flag"),
        F.col(f"{opp}Title_flag").alias("OpponentTitle_flag"),
        F.col(f"{me}RatingDiff").alias("PlayerRatingDiff"),
        F.col(f"{opp}RatingDiff").alias("OpponentRatingDiff"),
        F.col(f"{me}_random").alias("Player_random"),
        F.col(f"{opp}_random").alias("Opponent_random"),
        result.alias("Result"),
    ]
    return F.struct(*fields)


def unpivot_roles(games: DataFrame, include_moves: bool = False) -> DataFrame:
    """P2+P3+U1 as one explode: each game emits a White-perspective and
    a Black-perspective struct; Result is inverted on the Black row via
    a when-chain (F9 de-UDF'd, reference used a Python lambda at
    ingester.py:377). Single scan — the reference reads its NDJSON
    twice and merge-sorts (ingester.py:329-403)."""
    shared = ["ID", "ID_random", "Event", "Tournament", "ECO", "Opening", "TimeControl",
              "Termination", "DateTime"]
    if include_moves:
        shared += ["Moves", "Evaluation_flag"]
    roles = F.explode(
        F.array(_role_struct("White", include_moves), _role_struct("Black", include_moves))
    ).alias("r")
    return games.select(*shared, roles).select(*shared, "r.*")


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

    game = Window.partitionBy("ID")
    white = F.col("Role_player") == "White"

    def other_row(c: str) -> Column:
        on_black, on_white = (F.max(F.when(side, F.col(c))).over(game) for side in (~white, white))
        return F.when(white, on_black).otherwise(on_white)

    features = ("Player_cum_games_type", "Player_cum_games_total", "PlayerElo_max",
                "PlayerElo_max_faced")
    return (
        add_running_features(unpivoted)
        .where(F.col("ID").isNotNull())
        .withColumns(
            {c.replace("Player", "Opponent"): other_row(c) for c in features}
            | {"PlayerElo_bin": elo_bin("PlayerElo")}
        )
    )


def games_pipeline(raw: DataFrame, include_moves: bool = False) -> DataFrame:
    """Full phase-3 pipeline: raw parsed games -> canonical table."""
    return add_features(unpivot_roles(clean_games(raw, include_moves), include_moves))
