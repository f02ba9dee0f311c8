"""End-to-end EDA parity (SURVEY.md §5 item 3): PGN fixture ->
domain pipeline -> the six notebook analyses with exact assertions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lichess_db_spark.plans import eda
from lichess_db_spark.plans.games import games_pipeline
from lichess_db_spark.sources.pgn import parse_pgn_text

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "games.pgn")


@pytest.fixture(scope="module")
def games(spark):
    # unpersisted at teardown: a plan built from SQL text is identical on
    # every build, so a leaked cache entry would stand in for the scan
    # in later modules' plans of the same fixture
    df = games_pipeline(parse_pgn_text(spark, FIXTURE)).cache()
    yield df
    df.unpersist()


def test_total_games(games):
    assert eda.total_games(games).first()["Num games"] == 6


def test_approx_distinct_players(games):
    r = eda.approx_distinct_players(games).first()
    # 3 distinct players on each side; HLL exact at this cardinality
    assert r.White == 3 and r.Black == 3


def test_result_proportions(games):
    rows = {r.winner: r for r in eda.result_proportions(games).collect()}
    # 6 games: 3x 1-0, 2x 0-1... fixture: results 1-0,0-1,1/2,0-1,1-0,1-0
    assert rows["white"]["count"] == 3
    assert rows["black"]["count"] == 2
    assert rows["draw"]["count"] == 1
    assert abs(sum(r.proportion for r in rows.values()) - 1.0) < 1e-9


def test_termination_proportions(games):
    rows = {r.Termination: r["count"] for r in eda.termination_proportions(games).collect()}
    assert rows == {"Normal": 3, "Time forfeit": 2, "Abandoned": 1}


def test_top_players(games):
    rows = eda.top_players(games).collect()
    by = {r.player: r for r in rows}
    # mamalak: 2 as white + 3 as black = 5; BFG9k: 3+1=4; zugzwang99: 1+2=3
    assert by["mamalak"].n_games == 5
    assert by["BFG9k"].n_games == 4
    assert by["zugzwang99"].n_games == 3
    assert rows[0].player == "mamalak"


def test_games_per_day(games):
    rows = eda.games_per_day(games).collect()
    assert [(str(r.day), r["count"]) for r in rows] == [
        ("2012-12-31", 3),
        ("2013-01-01", 3),
    ]


def test_high_elo_openings(games):
    # fixture max Elo 1725 -> empty at the notebook's 2000 cutoff
    assert eda.high_elo_openings(games).count() == 0
    assert eda.high_elo_openings(games, min_elo=1600).count() == 1  # GM draw game


def test_top_openings(games):
    rows = eda.top_openings(games).collect()
    assert rows[0].Opening == "French Defense: Normal Variation"
    assert rows[0]["count"] == 2
