"""Self-tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pgngen  # noqa: E402
import stats  # noqa: E402


def _staged(seed: int, out: str) -> dict[str, bytes]:
    paths = pgngen.stage_months(seed, out, months=2, games_per_month=400, chunk_bytes=32 << 10)
    return {os.path.relpath(p, out): open(p, "rb").read() for p in paths}


def test_same_seed_gives_byte_identical_chunks(tmp_path):
    a = _staged(7, str(tmp_path / "a"))
    b = _staged(7, str(tmp_path / "b"))
    assert len(a) > 2
    assert a == b
    assert _staged(8, str(tmp_path / "c")) != a


def test_generated_months_have_the_dump_shape():
    gen = pgngen.PgnGenerator(seed=3, months=2, games_per_month=3000)
    text = "\n".join(line for y, m in gen.month_keys for line in gen.month_lines(y, m))
    games = text.count("[Event ")
    assert games == 6000
    stamps = re.findall(r'\[UTCDate "([^"]+)"\]\n\[UTCTime "([^"]+)"\]', text)
    assert stamps == sorted(stamps)  # months, and games inside them, in time order
    events = re.findall(r'\[Event "([^"]+)"\]', text)
    assert any(" tournament https://lichess.org/tournament/" in e for e in events)
    assert len({e.split(" tournament")[0] for e in events}) >= 8
    elos = re.findall(r'Elo "([^"]+)"\]', text)
    assert 0.003 < elos.count("?") / len(elos) < 0.03
    assert 0 < len(re.findall(r'Title "', text)) / (2 * games) < 0.1
    players = Counter(re.findall(r'\[(?:White|Black) "([^"]+)"\]', text))
    assert len(players) == round(games * pgngen.PLAYERS_PER_GAME)
    ranked = [n for _, n in players.most_common()]
    assert ranked[0] > 8 * ranked[len(ranked) // 2]  # Zipf: a heavy head
    results = Counter(re.findall(r'\[Result "([^"]+)"\]', text))
    assert 0.02 < results["1/2-1/2"] / games < 0.06
    assert len(set(re.findall(r'\[ECO "([^"]+)"\]', text))) > 100
    moves = [ln for ln in text.split("\n") if ln and not ln.startswith("[")]
    lengths = {len(m) for m in moves}
    assert len(moves) == games and max(lengths) > 10 * min(lengths)
    assert sum("[%eval" in m for m in moves) > 0


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))
    assert stats.tail(xs) == (90.0, 90)  # p95 would leave only five above
    assert stats.tail(list(range(1, 1001))) == (99.0, 990)
    assert stats.tail(list(range(1, 11))) is None
    assert stats.tail([5.0] * 50) is None  # ties: nothing lies beyond
    p, v = stats.tail(list(range(1, 21)))
    assert sum(x > v for x in range(1, 21)) >= 10 and p == 50.0


def test_spread_is_iqr_over_median():
    assert stats.spread([10, 10, 10, 10]) == 0
    xs = [90, 95, 100, 105, 110]
    q1, q2, q3 = __import__("statistics").quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / q2)


def test_regression_bound():
    parent = [100.0, 101.0, 99.0]
    assert not stats.regressed(parent, [109.0], 0.10)
    assert stats.regressed(parent, [111.0], 0.10)
    assert not stats.regressed(parent, [50.0], 0.10)  # faster is never a regression
    assert stats.regressed(parent, [89.0], 0.10, better="higher")
    assert not stats.regressed(parent, [91.0], 0.10, better="higher")
    with pytest.raises(ValueError):
        stats.regressed(parent, parent, 0.1, better="up")
