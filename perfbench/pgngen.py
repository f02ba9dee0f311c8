"""Seeded generator of lichess-shaped PGN months.

The output imitates a lichess monthly dump closely enough to exercise
every branch of the ingest:

- months in time order, and games in time order inside each month;
- Zipf-distributed player popularity (a few heavy repeaters, a long
  tail), which is what skews the per-player window partitions;
- a mix of event types, including the ``... tournament <url>`` suffix;
- about 1% ``?`` Elo values and sparse per-player titles;
- move text of varying length, some of it with ``[%eval]`` comments.

Shares and pool sizes come from the repository's record of the
reference corpus (BASELINE.md, FIXTURES.md); each constant names its
source, or says that none documents it. The same seed always gives
the same games, and therefore byte-identical chunk files once staged
through ``sources.staging.chunk_pgn_lines``.

    python3 perfbench/pgngen.py --seed 7 --out staged --workload ingest_batch

stages exactly the months that workload's benchmark runs on.
"""

from __future__ import annotations

import argparse
import bisect
import calendar
import itertools
import os
import random
import string
import sys
from collections.abc import Iterator
from dataclasses import dataclass

START_MONTH = (2024, 1)
# player pool per game: the top of the 1-5% FIXTURES.md gives for
# `games.Player`, 40 player-game rows per player. The full corpus has
# 0.55% (1,753,159 players over 318,834,657 games, BASELINE.md), but at
# 0.55-2% the ingest writes one or two files per month depending on the
# seed (the heaviest players' hash partitions decide how AQE coalesces
# the per-player window shuffle), which moves the stored bytes by a
# fifth from seed to seed; at 5% it wrote two per month on all eight
# seeds tried
PLAYERS_PER_GAME = 0.05
# player and opening popularity: FIXTURES.md calls both Zipf-skewed but
# gives no exponent, so the classic Zipf law, s = 1
ZIPF_S = 1.0
# the four rated event types of the standard-rated dump (FIXTURES.md
# `games.Event`); no document gives their shares, so they are equal
EVENT_TYPES = (
    ("Blitz", 1.0, ("180+0", "180+2", "300+0", "300+3")),
    ("Bullet", 1.0, ("60+0", "60+1", "120+1")),
    ("Rapid", 1.0, ("600+0", "600+8", "900+10")),
    ("Classical", 1.0, ("1800+0", "1800+20")),
)
TOURNAMENT_SHARE = 0.05  # FIXTURES.md `games.Tournament`: ~5% true
# full-corpus shares (BASELINE.md, eda.ipynb cell 7)
TERMINATIONS = (("Normal", 0.667103), ("Time forfeit", 0.328122), ("Abandoned", 0.004501),
                ("Unterminated", 0.000215), ("Rules infraction", 0.00006))
# full-corpus shares (BASELINE.md, eda.ipynb cell 6)
RESULTS = (("1-0", 0.497262), ("0-1", 0.4648), ("1/2-1/2", 0.037938))
TITLES = ("GM", "IM", "FM", "CM", "NM", "WGM", "WIM", "LM", "BOT")
TITLE_SHARE = 0.02  # FIXTURES.md `games.PlayerTitle`: ~2% of rows non-null
UNKNOWN_ELO_SHARE = 0.01  # FIXTURES.md `games.PlayerElo`: ~1% null from "?"
ELO_RANGE = (600, 3200)  # FIXTURES.md `games.PlayerElo`; the spread inside it is undocumented
ECO_CODES = tuple(f"{v}{n:02d}" for v in "ABCDE" for n in range(100))  # FIXTURES.md: ~500
# undocumented: share of games with engine-evaluated moves (FIXTURES.md
# asks only that some exist) and the game length, 1 to 120 plies
EVAL_SHARE = 0.10
MAX_PLIES = 120
OPENING_FAMILIES = (
    "Sicilian Defense", "French Defense", "Caro-Kann Defense", "Queen's Gambit",
    "King's Indian Defense", "Italian Game", "Ruy Lopez", "Scandinavian Defense",
    "English Opening", "Pirc Defense", "Owen Defense", "Van't Kruijs Opening",
    "Philidor Defense", "Nimzo-Indian Defense", "Slav Defense", "Dutch Defense",
)
SAN_POOL = (
    "e4", "e5", "d4", "d5", "Nf3", "Nc6", "c4", "e6", "Bb5", "a6", "Ba4", "Nf6",
    "O-O", "Be7", "Re1", "b5", "Bb3", "d6", "c3", "h6", "Nbd2", "Re8", "Qe2",
    "Bxf7+", "Kxf7", "exd5", "Qxd5", "g3", "Bg7", "Rad1", "Qh5+", "f4", "Kh1",
)


@dataclass(frozen=True)
class Player:
    name: str
    elo: int
    title: str | None


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k ** s) for k in range(1, n + 1)))


def _pick(rng: random.Random, table: tuple) -> tuple:
    """Draw one row of a (value, share, ...) table by its share."""
    x = rng.random() * sum(row[1] for row in table)
    for row in table:
        x -= row[1]
        if x < 0:
            return row
    return table[-1]


def _unique_token(rng: random.Random, seen: set[str], n: int) -> str:
    alphabet = string.ascii_lowercase + string.digits
    while True:
        tok = "".join(rng.choice(alphabet) for _ in range(n))
        if tok not in seen:
            seen.add(tok)
            return tok


def _clamp_elo(elo: int) -> int:
    return min(ELO_RANGE[1], max(ELO_RANGE[0], elo))


def _players(rng: random.Random, cum_weights: list[float]) -> list[Player]:
    """One player per popularity rank. Titles go to players taken in a
    seeded order while their summed popularity stays within
    ``TITLE_SHARE``, so about that share of player-game rows carry a
    title however small the pool is."""
    seen: set[str] = set()
    base = [(_unique_token(rng, seen, rng.randint(5, 12)), _clamp_elo(int(rng.gauss(1550, 330))))
            for _ in cum_weights]
    weights = [b - a for a, b in zip([0.0, *cum_weights], cum_weights)]
    titled: dict[int, str] = {}
    share = 0.0
    for k in rng.sample(range(len(base)), len(base)):
        w = weights[k] / cum_weights[-1]
        if share + w <= TITLE_SHARE:
            titled[k] = rng.choice(TITLES)
            share += w
    return [Player(name, elo, titled.get(k)) for k, (name, elo) in enumerate(base)]


def _openings(rng: random.Random) -> list[tuple[str, str]]:
    """One opening per ECO code, in a seeded popularity order."""
    codes = list(ECO_CODES)
    rng.shuffle(codes)
    return [(eco, f"{OPENING_FAMILIES[i % len(OPENING_FAMILIES)]}: {eco} Variation")
            for i, eco in enumerate(codes)]


def _moves(rng: random.Random, result: str) -> str:
    plies = rng.randint(1, MAX_PLIES)
    sans = rng.choices(SAN_POOL, k=plies)
    if rng.random() < EVAL_SHARE:
        sans = [f"{s} {{ [%eval {rng.uniform(-3, 3):.2f}] }}" for s in sans]
    parts = [f"{p // 2 + 1}. {s}" if p % 2 == 0 else s for p, s in enumerate(sans)]
    parts.append(result)
    return " ".join(parts)


def _elo_text(rng: random.Random, base: int) -> str:
    if rng.random() < UNKNOWN_ELO_SHARE:
        return "?"
    return str(_clamp_elo(base + rng.randint(-60, 60)))


class PgnGenerator:
    """Seeded source of lichess-shaped months.

    ``months`` consecutive months starting at ``START_MONTH``,
    ``games_per_month`` games each. Players and openings are drawn
    once per generator, so a player keeps their rating, title and
    popularity rank across months (the per-player running features
    carry over month to month, as in the real dumps).
    """

    def __init__(self, seed: int, months: int, games_per_month: int):
        self.seed = seed
        self.rng = random.Random(seed)
        n_players = round(months * games_per_month * PLAYERS_PER_GAME)
        self.player_cw = _zipf_cum_weights(n_players, ZIPF_S)
        self.players = _players(self.rng, self.player_cw)
        self.openings = _openings(self.rng)
        self.opening_cw = _zipf_cum_weights(len(self.openings), ZIPF_S)
        self.games_per_month = games_per_month
        y, m = START_MONTH
        self.month_keys = []
        for _ in range(months):
            self.month_keys.append((y, m))
            y, m = (y + 1, 1) if m == 12 else (y, m + 1)
        self._seen_ids: set[str] = set()

    def _player(self) -> Player:
        r = self.rng.random() * self.player_cw[-1]
        return self.players[bisect.bisect_left(self.player_cw, r)]

    def _opening(self) -> tuple[str, str]:
        r = self.rng.random() * self.opening_cw[-1]
        return self.openings[bisect.bisect_left(self.opening_cw, r)]

    def month_lines(self, year: int, month: int) -> Iterator[str]:
        """PGN lines of one month, games in time order. Call the months
        in order: every draw comes from the generator's one stream."""
        rng = self.rng
        span = calendar.monthrange(year, month)[1] * 86400
        offsets = sorted(rng.randrange(span) for _ in range(self.games_per_month))
        for off in offsets:
            day, sec = divmod(off, 86400)
            white = self._player()
            black = self._player()
            while black is white:
                black = self._player()
            kind, _, tcs = _pick(rng, EVENT_TYPES)
            if rng.random() < TOURNAMENT_SHARE:
                tid = "".join(rng.choice(string.ascii_letters + string.digits) for _ in range(8))
                event = f"Rated {kind} tournament https://lichess.org/tournament/{tid}"
            else:
                event = f"Rated {kind} game"
            result = _pick(rng, RESULTS)[0]
            eco, opening = self._opening()
            diff = rng.randint(1, 20)
            w_diff, b_diff = (f"+{diff}", f"-{diff}") if result == "1-0" else (
                (f"-{diff}", f"+{diff}") if result == "0-1" else ("+0", "+0"))
            yield f'[Event "{event}"]'
            yield f'[Site "https://lichess.org/{_unique_token(rng, self._seen_ids, 8)}"]'
            yield f'[White "{white.name}"]'
            yield f'[Black "{black.name}"]'
            yield f'[Result "{result}"]'
            yield f'[UTCDate "{year:04d}.{month:02d}.{day + 1:02d}"]'
            yield f'[UTCTime "{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"]'
            yield f'[WhiteElo "{_elo_text(rng, white.elo)}"]'
            yield f'[BlackElo "{_elo_text(rng, black.elo)}"]'
            yield f'[WhiteRatingDiff "{w_diff}"]'
            yield f'[BlackRatingDiff "{b_diff}"]'
            if white.title:
                yield f'[WhiteTitle "{white.title}"]'
            if black.title:
                yield f'[BlackTitle "{black.title}"]'
            yield f'[ECO "{eco}"]'
            yield f'[Opening "{opening}"]'
            yield f'[TimeControl "{rng.choice(tcs)}"]'
            yield f'[Termination "{_pick(rng, TERMINATIONS)[0]}"]'
            yield ""
            yield _moves(rng, result)
            yield ""


def generate_months(seed: int, months: int, games_per_month: int
                    ) -> list[tuple[int, int, list[str]]]:
    """(year, month, PGN lines) for every month, in time order."""
    gen = PgnGenerator(seed, months, games_per_month)
    return [(y, m, list(gen.month_lines(y, m))) for y, m in gen.month_keys]


def stage_lines(month_lines: list[tuple[int, int, list[str]]], out_dir: str,
                chunk_bytes: int) -> list[str]:
    """Stage generated months through the package's chunker into
    ``out_dir/year=YYYY/month=MM/YYYY_MM_NNNNN.pgn``; returns the chunk
    paths in month order."""
    from lichess_db_spark.sources.staging import chunk_pgn_lines

    paths: list[str] = []
    for year, month, lines in month_lines:
        month_dir = os.path.join(out_dir, f"year={year}", f"month={month:02d}")
        paths.extend(chunk_pgn_lines(lines, month_dir, f"{year}_{month:02d}", chunk_bytes))
    return paths


def stage_months(seed: int, out_dir: str, months: int, games_per_month: int,
                 chunk_bytes: int) -> list[str]:
    return stage_lines(generate_months(seed, months, games_per_month), out_dir, chunk_bytes)


def main(argv: list[str]) -> int:
    from workloads import SIZES

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(SIZES), default="ingest_batch",
                    help="stage the months this workload runs on")
    args = ap.parse_args(argv)
    size = SIZES[args.workload]
    for p in stage_months(args.seed, args.out, size.months, size.games_per_month,
                          size.chunk_bytes):
        print(p)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
