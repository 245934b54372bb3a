"""Seeded input generators: dashboard WarpScript streams and ingest batches.

Everything here is pure Python and depends only on its seed, so the same
seed always yields the same scripts and the same GTS lines.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

US = 1_000_000
HOUR = 3600 * US
DAY = 24 * HOUR
# Extent of the sf* events fixture: 2024-01-01T00:00Z .. 2024-01-31T00:00Z.
EVENTS_START = 1_704_067_200 * US
EVENTS_END = EVENTS_START + 30 * DAY
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

SPANS = (HOUR, 6 * HOUR, DAY)
AGGS = ("mean", "sum", "count", "max", "p95")
MAPPERS = ("mean", "max", "sum")
REDUCERS = ("sum", "max", "mean", "count")


@dataclass(frozen=True)
class Script:
    """One dashboard request: FETCH → BUCKETIZE → (MAP | REDUCE | both)."""

    cls: str  # exact class or '~regex'
    user_re: str  # regex on the `user` label
    start: int
    end: int
    span: int
    count: int
    agg: str
    mapper: tuple[str, int, int] | None  # (name, pre, post)
    reducer: tuple[str, bool] | None  # (name, by_user)

    def text(self) -> str:
        sel = f"{self.cls}{{user~{self.user_re}}}"
        agg = "95.0 bucketizer.percentile" if self.agg == "p95" else f"bucketizer.{self.agg}"
        out = [
            f"{{ 'selector' '{sel}' 'start' {self.start} 'end' {self.end} }} FETCH",
            f"[ SWAP {agg} {self.end} {self.span} {self.count} ] BUCKETIZE",
        ]
        if self.mapper:
            name, pre, post = self.mapper
            out.append(f"[ SWAP mapper.{name} {pre} {post} 0 ] MAP")
        if self.reducer:
            name, by_user = self.reducer
            by = "'user' " if by_user else ""
            out.append(f"[ SWAP [ {by}] reducer.{name} ] REDUCE")
        return "\n".join(out) + "\n"


BLOCK = 10  # scripts per stratified block


def script_stream(seed: int, stream: int):
    """Endless, deterministic script stream number `stream` of a seed.

    Scripts come in blocks of BLOCK whose composition is balanced: every
    categorical choice appears in fixed proportions and the window length
    is stratified over 1–14 days, so a run's mix does not depend on luck.
    The seed decides the order and every continuous parameter."""
    rng = random.Random(f"dashboard:{seed}:{stream}")
    while True:
        yield from draw_block(rng)


def _balanced(rng: random.Random, choices: list) -> list:
    out = [choices[i % len(choices)] for i in range(BLOCK)]
    rng.shuffle(out)
    return out


def draw_block(rng: random.Random) -> list[Script]:
    kinds = _balanced(rng, ["exact"] * 5 + ["pair"] * 3 + ["all"] * 2)
    crowds = _balanced(rng, [10] * 4 + [100])
    spans = _balanced(rng, list(SPANS))
    aggs = _balanced(rng, list(AGGS))
    stages = _balanced(rng, ["map", "reduce", "both"])
    strata = list(range(BLOCK))
    rng.shuffle(strata)
    out = []
    for i in range(BLOCK):
        if kinds[i] == "exact":
            cls = "events." + rng.choice(EVENT_TYPES)
        elif kinds[i] == "pair":
            a, b = rng.sample(EVENT_TYPES, 2)
            cls = f"~events\\.({a}|{b})"
        else:
            cls = "~events\\..*"
        # 10 users: ids p0..p9 (p in 10..149); 100 users: ids d00..d99
        user_re = f"{rng.randint(10, 149)}[0-9]" if crowds[i] == 10 else f"{rng.randint(1, 9)}[0-9][0-9]"
        days = 1.0 + 13.0 * (strata[i] + rng.random()) / BLOCK
        window = int(days * DAY) // US * US
        end = int(rng.uniform(EVENTS_START + window, EVENTS_END)) // US * US
        mapper = reducer = None
        if stages[i] in ("map", "both"):
            mapper = (rng.choice(MAPPERS), rng.randint(1, 3), rng.randint(0, 2))
        if stages[i] in ("reduce", "both"):
            reducer = (rng.choice(REDUCERS), rng.random() < 0.3)
        span = spans[i]
        out.append(Script(cls, user_re, end - window, end, span, math.ceil(window / span),
                          aggs[i], mapper, reducer))
    return out


# ---- ingest ----------------------------------------------------------

INGEST_SERIES = 40  # distinct series written by the ingest workload
INGEST_TICK = 10 * US
INGEST_OVERWRITE = 0.1  # share of a batch's lines that rewrite an earlier tick
GRID = 290  # ticks per series: 290 × 10 s, all inside the last hour


def series_name(i: int) -> tuple[str, str]:
    return "bench.ingest", f"s{i:03d}"


def ingest_batch(seed: int, cycle: int, now_us: int, lines: int = 2000):
    """GTS lines for one /update and the (series, ts) → value they set.

    Ticks are laid on a fixed grid ending at `now_us`, so every point
    falls inside the last hour; about INGEST_OVERWRITE of the lines
    rewrite a tick an earlier batch (or this one) already wrote, which
    exercises last-write-wins.  Values are integers so the expected sums
    are exact.
    """
    rng = random.Random(f"ingest:{seed}:{cycle}")
    per = lines // INGEST_SERIES
    base = now_us - 3000 * US
    out, points = [], {}
    fresh = {(cycle * per + j) % GRID for j in range(per)}
    taken = set()
    for k in range(lines):
        s = k % INGEST_SERIES
        slot = (cycle * per + k // INGEST_SERIES) % GRID
        if cycle and rng.random() < INGEST_OVERWRITE:
            # rewrite a tick of an earlier batch, never one this batch
            # also writes, so last-write-wins is defined by batch order
            old = rng.randrange(0, cycle * per) % GRID
            if old not in fresh and (s, old) not in taken:
                slot = old
        taken.add((s, slot))
        ts = base + slot * INGEST_TICK
        v = rng.randint(-10_000, 10_000)
        cls, sid = series_name(s)
        out.append(f"{ts}// {cls}{{sid={sid}}} {v}")
        points[(sid, ts)] = v
    return "\n".join(out) + "\n", points
