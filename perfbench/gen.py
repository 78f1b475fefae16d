"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the
workload seed, with numpy only (no Spark), so a seed always yields the
same inputs and the generators can be tested without a session.

- :func:`points` -- time-series points in the reference billion-harness
  shape: many series, sequential timestamps, random values.
- :func:`query_plan` -- the dashboard query mix: a small hot set of
  signatures that stays in the facade's plan cache, and fresh ones.
- :func:`corpus` -- a document corpus with a Zipf vocabulary, planted
  exact and near duplicates and a low-quality share, plus the reference
  corpus and dedup batch the Bloom-amortized dedup runs against.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np

SEC = 1_000_000_000
MINUTE = 60 * SEC
HOUR = 60 * MINUTE
DAY = 24 * HOUR

METRIC = "cpu.total"
N_HOSTS = 16
N_SERVICES = 4
N_REGIONS = 5
STEP_NS = 30 * SEC
POINTS_PER_SERIES = 2400
# 2024-01-01T22:00:00Z: a whole-hour origin, so hourly rollup edges are
# plain multiples of HOUR; of the 20 h of points, 18 h fall in the
# newest UTC day, the partition every newest-window query scans
T0 = 1_704_146_400 * SEC
ROLLUP_W = HOUR


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind: changing how one input is
    # drawn leaves every other input of the seed as it was
    return np.random.default_rng([int(seed), zlib.crc32(stream.encode())])


@dataclass
class Points:
    """Columnar points; series ``i`` has tags ``host/service/region``."""

    ts: np.ndarray        # int64 ns
    value: np.ndarray     # float64, multiples of 1/4 (exact sums)
    series: np.ndarray    # int32 series index per point
    hosts: list
    services: list
    regions: list

    @property
    def t_min(self) -> int:
        return int(self.ts.min())

    @property
    def t_max(self) -> int:
        return int(self.ts.max())

    def series_tags(self, i: int) -> dict:
        return {
            "host": self.hosts[i],
            "service": self.services[i],
            "region": self.regions[i],
        }


def points(seed: int) -> Points:
    """``N_HOSTS * N_SERVICES`` series of ``POINTS_PER_SERIES`` points,
    one every ``STEP_NS`` after a per-series phase (sequential
    timestamps, no duplicate (series, ts) keys), ordered by timestamp as
    a live feed arrives. Values are quarter-integers so that sums are
    exact in float64 and every engine agrees on them bit for bit."""
    rng = _rng(seed, "points")
    n_series = N_HOSTS * N_SERVICES
    hosts, services, regions = [], [], []
    host_region = rng.integers(0, N_REGIONS, size=N_HOSTS)
    for h in range(N_HOSTS):
        for s in range(N_SERVICES):
            hosts.append(f"h{h:03d}")
            services.append(f"s{s}")
            regions.append(f"r{int(host_region[h])}")
    phase = rng.integers(0, STEP_NS // SEC, size=n_series) * SEC
    steps = np.arange(POINTS_PER_SERIES, dtype=np.int64) * STEP_NS
    ts = (T0 + phase[:, None] + steps[None, :]).ravel()
    series = np.repeat(np.arange(n_series, dtype=np.int32), POINTS_PER_SERIES)
    value = rng.integers(0, 400_000, size=ts.size).astype(np.float64) / 4.0
    order = np.argsort(ts, kind="stable")
    return Points(ts[order], value[order], series[order], hosts, services, regions)


@dataclass(frozen=True)
class QuerySpec:
    """One dashboard query; ``signature`` identifies its plan."""

    kind: str
    group_by: str
    flt: str
    start: int
    end: int
    granularity: int

    @property
    def signature(self) -> tuple:
        return (self.kind, self.group_by, self.flt, self.start, self.end,
                self.granularity)


# Fresh query classes: (kind, window, granularity, filter class,
# group-by); together they cover every kind, filter class, group-by tag
# and window.
# Windows: "newest" = the newest hour, "recent" = the newest 6 h,
# "day" = one whole UTC day, "full" = every whole hour of the data from
# a seeded one of its first 12 hours on.
# "day"/"full" start and end on hour edges, so with an hourly (or
# coarser) granularity they are answered from the rollup.
_CLASSES = (
    ("avg", "full", HOUR, "not", "region"),
    ("sum", "newest", MINUTE, "eq", "service"),
    ("max", "recent", 15 * MINUTE, "wild", "host"),
    ("min", "day", HOUR, "or", "host"),
    ("count", "newest", 5 * MINUTE, "all", "region"),
)
# the hot set's class: the Q16 analog (avg by host, two hosts OR-ed, over
# "since" = every point from a seeded minute of the first hour on, so a
# hot query spans the whole warehouse); one class, so hot latencies form
# one population and the loop's median sits inside it
_HOT = ("avg", "since", MINUTE, "or", "host")
HOT_SET = 2
# ops per loop cycle: every third op is fresh, and one cycle holds one
# fresh query of each class, so every whole cycle has the same mix
CYCLE = 3 * len(_CLASSES)
N_FRESH = 20 * len(_CLASSES)


def _filter(rng: np.random.Generator, cls: str) -> str:
    h = lambda: f"h{int(rng.integers(0, N_HOSTS)):03d}"  # noqa: E731
    if cls == "all":
        return "*"
    if cls == "eq":
        return f"host:{h()}"
    if cls == "or":  # the Q16 shape
        return f"host:{h()} OR host:{h()}"
    if cls == "wild":
        return f"host:h0{int(rng.integers(0, -(-N_HOSTS // 10)))}*"
    if cls == "not":
        return f"!region:r{int(rng.integers(0, N_REGIONS))}"
    raise ValueError(cls)


def _window(rng: np.random.Generator, win: str, t_max: int) -> tuple[int, int]:
    # the newest whole hour the data covers; fresh queries shift back
    # by a seeded number of minutes (newest/recent) or days (day)
    last_edge = (t_max // HOUR) * HOUR
    if win == "newest":
        end = t_max - int(rng.integers(0, 30)) * MINUTE
        return end - HOUR, end
    if win == "recent":
        end = t_max - int(rng.integers(0, 60)) * MINUTE
        return end - 6 * HOUR, end
    if win == "day":
        first_day = -(-T0 // DAY) * DAY
        days = (t_max - first_day) // DAY + 1
        start = first_day + int(rng.integers(0, days)) * DAY
        return start, start + DAY - 1
    if win == "since":
        return T0 + int(rng.integers(0, 60)) * MINUTE, t_max
    if win == "full":
        return T0 + int(rng.integers(0, 12)) * HOUR, last_edge - 1
    raise ValueError(win)


def _spec(rng, cls, t_max: int) -> QuerySpec:
    kind, win, gran, fcls, gb = cls
    start, end = _window(rng, win, t_max)
    return QuerySpec(kind, gb, _filter(rng, fcls), start, end, gran)


@dataclass
class QueryPlan:
    hot: list = field(default_factory=list)
    fresh: list = field(default_factory=list)

    def op(self, i: int) -> QuerySpec:
        """The i-th query of the closed loop: two hot, then one fresh."""
        if i % 3 == 2:
            return self.fresh[(i // 3) % len(self.fresh)]
        return self.hot[(i - i // 3) % len(self.hot)]


def query_plan(seed: int, t_max: int) -> QueryPlan:
    """Hot set: ``HOT_SET`` Q16-analog signatures, small enough to stay
    in the facade's plan cache. Fresh: ``N_FRESH`` distinct signatures
    cycling through every class in a fixed order, so the mix of shapes
    is the same for every seed and only the parameters move."""
    rng = _rng(seed, "queries")
    plan = QueryPlan(hot=[_spec(rng, _HOT, t_max) for _ in range(HOT_SET)])
    seen = {q.signature for q in plan.hot}
    for i in range(N_FRESH):
        cls = _CLASSES[i % len(_CLASSES)]
        q = _spec(rng, cls, t_max)
        while q.signature in seen:  # every class has >= 30 variants
            q = _spec(rng, cls, t_max)
        seen.add(q.signature)
        plan.fresh.append(q)
    return plan


# ------------------------------------------------------------------ corpus
STOPWORDS = ("the", "a", "and", "of", "to", "in")
VOCAB = 4000
N_DOCS = 2000      # documents curate() reads
N_REF = 2000       # reference documents the Bloom bitmap covers
N_BATCHES = 2      # new batches deduplicated against the bitmap
BATCH_SIZE = 500


@dataclass
class Corpus:
    """``docs``: the corpus ``curate`` reads; ``ref`` and ``batches``: the
    reference corpus and the new batches deduplicated against it.
    ``planted_exact`` maps a batch doc id to the reference doc it
    copies; ``planted_near`` likewise for copies with one word replaced,
    which exact dedup must not flag."""

    docs: list            # [(doc_id, text)]
    ref: list
    batches: list         # [[(doc_id, text)], ...]
    planted_exact: dict
    planted_near: dict


def _zipf_words(rng: np.random.Generator) -> np.ndarray:
    words = np.array(list(STOPWORDS) + [f"w{i}" for i in range(VOCAB)])
    p = 1.0 / np.arange(1, words.size + 1) ** 1.05
    return words, p / p.sum()


def corpus(seed: int) -> Corpus:
    """A Zipf-vocabulary corpus. In ``docs``: ~8% low-quality documents
    (too short or punctuation-heavy) and ~10% exact copies of earlier
    documents. In each batch: ~10% exact and ~10% near copies of
    reference documents; the rest are fresh text."""
    rng = _rng(seed, "corpus")
    words, p = _zipf_words(rng)

    def text(n: int) -> str:
        return " ".join(words[rng.choice(words.size, size=n, p=p)])

    def long_text() -> str:
        return text(int(rng.integers(60, 160)))

    docs = []
    for i in range(N_DOCS):
        r = rng.random()
        if r < 0.04:
            t = text(int(rng.integers(3, 15)))
        elif r < 0.08:
            t = " ".join(w + "!?" for w in text(60).split())
        elif r < 0.18 and docs:
            t = docs[int(rng.integers(0, len(docs)))][1]
        else:
            t = long_text()
        docs.append((i, t))
    ref = [(1_000_000 + i, long_text()) for i in range(N_REF)]
    batches, exact, near = [], {}, {}
    for b in range(N_BATCHES):
        batch = []
        for i in range(BATCH_SIZE):
            doc_id = 2_000_000 + b * BATCH_SIZE + i
            r = rng.random()
            if r < 0.2:
                src = ref[int(rng.integers(0, N_REF))]
                toks = src[1].split()
                if r < 0.1:
                    exact[doc_id] = src[0]
                else:
                    toks[int(rng.integers(0, len(toks)))] = f"x{int(rng.integers(0, 10**9))}"
                    near[doc_id] = src[0]
                batch.append((doc_id, " ".join(toks)))
            else:
                batch.append((doc_id, long_text()))
        batches.append(batch)
    return Corpus(docs, ref, batches, exact, near)
