"""Seeded workload inputs. The same seed gives the same inputs; sizes
are fixed per size class so that seeds change content, never volume.

* Corpus rows come from ``datagen.gen_rows`` over an id range chosen by
  the seed (each row is reproducible from its id, so the Zipf source mix
  and the per-source dead windows are the engine's own). Every generated
  row is kept: datagen's 14-day span is scaled onto a window of
  ``SERVE_DAYS`` days, which keeps the relative arrival times (uniform
  over each source's live time, so the shape is unchanged; dead windows
  shrink with the span) and makes the rate 14 / ``SERVE_DAYS`` times
  denser.
* Late batches, population/peripheral tables and the serve op sequence
  come from ``numpy.random.default_rng`` streams derived from the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from getml_community_spark.datagen import EPOCH_START, SPAN_SECONDS, gen_rows

CORPUS_SCHEMA = "doc_id string, n_tok int, source string, event_time timestamp"
READ_CLASSES = (
    "range_60",
    "range_300",
    "range_3600",
    "range_7200",
    "range_86400",
    "range_realtime",
    "quantiles",
    "distinct",
    "dense",
    "compressed",
)
# query width per range step: a 2 h chart at 1 min, 6 h at 5 min, a day
# at 1 h, the whole corpus window at 2 h and 1 d
RANGE_WIDTH = {60: 7200, 300: 21600, 3600: 86400, 7200: None, 86400: None}


# Serve store: two days starting at datagen's epoch. Each cycle is a
# write (late batch + run), a compact and one read of every class, so
# every run (one cycle fits the run budget) measures every op kind.
SERVE_DAYS = 2
READS_PER_CYCLE = len(READ_CLASSES)


@dataclass(frozen=True)
class ServeSize:
    corpus_rows: int
    late_rows: int  # rows per late batch


@dataclass(frozen=True)
class WindowSize:
    pop_rows: int
    peri_rows: int
    customers: int  # population key range (sf0.1 orders: 15k)
    users: int  # peripheral key range (sf0.1 events: 1.5k)
    sample: int  # population rows checked against DuckDB


SERVE_SIZES = {
    "full": ServeSize(150_000, 2_000),
    "tiny": ServeSize(3_000, 50),
}
WINDOW_SIZES = {
    "full": WindowSize(50_000, 35_000, 5_000, 500, 300),
    "tiny": WindowSize(3_000, 4_000, 300, 60, 100),
}


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent numpy stream per input kind, all from one seed."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), tag])


# ------------------------------------------------------------ serve
def day_bounds() -> tuple[int, int]:
    lo = int(EPOCH_START)
    return lo, lo + SERVE_DAYS * 86400


def corpus_id_base(seed: int) -> int:
    """First corpus id; late-batch ids live above the corpus range."""
    return int(rng(seed, "corpus").integers(0, 10**10))


def corpus_frame(spark, seed: int, size: ServeSize):
    """Corpus rows for the seed as a Spark DataFrame, generated on the
    executors (``gen_rows`` per id batch), datagen's span scaled onto
    the serve window (µs precision)."""
    lo_us = int(EPOCH_START) * 10**6

    def gen(batches):
        for b in batches:
            pdf = gen_rows(b["id"].to_numpy(), with_tokens=False)
            off_us = pdf["event_time"].astype("int64") // 1000 - lo_us
            scaled = lo_us + off_us * SERVE_DAYS // (SPAN_SECONDS // 86400)
            pdf["event_time"] = pd.to_datetime(scaled, unit="us")
            yield pdf.drop(columns=["tokens"])

    n = spark.sparkContext.defaultParallelism
    base = corpus_id_base(seed)
    return spark.range(base, base + size.corpus_rows, numPartitions=n).mapInPandas(
        gen, CORPUS_SCHEMA
    )


def late_batch(seed: int, size: ServeSize, i: int) -> tuple[pd.DataFrame, int]:
    """The i-th late batch and the epoch of the day it lands on: fresh
    ``gen_rows`` ids, moved onto one seeded past day of the window at
    their own time of day."""
    r = rng(seed, f"late{i}")
    lo, _ = day_bounds()
    day = int(r.integers(0, SERVE_DAYS))
    start = corpus_id_base(seed) + 10**10 + i * size.late_rows
    pdf = gen_rows(np.arange(start, start + size.late_rows), with_tokens=False)
    ep_us = pdf["event_time"].astype("int64") // 1000
    tod_us = ep_us % (86400 * 10**6)
    pdf["event_time"] = pd.to_datetime((lo + day * 86400) * 10**6 + tod_us, unit="us")
    return pdf.drop(columns=["tokens"]), lo + day * 86400


def serve_ops(seed: int, n_cycles: int = 1000):
    """Op sequence for serve_mixed: each cycle is a write (late batch +
    run), a compact, then a seeded permutation of every read class with
    seeded ranges, so every read sees the store after a re-roll and a
    compaction. Yields (kind, params)."""
    r = rng(seed, "ops")
    lo, hi = day_bounds()
    for _ in range(n_cycles):
        yield "write", {}
        yield "compact", {}
        for cls in r.permutation(READ_CLASSES):
            yield str(cls), read_params(str(cls), r, lo, hi)


def read_params(cls: str, r: np.random.Generator, lo: int, hi: int) -> dict:
    if cls.startswith("range_") and cls != "range_realtime":
        step = int(cls.split("_")[1])
        width = RANGE_WIDTH[step] or (hi - lo)
        n_start = (hi - lo - width) // step + 1
        t_from = lo + int(r.integers(0, n_start)) * step
        return {"t_from": t_from, "t_to": t_from + width, "step": step}
    if cls in ("range_realtime", "quantiles", "distinct"):
        day = int(r.integers(0, (hi - lo) // 86400))
        return {"t_from": lo + day * 86400, "t_to": lo + (day + 1) * 86400, "step": 3600}
    if cls == "compressed":
        hour = int(r.integers(0, (hi - lo) // 3600))
        t_from = lo + hour * 3600
        return {"t_from": t_from, "t_to": t_from + 3599}
    return {}


# ------------------------------------------------------------ window
WINDOW_T0 = 1704067200  # 2024-01-01T00:00:00Z, the sf0.1 events span start
WINDOW_SPAN = 30 * 86400
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_P = (0.30, 0.25, 0.20, 0.15, 0.10)  # distinct shares: no top-k ties
HOT_SHARE = 0.10  # share of peripheral rows on the one hot key
HORIZON = 3600.0
MEMORY = 7 * 86400.0 - 3600.0


def window_tables(seed: int, size: WindowSize):
    """(population, peripheral) shaped like sf0.1 orders/events, with
    one hot peripheral key (user 1) holding ``HOT_SHARE`` of the rows.
    Population timestamps fall inside the event span after its first
    week, so windows are full."""
    r = rng(seed, "window")
    n, m = size.pop_rows, size.peri_rows
    pop = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
            "o_custkey": r.integers(1, size.customers + 1, n).astype(np.int64),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(r.uniform(900.0, 500_000.0, n), 2),
            "pop_ts": pd.to_datetime(
                (WINDOW_T0 + r.integers(7 * 86400, WINDOW_SPAN, n)) * 10**6,
                unit="us",
                utc=True,
            ),
        }
    )
    hot = r.random(m) < HOT_SHARE
    users = np.where(hot, 1, r.integers(2, size.users + 1, m)).astype(np.int64)
    peri = pd.DataFrame(
        {
            "event_id": np.arange(1, m + 1, dtype=np.int64),
            "ts": pd.to_datetime(
                WINDOW_T0 * 10**6 + r.integers(0, WINDOW_SPAN * 10**6, m),
                unit="us",
                utc=True,
            ),
            "user_id": users,
            "event_type": r.choice(np.array(EVENT_TYPES), m, p=EVENT_P),
            "value": np.round(r.lognormal(3.0, 1.0, m), 2),
        }
    )
    return pop, peri
