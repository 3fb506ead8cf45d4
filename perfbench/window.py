"""window_features: the paper's sliding-window join over an orders-
/events-shaped population and peripheral table (one hot key).

Setup generates both tables from the seed, writes them as parquet and
warms up. The closed loop (one client) alternates
``asof_features`` (battery with median/q90/first/last) and
``fastprop_features`` (top-3 categorical x 2 lags x 5 aggregations),
each collected to pandas as a training process would.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# called through their modules, so a traced run's wrappers apply
from getml_community_spark.operators import asof_join, fastprop

from . import inputs, oracle
from .harness import geomean, median, metric, now

BATTERY = ("count", "sum", "avg", "min", "max", "median", "q90", "first", "last")
FP_AGGS = ("count", "sum", "avg", "min", "max")
KW = dict(
    on="o_custkey",
    population_id="o_orderkey",
    pop_ts="pop_ts",
    peri_ts="ts",
    horizon=inputs.HORIZON,
    memory=inputs.MEMORY,
)


class Window:
    FIXED_SIZES = {"hot_share": inputs.HOT_SHARE}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = inputs.WINDOW_SIZES[ctx.size]
        self.duck = oracle.con()
        self.checked: set[str] = set()
        self.walls: dict[str, list[float]] = {}

    def setup(self) -> None:
        """Generate and write the tables, then warm up. ``setup_s`` is
        session boot + generation + warm-up; the check sample is drawn
        outside it."""
        t0 = now()
        pop, peri = inputs.window_tables(self.ctx.seed, self.size)
        d = os.path.join(self.ctx.workdir, "tables")
        os.makedirs(d)
        for name, df in (("pop", pop), ("peri", peri)):
            table = pa.Table.from_pandas(df, preserve_index=False)
            pq.write_table(table, os.path.join(d, f"{name}.parquet"), coerce_timestamps="us")
        self.gen_s = now() - t0
        self.pop_path = os.path.join(d, "pop.parquet")
        self.peri_path = os.path.join(d, "peri.parquet")
        self.pop = pop
        r = inputs.rng(self.ctx.seed, "sample")
        ids = r.choice(pop["o_orderkey"].to_numpy(), self.size.sample, replace=False)
        hot = pop.loc[pop["o_custkey"] == 1, "o_orderkey"].to_numpy()[:10]
        keys = np.union1d(ids, hot)
        self.sample = pop[pop["o_orderkey"].isin(keys)].reset_index(drop=True)
        # warm-up: each op once (Python workers, JIT and first-touch
        # costs land here, not in the loop)
        t0 = now()
        for kind in ("asof", "fastprop"):
            self.run_op(kind)
        self.prep_s = now() - t0
        self.setup_s = self.ctx.boot_s + self.gen_s + self.prep_s

    def frames(self):
        pop = self.spark.read.parquet(self.pop_path)
        peri = self.spark.read.parquet(self.peri_path).withColumnRenamed(
            "user_id", "o_custkey"
        )
        return pop, peri

    def run_op(self, kind: str) -> pd.DataFrame:
        pop, peri = self.frames()
        if kind == "asof":
            df = asof_join.asof_features(pop, peri, value_col="value", include=set(BATTERY), **KW)
        else:
            df = fastprop.fastprop_features(
                pop,
                peri,
                value_cols=["value"],
                aggs=FP_AGGS,
                categorical_cols=("event_type",),
                n_most_frequent=3,
                n_lag_splits=2,
                **KW,
            )
        return df.toPandas()

    cycle_ops = 2

    def ops(self):
        while True:
            yield "asof", {}
            yield "fastprop", {}

    def do(self, kind: str, p: dict, span=None):
        """Run one op; returns (wall, check) where ``check()`` runs
        outside the timed region and returns a problem or None."""
        t0 = now()
        out = self.run_op(kind)
        wall = now() - t0
        return wall, lambda: self.check(kind, out)

    def check(self, kind: str, out: pd.DataFrame) -> str | None:
        """A seeded population sample equals DuckDB SQL of the same
        window predicate (the first op of each kind in the loop)."""
        if kind in self.checked:
            return None
        self.checked.add(kind)
        c, args = self.duck, (self.sample, self.peri_path, inputs.HORIZON, inputs.MEMORY)
        if kind == "asof":
            want = oracle.window_asof(c, *args)
        else:
            want = oracle.window_fastprop(c, *args, aggs=FP_AGGS)
        got = out[out["o_orderkey"].isin(self.sample["o_orderkey"])]
        got = got[list(want.columns)]
        if self.ctx.corrupt:
            col = want.columns[1]
            got = got.assign(**{col: got[col] + 1})
        return oracle.frames_equal(got, want, ["o_orderkey"])

    def metrics(self, peak_rss: float) -> tuple[dict, dict]:
        n = len(self.pop)
        a, f = median(self.walls["asof"]), median(self.walls["fastprop"])
        e2e = {
            "setup_s": metric(self.setup_s, "s"),
            "query_ms": metric(geomean([a * 1e3, f * 1e3]), "ms"),
            "rows_per_s": metric(n / (a + f), "rows/s"),
            "peak_rss_mb": metric(peak_rss, "MB"),
        }
        named = {
            "features_rows_per_s": [n / a, "rows/s"],
            "fastprop_rows_per_s": [n / f, "rows/s"],
        }
        return e2e, named

    def snapshot_count(self) -> int:
        return 0

    def gauges(self, since: float, snapshots_before: int) -> dict:
        return {}
