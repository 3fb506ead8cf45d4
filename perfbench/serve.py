"""serve_mixed: a tier store serving reads while late data lands.

Setup generates the corpus, ingests it into an input SnapshotTable and
builds the store with one cold ``RollupJob.run`` (tiers, Gorilla
segments, hist and distinct families). The closed loop (one client)
then runs the seeded op sequence: each cycle is a write (a late batch
appended into one past day, then ``run()``), a ``compact()`` and a read
of every class (range queries at five steps, realtime, quantiles,
distinct, gap-filled dense, compressed segments), so reads are the
majority.
"""

from __future__ import annotations

import glob
import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from getml_community_spark.checkpoint import SnapshotTable
from getml_community_spark.plans.job import RollupJob
from getml_community_spark.plans.rollup_spec import RollupSpec

from . import inputs, oracle
from .harness import geomean, median, metric, now, tail

SPEC = RollupSpec(hist_bin_width=oracle.Q_BIN, distinct_col="doc_id")
RANGE_CLASSES = {c for c in inputs.READ_CLASSES if c != "compressed"}


class Serve:
    FIXED_SIZES = {"days": inputs.SERVE_DAYS, "reads_per_cycle": inputs.READS_PER_CYCLE}

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = inputs.SERVE_SIZES[ctx.size]
        self.duck = oracle.con()
        self.late_i = 0
        self.walls: dict[str, list[float]] = {}

    # ------------------------------------------------------- setup
    def setup(self) -> None:
        """Generate the corpus, ingest it into the input table, build the
        store (one cold ``run()``) and warm up. ``setup_s`` is session
        boot + these steps; the build's output check runs outside it."""
        ctx, spark = self.ctx, self.spark
        t0 = now()
        self.inp = SnapshotTable(os.path.join(ctx.workdir, "in"), partition_by=[])
        self.inp.append(inputs.corpus_frame(spark, ctx.seed, self.size))
        t1 = now()
        self.job = RollupJob(spark, SPEC, self.inp.root, os.path.join(ctx.workdir, "store"))
        if ctx.tracer is not None:
            with ctx.tracer.op("build"):
                self.job.run()
        else:
            self.job.run()
        t2 = now()
        self.build_s = t2 - t1
        self.check_build()
        _, self.store_bytes = live_files(self.job)
        # warm-up: one read of every class (first-touch and JIT costs
        # land here, not in the loop)
        t3 = now()
        warm = np.random.default_rng(0)
        lo, hi = inputs.day_bounds()
        for cls in inputs.READ_CLASSES:
            self.read(cls, inputs.read_params(cls, warm, lo, hi))
        self.prep_s = now() - t3
        self.gen_s = t1 - t0
        self.setup_s = ctx.boot_s + self.gen_s + self.build_s + self.prep_s

    def files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.inp.root, "data", "*", "*.parquet")))

    def check_build(self) -> None:
        """Lineage rows_in per day reconciles with the input rows, and
        the store matches the input per day (``check_store``)."""
        want = oracle.day_totals(self.duck, self.files())
        self.rows = int(want["rows"].sum())
        self.expected_days = {
            int(d): (int(r), int(t)) for d, r, t in want.itertuples(index=False)
        }
        problems = []
        lin = self.job.lineage.read_pandas()
        lin = lin[lin["tier"] == SPEC.tiers[0]]
        got_lin = {
            _day_epoch(d): int(v) for d, v in lin.groupby("partition_id")["rows_in"].sum().items()
        }
        if got_lin != {d: r for d, (r, _) in self.expected_days.items()}:
            problems.append("lineage rows_in")
        problems += filter(None, [self.check_store()])
        self.ctx.tally.record(not problems, f"build: {problems}")

    def check_store(self, day: int | None = None) -> str | None:
        """Per-day Σcnt and Σsum_n_tok of every tier, Σcnt of every
        histogram tier and Σn_points of the segments (against the 1m
        row count) equal the input rows and tokens, for one day or all
        days. One Spark job over the union of the tables."""
        job = self.job
        rows = {d: r for d, (r, _) in self.expected_days.items()}
        want = {}
        parts = []

        def add(name, df, a, b=None):
            if day is not None:
                df = df.where(F.col("day") == F.lit(pd.Timestamp(day, unit="s").date()))
            parts.append(
                df.groupBy("day").agg(
                    F.lit(name).alias("t"),
                    F.sum(a).cast("long").alias("a"),
                    (F.sum(b) if b else F.lit(0)).cast("long").alias("b"),
                )
            )

        for tier in SPEC.tiers:
            add(f"tier {tier}", job.read_tier(tier), "cnt", "sum_n_tok")
            want[f"tier {tier}"] = self.expected_days
            add(f"hist {tier}", job.hist_tables[tier].read(self.spark), "cnt")
            want[f"hist {tier}"] = {d: (r, 0) for d, r in rows.items()}
        add("segment points", job.segments.read(self.spark), "n_points")
        add("1m rows", job.read_tier(SPEC.tiers[0]), F.lit(1))
        got: dict = {}
        for r in reduce(DataFrame.unionByName, parts).collect():
            got.setdefault(r["t"], {})[_day_epoch(r["day"])] = (int(r["a"]), int(r["b"]))
        if day is not None:
            want = {t: {day: w[day]} for t, w in want.items()}
        want["segment points"] = got.get("1m rows", {})
        problems = [
            f"{t} {got.get(t, {})} != {w}" for t, w in want.items() if got.get(t, {}) != w
        ]
        return "; ".join(problems) or None

    # --------------------------------------------------------- ops
    def read(self, cls: str, p: dict) -> pd.DataFrame:
        job = self.job
        if cls == "range_realtime":
            df = job.query_range(p["t_from"], p["t_to"], p["step"], realtime=True)
        elif cls.startswith("range_"):
            df = job.query_range(p["t_from"], p["t_to"], p["step"])
        elif cls == "quantiles":
            df = job.query_range_quantiles(p["t_from"], p["t_to"], p["step"])
        elif cls == "distinct":
            df = job.query_range_distinct(p["t_from"], p["t_to"], p["step"])
        elif cls == "dense":
            df = job.read_tier_dense("1h")
        else:
            df = job.query_compressed(p["t_from"], p["t_to"])
        return df.toPandas()

    def write(self) -> int:
        """Append the next late batch and re-run the job; returns the
        epoch of the day the batch landed on."""
        pdf, day = inputs.late_batch(self.ctx.seed, self.size, self.late_i)
        self.late_i += 1
        sdf = self.spark.createDataFrame(pdf, schema=inputs.CORPUS_SCHEMA)
        self.inp.append(sdf)
        self.job.run()
        r, t = self.expected_days[day]
        self.expected_days[day] = (r + len(pdf), t + int(pdf["n_tok"].sum()))
        return day

    # ------------------------------------------------------ checks
    def check_read(self, cls: str, p: dict, out: pd.DataFrame) -> str | None:
        """Every read in the loop (seeded classes and ranges) against
        DuckDB over the input parquet."""
        if self.ctx.corrupt and "cnt" in out.columns:
            out = out.assign(cnt=out["cnt"] + 1)
        files, c = self.files(), self.duck
        if cls == "dense":
            got = int(out["cnt"].sum())
            want = int(sum(r for r, _ in self.expected_days.values()))
            return None if got == want else f"dense Σcnt {got} != {want}"
        if cls == "compressed":
            # the decoded points are the 1m tier's per-minute rate
            want = oracle.range_rollup(c, files, p["t_from"], p["t_to"] + 1, 60)
            got = out.rename(columns={"ts": "b", "value": "rate"})
            return oracle.frames_equal(got, want[["source", "b", "rate"]], ["source", "b"])
        got = out.assign(b=_epoch_s(out["bucket_start"])).drop(columns=["bucket_start"])
        args = (c, files, p["t_from"], p["t_to"], p["step"])
        if cls == "quantiles":
            want = oracle.range_quantiles(*args)
        elif cls == "distinct":
            want = oracle.range_distinct(*args)
            return oracle.frames_equal(
                got, want, ["source", "b"], rel_tol={"n_distinct": oracle.HLL_TOL}
            )
        else:
            want = oracle.range_rollup(*args)
        return oracle.frames_equal(got, want, ["source", "b"])

    # --------------------------------------------------------- loop
    def ops(self):
        return inputs.serve_ops(self.ctx.seed)

    cycle_ops = inputs.READS_PER_CYCLE + 2

    def do(self, kind: str, p: dict, span=None):
        """Run one op; returns (wall, check) where ``check()`` runs
        outside the timed region and returns a problem or None."""
        t0 = now()
        if kind == "write":
            day = self.write()
            wall = now() - t0
            if span is not None:
                span.info["days_touched"] = 1
            return wall, lambda: self.check_store(day)
        if kind == "compact":
            self.job.compact()
            return now() - t0, self.check_store
        out = self.read(kind, p)
        wall = now() - t0
        return wall, lambda: self.check_read(kind, p, out)

    def metrics(self, peak_rss: float) -> tuple[dict, dict]:
        w = self.walls
        reads = {k: v for k, v in w.items() if k in inputs.READ_CLASSES}
        pooled = [x for k, v in reads.items() if k in RANGE_CLASSES for x in v]
        tail_v, tail_p = tail(pooled)
        build_rows_per_s = self.rows / self.build_s
        e2e = {
            "setup_s": metric(self.setup_s, "s"),
            "query_ms": metric(geomean(median(v) * 1e3 for v in reads.values()), "ms"),
            "rows_per_s": metric(build_rows_per_s, "rows/s"),
            "peak_rss_mb": metric(peak_rss, "MB"),
        }
        named = {
            "build_rows_per_s": [build_rows_per_s, "rows/s"],
            "store_bytes_per_row": [self.store_bytes / self.rows, "B/row"],
            "freshness_p50_s": [median(w["write"]), "s"] if "write" in w else None,
            "range_query_p50_ms": [median(pooled) * 1e3, "ms"],
            "range_query_tail_ms": [tail_v * 1e3, "ms", f"p{tail_p}", len(pooled)],
            "segment_query_p50_ms": [median(w["compressed"]) * 1e3, "ms"]
            if "compressed" in w
            else None,
            "compact_s": [median(w["compact"]), "s"] if "compact" in w else None,
        }
        return e2e, named

    def snapshot_count(self) -> int:
        return snapshot_files(self.job)

    def gauges(self, since: float, snapshots_before: int) -> dict:
        """Store gauges at the end of the traced loop; lineage rows
        committed since ``since`` (epoch seconds) give rows out per
        tier per run()."""
        files, size = live_files(self.job)
        lin = self.job.lineage.read_pandas()
        lin = lin[lin["committed_at"] >= since]
        runs = max(1, lin[lin["tier"] == SPEC.tiers[0]]["snapshot_id"].nunique())
        g = {
            "files_live": files,
            "bytes_live": size,
            "snapshots": snapshot_files(self.job) - snapshots_before,
        }
        for tier in SPEC.tiers:
            g[f"rows_out.{tier}"] = lin.loc[lin["tier"] == tier, "rows_out"].sum() / runs
        return g


def live_files(job: RollupJob) -> tuple[int, int]:
    """(files, bytes) of the parquet files every output table's current
    manifest references."""
    tables = [
        *job.tables.values(),
        *job.hist_tables.values(),
        *job.dist_tables.values(),
        job.segments,
    ]
    n = size = 0
    for t in tables:
        snap = t.current()
        for e in snap.entries if snap else []:
            for f in glob.glob(os.path.join(e["path"], "*.parquet")):
                n += 1
                size += os.path.getsize(f)
    return n, size


def snapshot_files(job: RollupJob) -> int:
    return len(glob.glob(os.path.join(job.out_root, "*", "snapshots", "*.json")))


def _epoch_s(ts: pd.Series) -> np.ndarray:
    return ts.to_numpy().astype("datetime64[s]").astype("int64")


def _day_epoch(d) -> int:
    return int(pd.Timestamp(str(d)).value // 10**9)
