"""Traced runs: spans around calls into each engine layer, installed
from outside the package by wrapping its public functions and methods,
plus Spark's own per-job counters gathered per span through job groups.

Span model
----------
Every measured op is a root span (``op``); layer calls made while it
runs nest under it. A span records name, start, end, parent and op id;
its self time is its duration minus the part of it its children cover,
so the self times of one op's spans sum to the op's wall. A call into a
layer from inside the same layer (``rollup_cascade`` calling
``rollup_to_step``) opens no new span.

Engine operators build lazy DataFrames: the call itself only plans, and
the work runs later inside whichever action consumes the frame. So each
operator span ends with a ``probe`` child span that materializes the
operator's output once (noop sink, or a small aggregate where the probe
also counts something). Operator costs (``rollup.*_s``, ``hist.s`` ...)
are these probe walls: the cost of computing the operator's output from
its inputs. Probes are tracing overhead, so their Spark jobs run under
their own job groups and are left out of the ``spark.*`` op counters.

Spark counters: each span sets its own job group on entry (and restores
its parent's on exit); after the op, every completed stage of every job
in the span's group is read from ``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import functools
import json
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from .harness import now

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
)


class Span:
    __slots__ = (
        "id", "name", "parent", "op", "start", "end", "probe", "info", "spark",
    )

    def __init__(self, sid, name, parent, op, probe):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.probe = probe
        self.start = now()
        self.end = None
        self.info: dict = {}
        self.spark: dict = {}

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def group(self) -> str:
        return f"perfbench-{'probe' if self.probe else 'span'}-{self.id}"

    def as_dict(self, self_s: float) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "self_s": self_s,
            "probe": self.probe,
            "info": self.info,
            "spark": self.spark,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.ops: list[dict] = []  # {"op": id, "kind", "wall"}
        self._patches: list[tuple] = []

    # ---------------------------------------------------------- spans
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, probe: bool = False):
        parent = self.stack[-1] if self.stack else None
        sp = Span(
            len(self.spans),
            name,
            parent.id if parent else None,
            parent.op if parent else len(self.spans),
            probe,
        )
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = now()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    @contextmanager
    def op(self, kind: str):
        """Root span of one measured op; counters are read after it."""
        with self.span(f"op.{kind}") as sp:
            yield sp
        self.ops.append({"op": sp.id, "kind": kind, "wall": sp.end - sp.start})
        self._collect_spark(sp.id)

    # ------------------------------------------------------- counters
    def _collect_spark(self, op_id: int) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self.spans:
            if sp.op != op_id:
                continue
            acc = dict.fromkeys(SPARK_KEYS, 0.0)
            for jid in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                acc["jobs"] += 1
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(int(sid))
                    if sd.status().toString() != "COMPLETE":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += sd.numCompleteTasks()
                    acc["executor_run_s"] += sd.executorRunTime() / 1e3
                    acc["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    acc["gc_s"] += sd.jvmGcTime() / 1e3
                    acc["input_bytes"] += sd.inputBytes()
                    acc["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    acc["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    acc["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    acc["output_bytes"] += sd.outputBytes()
            sp.spark = acc

    # ------------------------------------------------------ self time
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(sp.id, [])):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.id] = (sp.end - sp.start) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "ops": self.ops,
                    "spans": [sp.as_dict(selfs[sp.id]) for sp in self.spans],
                },
                f,
            )

    # ------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str, probe=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``probe(out, span)`` runs in a probe child span; ``after(span,
        args, kwargs, out)`` runs inside the span after the call."""
        fn = getattr(owner, attr)
        layer = name.split(".")[0]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.stack or self.stack[-1].layer == layer:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(sp, args, kwargs, out)
                if probe is not None:
                    with self.span(f"{name}.probe", probe=True) as pr:
                        probe(out, sp)
                    sp.info["probe_s"] = pr.end - pr.start
            return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()
        self._set_group(None)


# ------------------------------------------------------------ probes
def noop_probe(df, span) -> None:
    df.write.format("noop").mode("overwrite").save()


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every layer the benchmark
    attributes cost to. Modules that imported a function by name get
    their binding wrapped too."""
    from getml_community_spark import checkpoint
    from getml_community_spark.functions import gorilla
    from getml_community_spark.operators import (
        asof_join,
        distinct,
        fastprop,
        gapfill,
        histquantile,
        rollup,
    )
    from getml_community_spark.plans import job

    t = tracer
    # plans.job — the resumable job and its range-query router
    RJ = job.RollupJob
    t.wrap(RJ, "run", "job.run", after=_after_run)
    t.wrap(RJ, "compact", "job.compact", after=_after_compact)
    for m in ("query_range", "query_range_quantiles", "query_range_distinct"):
        t.wrap(RJ, m, "job.route")
    t.wrap(RJ, "read_tier_dense", "job.dense")
    t.wrap(RJ, "query_compressed", "job.compressed")
    # checkpoint — snapshot-manifest tables
    ST = checkpoint.SnapshotTable
    t.wrap(ST, "append", "checkpoint.append")
    t.wrap(ST, "read", "checkpoint.read", after=_after_read)
    t.wrap(ST, "changes", "checkpoint.changes")
    t.wrap(ST, "delete_partitions", "checkpoint.delete")
    t.wrap(ST, "compact_partitions", "checkpoint.compact")
    # operators.rollup
    for mod in (rollup, job):
        t.wrap(mod, "rollup_from_raw", "rollup.from_raw", probe=noop_probe)
        t.wrap(mod, "rollup_cascade", "rollup.cascade", probe=noop_probe)
    t.wrap(rollup, "rollup_to_step", "rollup.to_step", probe=noop_probe)
    # operators.histquantile / operators.distinct
    for f in ("hist_rollup_from_raw", "hist_cascade", "hist_to_step", "hist_quantiles"):
        t.wrap(histquantile, f, f"hist.{f}", probe=noop_probe)
    for f in ("hll_rollup_from_raw", "hll_cascade", "hll_to_step", "hll_estimates"):
        t.wrap(distinct, f, f"dist.{f}", probe=noop_probe)
    # functions.gorilla
    for mod in (gorilla, job):
        t.wrap(mod, "compress_rollup", "gorilla.encode", probe=_encode_probe)
    t.wrap(
        gorilla, "query_segments", "gorilla.decode", probe=_decode_probe,
        after=_after_decode,
    )
    orig_decompress = gorilla.decompress_segments

    def decompress(segments, *args, **kwargs):
        # called from query_segments, i.e. inside gorilla.decode: no new
        # span (same layer); keep the pruned segment frame for the probe
        if t.stack and t.stack[-1].name == "gorilla.decode":
            t.stack[-1].info["_pruned"] = segments
        return orig_decompress(segments, *args, **kwargs)

    gorilla.decompress_segments = decompress
    t._patches.append((gorilla, "decompress_segments", orig_decompress))
    # operators.gapfill
    for mod in (gapfill, job):
        t.wrap(mod, "gapfill", "gapfill.fill", probe=noop_probe)
    # operators.asof_join / aggregates / fastprop
    for mod in (asof_join, fastprop):
        t.wrap(mod, "asof_match", "asof.match", probe=_match_probe)
    t.wrap(asof_join, "asof_features", "battery.asof_features", probe=noop_probe)
    t.wrap(
        fastprop, "fastprop_features", "fastprop.features", probe=noop_probe,
        after=_after_fastprop,
    )


def _after_run(span, args, kwargs, out) -> None:
    span.info["days_processed"] = int(out.get("days_processed", 0))
    span.info["days_total"] = int(out.get("days_total", 0))


def _after_compact(span, args, kwargs, out) -> None:
    span.info["files_before"] = int(sum(r.get("files_before", 0) for r in out.values()))
    span.info["files_after"] = int(sum(r.get("files_after", 0) for r in out.values()))


def _after_read(span, args, kwargs, out) -> None:
    snap_id = kwargs.get("snapshot_id", args[2] if len(args) > 2 else None)
    pf = kwargs.get("partition_filter", args[3] if len(args) > 3 else None)
    parts = args[0].partitions(snap_id)
    span.info["partitions_total"] = len(parts)
    span.info["partitions_read"] = sum(1 for p in parts if pf(p)) if pf else len(parts)


def _after_fastprop(span, args, kwargs, out) -> None:
    population = args[0] if args else kwargs["population"]
    span.info["features"] = len(out.columns) - len(population.columns)


def _encode_probe(segs, span) -> None:
    r = segs.agg(
        F.count(F.lit(1)).alias("segments"),
        F.sum("n_points").alias("points"),
        F.sum("bytes_raw").alias("raw"),
        F.sum("bytes_compressed").alias("compressed"),
    ).collect()[0]
    span.info.update(
        segments=int(r["segments"]),
        points=int(r["points"] or 0),
        raw_bytes=int(r["raw"] or 0),
        compressed_bytes=int(r["compressed"] or 0),
    )


def _after_decode(span, args, kwargs, out) -> None:
    span.info["_segments"] = args[0] if args else kwargs["segments"]


def _decode_probe(points, span) -> None:
    t0 = now()
    noop_probe(points, span)
    span.info["decode_s"] = now() - t0
    segments = span.info.pop("_segments")
    pruned = span.info.pop("_pruned", None)
    span.info["segments_total"] = int(segments.count())
    span.info["segments_decoded"] = int(pruned.count()) if pruned is not None else 0


def _match_probe(matched, span) -> None:
    r = matched.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count("__t_peri").alias("pairs"),
        F.countDistinct("__pop_id").alias("pop"),
    ).collect()[0]
    span.info.update(pairs=int(r["pairs"]), pop_rows=int(r["pop"]))


# ------------------------------------------------------ layer metrics
def layer_metrics(tr: Tracer, baseline: dict, gauges: dict) -> dict:
    """Per-layer metrics of a traced loop. Operator times are mean probe
    seconds per call, layer times mean self seconds per call, counts per
    op unless named per call; ``baseline`` maps op kind to its untraced
    median wall; ``gauges`` carries values only the workload knows
    (store size, lineage rows, snapshot files). A layer the workload
    never calls reports 0."""
    selfs = tr.self_times()
    ops = tr.ops
    n_ops = max(1, len(ops))
    spans = [sp for sp in tr.spans if not sp.probe and sp.end is not None]
    by_id = {sp.id: sp for sp in tr.spans}

    def named(prefix):
        return [sp for sp in spans if sp.name == prefix or sp.name.startswith(prefix + ".")]

    def mean(xs):
        xs = list(xs)
        return float(sum(xs) / len(xs)) if xs else 0.0

    def mean_self(name):
        return mean(selfs[sp.id] for sp in named(name))

    def mean_probe(name):
        return mean(sp.info["probe_s"] for sp in named(name) if "probe_s" in sp.info)

    def mean_info(name, key):
        return mean(sp.info[key] for sp in named(name) if key in sp.info)

    def per_op(name):
        return len(named(name)) / n_ops

    def child_probe(sp, name):
        return sum(
            c.info.get("probe_s", 0.0)
            for c in spans
            if c.parent == sp.id and c.name == name
        )

    m = {}
    for k in SPARK_KEYS:
        m[f"spark.{k}"] = sum(sp.spark.get(k, 0.0) for sp in spans) / n_ops

    writes = [o for o in ops if o["kind"] == "write"]
    runs_in_writes = [
        sp for sp in named("job.run") if by_id[sp.op].name == "op.write"
    ]
    touched = sum(by_id[o["op"]].info.get("days_touched", 0) for o in writes)
    m["job.run_s"] = mean_self("job.run")
    m["job.days_processed"] = mean_info("job.run", "days_processed")
    m["job.days_touched"] = touched / len(writes) if writes else 0.0
    m["job.reroll_ratio"] = (
        sum(sp.info.get("days_processed", 0) for sp in runs_in_writes) / touched
        if touched
        else 0.0
    )
    m["job.route_s"] = mean_self("job.route")
    m["job.compact_s"] = mean(sp.end - sp.start for sp in named("job.compact"))
    m["job.files_before"] = mean_info("job.compact", "files_before")
    m["job.files_after"] = mean_info("job.compact", "files_after")

    m["checkpoint.append_calls"] = per_op("checkpoint.append")
    m["checkpoint.append_s"] = mean_self("checkpoint.append")
    m["checkpoint.changes_s"] = mean_self("checkpoint.changes")
    m["checkpoint.delete_calls"] = per_op("checkpoint.delete")
    m["checkpoint.snapshots"] = gauges.get("snapshots", 0) / n_ops
    m["checkpoint.read_calls"] = per_op("checkpoint.read")
    m["checkpoint.read_s"] = mean_self("checkpoint.read")
    total = sum(sp.info.get("partitions_total", 0) for sp in named("checkpoint.read"))
    read = sum(sp.info.get("partitions_read", 0) for sp in named("checkpoint.read"))
    m["checkpoint.partitions_read_ratio"] = read / total if total else 0.0
    m["checkpoint.files_live"] = float(gauges.get("files_live", 0))
    m["checkpoint.bytes_live"] = float(gauges.get("bytes_live", 0))

    m["rollup.from_raw_s"] = mean_probe("rollup.from_raw")
    m["rollup.cascade_s"] = mean_probe("rollup.cascade")
    m["rollup.to_step_s"] = mean_probe("rollup.to_step")
    for tier in ("1m", "1h", "1d"):
        m[f"rollup.rows_out.{tier}"] = float(gauges.get(f"rows_out.{tier}", 0))
    m["hist.s"] = mean_probe("hist")
    m["dist.s"] = mean_probe("dist")

    enc = named("gorilla.encode")
    raw = sum(sp.info.get("raw_bytes", 0) for sp in enc)
    comp = sum(sp.info.get("compressed_bytes", 0) for sp in enc)
    m["gorilla.encode_s"] = mean_probe("gorilla.encode")
    m["gorilla.points"] = mean_info("gorilla.encode", "points")
    m["gorilla.raw_bytes"] = mean_info("gorilla.encode", "raw_bytes")
    m["gorilla.compressed_bytes"] = mean_info("gorilla.encode", "compressed_bytes")
    m["gorilla.ratio"] = raw / comp if comp else 0.0
    m["gorilla.decode_s"] = mean_info("gorilla.decode", "decode_s")
    m["gorilla.segments_total"] = mean_info("gorilla.decode", "segments_total")
    m["gorilla.segments_decoded"] = mean_info("gorilla.decode", "segments_decoded")
    m["gapfill.s"] = mean_probe("gapfill")

    match = named("asof.match")
    pairs = sum(sp.info.get("pairs", 0) for sp in match)
    pop = sum(sp.info.get("pop_rows", 0) for sp in match)
    m["asof.match_s"] = mean_probe("asof.match")
    m["asof.pairs"] = mean_info("asof.match", "pairs")
    m["asof.pairs_per_pop_row"] = pairs / pop if pop else 0.0
    m["battery.s"] = mean(
        sp.info.get("probe_s", 0.0) - child_probe(sp, "asof.match")
        for sp in named("battery")
    )
    m["fastprop.s"] = mean(
        sp.info.get("probe_s", 0.0) - child_probe(sp, "asof.match")
        for sp in named("fastprop")
    )
    m["fastprop.features"] = mean_info("fastprop", "features")
    m["trace.overhead_s"] = mean(
        o["wall"] - baseline[o["kind"]] for o in ops if o["kind"] in baseline
    )
    return m


LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "job.run_s": "s",
    "job.days_processed": "count",
    "job.days_touched": "count",
    "job.reroll_ratio": "ratio",
    "job.route_s": "s",
    "job.compact_s": "s",
    "job.files_before": "count",
    "job.files_after": "count",
    "checkpoint.append_calls": "count",
    "checkpoint.append_s": "s",
    "checkpoint.changes_s": "s",
    "checkpoint.delete_calls": "count",
    "checkpoint.snapshots": "count",
    "checkpoint.read_calls": "count",
    "checkpoint.read_s": "s",
    "checkpoint.partitions_read_ratio": "ratio",
    "checkpoint.files_live": "count",
    "checkpoint.bytes_live": "bytes",
    "rollup.from_raw_s": "s",
    "rollup.cascade_s": "s",
    "rollup.to_step_s": "s",
    "rollup.rows_out.1m": "count",
    "rollup.rows_out.1h": "count",
    "rollup.rows_out.1d": "count",
    "hist.s": "s",
    "dist.s": "s",
    "gorilla.encode_s": "s",
    "gorilla.points": "count",
    "gorilla.raw_bytes": "bytes",
    "gorilla.compressed_bytes": "bytes",
    "gorilla.ratio": "ratio",
    "gorilla.decode_s": "s",
    "gorilla.segments_total": "count",
    "gorilla.segments_decoded": "count",
    "gapfill.s": "s",
    "asof.match_s": "s",
    "asof.pairs": "count",
    "asof.pairs_per_pop_row": "ratio",
    "battery.s": "s",
    "fastprop.s": "s",
    "fastprop.features": "count",
    "trace.overhead_s": "s",
}
