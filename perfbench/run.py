"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Prints a summary line, then (last line) the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the loop runs once untraced and once traced and the
metrics are the per-layer ones (spans go to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import asdict, dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import getml_community_spark  # noqa: E402,F401 — fail fast without the engine

from perfbench import harness, trace  # noqa: E402
from perfbench.serve import Serve  # noqa: E402
from perfbench.window import Window  # noqa: E402

WORKLOADS = {"serve_mixed": Serve, "window_features": Window}


@dataclass
class Ctx:
    spark: object
    seed: int
    size: str
    workdir: str
    boot_s: float
    tally: harness.Tally
    tracer: trace.Tracer | None
    corrupt: bool


def closed_loop(
    wl, ctx: Ctx, ops, seconds: float, traced: bool, min_ops: int = 0
) -> dict:
    """One client: each op starts when the previous one (and its
    output check) has finished, until ``seconds`` have passed and at
    least ``min_ops`` ops have run (the op in flight finishes)."""
    walls: dict[str, list[float]] = {}
    end = harness.now() + seconds
    n = 0
    while harness.now() < end or n < min_ops:
        kind, params = next(ops)
        n += 1
        try:
            if traced:
                with ctx.tracer.op(kind) as span:
                    wall, check = wl.do(kind, params, span)
            else:
                wall, check = wl.do(kind, params)
            problem = check() if check is not None else None
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            ctx.tally.record(False, f"{kind}: {e!r}")
            continue
        ctx.tally.record(problem is None, f"{kind}: {problem}")
        walls.setdefault(kind, []).append(wall)
    return walls


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="corrupt checked outputs (self-test of the output checks)",
    )
    args = ap.parse_args()

    workdir = harness.make_workdir(args.workload, args.seed)
    spark = None
    try:
        t0 = harness.now()
        spark = harness.start_spark(workdir, bool(args.trace))
        boot_s = harness.now() - t0
        tracer = None
        if args.trace:
            tracer = trace.Tracer(spark)
            trace.install(tracer)
        ctx = Ctx(
            spark, args.seed, args.size, workdir, boot_s, harness.Tally(), tracer,
            args.corrupt,
        )
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        ops = iter(wl.ops())
        # every loop covers at least one whole op cycle (serve_mixed: its
        # reads, a compact and a write)
        wl.walls = closed_loop(
            wl, ctx, ops, args.seconds, traced=False, min_ops=wl.cycle_ops
        )
        if args.trace:
            baseline = {k: harness.median(v) for k, v in wl.walls.items()}
            since = time.time()
            snaps = wl.snapshot_count()
            traced_walls = closed_loop(
                wl, ctx, ops, args.seconds, traced=True, min_ops=wl.cycle_ops
            )
            gauges = wl.gauges(since, snaps)
            tracer.uninstall()
            layers = trace.layer_metrics(tracer, baseline, gauges)
            metrics = {
                k: harness.metric(v, trace.LAYER_UNITS[k]) for k, v in layers.items()
            }
            tracer.write(
                os.path.join(
                    harness.OUT_ROOT, f"trace-{args.workload}-{args.seed}.json"
                ),
                {"workload": args.workload, "seed": args.seed, "baseline": baseline},
            )
        peak = harness.jvm_peak_rss_mb(spark)
        e2e, named = wl.metrics(peak)
        if not args.trace:
            metrics = e2e
        tally = ctx.tally
        named["peak_rss_mb"] = [peak, "MB"]
        named["error_rate"] = [tally.failed / tally.attempted, "ratio"]
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "sizes": {**asdict(wl.size), **wl.FIXED_SIZES},
            "cores": harness.cores(),
            "boot_s": boot_s,
            "gen_s": wl.gen_s,
            "prep_s": wl.prep_s,
            "walls_s": {k: [round(x, 4) for x in v] for k, v in wl.walls.items()},
            "named": named,
            "errors": tally.errors[:5],
        }
        if args.trace:
            summary["traced_ops"] = {k: len(v) for k, v in traced_walls.items()}
        print(json.dumps({"summary": summary}, default=float), flush=True)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    harness.emit(tally, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
