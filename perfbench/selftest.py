"""Self-test of the benchmark at tiny size (several minutes):

    python3 perfbench/selftest.py

For every workload: an untraced run prints every end-to-end metric of
BENCHMARK.json with its unit and no failed op; a traced run prints every
per-layer metric, and its span file parses, with self times >= 0 that
sum to each op's wall; a run with corrupted outputs reports failed ops.
Finally, a copy holding only BENCHMARK.json and the benchmark's files
(no engine) must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import OUT_ROOT, WORK_ROOT  # noqa: E402


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def check_metrics(res: dict, spec: list[dict], positive: bool) -> None:
    got = res["metrics"]
    assert set(got) == {m["name"] for m in spec}, set(got) ^ {m["name"] for m in spec}
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], (m["name"], v["unit"])
        assert isinstance(v["value"], float), m["name"]
        if positive:
            assert v["value"] > 0, m["name"]


def check_trace(path: str) -> None:
    with open(path) as f:
        tr = json.load(f)
    spans = tr["spans"]
    assert tr["ops"], "no traced ops"
    for op in tr["ops"]:
        mine = [s for s in spans if s["op"] == op["op"]]
        assert all(s["self_s"] >= -1e-9 for s in mine), op
        total = sum(s["self_s"] for s in mine)
        assert abs(total - op["wall"]) <= 1e-6 * max(1.0, op["wall"]), (total, op)
        assert all(s["end"] >= s["start"] for s in mine)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seed = "7"
    for w in (x["name"] for x in bench["workloads"]):
        base = ["--workload", w, "--seed", seed, "--seconds", "3", "--size", "tiny"]
        code, lines = run([*base, "--trace", "0"])
        assert code == 0, (w, code, lines[-3:])
        res = result(lines)
        assert res["correct"] and res["failed"] == 0, (w, lines[-2])
        check_metrics(res, bench["end_to_end"], positive=True)
        print(f"ok   {w}: end-to-end metrics, no failed op", flush=True)

        code, lines = run([*base, "--trace", "1"])
        assert code == 0, (w, code, lines[-3:])
        res = result(lines)
        assert res["correct"], (w, lines[-2])
        check_metrics(res, bench["per_layer"], positive=False)
        check_trace(os.path.join(OUT_ROOT, f"trace-{w}-{seed}.json"))
        print(f"ok   {w}: per-layer metrics, trace self times", flush=True)

        code, lines = run([*base, "--trace", "0", "--corrupt"])
        assert code == 0, (w, code, lines[-3:])
        res = result(lines)
        assert res["failed"] > 0 and not res["correct"], (w, res)
        print(f"ok   {w}: corrupted outputs fail {res['failed']}/{res['attempted']} ops")

    bare = os.path.join(WORK_ROOT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), os.path.join(bare, p),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code, lines = run(
        ["--workload", bench["workloads"][0]["name"], "--seed", seed,
         "--seconds", "3", "--trace", "0"],
        cwd=bare,
    )
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(line.startswith('{"correct"') for line in lines)
    print("ok   a tree without the engine exits", code, "without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
