"""Repeat-and-overhead check.

    python3 perfbench/repeat_check.py --workload W --seed N [--seconds S]

Runs the benchmark three times on one seed: once untraced and twice
traced. The exact counts of the two traced runs (jobs, stages and tasks
per query or step, rows, cells, copies) must be identical for every unit
both runs completed; every count that differs is listed. Tracing overhead
is reported as the traced median minus the untraced median of the
end-to-end timings. Prints one JSON line; exits 0 when no count differs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"run failed ({proc.returncode}): {proc.stderr[-2000:]}")
    return {"report": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def count_diffs(a: dict, b: dict) -> list[str]:
    diffs = []
    ua = {u["i"]: u for u in a["units"]}
    ub = {u["i"]: u for u in b["units"]}
    for i in sorted(set(ua) & set(ub)):
        x, y = ua[i], ub[i]
        if x["kind"] != y["kind"]:
            diffs.append(f"unit {i}: kind {x['kind']} != {y['kind']}")
            continue
        for key in sorted(set(x["counts"]) | set(y["counts"])):
            vx, vy = x["counts"].get(key), y["counts"].get(key)
            if vx != vy:
                diffs.append(f"unit {i} ({x['kind']}) {key}: {vx} != {vy}")
    return diffs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]

    plain = run(args.workload, args.seed, seconds, 0)
    traced = [run(args.workload, args.seed, seconds, 1) for _ in range(2)]
    diffs = count_diffs(traced[0]["report"], traced[1]["report"])
    compared = sum(len(u["counts"]) for u in traced[0]["report"]["units"])
    overhead = {
        f"{part}.{k}": traced[0]["report"][part][k] - plain["report"][part][k]
        for part in ("e2e", "wall") for k in plain["report"][part]
        if k != "peak_rss_mb"
    }
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "counts_compared": compared,
        "counts_differing": diffs,
        "trace_overhead_s": overhead,
        "untraced": {**plain["report"]["e2e"], "wall": plain["report"]["wall"]},
        "traced": {**traced[0]["report"]["e2e"], "wall": traced[0]["report"]["wall"]},
        "correct": all(r["result"]["correct"] for r in [plain, *traced]),
        "hosts": [r["report"]["host"] for r in [plain, *traced]],
    }
    print(json.dumps(out), flush=True)
    return 0 if not diffs and out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
