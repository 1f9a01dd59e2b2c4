"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_cycle,dedup_text} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One driver process runs one workload in
a closed loop (one client, the next unit starts when the previous one
ends) on local[<cores>]:

1. generate the inputs from the seed (not timed);
2. set up: import the package, start the session with its ``get_spark``,
   run a first action (``setup_s``);
3. the cold unit (``cold_s``): JIT warm-up plus build-once artefacts;
4. untimed warm-up units, then timed units until ``--seconds`` have
   passed, every unit checked for correctness as it completes.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics of BENCHMARK.json when
``--trace 0`` and its per-layer metrics when ``--trace 1``. The line
before it is a report with the host state, every unit's timings and the
exact counts the repeat check compares. Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ROOT,
    CpuClock,
    HostState,
    SparkProbe,
    Tracer,
    Unit,
    log,
    make_work_dir,
    median,
    ncpu,
    peak_rss_mb,
    remove_work_dir,
    session_conf,
    step_geomean,
)


def workloads():
    from dedup_text import DedupText
    from etl_cycle import EtlCycle

    return {"etl_cycle": EtlCycle, "dedup_text": DedupText}


def declared_metrics() -> tuple[dict, dict]:
    """(end_to_end, per_layer) name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_unit(wl, probe: SparkProbe, tracer: Tracer, index: int, kind: str,
             phase: str) -> Unit:
    unit = Unit(index=index, kind=kind, phase=phase)
    tracer.unit = index
    wl.run_unit(unit)
    if probe.enabled:
        unit.spark, per_group = probe.collect(unit.groups, unit.wall_s)
        for group, counts in per_group.items():
            step = group.split(".", 1)[1]
            for k, v in counts.items():
                unit.counts[f"{step}.{k}"] = v
    unit.layers.update(tracer.unit_totals(index))
    unit.counts.update(tracer.unit_counts(index))
    log(f"{phase} {kind} #{index}: {unit.wall_s:.3f}s"
        + (f" FAILED {unit.errors}" if unit.errors else ""))
    return unit


def stop_session(spark) -> None:
    """Stop the context, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # benchmark the checkout's own package, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "etl_excel_csv_sql_spark", "__init__.py")):
        log(f"no etl_excel_csv_sql_spark package in {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    e2e_units, layer_units = declared_metrics()
    host = HostState()
    host.start()
    work = make_work_dir(args.workload, args.seed)
    tracer = Tracer(bool(args.trace))
    wl = workloads()[args.workload](work, args.seed, tracer)
    spark = None
    units: list[Unit] = []
    try:
        inputs = wl.generate()

        t0 = time.perf_counter()
        py_cpu0 = sum(os.times()[:4])
        from etl_excel_csv_sql_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{ncpu()}]",
                          conf=session_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        probe = SparkProbe(spark, bool(args.trace))
        clock = CpuClock(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        wl.attach(spark, probe, clock)
        spark.range(1).collect()
        setup_s = time.perf_counter() - t0
        setup_cpu_s = clock.read() - py_cpu0

        wl.prepare_checks()
        units.append(run_unit(wl, probe, tracer, 0, wl.cold_kind, "cold"))
        for kind in wl.warmup_kinds:
            units.append(run_unit(wl, probe, tracer, len(units), kind, "warmup"))
        start = time.perf_counter()
        i = 0
        while time.perf_counter() - start < args.seconds or i < wl.min_timed_units:
            kind = wl.timed_kinds[i % len(wl.timed_kinds)]
            units.append(run_unit(wl, probe, tracer, len(units), kind, "timed"))
            i += 1
        rss_jvm, rss_py = peak_rss_mb(spark)
        housekeeping_cpu_s = clock.read(housekeeping=True)
        probe.close()
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        tracer.unwrap_all()
        if spark is not None:
            wl.cleanup()
            stop_session(spark)
        remove_work_dir(work)

    cold = units[0]
    timed = [u for u in units if u.phase == "timed"]
    e2e, wall, excluded = {}, {}, []
    for cpu, out in ((True, e2e), (False, wall)):
        values, steps = wl.end_to_end(timed, cpu)
        step_gm, skipped = step_geomean(steps)
        out.update({
            "setup_s": setup_cpu_s if cpu else setup_s,
            "cold_cpu_s" if cpu else "cold_s": cold.cpu_s if cpu else cold.wall_s,
            "unit_cpu_s.p50" if cpu else "unit_s.p50": median(values),
            "step_cpu_s.geomean" if cpu else "step_s.geomean": step_gm,
        })
        excluded += [f"{'cpu' if cpu else 'wall'}:{s}" for s in skipped]
    e2e["peak_rss_mb"] = rss_jvm + rss_py
    layers = {name: 0.0 for name in layer_units}
    if args.trace:
        main = [u for u in timed if u.kind == wl.timed_kinds[0]]
        for key in main[0].spark:
            layers[f"spark.{key}"] = median([u.spark[key] for u in main])
        layers.update(wl.layers(cold, timed))
    undeclared = sorted(set(layers) - set(layer_units))
    if undeclared:
        log(f"metrics missing from BENCHMARK.json: {undeclared}")
        return 1

    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    report = {
        "report": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host.finish(),
        "inputs": inputs,
        "rss_mb": {"jvm": round(rss_jvm, 1), "python": round(rss_py, 1)},
        "steps_excluded_below_10ms": excluded,
        "units": [
            {"i": u.index, "kind": u.kind, "phase": u.phase,
             "wall_s": round(u.wall_s, 4), "cpu_s": round(u.cpu_s, 3),
             "steps": {k: round(v, 4) for k, v in u.steps.items()},
             "cpu_steps": {k: round(v, 3) for k, v in u.cpu_steps.items()},
             "counts": u.counts, "errors": u.errors}
            for u in units
        ],
        "e2e": e2e,
        "wall": wall,
        "jvm_housekeeping_cpu_s": housekeeping_cpu_s,
    }
    print(json.dumps(report), flush=True)
    chosen = layers if args.trace else e2e
    units_of = layer_units if args.trace else e2e_units
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in chosen.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
