"""Self-test of the benchmark's correctness checks, at tiny size.

    python3 perfbench/selftest.py

Runs each workload's units on tiny inputs twice: once as is, where every
check must pass, and once with the program's output deliberately
corrupted, where the checks must catch it:

- dedup_text: one query's result loses a row, another's gets a wrong
  value;
- etl_cycle: the JDBC sink drops a row of every table it refreshes, and
  an idle poll whose watermark gate always says "changed" re-exports.

Prints one JSON line and exits 0 only when every clean unit passes and
every corrupted one fails.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ROOT,
    CpuClock,
    SparkProbe,
    Tracer,
    make_work_dir,
    ncpu,
    remove_work_dir,
    session_conf,
)
from run import run_unit, stop_session  # noqa: E402


def drop_one_row(df):
    return df.exceptAll(df.limit(1))


def dedup_cases(spark, work: str, clock) -> list[dict]:
    from pyspark.sql import functions as F

    from dedup_text import DedupText

    tracer = Tracer(False)
    probe = SparkProbe(spark, False)
    wl = DedupText(work, seed=7, tracer=tracer, n_docs=200)
    wl.generate()
    wl.attach(spark, probe, clock)
    wl.prepare_checks()
    clean = run_unit(wl, probe, tracer, 0, "pass", "cold")
    ngram = wl.fns["ngram_jaccard_pairs"]
    stats = wl.fns["doc_token_stats"]
    wl.fns["ngram_jaccard_pairs"] = lambda s, d: drop_one_row(ngram(s, d))
    wl.fns["doc_token_stats"] = lambda s, d: stats(s, d).withColumn(
        "n_tokens",
        F.when(F.col("doc_id") == 0, F.col("n_tokens") + 1).otherwise(F.col("n_tokens")),
    )
    bad = run_unit(wl, probe, tracer, 1, "pass", "timed")
    wl.cleanup()
    return [
        {"case": "dedup_text clean pass", "failed": clean.failed,
         "ok": clean.failed == 0 and clean.attempted == 9},
        {"case": "dedup_text corrupted pass", "failed": bad.failed,
         "errors": bad.errors,
         "ok": bad.failed == 2 and all(
             e.split(":")[0] in ("ngram_jaccard_pairs", "doc_token_stats")
             for e in bad.errors)},
    ]


def etl_cases(spark, work: str, clock) -> list[dict]:
    from etl_excel_csv_sql_spark.io.jdbc import JdbcFullRefreshSink
    from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

    from etl_cycle import EtlCycle

    tracer = Tracer(False)
    probe = SparkProbe(spark, False)
    wl = EtlCycle(work, seed=7, tracer=tracer, rows=60, invoices=20)
    wl.generate()
    wl.attach(spark, probe, clock)
    wl.prepare_checks()
    out = []
    for i, kind in enumerate(("changed", "idle")):
        u = run_unit(wl, probe, tracer, i, kind, "cold")
        out.append({"case": f"etl_cycle clean {kind}", "failed": u.failed,
                    "ok": u.failed == 0 and u.attempted == 5})

    refresh = JdbcFullRefreshSink.full_refresh
    JdbcFullRefreshSink.full_refresh = lambda self, df: refresh(self, drop_one_row(df))
    try:
        u = run_unit(wl, probe, tracer, 2, "changed", "timed")
    finally:
        JdbcFullRefreshSink.full_refresh = refresh
    out.append({"case": "etl_cycle changed cycle, sink drops a row",
                "failed": u.failed, "errors": u.errors,
                "ok": all(u.errors and f"import.{s}" in " ".join(u.errors)
                          for s in ("Invoices", "Customers", "Orders"))})

    gate = WatermarkStore.should_process
    WatermarkStore.should_process = lambda self, source, path: True
    try:
        u = run_unit(wl, probe, tracer, 3, "idle", "timed")
    finally:
        WatermarkStore.should_process = gate
    out.append({"case": "etl_cycle idle poll re-exports", "failed": u.failed,
                "errors": u.errors, "ok": u.failed >= 1})
    wl.cleanup()
    return out


def main() -> int:
    sys.path.insert(0, ROOT)
    work = make_work_dir("selftest", 0)
    spark = None
    try:
        from etl_excel_csv_sql_spark.session import get_spark

        spark = get_spark("perfbench-selftest", master=f"local[{ncpu()}]",
                          conf=session_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        clock = CpuClock(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        cases = dedup_cases(spark, work, clock) + etl_cases(spark, work, clock)
    finally:
        if spark is not None:
            stop_session(spark)
        remove_work_dir(work)
    ok = all(c["ok"] for c in cases)
    print(json.dumps({"selftest": cases, "ok": ok}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
