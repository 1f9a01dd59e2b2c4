"""etl_cycle: the reference's three scheduled scripts chained through
``runner.pipeline``.

A changed cycle drops a new workbook (three sheets with ~1% poison
cells), a new invoice list and its invoice files, then runs

1. ``export_excel_to_csv``: watermark gate, sheets to CSV in the drop
   folder;
2. ``import_csv_to_table`` once per sheet: sanitize, quarantine poison
   rows, full refresh into embedded Derby through
   ``io.jdbc.JdbcFullRefreshSink`` (rejects into a second Derby table),
   archive the CSV;
3. ``invoice_search`` against the Derby invoice table: copy the found
   invoice files and write ``Found`` back into the invoice list.

An idle poll runs the same three steps with nothing new: the export is
skipped by the watermark, no CSV is pending, and the invoice search
re-searches the still-missing invoices. Changed cycles and idle polls are
separate unit kinds and never share a median.
"""

from __future__ import annotations

import csv
import os
import time

from gen import SHEETS, EtlCycleInputs
from harness import Unit, median


class EtlCycle:
    name = "etl_cycle"
    cold_kind = "changed"
    #: untimed units after the cold cycle (see README: warm-up)
    warmup_kinds: tuple[str, ...] = ("idle",)
    timed_kinds = ("changed", "idle")
    #: four changed cycles and four idle polls at least, so each median
    #: is over four units
    min_timed_units = 8

    def __init__(self, work: str, seed: int, tracer, rows: int = 600,
                 invoices: int = 150):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.inputs = EtlCycleInputs(os.path.join(work, "etl"), seed, rows, invoices)
        self.cycle = 0
        self.truth = None

    def generate(self) -> dict:
        return {"rows_per_sheet": self.inputs.rows, "sheets": len(SHEETS),
                "invoices_per_cycle": self.inputs.invoices}

    def attach(self, spark, probe, clock) -> None:
        from etl_excel_csv_sql_spark.io import csv_io, excel, xlsx
        from etl_excel_csv_sql_spark.io.jdbc import JdbcFullRefreshSink
        from etl_excel_csv_sql_spark.runner import pipeline
        from etl_excel_csv_sql_spark.runner.folder_queue import FolderQueue
        from etl_excel_csv_sql_spark.runner.watermark import WatermarkStore

        self.spark = spark
        self.probe = probe
        self.clock = clock
        self.pipeline = pipeline
        root = self.inputs.root
        self.drop_dir = os.path.join(root, "drop")
        self.error_dir = os.path.join(root, "Error")
        self.state_dir = os.path.join(root, "state")
        self.db_path = os.path.join(root, "derby", "etl")
        self.db_url = f"jdbc:derby:{self.db_path}"
        self.jdbc_opts = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        self.export_job = pipeline.ExcelExportJob(
            source_name="book",
            workbook_path=self.inputs.workbook,
            sheets=list(SHEETS),
            header_row=1,
            csv_out_dir=self.drop_dir,
            error_dir=self.error_dir,
            watermarks=WatermarkStore(self.state_dir),
        )
        queue = FolderQueue(
            drop_dir=self.drop_dir,
            processed_dir=os.path.join(root, "Processed"),
            error_dir=self.error_dir,
        )

        def sink(table: str, col_types: str) -> JdbcFullRefreshSink:
            # Derby maps strings to CLOB unless the column types are pinned
            return JdbcFullRefreshSink(
                url=self.db_url + ";create=true",
                table=table,
                options={**self.jdbc_opts, "createTableColumnTypes": col_types},
                num_partitions=1,
            )

        self.import_jobs = {}
        for sheet, (cols, pk, dt_col) in SHEETS.items():
            types = ", ".join(f"{c} VARCHAR(64)" for c in cols)
            self.import_jobs[sheet] = pipeline.CsvImportJob(
                pk=pk,
                fields=None,
                datetime_fields=[dt_col],
                sink=sink(sheet.upper(), types),
                queue=queue,
                quarantine_sink=sink(
                    f"{sheet.upper()}_REJECTS", types + ", _reject_reason VARCHAR(128)"
                ),
                source_name=sheet,
            )
        self.invoice_job = pipeline.InvoiceSearchJob(
            invoice_csv=self.inputs.invoice_csv,
            src_root=self.inputs.src_root,
            dst_root=self.inputs.dst_root,
        )
        t = self.tracer
        t.wrap(xlsx, "read_rows", "io.xlsx.read_rows",
               lambda rows: t.count("io.xlsx.cells", sum(len(r) for r in rows)))
        t.wrap(excel, "read_excel_sheet", "io.excel.read_sheet")
        t.wrap(csv_io, "write_csv_single", "io.csv_io.write_single")
        t.wrap(JdbcFullRefreshSink, "full_refresh", "io.jdbc.full_refresh")
        t.wrap(pipeline, "execute_copy_plan", "runner.copyplan.execute",
               lambda c: (t.count("runner.copyplan.copied", c["copied"]),
                          t.count("runner.copyplan.found", c["found"])))
        t.wrap(WatermarkStore, "should_process", "runner.watermark.should_process")

    def prepare_checks(self) -> None:
        pass  # the truth is generated with each changed cycle

    # -- Derby, read back through plain JDBC on the driver JVM ------------

    def _sql(self, query: str) -> list[str]:
        jvm = self.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.db_url)
        try:
            rs = conn.createStatement().executeQuery(query)
            out = []
            while rs.next():
                out.append(rs.getString(1))
            return out
        finally:
            conn.close()

    def _invoice_flags(self) -> dict[str, str]:
        with open(self.inputs.invoice_csv, newline="", encoding="utf-8") as fh:
            return {r["InvoiceNumber"]: r["Found"] for r in csv.DictReader(fh)}

    def _delivered(self) -> int:
        return sum(len(f) for _, _, f in os.walk(self.inputs.dst_root))

    def _watermark(self) -> str | None:
        path = os.path.join(self.state_dir, "book_lastmod.txt")
        return open(path).read() if os.path.exists(path) else None

    # -- one unit ---------------------------------------------------------

    def run_unit(self, unit: Unit) -> None:
        changed = unit.kind == "changed"
        if changed:
            self.truth = self.inputs.write_cycle(self.cycle)
            self.cycle += 1
        before = {
            "delivered": self._delivered(),
            "watermark": self._watermark(),
            "flags": None if changed else self._invoice_flags(),
        }
        results: dict[str, object] = {}

        def step(name: str, fn) -> None:
            group = f"u{unit.index}.{name}"
            unit.groups.append(group)
            self.probe.set_group(group)
            unit.attempted += 1
            c0 = self.clock.read()
            t0 = time.perf_counter()
            try:
                results[name] = fn()
            except Exception as exc:  # count it, keep the cycle going
                unit.failed += 1
                unit.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
                results[name] = None
            unit.steps[name] = time.perf_counter() - t0
            unit.cpu_steps[name] = self.clock.read() - c0

        pl = self.pipeline
        step("export", lambda: pl.export_excel_to_csv(self.spark, self.export_job))
        for sheet in SHEETS:
            step(f"import.{sheet}",
                 lambda s=sheet: pl.import_csv_to_table(self.spark, self.import_jobs[s]))

        def search():
            db = (self.spark.read.format("jdbc")
                  .options(url=self.db_url, dbtable="INVOICES", **self.jdbc_opts)
                  .load())
            return pl.invoice_search(self.spark, self.invoice_job, db)

        step("invoice", search)
        unit.wall_s = sum(unit.steps.values())
        unit.cpu_s = sum(unit.cpu_steps.values())
        if not changed:
            unit.steps = {"idle_poll": unit.wall_s, **{
                f"idle.{k}": v for k, v in unit.steps.items()}}
            unit.cpu_steps = {"idle_poll": unit.cpu_s}
        problems = (self._check_changed if changed else self._check_idle)(
            results, before, unit)
        for name, problem in problems:
            unit.errors.append(f"{name}: {problem}")
            if results.get(name) is not None:  # a raise was counted already
                unit.failed += 1

    def _check_changed(self, results, before, unit) -> list[tuple[str, str]]:
        truth = self.truth
        bad: list[tuple[str, str]] = []
        exp = results["export"]
        if exp != {"skipped": False, "exported": list(SHEETS), "diverted": []}:
            bad.append(("export", f"result {exp}"))
        loaded = quarantined = 0
        for sheet in SHEETS:
            name = f"import.{sheet}"
            res = results[name]
            if not res or [str(v.value) for v in res.values()] != ["processed"]:
                bad.append((name, f"result {res}"))
                continue
            n = int(self._sql(f"SELECT COUNT(*) FROM {sheet.upper()}")[0])
            pk = SHEETS[sheet][1]
            rejects = set(self._sql(f'SELECT "{pk}" FROM {sheet.upper()}_REJECTS'))
            if n != truth.loaded[sheet]:
                bad.append((name, f"{n} rows loaded, expected {truth.loaded[sheet]}"))
            if rejects != truth.quarantined[sheet]:
                bad.append((name, f"{len(rejects)} rows quarantined, expected "
                                  f"{len(truth.quarantined[sheet])}"))
            loaded += n
            quarantined += len(rejects)
        unit.counts["io.jdbc.rows_loaded"] = loaded
        unit.counts["io.jdbc.rows_quarantined"] = quarantined
        inv = results["invoice"]
        a, b = len(truth.found_with_file), len(truth.found_without_file)
        want = {
            "copies": {"found": a, "copied": a, "missing": b, "skipped": 0},
            "written_to": self.inputs.invoice_csv,
            "expected": truth.invoices,
            "found": a + b,
            "missing": len(truth.missing),
        }
        if inv != want:
            bad.append(("invoice", f"result {inv} != {want}"))
        flags = self._invoice_flags()
        yes = {k for k, v in flags.items() if v == "Yes"}
        if yes != truth.found_with_file | truth.found_without_file or len(flags) != truth.invoices:
            bad.append(("invoice", f"Found write-back marks {len(yes)} of {len(flags)}"))
        if self._delivered() - before["delivered"] != a:
            bad.append(("invoice", "delivered file count does not match the copies"))
        unit.counts["runner.copyplan.copied.truth"] = a
        unit.counts["io.xlsx.cells.truth"] = truth.cells
        return bad

    def _check_idle(self, results, before, unit) -> list[tuple[str, str]]:
        bad: list[tuple[str, str]] = []
        if results["export"] != {"skipped": True, "exported": [], "diverted": []}:
            bad.append(("export", f"idle export {results['export']}"))
        if self._watermark() != before["watermark"]:
            bad.append(("export", "idle poll moved the watermark"))
        if any(f.lower().endswith(".csv") for f in os.listdir(self.drop_dir)):
            bad.append(("export", "idle poll left a CSV in the drop folder"))
        for sheet in SHEETS:
            if results[f"import.{sheet}"] != {}:
                bad.append((f"import.{sheet}", f"idle import {results[f'import.{sheet}']}"))
        inv = results["invoice"] or {}
        missing = len(self.truth.missing)
        if (inv.get("copies") != {"found": 0, "copied": 0, "missing": 0, "skipped": 0}
                or inv.get("found") != 0 or inv.get("expected") != missing):
            bad.append(("invoice", f"idle invoice search {inv}"))
        if self._invoice_flags() != before["flags"]:
            bad.append(("invoice", "idle poll changed the invoice list"))
        if self._delivered() != before["delivered"]:
            bad.append(("invoice", "idle poll copied files"))
        return bad

    # -- summaries --------------------------------------------------------

    def end_to_end(self, timed: list[Unit], cpu: bool):
        """(changed-cycle values, per-step series: the changed-cycle steps
        and the idle poll as one step of its own), CPU or wall seconds."""
        changed = [u for u in timed if u.kind == "changed"]
        idle = [u for u in timed if u.kind == "idle"]
        steps: dict[str, list[float]] = {}
        for u in changed:
            for k, v in (u.cpu_steps if cpu else u.steps).items():
                steps.setdefault(k, []).append(v)
        steps["idle_poll"] = [(u.cpu_steps if cpu else u.steps)["idle_poll"]
                              for u in idle]
        return [u.cpu_s if cpu else u.wall_s for u in changed], steps

    def layers(self, cold: Unit, timed: list[Unit]) -> dict[str, float]:
        changed = [u for u in timed if u.kind == "changed"]
        idle = [u for u in timed if u.kind == "idle"]
        out: dict[str, float] = {}

        def med(units, key, src="layers"):
            vals = [getattr(u, src).get(key, 0.0) for u in units]
            return median(vals) if vals else 0.0

        for span in ("io.xlsx.read_rows", "io.excel.read_sheet",
                     "io.csv_io.write_single", "io.jdbc.full_refresh",
                     "runner.copyplan.execute"):
            out[f"{span}_s"] = med(changed, span)
        out["runner.watermark.should_process_s"] = med(idle, "runner.watermark.should_process")
        out["io.xlsx.cells"] = med(changed, "io.xlsx.cells", "counts")
        for key in ("io.jdbc.rows_loaded", "io.jdbc.rows_quarantined",
                    "runner.copyplan.copied", "runner.copyplan.found"):
            out[key] = med(changed, key, "counts")
        found = out["runner.copyplan.found"]
        out["runner.copyplan.useful_ratio"] = (
            out["runner.copyplan.copied"] / found if found else 0.0)
        out["runner.pipeline.export_s"] = med(changed, "export", "steps")
        out["runner.pipeline.import_s"] = median(
            [sum(v for k, v in u.steps.items() if k.startswith("import."))
             for u in changed])
        out["runner.pipeline.invoice_s"] = med(changed, "invoice", "steps")
        out["idle.poll_s"] = med(idle, "idle_poll", "steps")
        out["idle.spark_jobs"] = med(idle, "jobs", "spark")
        return out

    def cleanup(self) -> None:
        try:  # release the embedded database's files before they are removed
            jvm = self.spark.sparkContext._jvm
            jvm.java.sql.DriverManager.getConnection(self.db_url + ";shutdown=true")
        except Exception:
            pass  # Derby signals a successful shutdown with an SQLException
