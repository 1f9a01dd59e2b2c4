"""dedup_text: the nine text-dedup and similarity headline queries.

One unit is a pass over all nine queries in a fixed order. Each query is
built through the package registry (``plans.registry.all_queries``) and
forced by collecting its result as Arrow, so every pass is checked
against the query's DuckDB oracle without an extra pass. The cold pass
also builds the persisted IVF index and the shared n-gram pair frame.
"""

from __future__ import annotations

import os
import shutil
import time

from harness import ROOT, Unit, median
from oracle import canonical_arrow, diff, expected_outputs

QUERIES = (
    "doc_token_stats",
    "exact_dup_groups",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "cosine_topk",
    "ann_ivf_persisted_topk",
    "dedup_components_star",
    "doc_quality_score",
)
#: queries whose cold pass carries build-once work
BUILD_ONCE = ("ann_ivf_persisted_topk", "ngram_jaccard_pairs")


class DedupText:
    name = "dedup_text"
    cold_kind = "pass"
    #: no untimed pass between the cold pass and the timed ones: a pass
    #: costs ~11 s, and two timed passes keep a run near one minute
    #: (README: warm-up)
    warmup_kinds: tuple[str, ...] = ()
    timed_kinds = ("pass",)
    min_timed_units = 2

    def __init__(self, work: str, seed: int, tracer, n_docs: int = 500):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.n_docs = n_docs
        # the basename keys the package's persisted IVF index under .tmp/
        self.data_dir = os.path.join(work, f"pb-{os.path.basename(work)}")

    def _ivf_dir(self) -> str:
        """Where the package persists this corpus's IVF index."""
        return os.path.join(ROOT, ".tmp", "ivf_planted_" + os.path.basename(self.data_dir))

    def generate(self) -> dict:
        from gen import write_text_corpus

        return write_text_corpus(self.data_dir, self.seed, self.n_docs)

    def attach(self, spark, probe, clock) -> None:
        from etl_excel_csv_sql_spark.plans.registry import all_queries

        self.spark = spark
        self.probe = probe
        self.clock = clock
        registry = all_queries()
        self.fns = {q: registry[q] for q in QUERIES}
        # never reuse an index another run built
        shutil.rmtree(self._ivf_dir(), ignore_errors=True)

    def prepare_checks(self) -> None:
        from etl_excel_csv_sql_spark.plans.registry import all_oracles

        oracles = all_oracles()
        missing = [q for q in QUERIES if q not in oracles]
        if missing:
            raise RuntimeError(f"queries without an oracle: {missing}")
        self.expected = expected_outputs(
            self.data_dir, ["documents", "embeddings"],
            {q: oracles[q] for q in QUERIES},
        )

    def run_unit(self, unit: Unit) -> None:
        for q in QUERIES:
            group = f"u{unit.index}.{q}"
            self.probe.set_group(group)
            unit.attempted += 1
            try:
                c0 = self.clock.read()
                t0 = time.perf_counter()
                df = self.fns[q](self.spark, self.data_dir)
                t1 = time.perf_counter()
                table = df.toArrow()
                t2 = time.perf_counter()
                unit.cpu_steps[q] = self.clock.read() - c0
            except Exception as exc:  # count it, keep measuring the rest
                unit.failed += 1
                unit.errors.append(f"{q}: {type(exc).__name__}: {exc}"[:500])
                continue
            unit.steps[q] = t2 - t0
            unit.layers[f"{q}.build_s"] = t1 - t0
            unit.layers[f"{q}.exec_s"] = t2 - t1
            unit.counts[f"{q}.rows"] = table.num_rows
            problem = diff(self.expected[q], canonical_arrow(table))
            if problem:
                unit.failed += 1
                unit.errors.append(f"{q}: {problem}"[:500])
        unit.wall_s = sum(unit.steps.values())
        unit.cpu_s = sum(unit.cpu_steps.values())
        unit.groups = [f"u{unit.index}.{q}" for q in QUERIES]

    def end_to_end(self, timed: list[Unit], cpu: bool):
        """(per-pass values, per-query step series), CPU or wall seconds."""
        steps = {q: [(u.cpu_steps if cpu else u.steps)[q] for u in timed
                     if q in u.steps] for q in QUERIES}
        return [u.cpu_s if cpu else u.wall_s for u in timed], steps

    def layers(self, cold: Unit, timed: list[Unit]) -> dict[str, float]:
        out: dict[str, float] = {}
        for q in QUERIES:
            for part in ("build_s", "exec_s"):
                vals = [u.layers[f"{q}.{part}"] for u in timed
                        if f"{q}.{part}" in u.layers]
                if vals:
                    out[f"{q}.{part}"] = median(vals)
            jobs = [u.counts[f"{q}.jobs"] for u in timed if f"{q}.jobs" in u.counts]
            if jobs:
                out[f"{q}.jobs"] = median(jobs)
        for q in BUILD_ONCE:
            if f"{q}.jobs" in cold.counts:
                out[f"cold.{q}.jobs"] = cold.counts[f"{q}.jobs"]
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self._ivf_dir(), ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".tmp"))  # only if we left it empty
        except OSError:
            pass
