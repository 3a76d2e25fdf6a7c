"""The workloads.

Each one runs a closed loop of passes from one process, one Spark job in
flight at a time. A workload:

* `prepare()` writes its inputs and expectations (untimed, before Spark);
* `kernel_layers(stem)` runs the kernel span pass of the traced run;
* `warm(spark)` runs the first pass and checks every output against the
  expectations;
* `timed(spark, tag)` runs and times one pass, checked against the warm
  pass (or the oracle row counts), with its Spark jobs in job group `tag`;
* `extras(spark, run_s, trace)` measures the workload's own end-to-end
  figures;
* `layers(log, tags, kernel)` maps the traced run's event log onto
  repository modules.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from . import corpus, spans
from .eventlog import OUTPUT_ROWS, PY_RECEIVED, PY_SENT, EventLog, Stage

ORACLE_SLICE = 40  # docs checked against the closed-form DuckDB oracle


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def __iadd__(self, other: "Tally") -> "Tally":
        self.attempted += other.attempted
        self.failed += other.failed
        return self


def set_group(spark, tag: str) -> None:
    spark.sparkContext.setJobGroup(tag, tag)


def _timed_noop(make_df) -> float:
    """Seconds to build a DataFrame and run it into the noop sink; the
    build is timed because some operators run Spark jobs while planning."""
    t0 = time.perf_counter()
    make_df().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _checksummed(df, obs, below: Optional[str] = None):
    """Observe row count and an order-free content hash in-band; with
    `below`, also for the rows whose url sorts below it."""
    from pyspark.sql import functions as F  # noqa: N812

    h = F.pmod(F.xxhash64("url", "label", "text", "error"), F.lit(1 << 31))
    aggs = [F.count(F.lit(1)).alias("rows"), F.sum(h).alias("hash")]
    if below is not None:
        low = F.col("url") < F.lit(below)
        aggs += [F.count(F.when(low, 1)).alias("rows_below"),
                 F.sum(F.when(low, h)).alias("hash_below")]
    return df.observe(obs, *aggs)


def _verified(df, expected: Dict[str, str], below: Optional[str] = None):
    """Collect a fused result, compare every url with `expected`.

    Returns (tally, in-band checksum, collected table)."""
    from pyspark.sql import Observation

    obs = Observation()
    table = _checksummed(df, obs, below).select(
        "url", "label", "text", "error").toArrow()
    bad = corpus.count_mismatches(expected, corpus.digests_of_table(table))
    return Tally(len(expected), bad), obs.get, table


def _pct(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _median_dicts(dicts: List[Dict[str, float]]) -> Dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def fused_layers(log: EventLog, tag: str, docs: int,
                 kernel_us_per_doc: float) -> Dict[str, float]:
    """sources / plans.salt / operators.fused / spark figures of the
    jobs in group `tag`."""
    stages = log.stages_of(tag)
    py = [s for s in stages if s.is_python]
    scan = [s for s in stages if s.is_scan]
    tasks = [t for s in py for t in s.task_s]
    run_s = sum(s.run_s for s in py)
    rows = [r for s in py for r in s.task_records_read]
    kernel_s = docs * kernel_us_per_doc / 1e6
    return {
        "operators.fused.task_s_p50": _pct(tasks, 0.5),
        "operators.fused.task_s_p90": _pct(tasks, 0.9),
        "operators.fused.executor_run_s": run_s,
        "operators.fused.executor_cpu_s": sum(s.cpu_s for s in py),
        "operators.fused.python_bytes_sent":
            sum(s.metric(PY_SENT) for s in py),
        "operators.fused.python_bytes_received":
            sum(s.metric(PY_RECEIVED) for s in py),
        "operators.fused.rows_in": sum(rows),
        "operators.fused.rows_out": sum(s.metric(OUTPUT_ROWS) for s in py),
        "operators.fused.overhead_share":
            1 - kernel_s / run_s if run_s and kernel_s else 0.0,
        "sources.scan_s": sum(s.run_s - s.shuffle_write_s for s in scan),
        "sources.scan_bytes": sum(
            ex.scan_bytes for ex in log.executions_of(tag).values()),
        "plans.salt.shuffle_write_bytes":
            sum(s.shuffle_write_bytes for s in scan),
        "plans.salt.shuffle_write_s": sum(s.shuffle_write_s for s in scan),
        "plans.salt.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in py),
        "plans.salt.partition_rows_max_over_mean":
            max(rows) / statistics.mean(rows) if rows and sum(rows) else 0.0,
        "plans.salt.task_s_max_over_median":
            max(tasks) / statistics.median(tasks) if tasks else 0.0,
        "spark.gc_s": sum(s.gc_s for s in stages),
        "spark.spill_bytes": sum(s.spill_bytes for s in stages),
    }


class Workload:
    docs = 0  # documents per pass

    def __init__(self, work: str, seed: int, nproc: int) -> None:
        self.work, self.seed, self.nproc = work, seed, nproc

    def kernel_layers(self, spans_stem: str) -> Dict[str, float]:
        return {}

    def extras(self, spark, run_s: float,
               trace: bool) -> Tuple[Dict[str, float], Tally]:
        return {}, Tally()


class PdfExtract(Workload):
    """scan -> defuse_skew(pages, 2 * nproc) -> run_fused -> noop sink
    over synthetic PDFs. Its extras measure weak scaling and, in the
    traced run, one checkpoint/resume cycle over the same pages."""

    docs = 6000
    SINGLE_REPS = 3
    N_BUCKETS, PER_JOB = 8, 2
    KERNEL_SAMPLE = {"pdf": 300, "html": 2000}

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.lo = corpus.doc_offset(self.seed)
        # the single-core input is the first 1/nproc of the corpus; the
        # warm pass checksums those urls too, to check the single runs
        self.n_single = self.docs // self.nproc
        self.below = corpus.URL_FMT.format(self.lo + self.n_single)

    def prepare(self) -> Tally:
        self.path = os.path.join(self.work, "pages.parquet")
        self.input_bytes = corpus.write_pages(self.path, "pdf", self.lo,
                                              self.docs)
        self.single_path = os.path.join(self.work, "single.parquet")
        corpus.write_pages(self.single_path, "pdf", self.lo, self.n_single)
        self.expected = corpus.expected_digests(
            "pdf", self.lo, self.docs, self.nproc,
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        return Tally(ORACLE_SLICE, corpus.oracle_slice_mismatches(
            "pdf", self.lo, ORACLE_SLICE, self.expected))

    def kernel_layers(self, spans_stem: str) -> Dict[str, float]:
        """Kernel spans over a PDF sample, and over an HTML sample for the
        HTML path of the same kernel entry point."""
        def sample(kind):
            n = self.KERNEL_SAMPLE[kind]
            return [(corpus.URL_FMT.format(i), corpus._payload(kind, i))
                    for i in range(self.lo, self.lo + n)]

        html = spans.kernel_pass(sample("html"), spans_stem + "-html.jsonl")
        pdf = spans.kernel_pass(sample("pdf"), spans_stem + "-pdf.jsonl")
        pdf["kernels.html.extract_us_per_doc"] = \
            html["kernels.html.extract_us_per_doc"]
        return pdf

    def _plan(self, pages, parts: int):
        from edspdf_spark.operators import run_fused
        from edspdf_spark.plans import defuse_skew

        from __spark_entry__ import PIPE_CFG

        return run_fused(defuse_skew(pages, parts), PIPE_CFG)

    def warm(self, spark) -> Tally:
        self.pages = spark.read.parquet(self.path)
        tally, self.ref, table = _verified(
            self._plan(self.pages, 2 * self.nproc), self.expected, self.below)
        self.error_docs = len({u for u, e in zip(
            table.column("url").to_pylist(),
            table.column("error").to_pylist()) if e})
        return tally

    def timed(self, spark, tag: str) -> Tuple[float, Tally]:
        from pyspark.sql import Observation

        obs = Observation()
        set_group(spark, tag)
        dt = _timed_noop(lambda: _checksummed(
            self._plan(self.pages, 2 * self.nproc), obs))
        ok = obs.get == {k: self.ref[k] for k in ("rows", "hash")}
        return dt, Tally(self.docs, 0 if ok else self.docs)

    def extras(self, spark, run_s: float,
               trace: bool) -> Tuple[Dict[str, float], Tally]:
        """Weak scaling: the same plan over 1/nproc of the corpus with one
        partition (one task, so one core) against the full-width run."""
        from pyspark.sql import Observation

        n = self.n_single
        ref = {"rows": self.ref["rows_below"], "hash": self.ref["hash_below"]}
        pages = spark.read.parquet(self.single_path)
        times, tally = [], Tally()
        for k in range(self.SINGLE_REPS):
            obs = Observation()
            set_group(spark, f"single-{k}")
            times.append(_timed_noop(
                lambda: _checksummed(self._plan(pages, 1), obs)))
            tally += Tally(n, 0 if obs.get == ref else n)
        one_core = n / statistics.median(times)
        out = {"scaling_eff": self.docs / run_s / (self.nproc * one_core)}
        if trace:
            out["resume_s"] = self._checkpoint_cycle(spark, tally)
        return out, tally

    def _checkpoint_cycle(self, spark, tally: Tally) -> float:
        """run_with_checkpoint to parquet, crashed by its
        fail_after_buckets hook halfway through, then resumed to
        completion; returns the resume time."""
        from edspdf_spark.plans import read_result, run_with_checkpoint

        from __spark_entry__ import PIPE_CFG

        out = os.path.join(self.work, "ckpt")
        kw = dict(n_buckets=self.N_BUCKETS, buckets_per_job=self.PER_JOB,
                  num_partitions=2 * self.nproc)
        set_group(spark, "ckpt")
        crashed = False
        t0 = time.perf_counter()
        try:
            run_with_checkpoint(self.pages, PIPE_CFG, out,
                                fail_after_buckets=self.N_BUCKETS // 2, **kw)
        except RuntimeError as exc:
            if not str(exc).startswith("simulated crash"):
                raise
            crashed = True
        t1 = time.perf_counter()
        run_with_checkpoint(self.pages, PIPE_CFG, out, **kw)
        t2 = time.perf_counter()
        self.cycle_s = t2 - t0

        set_group(spark, "ckpt-verify")
        table = read_result(spark, out).select(
            "url", "label", "text", "error").toArrow()
        bad = corpus.count_mismatches(self.expected,
                                      corpus.digests_of_table(table))
        tally += Tally(self.docs, bad if crashed else self.docs)
        self.files_written = sum(len(f) for _, _, f in os.walk(out))
        return t2 - t1

    def layers(self, log: EventLog, tags: List[str],
               kernel: Dict[str, float]) -> Dict[str, float]:
        stages = log.stages_of("ckpt")
        ck = fused_layers(log, "ckpt", self.docs,
                          kernel.get("process_doc_us_per_doc", 0))
        spans = {"write": 0.0, "rollup": 0.0, "all": 0.0}
        for ex in log.executions_of("ckpt").values():
            s = (ex.end_ms - ex.start_ms) / 1e3
            spans["all"] += s
            if "/metrics/run_" in ex.plan:
                spans["rollup"] += s
            elif "InsertIntoHadoopFsRelationCommand" in ex.plan:
                spans["write"] += s
        per_pass = [fused_layers(log, t, self.docs,
                                 kernel.get("process_doc_us_per_doc", 0))
                    for t in tags]
        return {
            **_median_dicts(per_pass),
            "kernels.error_docs": self.error_docs,
            "plans.checkpoint.jobs": len(log.jobs_of("ckpt")),
            "plans.checkpoint.scan_amplification":
                ck["sources.scan_bytes"] / self.input_bytes,
            "plans.checkpoint.rework_docs":
                ck["operators.fused.rows_in"] - self.docs,
            "plans.checkpoint.persist_peak_bytes": log.peak_cached_bytes,
            "plans.checkpoint.write_s": spans["write"],
            "plans.checkpoint.bytes_written":
                sum(s.output_bytes for s in stages),
            "plans.checkpoint.files_written": self.files_written,
            # Spark-driver time outside SQL executions: bucket markers,
            # group planning, the crash and the restart
            "plans.checkpoint.marker_s": self.cycle_s - spans["all"],
            "plans.metrics.rollup_s": spans["rollup"],
        }


# (operator module, contract query): one downstream query per module
CORPUS_QUERIES = (
    ("dedup", "dedup_jaccard"),
    ("components", "dedup_components"),
    ("index", "bm25_topk"),
    ("analysis", "lm_ppl_buckets"),
    ("urls", "regdomain_stats"),
)


class CorpusOps(Workload):
    """Downstream contract queries over a documents table, in an order
    the seed permutes, with the cache cleared between sweeps."""

    docs = 1000

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.order = [q for _, q in CORPUS_QUERIES]
        random.Random(self.seed).shuffle(self.order)
        self.module = {q: m for m, q in CORPUS_QUERIES}
        self.query_s: Dict[str, List[float]] = {q: [] for q in self.order}
        self.storage_end: List[int] = []

    def prepare(self) -> Tally:
        import __spark_entry__ as entry

        path = os.path.join(self.work, "documents.parquet")
        corpus.write_documents(path, self.seed, self.docs)
        sqls = entry.oracle_sql()
        self.expected = corpus.oracle_rows(path, {q: sqls[q]
                                                  for q in self.order})
        self.queries = entry.queries()
        return Tally()

    def _storage_bytes(self, spark) -> int:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def warm(self, spark) -> Tally:
        tally = Tally()
        for q in self.order:
            set_group(spark, f"warm:{q}")
            table = self.queries[q](spark, self.work).toArrow()
            got = corpus.canonical_rows(table.column_names,
                                        zip(*(c.to_pylist()
                                              for c in table.columns)))
            tally += Tally(1, int(got != self.expected[q]))
        spark.catalog.clearCache()
        return tally

    def timed(self, spark, tag: str) -> Tuple[float, Tally]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F  # noqa: N812

        total, tally = 0.0, Tally()
        for q in self.order:
            obs = Observation()
            set_group(spark, f"{tag}:{q}")
            dt = _timed_noop(lambda: self.queries[q](spark, self.work)
                             .observe(obs, F.count(F.lit(1)).alias("rows")))
            self.query_s[q].append(dt)
            total += dt
            tally += Tally(1, int(obs.get["rows"] != len(self.expected[q])))
        self.storage_end.append(self._storage_bytes(spark))
        spark.catalog.clearCache()
        return total, tally

    def layers(self, log: EventLog, tags: List[str],
               kernel: Dict[str, float]) -> Dict[str, float]:
        out: Dict[str, float] = {}
        for q in self.order:
            key = f"operators.{self.module[q]}.{q}"
            out[f"{key}_s"] = statistics.median(self.query_s[q])
            out[f"{key}_shuffle_bytes"] = statistics.median(
                sum(s.shuffle_write_bytes for s in log.stages_of(f"{t}:{q}"))
                for t in tags)
        sweeps = [[s for q in self.order for s in log.stages_of(f"{t}:{q}")]
                  for t in tags]
        out["spark.gc_s"] = statistics.median(
            sum(s.gc_s for s in st) for st in sweeps)
        out["spark.spill_bytes"] = statistics.median(
            sum(s.spill_bytes for s in st) for st in sweeps)
        out["operators.storage_mem_bytes_end"] = self.storage_end[-1]
        return out


WORKLOADS = {
    "pdf_extract": PdfExtract,
    "corpus_ops": CorpusOps,
}
