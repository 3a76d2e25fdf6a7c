"""Kernel span pass: per-layer kernel time from spans recorded here.

The pass calls the public `process_doc` on a sample of a workload's
documents in this process, with the kernel entry points that
`process_doc` and `extract_doc` look up replaced by timing wrappers for
the duration of the pass. Spans live in memory (one list) and are
written out when the pass ends. A span's self time is its duration
minus the time its child spans cover.

The same sample is also run without the wrappers; the ratio of the two
wall times, less one, is the tracing overhead.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Sequence, Tuple

# (module, attribute, layer): the lookups process_doc / extract_doc make
WRAPPED = (
    ("edspdf_spark.operators.fused", "extract_doc", "kernels.extract"),
    ("edspdf_spark.operators.fused", "classify_with_masks",
     "kernels.alignment"),
    ("edspdf_spark.operators.fused", "aggregate_doc", "kernels.aggregate"),
    ("edspdf_spark.operators.fused", "extract_html_text", "kernels.html"),
    ("edspdf_spark.kernels.extract", "parse_pdf", "kernels.pdf"),
    ("edspdf_spark.kernels.extract", "reading_order",
     "kernels.reading_order"),
)
ROOT_SPAN = "operators.fused.process_doc"


class Tracer:
    """Spans as [doc, name, parent index, start ns, end ns]."""

    def __init__(self) -> None:
        self.spans: List[list] = []
        self._stack: List[int] = []
        self.doc = ""

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else -1
            self.spans.append([self.doc, name, parent,
                               time.perf_counter_ns(), 0])
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx][4] = time.perf_counter_ns()
        return traced

    @contextmanager
    def installed(self):
        saved = []
        try:
            for mod_name, attr, name in WRAPPED:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(name, getattr(mod, attr)))
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def self_ns(self) -> Dict[str, int]:
        """Total self time per span name."""
        child = [0] * len(self.spans)
        for _, _, parent, start, end in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: Dict[str, int] = {}
        for (_, name, _, start, end), c in zip(self.spans, child):
            out[name] = out.get(name, 0) + (end - start - c)
        return out

    def total_ns(self, name: str) -> int:
        return sum(e - s for _, n, _, s, e in self.spans if n == name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for doc, name, parent, start, end in self.spans:
                fh.write(json.dumps({"doc": doc, "name": name,
                                     "parent": parent, "start_ns": start,
                                     "end_ns": end}) + "\n")


def kernel_pass(docs: Sequence[Tuple[str, bytes]], spans_path: str,
                reps: int = 3) -> Dict[str, float]:
    """Per-doc kernel self times (us) over `docs`, plus the overhead."""
    from edspdf_spark.operators.fused import process_doc

    from __spark_entry__ import PIPE_CFG

    def sweep(tracer=None) -> float:
        fn = process_doc if tracer is None \
            else tracer.wrap(ROOT_SPAN, process_doc)
        t0 = time.perf_counter()
        for url, payload in docs:
            if tracer is not None:
                tracer.doc = url
            fn(url, payload, PIPE_CFG)
        return time.perf_counter() - t0

    plain, traced = [], []
    for _ in range(reps):
        plain.append(sweep())
        tracer = Tracer()
        with tracer.installed():
            traced.append(sweep(tracer))
    tracer.write(spans_path)  # the last repetition's spans

    n = len(docs)
    self_ns = tracer.self_ns()
    root = tracer.total_ns(ROOT_SPAN)
    us = {name: self_ns.get(name, 0) / n / 1e3 for _, _, name in WRAPPED}
    return {
        "kernels.pdf.parse_us_per_doc": us["kernels.pdf"],
        "kernels.extract.walk_us_per_doc": us["kernels.extract"],
        "kernels.reading_order.us_per_doc": us["kernels.reading_order"],
        "kernels.alignment.classify_us_per_doc": us["kernels.alignment"],
        "kernels.aggregate.us_per_doc": us["kernels.aggregate"],
        "kernels.html.extract_us_per_doc": us["kernels.html"],
        "trace.overhead_share":
            statistics.median(traced) / statistics.median(plain) - 1,
        # not per-layer metrics: used for the fused overhead share and
        # the self-time accounting check
        "process_doc_us_per_doc": statistics.median(plain) / n * 1e6,
        "unattributed_share": self_ns.get(ROOT_SPAN, 0) / root if root else 0,
    }
