"""Frozen kernel outputs: the in-repo stand-in for the reference-only
parity tests.

For each synth doc `make_pdf_bytes(0..399)` the fixture
`tests/kernel_goldens.json` pins, as md5 prefixes:

* the fused per-doc rows (`process_doc` with the entry's `PIPE_CFG`)
  and the styled `extract_doc` result (floats as `repr`);
* the same two digests over each of the 9 `ALL_MUTATIONS` mutants,
  plus the mutant's own bytes, which pins the rewriters;
* the same two digests over the `random.Random(7)` 15-mutant byte
  fuzz of `test_pdf_mutations.py`, which pins the error rows;
* the bytes of `annotate_pdf(doc, its blocs)`.

A raise is pinned as `raise <Type>: <message>`. Regenerate with
`python jobs/freeze_goldens.py kernel` after a deliberate change to
what the kernels emit; the test never skips."""

import hashlib
import json
import os
import random

from edspdf_spark.kernels.extract import extract_doc
from edspdf_spark.kernels.pdf import annotate_pdf
from edspdf_spark.kernels.pdf_rewrite import ALL_MUTATIONS
from edspdf_spark.operators.fused import process_doc
from edspdf_spark.synth import make_pdf_bytes

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "kernel_goldens.json")
N_DOCS = 400
FUZZ_PER_DOC = 15
LABELS = ("header", "body", "footer")
PIECES = (["process", "extract", "annotate"]
          + [f"{m}:{part}" for m in sorted(ALL_MUTATIONS)
             for part in ("bytes", "process", "extract")]
          + ["fuzz:process", "fuzz:extract"])


def _md5(payload: bytes) -> str:
    return hashlib.md5(payload).hexdigest()[:16]


def _raised(exc: Exception) -> str:
    return f"raise {type(exc).__name__}: {exc}"


def _digests(url: str, data: bytes, cfg):
    """(process digest input, extract digest input) for one payload."""
    rows = repr(process_doc(url, data, cfg))
    try:
        res = repr(extract_doc(data, extract_style=True))
    except Exception as exc:  # pinned, not hidden: extract_doc may raise
        res = _raised(exc)
    return rows, res


def _fuzz(doc: bytes, rng: random.Random):
    """The seeded byte fuzz of test_pdf_mutations.py: each mutant
    overwrites 1-4 bytes, truncates, or inserts 1-8 bytes."""
    for _trial in range(FUZZ_PER_DOC):
        data = bytearray(doc)
        kind = rng.randrange(3)
        if kind == 0:
            for _ in range(rng.randint(1, 4)):
                data[rng.randrange(len(data))] = rng.randrange(256)
        elif kind == 1:
            del data[rng.randrange(len(data)):]
        else:
            pos = rng.randrange(len(data) + 1)
            data[pos:pos] = bytes(rng.randrange(256)
                                  for _ in range(rng.randint(1, 8)))
        yield bytes(data)


def kernel_digests(n_docs: int = N_DOCS):
    """Yield (doc index, {piece: digest}) for docs 0..n_docs-1, in
    order (the fuzz RNG is shared across docs)."""
    from __spark_entry__ import PIPE_CFG

    rng = random.Random(7)
    for i in range(n_docs):
        doc = make_pdf_bytes(i)
        url = f"doc{i}"
        out = {}
        rows, res = _digests(url, doc, PIPE_CFG)
        out["process"], out["extract"] = _md5(rows.encode()), \
            _md5(res.encode())
        blocs = extract_doc(doc)["blocs"]
        anns = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"],
                 LABELS[k % 3]) for k, b in enumerate(blocs)]
        try:
            out["annotate"] = _md5(annotate_pdf(doc, anns))
        except Exception as exc:
            out["annotate"] = _raised(exc)
        for name in sorted(ALL_MUTATIONS):
            try:
                mutant = ALL_MUTATIONS[name](doc)
            except Exception as exc:
                for part in ("bytes", "process", "extract"):
                    out[f"{name}:{part}"] = _raised(exc)
                continue
            rows, res = _digests(url, mutant, PIPE_CFG)
            out[f"{name}:bytes"] = _md5(mutant)
            out[f"{name}:process"] = _md5(rows.encode())
            out[f"{name}:extract"] = _md5(res.encode())
        fuzzed = [_digests(url, m, PIPE_CFG) for m in _fuzz(doc, rng)]
        out["fuzz:process"] = _md5(repr([r for r, _ in fuzzed]).encode())
        out["fuzz:extract"] = _md5(repr([e for _, e in fuzzed]).encode())
        yield i, out


def write_fixture(path: str = FIXTURE) -> int:
    """Write the fixture, one line per doc; returns the doc count."""
    lines = [json.dumps([out[p] for p in PIECES])
             for _i, out in kernel_digests()]
    with open(path, "w") as f:
        f.write('{"pieces": %s,\n "docs": [\n  ' % json.dumps(PIECES))
        f.write(",\n  ".join(lines))
        f.write("\n]}\n")
    return len(lines)


def test_kernel_outputs_match_frozen_digests():
    with open(FIXTURE) as f:
        frozen = json.load(f)
    assert frozen["pieces"] == PIECES
    assert len(frozen["docs"]) == N_DOCS
    bad = []
    for i, out in kernel_digests():
        for piece, want in zip(PIECES, frozen["docs"][i]):
            if out[piece] != want:
                bad.append(f"doc {i} {piece}: {out[piece]} != frozen {want}")
    assert not bad, f"{len(bad)} mismatches, first: " + "; ".join(bad[:10])
