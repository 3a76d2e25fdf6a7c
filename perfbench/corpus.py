"""Benchmark inputs and the expectations their outputs are checked against.

Every input is a pure function of the workload seed:

* pages tables (`url, warc_ts, html, text, lang`) hold `synth` documents
  for the doc indices `offset(seed) + [0, n)`. The offset is a multiple of
  lcm(3, 5, 7, 9, 13, 17), so every seed keeps the recipe's exact mix
  (1/5 Flate, 1/9 ObjStm, 1/13 corrupt, 1/17 oversized, 1/7 styled)
  while the bytes change;
* the documents table (`doc_id, text, lang, source, n_chars`) has the
  shape of the contract queries' testdata table, with every 20th doc a
  near copy
  of its predecessor so the dedup operators find clusters.

Expectations never go through Spark: per-url digests come from the plain
single-process `process_doc`, and a slice of each pages table is checked
against the closed-form DuckDB oracles in `__spark_entry__`.
"""

from __future__ import annotations

import hashlib
import json
import random
import subprocess
import sys
from collections import defaultdict
from typing import Dict, Iterable, List, Tuple

MIX_PERIOD = 3 * 5 * 7 * 3 * 13 * 17  # lcm of the synth recipe's moduli
URL_FMT = "https://example.org/doc/{:08d}.pdf"
# the testdata documents vocabulary (31 words, uniform)
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def doc_offset(seed: int) -> int:
    return (1 + seed % 1000) * MIX_PERIOD


def _payload(kind: str, i: int) -> bytes:
    from edspdf_spark import synth

    return synth.make_pdf_bytes(i) if kind == "pdf" \
        else synth.synth_html_bytes(i)


def write_pages(path: str, kind: str, lo: int, n: int) -> int:
    """Write the pages table for doc indices [lo, lo + n); returns bytes."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1)
    idx = range(lo, lo + n)
    table = pa.table({
        "url": [URL_FMT.format(i) for i in idx],
        "warc_ts": [t0 + dt.timedelta(seconds=i) for i in idx],
        "html": pa.array([_payload(kind, i) for i in idx], pa.binary()),
        "text": [""] * n,
        "lang": [("en", "fr", "de")[i % 3] for i in idx],
    })
    # several row groups, so the scan is not serialized into one task
    pq.write_table(table, path, row_group_size=max(1, n // 8))
    return os.path.getsize(path)


def write_documents(path: str, seed: int, n: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: List[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB)
                                  for _ in range(rng.randint(8, 100))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


# ---------------------------------------------------------------------------
# per-url digests
# ---------------------------------------------------------------------------

def digest(rows: Iterable[Tuple]) -> str:
    """Digest of one url's output rows, each (label, text, error)."""
    canon = sorted((lab or "", txt or "", bool(err)) for lab, txt, err in rows)
    return hashlib.md5(json.dumps(canon).encode()).hexdigest()


def digests_of(rows: Iterable[Tuple]) -> Dict[str, str]:
    """(url, label, text, error) rows -> {url: digest}.

    A url emitted twice has its rows doubled, so its digest differs."""
    by_url: Dict[str, List[Tuple]] = defaultdict(list)
    for url, lab, txt, err in rows:
        by_url[url].append((lab, txt, err))
    return {u: digest(r) for u, r in by_url.items()}


def digests_of_table(table) -> Dict[str, str]:
    return digests_of(zip(*(table.column(c).to_pylist()
                            for c in ("url", "label", "text", "error"))))


def count_mismatches(expected: Dict[str, str], got: Dict[str, str]) -> int:
    """Urls that are missing, duplicated, unexpected or differ."""
    bad = sum(1 for u, d in expected.items() if got.get(u) != d)
    return bad + sum(1 for u in got if u not in expected)


def _expect(kind: str, lo: int, hi: int) -> Dict[str, str]:
    from edspdf_spark.operators.fused import process_doc

    from __spark_entry__ import PIPE_CFG

    out = {}
    for i in range(lo, hi):
        url = URL_FMT.format(i)
        rows = process_doc(url, _payload(kind, i), PIPE_CFG)
        out[url] = digest((r[1], r[2], r[4]) for r in rows)
    return out


def expected_digests(kind: str, lo: int, n: int, procs: int,
                     root: str) -> Dict[str, str]:
    """{url: digest} from plain `process_doc`, in `procs` child
    processes started from the checkout at `root`."""
    step = -(-n // procs)
    children = [subprocess.Popen(
        [sys.executable, "-m", "perfbench.corpus", kind, str(a),
         str(min(a + step, lo + n))], cwd=root, stdout=subprocess.PIPE)
        for a in range(lo, lo + n, step)]
    out: Dict[str, str] = {}
    try:
        for child in children:
            data, _ = child.communicate()
            if child.returncode != 0:
                raise RuntimeError(
                    f"expectation worker exited {child.returncode}")
            out.update(json.loads(data))
    finally:
        for child in children:
            if child.poll() is None:
                child.kill()
            child.wait()
    return out


def oracle_slice_mismatches(kind: str, lo: int, n: int,
                            expected: Dict[str, str]) -> int:
    """Check expectations for doc indices [lo, lo + n) against the
    closed-form DuckDB oracle of `__spark_entry__`."""
    import duckdb

    import __spark_entry__ as entry

    make = entry._synth_pipeline_oracle if kind == "pdf" \
        else entry._synth_html_oracle
    sql = make(n)
    series = f"generate_series(0, {n - 1})"
    if series not in sql:
        raise RuntimeError("oracle SQL no longer has its doc-index series")
    sql = sql.replace(series, f"generate_series({lo}, {lo + n - 1})")
    con = duckdb.connect()
    try:
        res = con.sql(sql)
        names = res.columns
        rows = res.fetchall()
    finally:
        con.close()
    u, lab, txt = (names.index(c) for c in ("url", "label", "text"))
    err = names.index("error") if "error" in names else None
    got = digests_of(
        (r[u], r[lab] or None, r[txt] or None,
         bool(r[err]) if err is not None else False) for r in rows)
    sliced = {URL_FMT.format(i): expected[URL_FMT.format(i)]
              for i in range(lo, lo + n)}
    return count_mismatches(sliced, got)


# ---------------------------------------------------------------------------
# corpus queries: canonical row sets
# ---------------------------------------------------------------------------

def canonical_rows(names: List[str], rows: Iterable[Tuple]) -> List[str]:
    """Row set with columns sorted by name, as sorted JSON lines."""
    order = sorted(range(len(names)), key=lambda k: names[k])
    return sorted(json.dumps([r[k] for k in order], default=str)
                  for r in rows)


def oracle_rows(doc_path: str, sqls: Dict[str, str]) -> Dict[str, List[str]]:
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{doc_path}'")
        out = {}
        for name, sql in sqls.items():
            res = con.sql(sql)
            out[name] = canonical_rows(res.columns, res.fetchall())
        return out
    finally:
        con.close()


if __name__ == "__main__":  # expectation worker: kind lo hi -> JSON
    print(json.dumps(_expect(sys.argv[1], int(sys.argv[2]),
                             int(sys.argv[3]))))
