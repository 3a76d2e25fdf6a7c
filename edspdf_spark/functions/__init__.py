"""Portable text primitives shared by the dedup/analysis operators
and their DuckDB oracles.

This module owns the token and hash format for every engine, in three
renderings kept side by side: a JVM-side Column expression (whole-stage
codegen, no Python), a DuckDB SQL string for the oracles, and a Python
twin for the doc-local Arrow kernels.

* tokens: split on a single space, empties dropped.
* n-grams: windows of n tokens joined with one space.
* code15: the first 15 hex chars of md5 (of the UTF-8 bytes) as a
  BIGINT — Spark conv/substring, DuckDB '0x'||substr(...)::BIGINT,
  Python int(hexdigest[:15], 16). This is what lets every dedup query
  carry an exact SQL oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F  # noqa: N812

# modulus for minhash arithmetic: small enough that a*code+b never
# overflows int64 under ANSI mode (a,b,code < 2^20 * 2^20 < 2^40)
CODE_MOD = 1_000_003

# fixed affine-hash parameters (deterministic across engines/runs)
MINHASH_AB = [(7, 3), (11, 17), (13, 29), (19, 41), (23, 57), (29, 71),
              (31, 87), (37, 101), (41, 113), (43, 131), (47, 151),
              (53, 173)]


def code15(col) -> Column:
    """First 15 hex chars of md5 as BIGINT (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def code15_sql(expr: str) -> str:
    """The DuckDB-side rendering of code15 for oracle SQL strings."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def tokens(text_col) -> Column:
    """Whitespace tokens, empties dropped (split on single space, NOT a
    regex: dialects differ; array_remove, not an interpreted lambda)."""
    return F.array_remove(F.split(text_col, " "), "")


def tokens_py(text: str) -> list:
    """Python twin of `tokens`."""
    return [w for w in text.split(" ") if w]


def ngrams_py(toks: list, n: int, step: int = 1) -> list:
    """Windows of n tokens joined with one space, one starting every
    `step` tokens and none running past the end (fewer than n tokens
    -> none). step=1 cuts overlapping shingles, step=n non-overlapping
    passages."""
    return [" ".join(toks[i:i + n])
            for i in range(0, len(toks) - n + 1, step)]


def code15_py(s: str) -> int:
    """Python twin of `code15`."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_exprs(code_col, n_hashes: int):
    """One min-hash aggregate expression per hash function, to use
    after exploding shingle codes: min((a*code + b) % CODE_MOD)."""
    assert n_hashes <= len(MINHASH_AB)
    out = []
    for j, (a, b) in enumerate(MINHASH_AB[:n_hashes]):
        h = (F.lit(a) * (code_col % CODE_MOD) + F.lit(b)) % CODE_MOD
        out.append(F.min(h).alias(f"h{j}"))
    return out


def quantize(vec_col, scale: int = 1000) -> Column:
    """float vector -> integer vector (round(x*scale)). Integer dot
    products are order-independent and engine-portable, unlike float
    sums; this is also the standard int8-style ANN quantization."""
    return F.transform(vec_col, lambda x: F.round(x * scale).cast("bigint"))


def int_dot(a_col, b_col) -> Column:
    """Exact integer dot product via zip_with + fold (JVM-side)."""
    return F.aggregate(F.zip_with(a_col, b_col, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def lsh_params(threshold: float, n_hashes: int):
    """Choose the LSH banding (band_size r, n_bands b = n/r) whose
    S-curve midpoint (1/b)^(1/r) sits closest to the target Jaccard
    threshold, and report the curve: P(candidate | s) = 1-(1-s^r)^b.

    Returns dict(band_size, n_bands, midpoint, p_at_threshold,
    p_at_075t, p_at_125t) — the false-negative/false-positive dials a
    dedup config review wants on the table. Pure driver-side math."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    divisors = [r for r in range(1, n_hashes + 1) if n_hashes % r == 0]
    best = None
    for r in divisors:
        b = n_hashes // r
        mid = (1.0 / b) ** (1.0 / r)
        if best is None or abs(mid - threshold) < abs(best[2] - threshold):
            best = (r, b, mid)
    r, b, mid = best

    def p(s: float) -> float:
        s = min(max(s, 0.0), 1.0)
        return 1.0 - (1.0 - s ** r) ** b

    return {"band_size": r, "n_bands": b, "midpoint": mid,
            "p_at_threshold": p(threshold),
            "p_at_075t": p(0.75 * threshold),
            "p_at_125t": p(1.25 * threshold)}
