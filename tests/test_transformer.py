"""Box-transformer numpy kernel (kernels/transformer.py) — reference
layer semantics without torch, checked by structural properties and an
independent vanilla-attention reimplementation."""

import math

import numpy as np
import pytest

from edspdf_spark.kernels.transformer import (box_transformer_page,
                                              box_transformer_weights,
                                              compute_pdf_relative_positions,
                                              gather_dim, gelu, layer_norm,
                                              make_heads, relative_attention,
                                              softmax, transformer_layer)


def _boxes(n, rng):
    x0 = rng.rand(n) * 0.5
    y0 = np.sort(rng.rand(n)) * 0.7
    return {"x0": x0, "x1": x0 + 0.2, "y0": y0, "y1": y0 + 0.012,
            "width": np.full(n, 0.2), "height": np.full(n, 0.012)}


def test_gelu_exact_erf_values():
    assert gelu(np.array([0.0]))[0] == 0.0
    x = 1.3
    expect = 0.5 * x * (1 + math.erf(x / math.sqrt(2)))
    assert gelu(np.array([x]))[0] == pytest.approx(expect, abs=1e-15)


def test_layer_norm_matches_definition():
    x = np.array([[1.0, 2.0, 3.0, 10.0]])
    g, b = np.full(4, 2.0), np.full(4, 0.5)
    out = layer_norm(x, g, b)
    mu, var = x.mean(), x.var()
    exp = (x - mu) / np.sqrt(var + 1e-5) * 2.0 + 0.5
    assert np.allclose(out, exp, atol=1e-12)


def test_gather_dim_matches_loops():
    rng = np.random.RandomState(0)
    t = rng.randn(2, 5, 7, 3)
    idx = rng.randint(0, 5, size=(2, 4, 7, 3))
    got = gather_dim(t, idx, dim=1)
    assert got.shape == (2, 4, 7, 3)
    for n in range(2):
        for i in range(4):
            for j in range(7):
                for c in range(3):
                    assert got[n, i, j, c] == t[n, idx[n, i, j, c], j, c]


def test_relative_positions_hand_case():
    # A above B by 2 line-heights, same x
    x0 = np.array([[0.1, 0.1]])
    y0 = np.array([[0.1, 0.4]])
    y1 = np.array([[0.2, 0.5]])
    h = np.array([[0.1, 0.1]])
    rel = compute_pdf_relative_positions(
        x0=x0, y0=y0, x1=x0 + 0.2, y1=y1, width=np.full((1, 2), 0.2),
        height=h, n_relative_positions=64)
    assert rel.shape == (1, 2, 2, 2)
    assert rel[0, 0, 0].tolist() == [0, 0]          # self
    assert rel[0, 0, 1, 0] == 0                      # same x
    # dy0=0.5-0.1=0.4, dy1=0.4-0.2=0.2 both above -> ceil(2/1+0.5)=3
    assert rel[0, 0, 1, 1] == 3
    # reverse direction: fully below -> floor(max(-0.4,-0.2)/h - .5) = -3
    assert rel[0, 1, 0, 1] == -3


def test_c2c_only_matches_vanilla_attention():
    """mode=('c2c',) is standard multi-head attention (the reference
    docstring: setting mode=('c2c',) disables relative terms) — check
    against an independent from-scratch implementation."""
    size, heads, n = 8, 2, 5
    w = box_transformer_weights(size, n_heads=heads, n_layers=1, seed=3)
    lw = dict(w["layers"][0])
    rng = np.random.RandomState(1)
    content = rng.randn(1, n, size)
    mask = np.ones((1, n), dtype=bool)
    pooled, attn = relative_attention(
        lw, content, mask, None, None, n_heads=heads, mode=("c2c",))

    # independent vanilla implementation (plain reshapes + einsum)
    d = size // heads
    K = (content @ lw["key_w"] + lw["key_b"]).reshape(1, n, heads, d)
    Q = (content @ lw["query_w"] + lw["query_b"]).reshape(1, n, heads, d)
    V = (content @ lw["value_w"] + lw["value_b"]).reshape(1, n, heads, d)
    logits = np.einsum("nihd,njhd->nijh", Q, K) / math.sqrt(d)
    logits = logits / math.sqrt(1) + lw["head_bias"]
    wts = softmax(np.where(mask[:, None, :, None], logits, -10000.0),
                  axis=-2)
    expect = np.einsum("nijh,njhd->nihd", wts, V).reshape(1, n, size)
    assert np.allclose(pooled, expect, atol=1e-12)


def test_resweight_zero_is_identity_modulo_norms():
    """init_resweight=0 -> the layer is norm(norm(x)) (reference
    docstring: 'At 0, the layer acts (initially) as an identity')."""
    size = 8
    w = box_transformer_weights(size, n_layers=1, init_resweight=0.0, seed=5)
    lw = w["layers"][0]
    rng = np.random.RandomState(2)
    x = rng.randn(1, 4, size)
    mask = np.ones((1, 4), dtype=bool)
    got = transformer_layer(lw, x, mask, None, None, n_heads=2,
                            mode=("c2c",))
    ones, zeros = np.ones(size), np.zeros(size)
    exp = layer_norm(layer_norm(x, ones, zeros), ones, zeros)
    assert np.allclose(got, exp, atol=1e-12)


def test_box_transformer_page_shapes_and_determinism():
    size = 8
    w = box_transformer_weights(size, n_layers=2, seed=7)
    rng = np.random.RandomState(4)
    E = rng.randn(6, size)
    boxes = _boxes(6, rng)
    z1 = box_transformer_page(w, E, boxes)
    z2 = box_transformer_page(w, E, boxes)
    assert z1.shape == (6, size)
    assert np.array_equal(z1, z2)
    assert np.isfinite(z1).all()
    # position terms matter: moving ONE box changes the relative
    # geometry and hence the context (moving ALL boxes together would
    # not — relative positions are translation-invariant)
    boxes2 = {k: v.copy() for k, v in boxes.items()}
    boxes2["y0"][0] += 0.25
    boxes2["y1"][0] += 0.25
    z3 = box_transformer_page(w, E, boxes2)
    assert not np.allclose(z1, z3)


def test_box_transformer_spark_matches_kernel(spark):
    from edspdf_spark.operators.transformer import box_transformer_embed

    size = 8
    w = box_transformer_weights(size, n_layers=1, seed=9)
    rng = np.random.RandomState(6)
    rows = []
    expected = {}
    for url, n in [("u1", 3), ("u2", 5)]:
        E = rng.randn(n, size)
        boxes = _boxes(n, rng)
        Z = box_transformer_page(w, E, boxes)
        for k in range(n):
            rows.append((url, 0, k, float(boxes["x0"][k]),
                         float(boxes["x1"][k]), float(boxes["y0"][k]),
                         float(boxes["y1"][k]), *[float(v) for v in E[k]]))
            expected[(url, 0, k)] = Z[k]
    schema = ("url string, page_num int, order_idx int, x0 double,"
              " x1 double, y0 double, y1 double, "
              + ", ".join(f"b{c} double" for c in range(size)))
    df = spark.createDataFrame(rows, schema)
    out = box_transformer_embed(df, w)
    for r in out.collect():
        exp = expected[(r["url"], r["page_num"], r["order_idx"])]
        got = np.array([r[f"z{c}"] for c in range(size)])
        assert np.array_equal(got, exp), (r["url"], r["order_idx"])


_CORETYPE_PROBE = """
import hashlib
import numpy as np
from edspdf_spark.kernels.hf import attention_weights, hf_page_embed
from edspdf_spark.kernels.transformer import (box_transformer_page,
                                              box_transformer_weights)
rng = np.random.RandomState(4)
n, size = 36, 24
x0 = rng.rand(n) * 0.5
y0 = np.sort(rng.rand(n)) * 0.7
boxes = {"x0": x0, "x1": x0 + 0.2, "y0": y0, "y1": y0 + 0.012,
         "width": np.full(n, 0.2), "height": np.full(n, 0.012)}
z = box_transformer_page(box_transformer_weights(size, n_layers=2),
                         rng.randn(n, size), boxes)
page = ["alpha beta gamma delta epsilon " * 3 + str(i) for i in range(20)]
h = hf_page_embed(page, dim=16, window=40, stride=20,
                  contextualizer="attention", weights=attention_weights(16))
print(hashlib.md5(z.tobytes()).hexdigest(),
      hashlib.md5(np.ascontiguousarray(h).tobytes()).hexdigest())
"""


def test_float_products_do_not_depend_on_the_blas_kernel():
    """The box transformer and the hf attention contextualizer give the
    same bytes whichever OpenBLAS kernel the CPU selects: run in two
    processes pinned to different OPENBLAS_CORETYPE values (a
    (37x24)@(24x24) float64 `@` gives different bytes under each)."""
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    outs = []
    for core in ("Prescott", "Haswell"):
        env = dict(os.environ, OPENBLAS_CORETYPE=core,
                   PYTHONPATH=str(root))
        outs.append(subprocess.run(
            [sys.executable, "-c", _CORETYPE_PROBE], env=env, cwd=root,
            capture_output=True, text=True, check=True).stdout)
    assert outs[0] and outs[0] == outs[1]
