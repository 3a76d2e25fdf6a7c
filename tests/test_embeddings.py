"""Torch-free embedding stack (§2.7): vocabulary semantics, sinusoidal
table math, box-layout + text embeddings, combiner."""

import math

import numpy as np
import pytest

from edspdf_spark.operators.embeddings import (Vocabulary,
                                               box_layout_embed,
                                               build_text_vocabs,
                                               build_vocab_distributed,
                                               combine_embeddings,
                                               sinusoidal_table,
                                               text_embed_weights,
                                               text_token_embed)


# ---------------------------------------------------------------------------
# Vocabulary (layers/vocabulary.py:9-80 semantics)
# ---------------------------------------------------------------------------

def test_vocabulary_initialization_mode():
    v = Vocabulary(["__unk__"], default=0)
    assert v.encode("new") == 0  # OOV outside initialization -> default
    with v.initialization():
        assert v.encode("new") == 1
        assert v.encode("other") == 2
        assert v.encode("new") == 1  # idempotent
    assert v.encode("unseen") == 0
    assert v.decode(2) == "other"
    assert len(v) == 3


# ---------------------------------------------------------------------------
# sinusoidal table (layers/sinusoidal_embedding.py:43-52)
# ---------------------------------------------------------------------------

def test_sinusoidal_table_golden():
    t = sinusoidal_table(8, 4, temperature=10000.0)
    # position 0: sin(0)=0 on even channels, cos(0)=1 on odd
    assert t[0].tolist() == [0.0, 1.0, 0.0, 1.0]
    # dim 4 -> div_term = exp([0,2] * -ln(1e4)/4) = [1, 1e-2]
    d1 = math.exp(2 * (-math.log(10000.0) / 4))
    assert t[3][0] == pytest.approx(math.sin(3.0))
    assert t[3][1] == pytest.approx(math.cos(3.0))
    assert t[3][2] == pytest.approx(math.sin(3.0 * d1))
    assert t[3][3] == pytest.approx(math.cos(3.0 * d1))


# ---------------------------------------------------------------------------
# box-layout embedding (box_layout_embedding.py:87-105)
# ---------------------------------------------------------------------------

def test_box_layout_embed_values(spark):
    fp = np.arange(12, dtype=np.float64) / 10
    lp = -np.arange(12, dtype=np.float64) / 10
    df = spark.createDataFrame(
        [("u", 0, 2, 0.25, 0.75, 0.5, 0.515625)],
        "url string, page_num int, num_pages int, x0 double, x1 double,"
        " y0 double, y1 double")
    out = box_layout_embed(df, size=12, n_positions=64,
                           first_page_vec=fp, last_page_vec=lp).collect()[0]
    table = sinusoidal_table(64, 2)
    # indices: x0 .25*64=16, y0 .5*64=32, x1 .75*64=48, y1 33, w 32, h 5
    idxs = [16, 32, 48, 33, 32, 5]
    for c in range(12):
        feat, ch = divmod(c, 2)
        expected = table[idxs[feat]][ch] + fp[c] * 1.0  # first page only
        assert out[f"b{c}"] == expected, c


def test_box_layout_embed_clamps(spark):
    df = spark.createDataFrame(
        [("u", 1, 2, 0.999, 5.0, 0.0, 0.999)],
        "url string, page_num int, num_pages int, x0 double, x1 double,"
        " y0 double, y1 double")
    out = box_layout_embed(df, size=12, n_positions=64,
                           first_page_vec=np.zeros(12),
                           last_page_vec=np.zeros(12)).collect()[0]
    table = sinusoidal_table(64, 2)
    assert out["b4"] == table[63][0]  # x1 clamped to n_positions-1
    assert out["b10"] == table[63][0]  # height .999*5*64 clamped


def test_box_layout_embed_plan_native(spark):
    """The box embedding is pure column math: no Python eval, no
    exchange on top of the input."""
    df = spark.range(100).selectExpr(
        "cast(id as string) AS url", "cast(0 as int) AS page_num",
        "cast(1 as int) AS num_pages",
        "cast(id % 50 AS DOUBLE)/100 AS x0",
        "cast(id % 50 + 20 AS DOUBLE)/100 AS x1",
        "cast(id % 40 AS DOUBLE)/100 AS y0",
        "cast(id % 40 + 3 AS DOUBLE)/100 AS y1")
    plan = box_layout_embed(df, size=12)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# text embedding (simple_text_embedding.py preprocess+forward)
# ---------------------------------------------------------------------------

def _mini_vocab_weights():
    vocabs = build_text_vocabs(["alpha beta", "Page 12"])
    weights = text_embed_weights(vocabs, dim=4, seed=1)
    return vocabs, weights


def test_text_token_embed_matches_kernel(spark):
    from edspdf_spark.kernels.textfeatures import text_token_features

    vocabs, weights = _mini_vocab_weights()
    # the empty and NULL blocs have no tokens: their sum is zero
    rows = [("u1", 0, "alpha beta"), ("u1", 1, "Page 12"),
            ("u2", 0, "beta beta unseen"), ("u3", 0, ""), ("u4", 0, None)]
    df = spark.createDataFrame(rows, "url string, order_idx int, text string")
    got = {(r["url"], r["order_idx"]): [r[f"t{c}"] for c in range(4)]
           for r in text_token_embed(df, vocabs, weights).collect()}
    assert len(got) == len(rows)
    for url, oi, text in rows:
        acc = np.zeros(4, dtype=np.int64)
        for feats in text_token_features(text or ""):
            for fam in ("shape", "prefix", "suffix"):
                acc += weights[fam][vocabs[fam].indices.get(feats[fam], 0)]
        assert got[(url, oi)] == acc.tolist(), (url, oi)


def test_text_token_embed_oov_uses_unk():
    vocabs, _ = _mini_vocab_weights()
    assert vocabs["prefix"].encode("zzz") == 0  # __unk__


def test_vocab_disk_roundtrip(tmp_path):
    from edspdf_spark.operators.embeddings import load_vocabs, save_vocabs

    vocabs = build_text_vocabs(["alpha beta Gamma 42"])
    save_vocabs(vocabs, str(tmp_path / "voc"))
    back = load_vocabs(str(tmp_path / "voc"))
    for fam in ("shape", "prefix", "suffix"):
        assert back[fam].indices == vocabs[fam].indices
        assert back[fam].encode("__never_seen__") == 0  # unk default


def test_build_vocab_distributed_sorted_ids(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "item string")
    got = {r["item"]: r["id"]
           for r in build_vocab_distributed(df, "item").collect()}
    assert got == {"__unk__": 0, "a": 1, "b": 2, "c": 3}


# ---------------------------------------------------------------------------
# sub-box-cnn-pooler (sub_box_cnn_pooler.py:87-112)
# ---------------------------------------------------------------------------

def test_cnn_pool_bloc_hand_golden():
    from edspdf_spark.operators.embeddings import cnn_pool_bloc

    # k=2: pad [1, 0]; W picks padded[pos][0] + padded[pos+1][1]
    w = np.zeros((1, 2, 2), dtype=np.int64)
    w[0, 0, 0] = 1
    w[0, 1, 1] = 1
    weights = {"convs": [(w, np.array([1], dtype=np.int64))],
               "kernel_sizes": [2],
               "linear": (np.array([[2]], dtype=np.int64),
                          np.array([-1], dtype=np.int64)),
               "out_channels": 1, "output_size": 1, "in_size": 2}
    E = np.array([[1, 2], [3, 4], [5, 6]], dtype=np.int64)
    # conv: [0+2, 1+4, 3+6] + 1 = [3, 6, 10]; relu; max 10; 2*10-1
    assert cnn_pool_bloc(E, weights).tolist() == [19]


def test_cnn_pool_bloc_relu_and_padding():
    from edspdf_spark.operators.embeddings import cnn_pool_bloc

    w = np.full((1, 1, 3), -1, dtype=np.int64)  # k=3: pad [1, 1]
    weights = {"convs": [(w, np.array([0], dtype=np.int64))],
               "kernel_sizes": [3],
               "linear": (np.array([[1]], dtype=np.int64),
                          np.array([0], dtype=np.int64)),
               "out_channels": 1, "output_size": 1, "in_size": 1}
    E = np.array([[1], [1]], dtype=np.int64)
    # conv: pos0 window [0,1,1] -> -2; pos1 [1,1,0] -> -2; relu -> 0
    assert cnn_pool_bloc(E, weights).tolist() == [0]


def test_text_cnn_pool_matches_numpy(spark):
    from edspdf_spark.kernels.textfeatures import text_token_features
    from edspdf_spark.operators.embeddings import (cnn_pool_bloc,
                                                   cnn_pool_weights,
                                                   text_cnn_pool)

    vocabs, weights = _mini_vocab_weights()  # dim 4
    cnn = cnn_pool_weights(in_size=4, out_channels=2, kernel_sizes=(2, 3),
                           output_size=3, seed=5)
    # a bloc with no tokens (empty or NULL text) pools one zero row
    rows = [("u1", 0, "alpha beta"), ("u2", 0, "Page 12 beta alpha beta"),
            ("u3", 0, ""), ("u4", 0, None)]
    df = spark.createDataFrame(rows, "url string, order_idx int, text string")
    got = {r["url"]: [r[f"c{c}"] for c in range(3)]
           for r in text_cnn_pool(df, vocabs, weights, cnn).collect()}
    assert len(got) == len(rows)
    for url, _oi, text in rows:
        toks = text_token_features(text or "")
        E = np.zeros((max(len(toks), 1), 4), dtype=np.int64)
        for t, feats in enumerate(toks):
            for fam in ("shape", "prefix", "suffix"):
                E[t] += weights[fam][vocabs[fam].indices.get(feats[fam], 0)]
        assert got[url] == cnn_pool_bloc(E, cnn).tolist(), url


# ---------------------------------------------------------------------------
# combiner (embedding_combiner.py:40-77)
# ---------------------------------------------------------------------------

def test_combine_embeddings_sum_and_cat(spark):
    df = spark.createDataFrame([(1.0, 2.0, 10.0, 20.0)],
                               "a0 double, a1 double, b0 double, b1 double")
    s = combine_embeddings(df, ["a", "b"], [2, 2], mode="sum").collect()[0]
    assert (s["e0"], s["e1"]) == (11.0, 22.0)
    c = combine_embeddings(df, ["a", "b"], [2, 2], mode="cat").collect()[0]
    assert (c["e0"], c["e1"], c["e2"], c["e3"]) == (1.0, 2.0, 10.0, 20.0)


def test_combine_embeddings_sum_requires_equal_dims(spark):
    df = spark.createDataFrame([(1.0, 2.0, 3.0)],
                               "a0 double, a1 double, b0 double")
    with pytest.raises(AssertionError):
        combine_embeddings(df, ["a", "b"], [2, 1], mode="sum")
