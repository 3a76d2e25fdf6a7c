"""Trainable bloc classifier: deterministic numpy training, native
Spark inference parity, end-to-end accuracy on mask-derived gold."""

import numpy as np
import pytest

from edspdf_spark import synth
from edspdf_spark.operators import blocs, extract
from edspdf_spark.operators.trainable import (bloc_features,
                                              classify_native, predict_np,
                                              train)


@pytest.fixture(scope="module")
def featurized(spark):
    pages = synth.pages_spark(spark, 30, num_partitions=4)
    ft = bloc_features(blocs(extract(pages))).cache()
    ft.count()
    return ft


@pytest.fixture(scope="module")
def gold(featurized):
    """Gold labels from geometry: header above 0.1, footer below 0.9,
    else body — learnable from the box-layout features."""
    pdf = featurized.toPandas()
    pdf["label"] = np.where(pdf["y1"] < 0.1, "header",
                            np.where(pdf["y0"] > 0.9, "footer", "body"))
    return pdf


def test_training_is_deterministic_and_accurate(gold):
    m1 = train(gold)
    m2 = train(gold)
    assert m1 == m2
    pred = predict_np(m1, gold)
    acc = (pred == gold["label"].to_numpy()).mean()
    assert acc > 0.95, acc


def test_native_inference_matches_numpy(spark, featurized, gold):
    model = train(gold)
    got = classify_native(featurized, model).select(
        "url", "page_num", "order_idx", "label").toPandas()
    got = got.sort_values(["url", "page_num", "order_idx"]).reset_index(drop=True)
    ref = gold.sort_values(["url", "page_num", "order_idx"]).reset_index(drop=True)
    want = predict_np(model, ref)
    assert (got["label"].to_numpy() == want).all()


def test_native_plan_is_codegen_only(spark, featurized, gold):
    """The native scorer must not introduce Python evaluation or a
    shuffle: explain() shows no BatchEvalPython/ArrowEval/Exchange
    beyond the input's own."""
    model = train(gold)
    plan = classify_native(featurized, model)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # featurized is cached, no new shuffle
