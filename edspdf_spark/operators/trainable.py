"""Trainable bloc classifier — the reference's `trainable-classifier`
role (pipes/classifiers/trainable.py:19-241) re-expressed without
torch (absent in this environment):

* features = the reference's box-layout features (x0, y0, x1, y1,
  width, height, first_page, last_page — box_layout_preprocessor.py:62-92)
* model = multinomial logistic regression trained single-node with
  deterministic full-batch numpy gradient descent (the reference also
  trains off-cluster; SURVEY.md §3.3)
* inference = SPARK-NATIVE: the tiny weight matrix is inlined as
  literal column expressions (w·x + b per class, argmax via a
  greatest/when chain), so scoring runs inside whole-stage codegen
  with no Python at all.

The artifact is a plain dict (labels, W, b) — JSON-serializable, the
--py-files-friendly analog of the reference's safetensors dir
(trainable_pipe.py:451-479).
"""

from __future__ import annotations

from typing import Dict, List

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

FEATURES = ["x0", "y0", "x1", "y1", "width", "height",
            "first_page", "last_page"]


def bloc_features(df: DataFrame) -> DataFrame:
    """Derived geometry columns (native; mirrors
    box-layout-preprocessor). Needs x0, x1, y0, y1, page_num, num_pages."""
    return (df
            .withColumn("width", F.col("x1") - F.col("x0"))
            .withColumn("height", F.col("y1") - F.col("y0"))
            .withColumn("first_page",
                        (F.col("page_num") == 0).cast("double"))
            .withColumn("last_page",
                        (F.col("page_num") == F.col("num_pages") - 1)
                        .cast("double")))


def _feature_matrix(pdf) -> np.ndarray:
    return np.column_stack([pdf[c].to_numpy(dtype=np.float64)
                            for c in FEATURES])


def train(pdf, label_col: str = "label", lr: float = 0.5,
          epochs: int = 300, l2: float = 1e-4) -> Dict:
    """Train on a pandas frame of featurized blocs. Deterministic:
    zero init, full-batch GD, fixed schedule."""
    labels: List[str] = sorted(pdf[label_col].unique().tolist())
    y = np.array([labels.index(v) for v in pdf[label_col]])
    x = _feature_matrix(pdf)
    mu, sigma = x.mean(axis=0), x.std(axis=0)
    sigma[sigma == 0] = 1.0
    xs = (x - mu) / sigma

    k, d = len(labels), xs.shape[1]
    w = np.zeros((k, d))
    b = np.zeros(k)
    n = len(xs)
    onehot = np.eye(k)[y]
    for _ in range(epochs):
        logits = xs @ w.T + b
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        grad_w = (p - onehot).T @ xs / n + l2 * w
        grad_b = (p - onehot).mean(axis=0)
        w -= lr * grad_w
        b -= lr * grad_b
    return {"labels": labels, "W": w.tolist(), "b": b.tolist(),
            "mu": mu.tolist(), "sigma": sigma.tolist()}


def predict_np(model: Dict, pdf) -> np.ndarray:
    x = _feature_matrix(pdf)
    xs = (x - np.array(model["mu"])) / np.array(model["sigma"])
    logits = xs @ np.array(model["W"]).T + np.array(model["b"])
    idx = logits.argmax(axis=1)
    return np.array(model["labels"])[idx]


def _score_col(model: Dict, j: int) -> Column:
    w, b = model["W"][j], model["b"][j]
    mu, sg = model["mu"], model["sigma"]
    expr = F.lit(float(b))
    for i, feat in enumerate(FEATURES):
        expr = expr + F.lit(float(w[i])) * (
            (F.col(feat) - F.lit(float(mu[i]))) / F.lit(float(sg[i])))
    return expr


def classify_native(blocs: DataFrame, model: Dict) -> DataFrame:
    """Score + argmax entirely in native expressions. Ties broken by
    label index (first max wins), matching numpy argmax."""
    labels = model["labels"]
    scored = blocs
    for j in range(len(labels)):
        scored = scored.withColumn(f"_s{j}", _score_col(model, j))
    best_label = F.lit(labels[0])
    best_score = F.col("_s0")
    for j in range(1, len(labels)):
        cond = F.col(f"_s{j}") > best_score
        best_label = F.when(cond, F.lit(labels[j])).otherwise(best_label)
        best_score = F.when(cond, F.col(f"_s{j}")).otherwise(best_score)
    out = scored.withColumn("label", best_label)
    return out.drop(*[f"_s{j}" for j in range(len(labels))])
