"""Box-transformer inference in pure numpy (float64, eval mode).

Replicates the reference's layers without torch:

* `compute_pdf_relative_positions` —
  /root/reference/edspdf/utils/torch.py:15-63 (dx in
  n_relative_positions units, dy in line-height units with the
  0.5-offset fully-above/fully-below ternary)
* `RelativeAttention` (layers/relative_attention.py:59-367): c2c/c2p/
  p2c attention terms, GroupedLinear positional projections, head
  bias, masked softmax pooling; dropout is identity (inference)
* `BoxTransformerLayer` / `BoxTransformerModule`
  (layers/box_transformer.py:15-293): residual-gated attention +
  LayerNorm + linear->gelu->linear FFN, CLS (empty_embed) prepended
  per page, relative-position terms disabled for CLS pairs

The reference initializes weights randomly, so numeric parity targets
a FROZEN deterministic weight set (same policy as the trainable
classifier and the embedding stack). All math is float64; gelu is the
exact erf form torch.nn.functional.gelu uses. Matrix products go
through `matmul`, never BLAS, so the bytes do not depend on the CPU.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

IMPOSSIBLE = -10000.0

_erf = np.frompyfunc(math.erf, 1, 1)


def matmul(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """x @ w in a fixed, BLAS-free summation order: the sum over the
    inner index runs in ascending order, one elementwise multiply and
    add per step. `@` goes through OpenBLAS, which picks its kernel
    (and so its rounding) per CPU model."""
    out = x[..., 0, None] * w[0]
    for i in range(1, w.shape[0]):
        out = out + x[..., i, None] * w[i]
    return out


def gelu(x: np.ndarray) -> np.ndarray:
    return 0.5 * x * (1.0 + _erf(x / math.sqrt(2.0)).astype(np.float64))


def layer_norm(x: np.ndarray, gamma: np.ndarray, beta: np.ndarray,
               eps: float = 1e-5) -> np.ndarray:
    mean = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)  # biased, as torch.nn.LayerNorm
    return (x - mean) / np.sqrt(var + eps) * gamma + beta


def softmax(x: np.ndarray, axis: int) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def make_heads(x: np.ndarray, n_heads) -> np.ndarray:
    """relative_attention.py:14-18."""
    if isinstance(n_heads, int):
        n_heads = (n_heads,)
    total = int(np.prod(n_heads))
    return x.reshape(*x.shape[:-1], *n_heads, x.shape[-1] // total)


def gather_dim(tensor: np.ndarray, index: np.ndarray, dim: int) -> np.ndarray:
    """relative_attention.py:21-32: advanced-index `tensor` along `dim`
    with `index`, broadcasting aranges on every other axis."""
    dim = (dim + tensor.ndim) % tensor.ndim
    idx = []
    for i, size in enumerate(tensor.shape):
        if i == dim:
            idx.append(index)
        else:
            view = [1] * index.ndim
            view[i] = -1
            idx.append(np.arange(size).reshape(view))
    return tensor[tuple(idx)]


def compute_pdf_relative_positions(x0, y0, x1, y1, width, height,
                                   n_relative_positions: int) -> np.ndarray:
    """(n_pages, n_boxes, ...) float arrays -> (n_pages, n, n, 2) int64.
    Verbatim transcription of utils/torch.py:37-63."""
    dx = x0[:, None, :] - x0[:, :, None]
    dx = (dx * n_relative_positions).astype(np.int64)

    dy = y0[:, None, :] - y0[:, :, None]
    ref_height = ((dy >= 0) * height[:, :, None]
                  + (dy < 0) * height[:, None, :])
    dy0 = y1[:, None, :] - y0[:, :, None]
    dy1 = y0[:, None, :] - y1[:, :, None]
    offset = 0.5
    above = (np.sign(dy0 + offset) > 0) & (np.sign(dy1 + offset) > 0)
    below = (np.sign(dy0 - offset) < 0) & (np.sign(dy1 - offset) < 0)
    dy = np.where(
        above, np.ceil(np.minimum(dy0, dy1) / ref_height + offset),
        np.where(below, np.floor(np.maximum(dy0, dy1) / ref_height - offset),
                 0.0))
    dy = (np.ceil(np.abs(dy)) * np.sign(dy)).astype(np.int64)
    return np.stack([dx, dy], axis=-1)


def grouped_linear(x: np.ndarray, weight: np.ndarray,
                   bias: np.ndarray) -> np.ndarray:
    """relative_attention.py:35-56: weight (n_groups, in, out)."""
    n_groups = weight.shape[0]
    *base, dim = x.shape
    x = x.reshape(*base, n_groups, dim // n_groups)
    x = np.einsum("...ni,nio->...no", x, weight)
    x = x + bias
    return x.reshape(*base, x.shape[-2] * x.shape[-1])


def relative_attention(w: Dict, content: np.ndarray, mask: np.ndarray,
                       relative_positions: Optional[np.ndarray],
                       no_position_mask: Optional[np.ndarray],
                       n_heads: int, n_coordinates: int = 2,
                       mode: Sequence[str] = ("c2c", "c2p", "p2c"),
                       ) -> Tuple[np.ndarray, np.ndarray]:
    """Self-attention (queries == keys == values == content), pooling
    enabled — the configuration BoxTransformerLayer uses
    (box_transformer.py:66-75). Returns (pooled, attention logits)."""
    n, seq, _ = content.shape
    keys = make_heads(matmul(content, w["key_w"]) + w["key_b"], n_heads)
    queries = make_heads(matmul(content, w["query_w"]) + w["query_b"], n_heads)
    values = make_heads(matmul(content, w["value_w"]) + w["value_b"], n_heads)
    head_size = queries.shape[-1]

    attn_weights: List[np.ndarray] = []
    if "c2c" in mode:
        attn_weights.append(
            np.einsum("nihd,njhd->nijh", queries, keys)
            / math.sqrt(head_size))

    if relative_positions is not None and ("c2p" in mode or "p2c" in mode):
        position_keys = make_heads(
            grouped_linear(w["pos_emb"], w["pos_key_w"], w["pos_key_b"]),
            (n_coordinates, n_heads))
        position_queries = make_heads(
            grouped_linear(w["pos_emb"], w["pos_query_w"], w["pos_query_b"]),
            (n_coordinates, n_heads))
        rel = np.clip(position_queries.shape[0] // 2 + relative_positions,
                      0, position_queries.shape[0] - 1)

        if "c2p" in mode:
            c2p = np.einsum("nihxd,zxhd->nizhx",
                            make_heads(queries, n_coordinates),
                            position_keys)
            c2p = gather_dim(c2p, rel[..., None, :], dim=2).sum(-1) \
                / math.sqrt(head_size)
            if no_position_mask is not None:
                c2p = np.where(no_position_mask[..., None], 0.0, c2p)
            attn_weights.append(c2p)

        if "p2c" in mode:
            p2c = np.einsum("zxhd,njhxd->nzjhx", position_queries,
                            make_heads(keys, n_coordinates))
            p2c = gather_dim(p2c, rel[..., None, :], dim=1).sum(-1) \
                / math.sqrt(head_size)
            if no_position_mask is not None:
                p2c = np.where(no_position_mask[..., None], 0.0, p2c)
            attn_weights.append(p2c)

    attn = sum(attn_weights) / math.sqrt(len(attn_weights))
    attn = attn + w["head_bias"]

    m = mask[:, None, :, None]
    weights = softmax(np.where(m, attn, IMPOSSIBLE), axis=-2)
    pooled = np.einsum("nijh,njhd->nihd", weights, values)
    return pooled.reshape(*pooled.shape[:-2], -1), attn


def transformer_layer(w: Dict, embeds: np.ndarray, mask: np.ndarray,
                      relative_positions, no_position_mask,
                      n_heads: int, mode) -> np.ndarray:
    """box_transformer.py:119-134: gated attention + norm + FFN + norm."""
    update, _attn = relative_attention(
        w, embeds, mask, relative_positions, no_position_mask,
        n_heads=n_heads, mode=mode)
    embeds = embeds + update * w["resweight"]
    embeds = layer_norm(embeds, w["norm1_g"], w["norm1_b"])
    update = matmul(gelu(matmul(embeds, w["lin1_w"]) + w["lin1_b"]),
                    w["lin2_w"]) + w["lin2_b"]
    embeds = embeds + update * w["resweight2"]
    return layer_norm(embeds, w["norm2_g"], w["norm2_b"])


def box_transformer_weights(size: int, n_heads: int = 2, n_layers: int = 1,
                            n_relative_positions: int = 64,
                            init_resweight: float = 0.5,
                            seed: int = 23) -> Dict:
    """Frozen deterministic weights; scale 1/sqrt(size) keeps
    activations O(1) through the residual chain."""
    rng = np.random.RandomState(seed)
    s = 1.0 / math.sqrt(size)

    def lin(n_in, n_out):
        return rng.randn(n_in, n_out) * s, rng.randn(n_out) * s

    pos_emb = rng.randn(n_relative_positions, size) * s
    layers = []
    for _ in range(n_layers):
        kw, kb = lin(size, size)
        qw, qb = lin(size, size)
        vw, vb = lin(size, size)
        l1w, l1b = lin(size, size * 2)
        l2w, l2b = lin(size * 2, size)
        layers.append({
            "key_w": kw, "key_b": kb, "query_w": qw, "query_b": qb,
            "value_w": vw, "value_b": vb,
            "pos_emb": pos_emb,
            # GroupedLinear(pos_size//2 -> head_size*n_heads//2, groups=2)
            "pos_key_w": rng.randn(2, size // 2, size // 2) * s,
            "pos_key_b": rng.randn(2, size // 2) * s,
            "pos_query_w": rng.randn(2, size // 2, size // 2) * s,
            "pos_query_b": rng.randn(2, size // 2) * s,
            "head_bias": rng.randn(n_heads) * s,
            "resweight": float(init_resweight),
            "resweight2": float(init_resweight),
            "norm1_g": np.ones(size), "norm1_b": np.zeros(size),
            "norm2_g": np.ones(size), "norm2_b": np.zeros(size),
            "lin1_w": l1w, "lin1_b": l1b, "lin2_w": l2w, "lin2_b": l2b,
        })
    return {"size": size, "n_heads": n_heads, "layers": layers,
            "n_relative_positions": n_relative_positions,
            "empty_embed": rng.randn(size) * s,
            "mode": ("c2c", "c2p", "p2c")}


def box_transformer_page(weights: Dict, embeds: np.ndarray,
                         boxes: Dict[str, np.ndarray]) -> np.ndarray:
    """One page: (n_lines, size) embeddings + layout dict with x0/x1/
    y0/y1/width/height arrays -> contextualized (n_lines, size).

    Mirrors BoxTransformerModule.forward (box_transformer.py:222-293):
    CLS token prepended, relative positions only between real lines."""
    n_lines = embeds.shape[0]
    data = np.concatenate([weights["empty_embed"][None, :], embeds], axis=0)
    data = data[None, ...]  # n_pages=1 batch axis
    mask = np.ones((1, n_lines + 1), dtype=bool)

    nrp = weights["n_relative_positions"]
    rel = np.zeros((1, n_lines + 1, n_lines + 1, 2), dtype=np.int64)
    rel[:, 1:, 1:, :] = compute_pdf_relative_positions(
        x0=boxes["x0"][None, :], y0=boxes["y0"][None, :],
        x1=boxes["x1"][None, :], y1=boxes["y1"][None, :],
        width=boxes["width"][None, :], height=boxes["height"][None, :],
        n_relative_positions=nrp)
    no_pos = np.ones((1, n_lines + 1, n_lines + 1), dtype=bool)
    no_pos[:, 1:, 1:] = False

    for lw in weights["layers"]:
        data = transformer_layer(lw, data, mask, rel, no_pos,
                                 n_heads=weights["n_heads"],
                                 mode=weights["mode"])
    return data[0, 1:]
