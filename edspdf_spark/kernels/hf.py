"""Torch-free analog of the reference huggingface-embedding pipe
(/root/reference/edspdf/pipes/embeddings/huggingface_embedding.py).

The reference wraps a HF multimodal model; its own algorithmic content
— the part this kernel replicates EXACTLY — is the long-document
machinery around the model:

* strided windowing (huggingface_embedding.py:220-228): each page's
  token sequence [CLS] t1..tn [SEP] is cut into windows
  [CLS, t_{1+wi*stride} .. t_{min(wi*stride+window, n)}, SEP] for
  wi in 0..ceil((L-2-window)/stride), always at least one window;
* de-overlap by "most contextualized occurrence wins"
  (:20-27, :245-259): a token appearing in several windows keeps the
  occurrence with the largest score = clamp(min(j, m-1-j), 0)
  (distance to the nearer window edge, m = window row length), ties
  broken toward the LARGER flattened (window, position) index — the
  reference encodes score*len+index and index_reduce_(amax)s it;
* line pooling (:370-375): torch.embedding_bag over each line's chosen
  token occurrences, mode mean/sum/max; the reference's line ranges
  are [start_i, start_{i+1}) with the LAST line's range extending to
  len(input_ids) (:275-277), so the final [SEP] token is pooled into
  the last line — replicated verbatim, quirk included;
* max_tokens_per_device micro-batching (:344-363): windows are run
  through the model in chunks of max_tokens_per_device // window_width
  rows; it must not change the results (asserted by tests here).

The MODEL itself (torch + HF hub, absent in this environment) is
replaced by a frozen deterministic contextualizer, pluggable:

* "affine" (default): token embedding rows come from a closed-form
  integer table e_d(tid) = ((tid + d*2654435761) % 2003) - 1001 over
  md5-prefix token ids, contextualized as e_d + j*POS_STEP +
  wi*WIN_STEP. Everything stays int64 and SQL-expressible, so the
  full window/de-overlap/pooling machinery gets an EXACT DuckDB
  oracle (the same strategy as the frozen integer tables of
  simple-text-embedding / sub-box-cnn-pooler).
* "attention": a frozen seeded single-layer softmax self-attention
  over the window's token embeddings (numpy float64) — the realistic
  path; not SQL-expressible, covered by pytest parity instead.

Tokenization is the deliberately simple subword analog used by the
oracles: split on single space, then fixed-width pieces of
PIECE_LEN chars (a WordPiece-length cap without a merges table);
CLS/SEP get reserved ids 1/2.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np

from ..functions import code15_py, tokens_py
from .transformer import matmul

CLS_ID = 1
SEP_ID = 2
PIECE_LEN = 4
EMB_MOD = 2003
EMB_MUL = 2654435761  # Knuth multiplicative hash constant
POS_STEP = 7   # affine contextualizer: window-position term
WIN_STEP = 13  # affine contextualizer: window-index term


def subword_pieces(word: str, piece_len: int = PIECE_LEN) -> List[str]:
    return [word[i:i + piece_len] for i in range(0, len(word), piece_len)]


def tokenize_line(text: str, piece_len: int = PIECE_LEN) -> List[str]:
    """The engine's portable tokens (functions.tokens_py), then
    fixed-width subword pieces."""
    return [p for w in tokens_py(text)
            for p in subword_pieces(w, piece_len)]


def token_id(piece: str) -> int:
    """md5-prefix BIGINT id (functions.code15 semantics), so the
    affine embedding table is reproducible in DuckDB."""
    return code15_py(piece)


def token_embedding(tid: int, dim: int) -> np.ndarray:
    """Frozen integer embedding row: ((tid + d*EMB_MUL) % EMB_MOD)
    - EMB_MOD//2, exact int64."""
    d = np.arange(dim, dtype=np.int64)
    return (np.int64(tid) + d * np.int64(EMB_MUL)) % EMB_MOD - EMB_MOD // 2


def window_rows(length: int, window: int, stride: int) -> List[List[int]]:
    """Reference windowing verbatim (huggingface_embedding.py:220-228),
    offset-free (per page): token POSITIONS per window row."""
    n_windows = 1 + max(0, -(-(length - 2 - window) // stride))
    return [
        [0,
         *range(1 + wi * stride,
                1 + min(wi * stride + window, length - 2)),
         length - 1]
        for wi in range(n_windows)
    ]


def choose_occurrences(rows: List[List[int]]) -> Dict[int, tuple]:
    """token position -> (wi, j) of its most contextualized occurrence.

    Score per occurrence = clamp(min(j, m-1-j), 0) (reference :20-27);
    ties resolved toward the larger flattened index wi*W + j exactly
    like the reference's score*len+index amax trick (:245-259)."""
    width = max(len(r) for r in rows)
    best: Dict[int, tuple] = {}
    for wi, row in enumerate(rows):
        m = len(row)
        for j, g in enumerate(row):
            score = max(0, min(j, m - 1 - j))
            key = (score, wi * width + j)
            if g not in best or key > best[g][0]:
                best[g] = (key, (wi, j))
    return {g: occ for g, (_k, occ) in best.items()}


def attention_weights(dim: int, seed: int = 41) -> Dict[str, np.ndarray]:
    """Frozen single-layer self-attention weights (seeded, like
    box_transformer_weights): q/k/v/o projections + residual gate."""
    rng = np.random.RandomState(seed)
    scale = 1.0 / np.sqrt(dim)
    return {
        "dim": dim,
        "wq": rng.uniform(-scale, scale, (dim, dim)),
        "wk": rng.uniform(-scale, scale, (dim, dim)),
        "wv": rng.uniform(-scale, scale, (dim, dim)),
        "wo": rng.uniform(-scale, scale, (dim, dim)),
        "resweight": 0.5,
    }


def _contextualize(tok_emb: np.ndarray, rows: List[List[int]],
                   contextualizer: str, weights: Optional[Dict],
                   max_tokens_per_device: Optional[int]) -> np.ndarray:
    """(n_rows, width, dim) model output over PADDED window rows, run
    in micro-batches of max_tokens_per_device // width rows
    (reference :344-363; must not affect values)."""
    width = max(len(r) for r in rows)
    dim = tok_emb.shape[1]
    out_dtype = np.int64 if contextualizer == "affine" else np.float64
    out = np.zeros((len(rows), width, dim), dtype=out_dtype)
    per_batch = (len(rows) if not max_tokens_per_device
                 else max(1, max_tokens_per_device // width))
    for start in range(0, len(rows), per_batch):
        for wi in range(start, min(start + per_batch, len(rows))):
            row = rows[wi]
            x = tok_emb[row]  # (m, dim) int64
            if contextualizer == "affine":
                j = np.arange(len(row), dtype=np.int64)[:, None]
                out[wi, :len(row)] = (x + j * POS_STEP + wi * WIN_STEP)
            elif contextualizer == "attention":
                xf = x.astype(np.float64)
                q = matmul(xf, weights["wq"])
                k = matmul(xf, weights["wk"])
                v = matmul(xf, weights["wv"])
                a = matmul(q, k.T) / np.sqrt(dim)
                a -= a.max(axis=1, keepdims=True)
                e = np.exp(a)
                p = e / e.sum(axis=1, keepdims=True)
                out[wi, :len(row)] = xf + weights["resweight"] * (
                    matmul(matmul(p, v), weights["wo"]))
            else:
                raise ValueError(f"unknown contextualizer "
                                 f"'{contextualizer}'")
    return out


def hf_page_embed(line_texts: Sequence[str], *, dim: int = 8,
                  window: int = 510, stride: int = 255,
                  pooling: str = "mean", contextualizer: str = "affine",
                  weights: Optional[Dict] = None,
                  max_tokens_per_device: Optional[int] = None,
                  piece_len: int = PIECE_LEN) -> np.ndarray:
    """One page's lines -> (n_lines, dim) pooled line embeddings.

    float64 for mean pooling (exact integer-sum / count division under
    the affine contextualizer — portable to SQL), int64/float64 native
    values for sum/max."""
    if pooling not in ("mean", "sum", "max"):
        raise ValueError(f"unknown line_pooling '{pooling}'")
    n_lines = len(line_texts)
    if n_lines == 0:
        return np.zeros((0, dim), dtype=np.float64)

    page_tokens: List[int] = [CLS_ID]
    line_starts: List[int] = []
    for text in line_texts:
        line_starts.append(len(page_tokens))
        page_tokens.extend(token_id(p)
                           for p in tokenize_line(text or "", piece_len))
    page_tokens.append(SEP_ID)
    length = len(page_tokens)

    tok_emb = np.stack([token_embedding(t, dim) for t in page_tokens])
    rows = window_rows(length, window, stride)
    chosen = choose_occurrences(rows)
    ctx = _contextualize(tok_emb, rows, contextualizer, weights,
                         max_tokens_per_device)

    # line ranges [start_i, start_{i+1}), last line's end = length
    # (pools the SEP — reference :275-277)
    ends = line_starts[1:] + [length]
    out = np.zeros((n_lines, dim), dtype=np.float64)
    for li, (s, e) in enumerate(zip(line_starts, ends)):
        if e <= s:  # empty bag -> zeros (embedding_bag semantics)
            continue
        vecs = np.stack([ctx[chosen[g][0], chosen[g][1]]
                         for g in range(s, e)]).astype(np.float64)
        if pooling == "mean":
            out[li] = vecs.sum(axis=0) / (e - s)
        elif pooling == "sum":
            out[li] = vecs.sum(axis=0)
        else:
            out[li] = vecs.max(axis=0)
    return out
