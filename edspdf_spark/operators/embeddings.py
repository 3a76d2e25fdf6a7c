"""Torch-free embedding inference stack (reference §2.7).

Replicates the reference's embedding components without torch, as
frozen-weight inference (the same pattern as operators/trainable.py —
the reference initializes weights randomly, so numeric parity targets
a FROZEN deterministic weight set, not the reference's RNG):

* `Vocabulary` — the reference's vocabulary layer
  (/root/reference/edspdf/layers/vocabulary.py:9-80) minus the
  torch.nn.Module cosmetics: dict indices, `default` for OOV,
  `initialization()` context manager growing the vocab on encode.
* `sinusoidal_table` — SinusoidalEmbedding's weight construction
  (/root/reference/edspdf/layers/sinusoidal_embedding.py:43-52):
  sin on even channels, cos on odd, frequency from the temperature.
  Computed in float64 (the reference materializes float32 tensors;
  frozen constants either way).
* `box_layout_embed` — BoxLayoutEmbedding.forward
  (/root/reference/edspdf/pipes/embeddings/box_layout_embedding.py:
  87-105): concat of 6 position lookups (xmin, ymin, xmax, ymax,
  width, height*5 — each quantized by floor(v*n_positions) clamped to
  n_positions-1) plus first/last-page parameter vectors. Pure native
  column expressions: the frozen table rides the plan as an
  array-literal, `element_at` does the lookup — zero joins, zero
  Python, whole-stage codegen.
* `text_token_embed` — SimpleTextEmbedding preprocess+forward
  (simple_text_embedding.py:198-233, 255-262): tokenize with the
  reference word regex, featurize (shape/prefix/suffix — norm is
  commented out in the reference forward too), vocabulary-encode,
  sum the per-feature embeddings over each bloc's tokens. Weights are
  INTEGER matrices so the distributed sum is order-independent and
  bit-exact (float sums would depend on partition merge order).
* `combine_embeddings` — EmbeddingCombiner (embedding_combiner.py:
  40-77): 'sum' adds matching columns, 'cat' concatenates them.

Scale notes: the box tables are O(n_positions x dim) literals (no
shuffle, no broadcast join); text vocab/weights are a broadcast dict
into ONE mapInPandas stage; everything downstream is integer/column
math. At 10^12 rows the whole embed is a single narrow map."""

from __future__ import annotations

import contextlib
import math
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812


class Vocabulary:
    """Reference vocabulary semantics (layers/vocabulary.py:9-80)."""

    def __init__(self, items: Optional[Sequence[str]] = None,
                 default: int = -100):
        self.indices: Dict[str, int] = (
            {} if items is None else {v: i for i, v in enumerate(items)})
        self.initialized = True
        self.default = default

    def __len__(self) -> int:
        return len(self.indices)

    @contextlib.contextmanager
    def initialization(self):
        self.initialized = False
        yield
        self.initialized = True

    def encode(self, item: str) -> int:
        if self.initialized:
            return self.indices.get(item, self.default)
        return self.indices.setdefault(item, len(self.indices))

    def decode(self, idx: int) -> str:
        return {i: v for v, i in self.indices.items()}[idx]


def sinusoidal_table(num_embeddings: int, embedding_dim: int,
                     temperature: float = 10000.0) -> np.ndarray:
    """(num_embeddings, embedding_dim) float64 sinusoidal weights."""
    weight = np.zeros((num_embeddings, embedding_dim), dtype=np.float64)
    position = np.arange(num_embeddings, dtype=np.float64)[:, None]
    div_term = np.exp(np.arange(0, embedding_dim, 2, dtype=np.float64)
                      * (-math.log(temperature) / embedding_dim))
    weight[:, 0::2] = np.sin(position * div_term)
    weight[:, 1::2] = np.cos(position * div_term)
    return weight


def _lit_matrix(mat: np.ndarray):
    """Array-of-arrays literal column for element_at lookups."""
    return F.array(*[
        F.array(*[F.lit(float(v)) for v in row]) for row in mat])


def _pos_idx(col, n_positions: int, scale: int = 1):
    """(v * scale * n).clamp(max=n-1).long() of the reference forward."""
    v = col * F.lit(float(scale * n_positions)) if scale != 1 \
        else col * F.lit(float(n_positions))
    return F.least(F.floor(v), F.lit(float(n_positions - 1))).cast("int")


def box_layout_embed(blocs: DataFrame, size: int = 24,
                     n_positions: int = 64,
                     first_page_vec: Optional[np.ndarray] = None,
                     last_page_vec: Optional[np.ndarray] = None,
                     prefix: str = "b") -> DataFrame:
    """Append b0..b{size-1} box-layout embedding columns.

    Needs columns x0, x1, y0, y1, page_num, num_pages. All four
    coordinate embeddings share ONE sinusoidal table (the reference
    instantiates four identical SinusoidalEmbeddings for mode='sin')."""
    # the reference asserts size % 12 == 0 (box_layout_embedding.py:58);
    # the actual structural requirement is an even split over 6 features
    assert size % 6 == 0, "size must split over 6 features"
    dim = size // 6
    table = sinusoidal_table(n_positions, dim)
    lit = _lit_matrix(table)
    rng = np.random.RandomState(7)
    fp = first_page_vec if first_page_vec is not None else rng.randn(size)
    lp = last_page_vec if last_page_vec is not None else rng.randn(size)

    idxs = [
        _pos_idx(F.col("x0"), n_positions),
        _pos_idx(F.col("y0"), n_positions),
        _pos_idx(F.col("x1"), n_positions),
        _pos_idx(F.col("y1"), n_positions),
        _pos_idx(F.col("x1") - F.col("x0"), n_positions),
        _pos_idx(F.col("y1") - F.col("y0"), n_positions, scale=5),
    ]
    first = F.col("page_num") == 0
    last = F.col("page_num") == F.col("num_pages") - 1
    out = blocs
    for c in range(size):
        feat, ch = divmod(c, dim)
        base = F.element_at(F.element_at(lit, idxs[feat] + 1), ch + 1)
        val = (base
               + F.when(first, F.lit(float(fp[c]))).otherwise(F.lit(0.0))
               + F.when(last, F.lit(float(lp[c]))).otherwise(F.lit(0.0)))
        out = out.withColumn(f"{prefix}{c}", val)
    return out


# ---------------------------------------------------------------------------
# simple-text-embedding: vocab build + integer-weight summed lookup
# ---------------------------------------------------------------------------

FEATURE_FAMILIES = ("shape", "prefix", "suffix")  # norm: commented out in
# the reference forward (simple_text_embedding.py:255-262) — mirrored.


def build_text_vocabs(texts) -> Dict[str, Vocabulary]:
    """Grow shape/prefix/suffix vocabularies in ENCOUNTER order over an
    iterable of bloc texts — the reference's post_init pass
    (simple_text_embedding.py:140-155: Vocabulary(['__unk__'],
    default=0) + initialization())."""
    from ..kernels.textfeatures import text_token_features

    vocabs = {f: Vocabulary(["__unk__"], default=0)
              for f in FEATURE_FAMILIES}
    ctxs = [vocabs[f].initialization() for f in FEATURE_FAMILIES]
    with contextlib.ExitStack() as stack:
        for c in ctxs:
            stack.enter_context(c)
        for text in texts:
            for feats in text_token_features(text):
                for fam in FEATURE_FAMILIES:
                    vocabs[fam].encode(feats[fam])
    return vocabs


def save_vocabs(vocabs: Dict[str, Vocabulary], path: str) -> None:
    """Persist each family's indices as `<family>_voc.json` — the
    reference's to_disk layout (simple_text_embedding.py:157-172)."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    for fam, voc in vocabs.items():
        with open(os.path.join(path, f"{fam}_voc.json"), "w") as f:
            json.dump(voc.indices, f)


def load_vocabs(path: str, families: Sequence[str] = FEATURE_FAMILIES,
                default: int = 0) -> Dict[str, Vocabulary]:
    """Load `<family>_voc.json` files back into Vocabularies
    (simple_text_embedding.py:174-196)."""
    import json
    import os

    out: Dict[str, Vocabulary] = {}
    for fam in families:
        with open(os.path.join(path, f"{fam}_voc.json")) as f:
            indices = json.load(f)
        v = Vocabulary(default=default)
        v.indices = {str(k): int(i) for k, i in indices.items()}
        out[fam] = v
    return out


def build_vocab_distributed(df: DataFrame, col: str,
                            first_items: Sequence[str] = ("__unk__",)
                            ) -> DataFrame:
    """Distributed vocabulary: (item, id). Ids are assigned in SORTED
    item order after the pinned first_items — encounter order is not
    reproducible under distribution, so the deterministic total order
    replaces it (documented deviation; embeddings are id-keyed, so a
    permutation of ids with its weight table is semantics-preserving)."""
    n_pinned = len(first_items)
    spark = df.sparkSession
    pinned = spark.createDataFrame(
        [(s, i) for i, s in enumerate(first_items)], ["item", "id"])
    rest = (df.select(F.col(col).alias("item")).distinct()
            .join(pinned.select("item"), "item", "left_anti")
            .select("item",
                    (F.row_number().over(Window.orderBy("item"))
                     + n_pinned - 1).alias("id")))
    return pinned.unionByName(rest)


def text_embed_weights(vocabs: Dict[str, Vocabulary], dim: int = 8,
                       seed: int = 42, span: int = 1000
                       ) -> Dict[str, np.ndarray]:
    """Frozen INTEGER weight matrices per family: int64 in [-span, span].
    Integer weights make the distributed per-bloc sum bit-exact under
    any partitioning (float sums are merge-order-dependent)."""
    rng = np.random.RandomState(seed)
    return {f: rng.randint(-span, span + 1,
                           size=(len(vocabs[f]), dim)).astype(np.int64)
            for f in FEATURE_FAMILIES}


def text_token_embed(blocs: DataFrame, vocabs: Dict[str, Vocabulary],
                     weights: Dict[str, np.ndarray],
                     prefix: str = "t") -> DataFrame:
    """Append t0..t{dim-1} integer columns: sum over the bloc's tokens
    of shape_W[id] + prefix_W[id] + suffix_W[id] (the reference forward
    sums the three per-feature embeddings per token; the per-bloc token
    sum is the 'sum' pooling of the word dimension).

    ONE mapInPandas stage (broadcast dicts + numpy row gather), no
    shuffle; carries every input column through. The int64 row sum of
    the token matrix is exact, so the pooling order is irrelevant."""
    dim = next(iter(weights.values())).shape[1]
    return _pool_token_matrix(blocs, vocabs, weights, dim, prefix,
                              lambda E: E.sum(axis=0))


def _pool_token_matrix(blocs: DataFrame, vocabs: Dict[str, Vocabulary],
                       weights: Dict[str, np.ndarray], dim: int,
                       prefix: str, pool) -> DataFrame:
    """Append {prefix}0..{prefix}{dim-1} bigint columns: `pool(E)` per
    bloc, where E is the bloc's (max(n_tokens, 1), width) int64 token
    matrix — row t the shape+prefix+suffix weight sum of token t, one
    zero row for a bloc with no tokens (empty or NULL text). ONE
    mapInPandas stage, no shuffle; every input column carries
    through."""
    from ..kernels.textfeatures import text_token_features

    idx = {f: dict(vocabs[f].indices) for f in FEATURE_FAMILIES}
    wts = {f: weights[f] for f in FEATURE_FAMILIES}
    width = next(iter(wts.values())).shape[1]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in blocs.schema]
        + [f"{prefix}{c} bigint" for c in range(dim)])

    def fn(batches):
        for pdf in batches:
            outs = np.zeros((len(pdf), dim), dtype=np.int64)
            for r, text in enumerate(pdf["text"].tolist()):
                toks = text_token_features(text or "")
                E = np.zeros((max(len(toks), 1), width), dtype=np.int64)
                for t, feats in enumerate(toks):
                    for fam in FEATURE_FAMILIES:
                        E[t] += wts[fam][idx[fam].get(feats[fam], 0)]
                outs[r] = pool(E)
            out = pdf.copy()
            for c in range(dim):
                out[f"{prefix}{c}"] = outs[:, c]
            yield out

    return blocs.mapInPandas(fn, schema=out_schema)


# ---------------------------------------------------------------------------
# sub-box-cnn-pooler: multi-kernel 1-D conv over the word axis + relu +
# max-pool + linear (sub_box_cnn_pooler.py:58-120), in integer numpy.
# ---------------------------------------------------------------------------


def cnn_pool_weights(in_size: int, out_channels: int = 2,
                     kernel_sizes: Sequence[int] = (2, 3),
                     output_size: int = 4, seed: int = 11,
                     span: int = 5) -> Dict:
    """Frozen INTEGER conv + linear weights. Integer math keeps every
    dot product exact and partition-order-independent, the same trick
    as text_embed_weights. (The reference's float Conv1d weights are
    random at init, so numeric parity targets a frozen set either way.)"""
    rng = np.random.RandomState(seed)
    convs = []
    for k in kernel_sizes:
        convs.append((
            rng.randint(-span, span + 1,
                        size=(out_channels, in_size, k)).astype(np.int64),
            rng.randint(-span, span + 1, size=out_channels).astype(np.int64)))
    lin_w = rng.randint(-span, span + 1,
                        size=(output_size,
                              out_channels * len(kernel_sizes))
                        ).astype(np.int64)
    lin_b = rng.randint(-span, span + 1, size=output_size).astype(np.int64)
    return {"convs": convs, "kernel_sizes": list(kernel_sizes),
            "linear": (lin_w, lin_b), "out_channels": out_channels,
            "output_size": output_size, "in_size": in_size}


def cnn_pool_bloc(word_embeds: np.ndarray, weights: Dict) -> np.ndarray:
    """One bloc: (n_words, in_size) int64 -> (output_size,) int64.

    Mirrors the reference forward (sub_box_cnn_pooler.py:87-112): each
    kernel k convolves with zero padding [k//2, (k-1)//2] (output
    length == n_words), relu, channel concat, max over the word axis,
    linear projection."""
    n, in_size = word_embeds.shape
    feats: List[np.ndarray] = []
    for (w, b), k in zip(weights["convs"], weights["kernel_sizes"]):
        pad_l, pad_r = k // 2, (k - 1) // 2
        padded = np.zeros((n + pad_l + pad_r, in_size), dtype=np.int64)
        padded[pad_l:pad_l + n] = word_embeds
        out = np.empty((n, w.shape[0]), dtype=np.int64)
        for pos in range(n):
            window = padded[pos:pos + k]  # (k, in)
            # conv: sum over (in, k) of W[ch, in, k] * window[k, in]
            out[pos] = np.einsum("cik,ki->c", w, window) + b
        feats.append(np.maximum(out, 0))  # relu
    cat = np.concatenate(feats, axis=1)           # (n, out_ch * K)
    pooled = cat.max(axis=0)                      # max over words
    lin_w, lin_b = weights["linear"]
    return lin_w @ pooled + lin_b


def text_cnn_pool(blocs: DataFrame, vocabs: Dict[str, Vocabulary],
                  text_weights: Dict[str, np.ndarray], cnn: Dict,
                  prefix: str = "c") -> DataFrame:
    """Append c0..c{output_size-1}: CNN-pooled text embedding per bloc
    (the reference wires sub-box-cnn-pooler over simple-text-embedding,
    tests/core/config.cfg). Per-word embeddings are the integer
    shape+prefix+suffix sums; one mapInPandas stage, no shuffle."""
    return _pool_token_matrix(blocs, vocabs, text_weights,
                              cnn["output_size"], prefix,
                              lambda E: cnn_pool_bloc(E, cnn))


def embed_from_spec(blocs: DataFrame, spec: Dict,
                    vocabs: Optional[Dict[str, Vocabulary]] = None,
                    weights: Optional[Dict[str, np.ndarray]] = None,
                    prefix: str = "e") -> Tuple[DataFrame, int]:
    """Materialize a parsed embedding component spec
    (plans/config.py parse_embedding_spec — the reference wires nested
    encoder tables the same way, tests/core/config.cfg) into embedding
    columns `{prefix}0..{prefix}{size-1}`. Returns (df, size).

    simple-text-embedding needs frozen vocabs+weights (built via
    build_text_vocabs/text_embed_weights); its integer columns are
    cast to double when a combiner sums them with box embeddings."""
    factory = spec["factory"]
    if factory == "box-layout-embedding":
        size = int(spec.get("size", 24))
        out = box_layout_embed(
            blocs, size=size, n_positions=int(spec.get("n_positions", 64)),
            prefix=prefix)
        return out, size
    if factory == "simple-text-embedding":
        assert vocabs is not None and weights is not None, \
            "simple-text-embedding needs frozen vocabs and weights"
        dim = next(iter(weights.values())).shape[1]
        if "size" in spec:
            assert int(spec["size"]) == dim, \
                f"spec size {spec['size']} != frozen weight dim {dim}"
        return text_token_embed(blocs, vocabs, weights, prefix=prefix), dim
    if factory == "huggingface-embedding":
        from .hf_embedding import hf_line_embed

        size = int(spec.get("size", 8))
        out = hf_line_embed(
            blocs, dim=size, window=int(spec.get("window", 510)),
            stride=int(spec.get("stride", 255)),
            line_pooling=spec.get("line_pooling", "mean"),
            max_tokens_per_device=spec.get("max_tokens_per_device"),
            out_prefix=prefix)
        return out, size
    if factory == "embedding-combiner":
        mode = spec.get("mode", "sum")
        out = blocs
        prefixes, dims = [], []
        # DECLARATION order, like the reference combiner iterating
        # named_component_children() (embedding_combiner.py:66-77) —
        # 'cat' column order and 'sum' float-add order both depend on it
        for i, (name, sub) in enumerate(spec["encoders"].items()):
            p = f"_{prefix}enc{i}_"
            out, d = embed_from_spec(out, sub, vocabs, weights, prefix=p)
            if mode == "sum":  # integer text embeds sum with doubles
                for c in range(d):
                    out = out.withColumn(f"{p}{c}",
                                         F.col(f"{p}{c}").cast("double"))
            prefixes.append(p)
            dims.append(d)
        out = combine_embeddings(out, prefixes, dims, mode=mode,
                                 out_prefix=prefix)
        size = dims[0] if mode == "sum" else sum(dims)
        return out.drop(*[f"{p}{c}" for p, d in zip(prefixes, dims)
                          for c in range(d)]), size
    raise ValueError(f"unknown embedding factory '{factory}'")


def combine_embeddings(df: DataFrame, prefixes: Sequence[str],
                       dims: Sequence[int], mode: str = "sum",
                       out_prefix: str = "e") -> DataFrame:
    """EmbeddingCombiner (embedding_combiner.py:40-77): 'sum' requires
    equal dims and adds channel-wise; 'cat' concatenates the column
    groups under a new prefix."""
    if mode == "sum":
        assert len(set(dims)) == 1, "sum mode needs equal encoder sizes"
        dim = dims[0]
        out = df
        for c in range(dim):
            expr = F.col(f"{prefixes[0]}{c}")
            for p in prefixes[1:]:
                expr = expr + F.col(f"{p}{c}")
            out = out.withColumn(f"{out_prefix}{c}", expr)
        return out
    assert mode == "cat"
    out = df
    k = 0
    for p, d in zip(prefixes, dims):
        for c in range(d):
            out = out.withColumn(f"{out_prefix}{k}", F.col(f"{p}{c}"))
            k += 1
    return out
