"""TRUE differential tests: our kernels vs the reference's own code
(loaded live from /root/reference) on hypothesis-generated documents.
This is the byte-identity evidence the north rule asks for, on the
components whose dependencies exist in this environment (alignment,
mask classification, aggregation, reading order via Box.__lt__).
"""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from edspdf_spark.kernels.aggregate import aggregate_doc
from edspdf_spark.kernels.alignment import align_labels, classify_with_masks
from edspdf_spark.kernels.reading_order import reading_order
from tests.reference_loader import REF as REF_DIR
from tests.reference_loader import load_reference

pytestmark = pytest.mark.requires_reference(REF_DIR)


class _LazyReference:
    """The reference modules, loaded on first use so the module still
    imports (and its tests skip) without the checkout."""

    def __getattr__(self, name):
        return getattr(load_reference(), name)


REF = _LazyReference()

coord = st.floats(min_value=0.0, max_value=1.0, allow_nan=False,
                  width=64).map(lambda v: round(v, 3))


@st.composite
def ref_doc(draw, max_boxes=8):
    """A reference PDFDoc with TextBoxes + the same plain-dict blocs."""
    n = draw(st.integers(1, max_boxes))
    doc = REF.structures.PDFDoc(content=b"", pages=[])
    pages = sorted({draw(st.integers(0, 1)) for _ in range(n)} | {0})
    doc.pages = [REF.structures.Page(doc=doc, page_num=p, width=1, height=1)
                 for p in pages]
    boxes, dicts = [], []
    for i in range(n):
        x0, x1 = sorted(draw(st.tuples(coord, coord)))
        y0, y1 = sorted(draw(st.tuples(coord, coord)))
        page = draw(st.sampled_from(pages))
        label = draw(st.sampled_from(["body", "header", None]))
        text = draw(st.sampled_from(["", "word", "two words", f"t{i}"]))
        boxes.append(REF.structures.TextBox(
            doc=doc, page_num=page, x0=x0, x1=x1, y0=y0, y1=y1,
            text=text, label=label))
        dicts.append({"page_num": page, "x0": x0, "x1": x1, "y0": y0,
                      "y1": y1, "text": text, "label": label, "props": []})
    doc.content_boxes = boxes
    return doc, dicts


@settings(max_examples=120, deadline=None)
@given(dd=ref_doc(), threshold=st.sampled_from([0.0001, 0.4, 0.9, 1.0]),
       mask=st.tuples(coord, coord, coord, coord))
def test_mask_classifier_matches_reference(dd, threshold, mask):
    doc, dicts = dd
    x0, x1 = sorted(mask[:2])
    y0, y1 = sorted(mask[2:])
    ref_cls = REF.mask.MaskClassifier(
        masks=[REF.structures.Box(label="body", x0=x0, x1=x1, y0=y0, y1=y1)],
        threshold=threshold)
    ref_labels = [b.label for b in ref_cls(doc).content_boxes]

    keys = [(d["page_num"], d["x0"], d["x1"], d["y0"], d["y1"])
            for d in dicts]
    got = classify_with_masks([(None, x0, x1, y0, y1, "body")], keys,
                              threshold=threshold)
    # the reference rebuilds content_boxes page-by-page (ascending);
    # our labels stay at input positions — compare in page-sorted order
    order = sorted(range(len(dicts)), key=lambda i: dicts[i]["page_num"])
    assert [got[i] for i in order] == ref_labels


@settings(max_examples=120, deadline=None)
@given(dd=ref_doc(),
       sort=st.booleans(),
       label_map=st.sampled_from([{}, {"text": ["body", "header"]},
                                  {"body": "body", "meta": ["header"]}]))
def test_aggregator_matches_reference(dd, sort, label_map):
    doc, dicts = dd
    ref_agg = REF.simple.SimpleAggregator(sort=sort, label_map=label_map)
    # the reference raises ZeroDivisionError when every box has zero
    # height and sort=True (simple.py:117); faithfulness means we do too
    try:
        ref_out = {k: v.text for k, v in ref_agg(doc).aggregated_texts.items()}
        ref_exc = None
    except ZeroDivisionError:
        ref_out, ref_exc = None, ZeroDivisionError

    try:
        got = aggregate_doc(dicts, sort=sort, label_map=label_map)
        got_exc = None
    except ZeroDivisionError:
        got, got_exc = None, ZeroDivisionError

    assert got_exc == ref_exc
    if ref_exc is None:
        got_texts = {k: v["text"] for k, v in got.items()}
        assert got_texts == ref_out


@settings(max_examples=120, deadline=None)
@given(dd=ref_doc())
def test_reading_order_matches_reference_sort(dd):
    doc, dicts = dd
    ref_sorted = sorted(doc.content_boxes)
    keys = [(d["page_num"], d["x0"], d["x1"], d["y0"], d["y1"])
            for d in dicts]
    perm = reading_order(keys)
    got = [(dicts[i]["page_num"], dicts[i]["x0"], dicts[i]["x1"],
            dicts[i]["y0"], dicts[i]["y1"], dicts[i]["text"]) for i in perm]
    want = [(b.page_num, b.x0, b.x1, b.y0, b.y1, b.text) for b in ref_sorted]
    assert got == want


def _load_reference_word_shape():
    """The reference's word_shape lives in a torch-importing module;
    extract just that function via AST and execute it (differential
    oracle, nothing copied into this repo)."""
    import ast

    src = open("/root/reference/edspdf/pipes/embeddings/"
               "simple_text_embedding.py").read()
    tree = ast.parse(src)
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "word_shape")
    ns = {}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), "<ref>", "exec"),
         ns)
    return ns["word_shape"]


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=120))
def test_word_shape_matches_reference(s):
    from edspdf_spark.kernels.textfeatures import word_shape

    ref_word_shape = _load_reference_word_shape()
    assert word_shape(s) == ref_word_shape(s)


@settings(max_examples=80, deadline=None)
@given(dd=ref_doc(), n_masks=st.integers(1, 3),
       threshold=st.sampled_from([0.1, 0.5]))
def test_align_box_labels_matches_reference(dd, n_masks, threshold):
    doc, dicts = dd
    masks_ref = [REF.structures.Box(label=f"L{i}", x0=0.1 * i, x1=0.4 + 0.2 * i,
                                    y0=0.05 * i, y1=0.5 + 0.1 * i,
                                    page_num=None)
                 for i in range(n_masks)]
    ref_out = REF.alignment.align_box_labels(masks_ref, doc.content_boxes,
                                             threshold=threshold,
                                             pollution_label="none")
    ref_labels = [b.label for b in ref_out]

    keys = [(d["page_num"], d["x0"], d["x1"], d["y0"], d["y1"])
            for d in dicts]
    got = align_labels([(None, 0.1 * i, 0.4 + 0.2 * i, 0.05 * i,
                         0.5 + 0.1 * i, f"L{i}") for i in range(n_masks)],
                       keys, threshold=threshold, pollution_label="none")
    order = sorted(range(len(dicts)), key=lambda i: dicts[i]["page_num"])
    assert [got[i] for i in order] == ref_labels


def _load_reference_text_preprocess():
    """Execute the reference's SimpleTextEmbedding.preprocess with its
    OWN word_regex and word_shape (AST-extracted; torch/vocabulary
    statements filtered out, vocab encode stubbed to identity so the
    raw feature strings come back). Differential oracle for the full
    tokenize->anyascii->strip->shape/prefix/suffix/norm composition."""
    import ast
    import types

    import regex as regex_mod

    src = open("/root/reference/edspdf/pipes/embeddings/"
               "simple_text_embedding.py").read()
    tree = ast.parse(src)
    ws = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "word_shape")
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef)
               and n.name == "SimpleTextEmbedding")
    init = next(n for n in cls.body
                if isinstance(n, ast.FunctionDef) and n.name == "__init__")
    pre = next(n for n in cls.body
               if isinstance(n, ast.FunctionDef) and n.name == "preprocess")

    try:  # match the kernel's documented fallback when anyascii absent
        from anyascii import anyascii
    except Exception:
        def anyascii(s):
            return s

    ns = {"regex": regex_mod, "anyascii": anyascii,
          "PDFDoc": object}  # annotation-only name in preprocess
    exec(compile(ast.Module(body=[ws], type_ignores=[]), "<ref>", "exec"), ns)

    class _Voc:
        def encode(self, v):
            return v

    self_obj = types.SimpleNamespace(shape_voc=_Voc(), prefix_voc=_Voc(),
                                     suffix_voc=_Voc(), norm_voc=_Voc())
    # run only the regex-building assignments from __init__
    keep = []
    for s in init.body:
        if not isinstance(s, ast.Assign):
            continue
        t = s.targets[0]
        if (isinstance(t, ast.Name)
                and t.id in ("punct", "num_like", "default")) or \
           (isinstance(t, ast.Attribute) and t.attr == "word_regex"):
            keep.append(s)
    local = {"self": self_obj}
    exec(compile(ast.Module(body=keep, type_ignores=[]), "<ref>", "exec"),
         ns, local)
    exec(compile(ast.Module(body=[pre], type_ignores=[]), "<ref>", "exec"),
         ns, local)
    return self_obj, local["preprocess"]


@settings(max_examples=120, deadline=None)
@given(texts=st.lists(st.text(max_size=60), min_size=1, max_size=4))
def test_token_features_match_reference_preprocess(texts):
    import types

    from edspdf_spark.kernels.textfeatures import text_token_features

    self_obj, ref_preprocess = _load_reference_text_preprocess()
    boxes = [types.SimpleNamespace(text=t) for t in texts]
    doc = types.SimpleNamespace(
        pages=[types.SimpleNamespace(text_boxes=boxes)])
    ref = ref_preprocess(self_obj, doc)
    for i, t in enumerate(texts):
        feats = text_token_features(t)
        assert [f["shape"] for f in feats] == ref["tokens_shape"][0][i]
        assert [f["prefix"] for f in feats] == ref["tokens_prefix"][0][i]
        assert [f["suffix"] for f in feats] == ref["tokens_suffix"][0][i]
        assert [f["norm"] for f in feats] == ref["tokens_norm"][0][i]
