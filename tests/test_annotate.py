"""Annotation overlay (show_annotations analog, kernels/pdf.py +
operators/annotate.py): rectangles land in the right places with the
reference's color assignment, and extraction is unaffected."""

import re

import pytest

from edspdf_spark import synth
from edspdf_spark.kernels.extract import extract_doc
from edspdf_spark.kernels.pdf import (CATEGORY20, annotate_pdf,
                                      compare_pdfs, parse_pdf)
from edspdf_spark.kernels.pdf_rewrite import (ALL_MUTATIONS, PdfObj,
                                              parse_objects, write_classic)
from edspdf_spark.operators.annotate import annotate_doc, run_annotate
from edspdf_spark.operators.fused import PipelineConfig

CFG = PipelineConfig(masks=[(None, 0.1, 0.9, 0.1, 0.9, "body")],
                     threshold=0.1)


def _annotations(data):
    res = extract_doc(data)
    return [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"], "body")
            for b in res["blocs"]]


def _nested_pages(data):
    """`data` with its page-tree root's kids moved under an
    intermediate /Pages node that also carries the pages' /MediaBox
    (inherited, PDF 32000-1 table 30)."""
    objs = parse_objects(data)
    root = next(oid for oid, o in objs.items()
                if re.search(rb"/Type\s*/Pages\b", o.head))
    mid = max(objs) + 1
    kids = re.search(rb"/Kids\s*\[[^\]]*\]", objs[root].head).group(0)
    objs[mid] = PdfObj(b"<< /Type /Pages /Parent %d 0 R %s /Count %d "
                       b"/MediaBox [0 0 612 792] >>"
                       % (root, kids, kids.count(b" R")))
    objs[root].head = objs[root].head.replace(kids, b"/Kids [%d 0 R]" % mid)
    for o in objs.values():
        if re.search(rb"/Type\s*/Page\b", o.head):
            o.head = (o.head.replace(b"/MediaBox [0 0 612 792] ", b"")
                      .replace(b"/Parent %d 0 R" % root,
                               b"/Parent %d 0 R" % mid))
    return write_classic(objs)


def _shared_contents(data):
    """`data` with its second page's /Contents pointed at the first
    page's stream: two pages showing one content stream (legal, and
    how writers repeat a template page)."""
    objs = parse_objects(data)
    pages = [o for _oid, o in sorted(objs.items())
             if re.search(rb"/Type\s*/Page\b", o.head)]
    ref = re.compile(rb"/Contents\s+\d+\s+0\s+R")
    pages[1].head = ref.sub(ref.search(pages[0].head).group(0),
                            pages[1].head)
    return write_classic(objs)


# raw/flate/objstm synth docs, the 9 structure mutants of a two-page
# /ObjStm doc (split content arrays, incremental updates, ...), a
# nested page tree and two pages sharing one content stream
ANNOTATE_INPUTS = (
    [pytest.param(lambda i=i: synth.make_pdf_bytes(i), id=str(i))
     for i in (1, 2, 4, 7, 17, 22)]
    + [pytest.param(lambda m=m: ALL_MUTATIONS[m](synth.make_pdf_bytes(4)),
                    id=m) for m in sorted(ALL_MUTATIONS)]
    + [pytest.param(lambda: _nested_pages(synth.make_pdf_bytes(1)),
                    id="nested_pages"),
       pytest.param(lambda: _shared_contents(synth.make_pdf_bytes(1)),
                    id="shared_contents")])


@pytest.mark.parametrize("make", ANNOTATE_INPUTS)
def test_annotate_preserves_extraction(make):
    data = make()
    anns = _annotations(data)
    ann = annotate_pdf(data, anns)
    assert extract_doc(ann) == extract_doc(data)
    assert ann.count(b" re S Q") == len(anns)  # one outline per bloc
    # reference color 0 for the first label, as stroke RGB
    r, g, b = (int(CATEGORY20[0].lstrip("#")[k:k + 2], 16) / 255.0
               for k in (0, 2, 4))
    assert f"{r:g} {g:g} {b:g} RG".encode() in ann


def test_annotate_rect_count_and_geometry():
    data = synth.make_pdf_bytes(1)
    ann_list = _annotations(data)
    ann = annotate_pdf(data, ann_list)
    assert ann.count(b" re S Q") == len(ann_list)
    # first rectangle: header bloc on page 0
    page0 = parse_pdf(data)[0]
    b0 = ann_list[0]
    expect = (f"{b0[1] * page0.width:g} {(1 - b0[4]) * page0.height:g} "
              f"{(b0[2] - b0[1]) * page0.width:g} "
              f"{(b0[4] - b0[3]) * page0.height:g} re S").encode()
    assert expect in ann


def test_annotate_color_assignment_encounter_order():
    data = synth.make_pdf_bytes(1)
    res = extract_doc(data)
    anns = []
    for k, b in enumerate(res["blocs"]):
        label = ["header", "body", "footer"][k % 3]
        anns.append((b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"],
                     label))
    ann = annotate_pdf(data, anns)
    for idx in range(3):  # first three unique labels -> CATEGORY20[0..2]
        r, g, b_ = (int(CATEGORY20[idx].lstrip("#")[k:k + 2], 16) / 255.0
                    for k in (0, 2, 4))
        assert f"{r:g} {g:g} {b_:g} RG".encode() in ann


def test_compare_pdfs_shared_colors():
    data = synth.make_pdf_bytes(1)
    anns = _annotations(data)
    gold = [(a[0], a[1], a[2], a[3], a[4], "gold") for a in anns]
    # pred labels get color 0, gold labels color 1 (one assignment over
    # pred+gold), from the default palette or a given list alike
    for colors in (None, ["#ff0000", "#00ff00"]):
        p, g = compare_pdfs(data, anns, gold, colors)
        assert extract_doc(p) == extract_doc(data) == extract_doc(g)
        c0, c1 = (tuple(int(c.lstrip("#")[k:k + 2], 16) / 255.0
                        for k in (0, 2, 4))
                  for c in (colors or CATEGORY20)[:2])
        assert f"{c0[0]:g} {c0[1]:g} {c0[2]:g} RG".encode() in p
        assert f"{c1[0]:g} {c1[1]:g} {c1[2]:g} RG".encode() in g
        assert f"{c0[0]:g} {c0[1]:g} {c0[2]:g} RG".encode() not in g


def test_annotate_doc_passthrough_on_error():
    corrupt = synth.make_pdf_bytes(13)
    assert annotate_doc("u", corrupt, CFG) == corrupt
    html = synth.synth_html_bytes(3)
    assert annotate_doc("u", html, CFG) == html


def test_run_annotate_spark(spark):
    from edspdf_spark.sources.readers import from_iterable

    rows = [(f"u{i}", synth.make_pdf_bytes(i)) for i in (1, 2, 13)]
    out = {r["url"]: bytes(r["html"])
           for r in run_annotate(from_iterable(spark, rows), CFG).collect()}
    assert out["u13"] == rows[2][1]  # corrupt passthrough
    for u, orig in rows[:2]:
        assert b" re S Q" in out[u]
        assert extract_doc(out[u]) == extract_doc(orig)


def test_annotate_doc_reads_each_pdf_once(monkeypatch):
    """Extraction and overlay share one `_read_pdf` per document."""
    from edspdf_spark.kernels import pdf
    from edspdf_spark.operators import annotate

    calls = []
    real = pdf._read_pdf

    def counting(data):
        calls.append(1)
        return real(data)

    monkeypatch.setattr(pdf, "_read_pdf", counting)
    monkeypatch.setattr(annotate, "_read_pdf", counting)
    for i in (1, 2, 7, 13):
        doc = synth.make_pdf_bytes(i)
        calls.clear()
        out = annotate_doc("u", doc, CFG)
        assert len(calls) == 1, i
        if i != 13:
            assert b" re S Q" in out
