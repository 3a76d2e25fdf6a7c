"""REAL-file parity: the reference's own resource PDFs (made by
Microsoft Word / real-world generators, NOT our synth writer) parsed
by the self-built engine against the reference's pdfminer ground
truth (tests/pipes/extractors/blocks_ground_truth.py).

This is the true pdfminer differential, achieved without pdfminer:
the engine must reproduce the exact LTTextLine set — byte-identical
text per box and geometry within the reference's own tolerance
(nested_approx abs=5e-2) — from the production binary, exercising
xref streams, ObjStm, WinAnsi TrueType fonts with INDIRECT /Widths,
per-segment BT runs re-assembled by the LAParams line rules, and TJ
kerning."""

import pytest

from edspdf_spark.kernels.extract import extract_doc

RES = "/root/reference/tests/resources"
GROUND_TRUTH = ("/root/reference/tests/pipes/extractors/"
                "blocks_ground_truth.py")


def _frozen(name):
    class TextBox(dict):
        def __init__(self, **kw):
            super().__init__(**kw)

    ns = {"TextBox": TextBox}
    src = open(GROUND_TRUTH).read()
    exec(compile("\n".join(
        ln for ln in src.splitlines()
        if not ln.startswith("from edspdf")), GROUND_TRUTH, "exec"), ns)
    return ns[name]


def _key(b):
    return (b["page_num"], round(b["y0"], 3), round(b["x0"], 3))


@pytest.mark.requires_reference(f"{RES}/test.pdf", GROUND_TRUTH)
def test_real_test_pdf_matches_pdfminer_ground_truth():
    """41/41 boxes of the real Word-generated test.pdf, byte-identical
    text, geometry ~50x inside the reference's own tolerance."""
    data = open(f"{RES}/test.pdf", "rb").read()
    res = extract_doc(data)
    assert not res["error"] and res["num_pages"] == 1
    got = sorted(res["blocs"], key=_key)
    frozen = sorted(_frozen("pdf_blocks"), key=_key)
    assert len(got) == len(frozen) == 41
    for g, f in zip(got, frozen):
        assert g["text"] == f["text"]
        assert g["page_num"] == f["page_num"]
        for fld in ("x0", "x1", "y0", "y1"):
            assert g[fld] == pytest.approx(f[fld], abs=5e-2), (f["text"],
                                                               fld)
            assert g[fld] == pytest.approx(f[fld], abs=2e-3), (f["text"],
                                                               fld)


@pytest.mark.parametrize("name,key,n", [
    pytest.param("styles", "styles_blocks", 2, marks=pytest.mark
                 .requires_reference(f"{RES}/styles.pdf", GROUND_TRUTH)),
    pytest.param("letter", "letter_blocks", 48, marks=pytest.mark
                 .requires_reference(f"{RES}/letter.pdf", GROUND_TRUTH)),
])
def test_real_cid_font_pdfs_match_ground_truth(name, key, n):
    """Google-Docs (Skia) and Word PDFs with Type0/Identity-H CID
    fonts: 2-byte codes through /ToUnicode (curly quotes, accents,
    private-use glyphs), descendant /W widths, y-flip cm + d=-1 Tm
    matrix chains. Byte-identical text, geometry ~50x inside the
    reference tolerance."""
    data = open(f"{RES}/{name}.pdf", "rb").read()
    res = extract_doc(data)
    assert not res["error"]
    got = sorted(res["blocs"], key=_key)
    frozen = sorted(_frozen(key), key=_key)
    assert len(got) == len(frozen) == n
    for g, f in zip(got, frozen):
        assert g["text"] == f["text"]
        for fld in ("x0", "x1", "y0", "y1"):
            assert g[fld] == pytest.approx(f[fld], abs=5e-2)
            assert g[fld] == pytest.approx(f[fld], abs=2e-3)


@pytest.mark.requires_reference(f"{RES}/blank.pdf")
def test_real_blank_pdf_zero_blocs():
    res = extract_doc(open(f"{RES}/blank.pdf", "rb").read())
    assert not res["error"]
    assert res["blocs"] == []


@pytest.mark.requires_reference(f"{RES}/error.pdf")
def test_real_error_pdf_error_flag():
    """error.pdf must set error=True, never raise (reference
    pdfminer.py:128-135 semantics)."""
    res = extract_doc(open(f"{RES}/error.pdf", "rb").read())
    assert res["error"] and res["blocs"] == []
