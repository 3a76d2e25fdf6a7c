"""Frozen-corpus golden tests: ALL FOUR of the reference's own
ground-truth corpora (/root/reference/tests/pipes/extractors/
blocks_ground_truth.py — the expected pdfminer output over
tests/resources/{test,styles,letter,blank}.pdf) are pinned against
THIS engine's extraction semantics.

pdfminer itself is absent here, so each corpus is exercised by
INVERTING the normalization (extract.py:75-83 / the reference
pdfminer.py:103-111): each frozen TextBox is mapped back to PDF user
space on the real page geometry of its source PDF, written with a
per-line proportional /Widths font whose uniform advance reproduces
the frozen extent, and re-extracted. Lines containing characters
outside printable ASCII (letter.pdf's accents, curly quotes and
private-use glyphs; styles.pdf's curly quotes) are written as raw
character CODES through a per-font /ToUnicode CMap — the
embedded-font situation — so the decode path is exercised on the
reference's own multilingual data. Agreement within the reference's
own tolerance (nested_approx abs=5e-2,
tests/pipes/extractors/test_pdfminer.py:11) — and a 40x tighter
bound — pins the full normalize/y-flip/extent/ToUnicode pipeline."""

import pytest

from edspdf_spark.kernels.extract import extract_doc
from edspdf_spark.kernels.pdf import (DESCENT, Line, Segment, build_pdf,
                                      read_xref_stream)

GROUND_TRUTH = ("/root/reference/tests/pipes/extractors/"
                "blocks_ground_truth.py")

pytestmark = pytest.mark.requires_reference(GROUND_TRUTH)

# real MediaBox of each reference resource PDF (read from the files)
CORPORA = {
    "pdf_blocks": (595.32, 841.92),          # test.pdf
    "styles_blocks": (612.0, 792.0),         # styles.pdf
    "letter_blocks": (595.32, 841.92),       # letter.pdf
    "blank_blocks": (595.303937007874, 841.889763779528),  # blank.pdf
}


def _load_frozen(name="pdf_blocks"):
    """Exec the reference literals with a shim TextBox (the real one
    needs the reference package; only the fields matter here)."""
    class TextBox(dict):
        def __init__(self, **kw):
            super().__init__(**kw)

    ns = {"TextBox": TextBox}
    src = open(GROUND_TRUTH).read()
    exec(compile("\n".join(
        ln for ln in src.splitlines()
        if not ln.startswith("from edspdf")), GROUND_TRUTH, "exec"), ns)
    return ns[name]


def _rebuild_pdf(frozen, page_w=595.32, page_h=841.92, **kw):
    """Invert normalization: frozen (x0, x1, y0, y1) -> baseline (x, y)
    + font size + a uniform-width /Widths font reproducing the extent.
    Non-ASCII lines are emitted as character codes + /ToUnicode.

    Boxes are interleaved (evens then odds) so same-baseline frozen
    NEIGHBORS are never stream-consecutive: the parser's
    pdfminer-style line assembly merges only stream-adjacent runs,
    and the real source PDFs emit such boxes in separate passes —
    which is exactly why pdfminer kept them separate in the ground
    truth."""
    frozen = list(frozen[::2]) + list(frozen[1::2])
    lines, fonts, cmaps = [], {}, {}
    for li, tb in enumerate(frozen):
        size = (tb["y1"] - tb["y0"]) * page_h  # box height == size
        yb = (1 - tb["y1"]) * page_h - DESCENT * size / 1000.0
        adv = (tb["x1"] - tb["x0"]) * page_w  # points
        text = tb["text"]
        w = round(adv * 1000.0 / (size * len(text)))
        name = f"Frozen{li}"
        fonts[name] = ([w] * 95, 32)
        if any(not 32 <= ord(ch) <= 126 for ch in text):
            distinct = sorted(set(text))
            assert len(distinct) <= 95, "code space exhausted"
            cmaps[name] = {32 + i: ch for i, ch in enumerate(distinct)}
            code_of = {ch: 32 + i for i, ch in enumerate(distinct)}
            text = "".join(chr(code_of[ch]) for ch in text)
        lines.append(Line(x=tb["x0"] * page_w, y=yb,
                          segments=[Segment(text=text, font=name,
                                            size=size)]))
    return build_pdf([lines], page_width=page_w, page_height=page_h,
                     custom_fonts=fonts, to_unicode=cmaps or None, **kw)


@pytest.mark.parametrize("corpus", list(CORPORA))
@pytest.mark.parametrize("kw", [
    {},
    {"objstm": True, "xref_stream": True, "compress": True},
], ids=["classic", "objstm_xref"])
def test_frozen_corpus_roundtrip(corpus, kw):
    frozen = _load_frozen(corpus)
    page_w, page_h = CORPORA[corpus]
    assert len(frozen) == {"pdf_blocks": 41, "styles_blocks": 2,
                           "letter_blocks": 48, "blank_blocks": 0}[corpus]
    blob = _rebuild_pdf(frozen, page_w, page_h, **kw)
    if kw:
        assert b"/ObjStm" in blob and b"/XRef" in blob

    res = extract_doc(blob)
    assert not res["error"]
    got = res["blocs"]
    assert len(got) == len(frozen)

    def key(b):
        return (round(b["y0"], 3), round(b["x0"], 3), b["text"])

    for g, f in zip(sorted(got, key=key), sorted(frozen, key=key)):
        assert g["text"] == f["text"]
        assert g["page_num"] == f["page_num"]
        for fld in ("x0", "x1", "y0", "y1"):
            # the reference's own tolerance, then 40x tighter
            assert g[fld] == pytest.approx(f[fld], abs=5e-2), fld
            assert g[fld] == pytest.approx(f[fld], abs=1.25e-3), fld


def test_frozen_corpus_needs_proportional_metrics():
    """The monospaced model CANNOT reproduce the frozen extents — the
    corpus genuinely exercises /Widths parsing (a ~100-char Lorem line
    at ~10pt would be ~1 page-width monospaced vs the frozen ~0.77)."""
    frozen = _load_frozen()
    page_w, page_h = CORPORA["pdf_blocks"]
    tb = max(frozen, key=lambda t: len(t["text"]))
    size = (tb["y1"] - tb["y0"]) * page_h
    mono_x1 = tb["x0"] + len(tb["text"]) * 600 * size / 1000.0 / page_w
    assert abs(mono_x1 - tb["x1"]) > 5e-2


def test_letter_corpus_exercises_tounicode():
    """letter.pdf's frozen text contains characters no latin-1 content
    stream can carry (private-use /, curly apostrophes) —
    the rebuilt corpus must go through /ToUnicode and come back
    byte-identical (the per-url byte-identity invariant at the
    character level)."""
    frozen = _load_frozen("letter_blocks")
    joined = "".join(tb["text"] for tb in frozen)
    assert any(ord(ch) > 255 for ch in joined)
    blob = _rebuild_pdf(frozen, *CORPORA["letter_blocks"])
    assert b"/ToUnicode" in blob
    got = sorted(b["text"] for b in extract_doc(blob)["blocs"])
    assert got == sorted(tb["text"] for tb in frozen)


@pytest.mark.parametrize("kw", [
    {"xref_stream": True},
    {"xref_stream": True, "objstm": True},
], ids=["xref_only", "xref_objstm"])
def test_xref_stream_reader_matches_scan(kw):
    """read_xref_stream's type-1 offsets point at the object headers
    the scanner finds; type-2 entries name the ObjStm container and
    the member's index within it."""
    frozen = _load_frozen()[:3]
    data = _rebuild_pdf(frozen, **kw)
    entries = read_xref_stream(data)
    assert entries[0][0] == 0  # free head
    saw_type2 = False
    for oid, (typ, f2, f3) in entries.items():
        if typ == 1:
            assert data[f2:].startswith(f"{oid} 0 obj".encode()), oid
        elif typ == 2:
            saw_type2 = True
            stm_off = entries[f2][1]
            assert data[stm_off:].startswith(f"{f2} 0 obj".encode())
            assert b"/ObjStm" in data[stm_off:stm_off + 200]
            assert f3 >= 0
    assert saw_type2 == ("objstm" in kw)
