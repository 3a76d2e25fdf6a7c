"""FlateDecode (compressed content-stream) parser coverage.

Mirrors the reference golden-corpus structure
(/root/reference/tests/pipes/extractors/blocks_ground_truth.py +
test_pdfminer.py): a frozen list of expected blocs per fixture, checked
field-by-field — but over this engine's own deterministic fixtures
(kernels/pdf.py writer), since pdfminer.six and its test PDFs cannot
run in this sandbox. Compressed and raw streams must parse to
BIT-IDENTICAL blocs (the north rule's byte-identical-text invariant
must not depend on the stream filter).
"""

import hashlib
import re
import zlib

import pytest

from edspdf_spark.kernels.extract import extract_doc
from edspdf_spark.kernels.pdf import (Line, PdfParseError, Segment,
                                      _scan_objects, _stream_for_obj,
                                      build_pdf, parse_pdf)
from edspdf_spark import synth


def _starts(blob):
    """The scanned body offsets `_stream_for_obj` slices from."""
    return {oid: start for oid, start, _end in _scan_objects(blob)}


def _fixture_pages():
    """Pages exercising every writer feature: multi-font styled runs,
    escapes, multiple pages, small/large sizes."""
    return [
        [Line.simple(72, 700, "Hello compressed world", size=12),
         Line(x=72, y=650, segments=[
             Segment(text="plain ", size=10),
             Segment(text="bold", font="Helvetica-Bold", size=10),
             Segment(text=" ital", font="Helvetica-Italic", size=10)]),
         Line.simple(72, 600, r"parens (x) and \slash", size=10)],
        [Line.simple(100, 500, "page two body", size=10),
         Line.simple(100, 40, "footer 2", size=8)],
    ]


def _blocs_tuple(res):
    return [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"], b["text"])
            for b in res["blocs"]]


# ---------------------------------------------------------------------------
# compressed == raw, bit-identical
# ---------------------------------------------------------------------------

def test_flate_roundtrip_bit_identical():
    pages = _fixture_pages()
    raw = build_pdf(pages, compress=False)
    comp = build_pdf(pages, compress=True)
    assert b"/FlateDecode" in comp and b"/FlateDecode" not in raw
    a, b = extract_doc(raw, extract_style=True), extract_doc(comp, extract_style=True)
    assert a == b
    assert not a["error"] and a["num_pages"] == 2


@pytest.mark.parametrize("i", [0, 1, 2, 3, 5, 7, 12, 17, 22, 34, 51, 100])
def test_flate_synth_corpus_bit_identical(i, monkeypatch):
    """Every synth recipe branch (styled/oversized/corrupt/footer) parses
    identically whether or not its content streams are deflated."""
    orig = build_pdf
    outs = {}
    for flag in (False, True):
        monkeypatch.setattr(synth, "build_pdf",
                            lambda pages, _f=flag, **kw: orig(pages, compress=_f))
        outs[flag] = extract_doc(synth.make_pdf_bytes(i))
    assert outs[False] == outs[True]


def test_synth_corpus_contains_compressed_docs():
    # every 5th doc (i % 5 == 2) ships FlateDecode streams
    assert b"/FlateDecode" in synth.make_pdf_bytes(2)
    assert b"/FlateDecode" in synth.make_pdf_bytes(7)  # styled AND compressed
    assert b"/FlateDecode" not in synth.make_pdf_bytes(1)


# ---------------------------------------------------------------------------
# frozen golden blocs (reference blocks_ground_truth.py structure)
# ---------------------------------------------------------------------------

# extract_doc(make_pdf_bytes(2)) — doc 2 is compressed in the corpus.
# Values frozen from the deterministic generator; regenerate only if the
# synth recipe or the monospaced font model deliberately changes.
DOC2_HEAD_BLOCS = [
    (0, 0.12, 0.33568627450980393, 0.05252525252525253, 0.06515151515151518,
     "Page 1 of doc 00000002"),
    (0, 0.16, 0.4345098039215686, 0.1499999999999999, 0.16262626262626256,
     "sort body window line column"),
    (0, 0.16, 0.4345098039215686, 0.1563131313131313, 0.16893939393939383,
     "join page spark column table"),
    (0, 0.2, 0.32745098039215687, 0.17272727272727262, 0.18535353535353527,
     "hash row scan"),
    (0, 0.2, 0.3568627450980392, 0.17398989898989892, 0.18661616161616157,
     "value scan batch"),
    (0, 0.14, 0.4635294117647059, 0.2055555555555555, 0.21818181818181814,
     "stream vector header extract scan"),
]
DOC2_BLOCS_MD5 = "c7b98dd4fcbfbbe4e255b69b9d12a51f"


def test_golden_blocs_doc2_compressed():
    res = extract_doc(synth.make_pdf_bytes(2))
    assert not res["error"]
    assert res["num_pages"] == 3
    assert len(res["blocs"]) == 24
    got = _blocs_tuple(res)
    for exp, g in zip(DOC2_HEAD_BLOCS, got):
        assert g[0] == exp[0] and g[5] == exp[5]
        for k in range(1, 5):
            assert g[k] == pytest.approx(exp[k], abs=1e-12)
    assert hashlib.md5(repr(got).encode()).hexdigest() == DOC2_BLOCS_MD5


def test_hex_strings_in_content_streams():
    """<hex> strings (the other PDF string syntax) decode in Tj/TJ,
    with whitespace tolerated and odd digit counts zero-padded."""
    from edspdf_spark.kernels.pdf import _run_content

    lines = _run_content(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <48656C6C6F> Tj "
        b"[(mix) <2077 6F72 6C64> (!)] TJ ET", {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "Hellomix world!"
    lines = _run_content(b"BT /F1 10 Tf <484> Tj ET", {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "H@"


# ---------------------------------------------------------------------------
# PDF-1.5 object streams (/ObjStm)
# ---------------------------------------------------------------------------

def test_objstm_roundtrip_bit_identical():
    pages = _fixture_pages()
    plain = build_pdf(pages)
    for comp in (False, True):
        packed = build_pdf(pages, compress=comp, objstm=True)
        assert b"/ObjStm" in packed and packed.startswith(b"%PDF-1.5")
        assert extract_doc(packed, extract_style=True) == \
            extract_doc(plain, extract_style=True)


def test_synth_corpus_contains_objstm_docs():
    assert b"/ObjStm" in synth.make_pdf_bytes(4)   # i % 9 == 4
    assert b"/ObjStm" in synth.make_pdf_bytes(22)  # objstm AND compressed
    assert b"/FlateDecode" in synth.make_pdf_bytes(22)
    assert b"/ObjStm" not in synth.make_pdf_bytes(1)
    res = extract_doc(synth.make_pdf_bytes(4))
    assert not res["error"] and len(res["blocs"]) > 0


def test_objstm_substring_in_text_is_not_an_objstm():
    """'/ObjStm' appearing in TEXT (or stream data) must not trigger
    object-stream expansion — only the dict before `stream` counts."""
    for comp in (False, True):
        data = build_pdf([[Line.simple(72, 700, "see /ObjStm spec")]],
                         compress=comp)
        res = extract_doc(data)
        assert not res["error"]
        assert res["blocs"][0]["text"] == "see /ObjStm spec"


def test_hex_bracket_string_survives_tj_array():
    from edspdf_spark.kernels.pdf import _run_content

    lines = _run_content(b"BT /F1 10 Tf [(A) <5B> (B)] TJ ET",
                         {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "A[B"


def test_tj_shows_only_a_string_operand():
    """A `[` delimiter or a number before Tj is a malformed operand:
    it is skipped, never shown as its repr or as "5.0". A hex string
    that decodes to `[` is still a string and is shown."""
    from edspdf_spark.kernels.pdf import _run_content

    fonts = {"F1": "Helvetica"}
    assert _run_content(b"BT /F1 10 Tf [ Tj ET", fonts) == []
    assert _run_content(b"BT /F1 10 Tf 5 Tj ET", fonts) == []
    lines = _run_content(b"BT /F1 10 Tf <5B> Tj ET", fonts)
    assert "".join(c for c, _f, _u in lines[0].chars) == "["


def test_annotate_preserves_version_header():
    from edspdf_spark.kernels.pdf import annotate_pdf

    blob = build_pdf(_fixture_pages(), objstm=True)
    ann = annotate_pdf(blob, [(0, 0.1, 0.5, 0.1, 0.2, "body")])
    assert ann.startswith(b"%PDF-1.5")
    assert extract_doc(ann) == extract_doc(blob)


def test_annotate_objstm_expands_members_into_xref():
    """ObjStm inputs are re-emitted with every member (catalog, page
    dicts, fonts) as a TOP-LEVEL classic object whose xref entry is
    in-use at the correct offset — spec-compliant viewers that trust
    the xref can locate the page tree, not just scan-based readers."""
    from edspdf_spark.kernels.pdf import annotate_pdf

    blob = build_pdf(_fixture_pages(), objstm=True)
    ann = annotate_pdf(blob, [(0, 0.1, 0.5, 0.1, 0.2, "body")])
    assert b"/ObjStm" not in ann  # container dropped, members expanded

    # parse the classic xref table and check every in-use entry
    xref_pos = int(ann.rsplit(b"startxref", 1)[1].split()[0])
    lines = ann[xref_pos:].split(b"\n")
    assert lines[0] == b"xref"
    first, count = map(int, lines[1].split())
    entries = {}
    for i in range(count):
        off, _gen, kind = lines[2 + i].split()
        entries[first + i] = (int(off), kind)
    # the catalog (and therefore /Root) must be an in-use entry whose
    # offset points at its own 'N 0 obj' header
    root = int(re.search(rb"/Root\s+(\d+)\s+0\s+R", ann).group(1))
    off, kind = entries[root]
    assert kind == b"n"
    assert ann[off:].startswith(f"{root} 0 obj".encode())
    assert b"/Catalog" in ann[off:ann.find(b"endobj", off)]
    # every in-use offset resolves to the right object header
    for oid, (off, kind) in entries.items():
        if kind == b"n" and oid != 0:
            assert ann[off:].startswith(f"{oid} 0 obj".encode()), oid
    # extraction unchanged
    assert extract_doc(ann) == extract_doc(blob)


def test_utf16be_strings_decode():
    """BOM-prefixed text strings (PDF 32000-1 §7.9.2.2) decode as
    UTF-16BE in both literal and hex syntax; non-BOM strings stay
    single-byte."""
    from edspdf_spark.kernels.pdf import _run_content

    # hex: FEFF 0048 0069 21D2 = "Hi" + RIGHTWARDS DOUBLE ARROW
    lines = _run_content(b"BT /F1 10 Tf <FEFF0048006921D2> Tj ET",
                         {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "Hi⇒"
    # literal with the BOM bytes raw
    lines = _run_content(b"BT /F1 10 Tf (\xfe\xff\x00H\x00i) Tj ET",
                         {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "Hi"
    # BOM assembled from octal escapes still counts
    lines = _run_content(rb"BT /F1 10 Tf (\376\377\000H\000i) Tj ET",
                         {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "Hi"
    # no BOM -> latin-1 byte semantics unchanged
    lines = _run_content(b"BT /F1 10 Tf (H\xe9) Tj ET",
                         {"F1": "Helvetica"})
    assert "".join(c for c, _f, _u in lines[0].chars) == "H\xe9"


def test_indirect_stream_length_resolves():
    """/Length as an indirect reference (how real writers emit
    streams) resolves through the integer object — including for a
    COMPRESSED stream whose bytes could contain 'endobj'."""
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (indirect) Tj ET"
    comp = zlib.compress(content, 6)
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>\n"
        b"endobj\n"
        b"4 0 obj\n<< /Length 6 0 R /Filter /FlateDecode >>\nstream\n"
        + comp + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        b"\nendobj\n"
        b"6 0 obj\n" + str(len(comp)).encode() + b"\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
    res = extract_doc(body)
    assert not res["error"], res
    assert res["blocs"][0]["text"] == "indirect"


def test_indirect_length_dangling_falls_back_to_scan():
    """A dangling /Length ref degrades to the endstream scan
    (repair-reader behavior) instead of failing the document."""
    data = (b"%PDF-1.4\n4 0 obj\n<< /Length 9 0 R >>\nstream\nxx\n"
            b"endstream\nendobj\n%%EOF\n")
    assert _stream_for_obj(data, 4, _starts(data)) == b"xx"


def test_tj_numeric_kerning_adjusts_advance():
    """TJ numeric operands translate by -n/1000*size (PDF spec): a
    positive kern tightens the advance, a negative one widens it, and
    x1 reflects the post-kern glyph positions."""
    from edspdf_spark.kernels.pdf import _run_content, text_width

    base = _run_content(b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(AB) (CD)] TJ ET",
                        {"F1": "Helvetica"})[0]
    kerned = _run_content(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(AB) -500 (CD)] TJ ET",
        {"F1": "Helvetica"})[0]
    # -500 thousandths at size 10 widens the advance by 5 units
    assert kerned.x1 == pytest.approx(base.x1 + 5.0)
    tight = _run_content(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(AB) 250 (CD)] TJ ET",
        {"F1": "Helvetica"})[0]
    assert tight.x1 == pytest.approx(base.x1 - 2.5)
    # characters themselves are unaffected
    assert "".join(c for c, _f, _u in kerned.chars) == "ABCD"
    # x1 still covers the widest glyph extent: a trailing positive kern
    # (cursor pulled left after the last glyph) must not shrink x1
    trail = _run_content(
        b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(ABCD) 999] TJ ET",
        {"F1": "Helvetica"})[0]
    assert trail.x1 == pytest.approx(72 + text_width("ABCD", 10.0))


def test_objstm_malformed_headers_raise():
    blob = build_pdf(_fixture_pages(), objstm=True)
    with pytest.raises(PdfParseError, match="/N or /First"):
        parse_pdf(blob.replace(b"/First", b"/Fjrst", 1))
    import re as _re
    bad_n = _re.sub(rb"/ObjStm /N (\d+)",
                    lambda m: b"/ObjStm /N %d" % (int(m.group(1)) + 99),
                    blob, count=1)
    with pytest.raises(PdfParseError, match="shorter than /N"):
        parse_pdf(bad_n)


def test_synth_corpus_inversion_free():
    """The synth layouts are inversion-free under the reference
    Box.__lt__ relation: generation order IS reading order (Timsort
    identity), which is what makes the e2e pipeline output derivable
    in closed-form SQL for the DuckDB oracles. Any synth change that
    reintroduces an inversion silently un-oracles the flagship."""
    from edspdf_spark.kernels.pdf import parse_pdf
    from edspdf_spark.kernels.reading_order import box_lt

    for i in list(range(40)) + [85, 119, 170, 238, 999]:  # incl. 17x, 7x, 5x
        try:
            parsed = parse_pdf(synth.make_pdf_bytes(i))
        except PdfParseError:
            continue  # corrupt-by-design docs
        for page in parsed:
            w, h = page.width, page.height
            keys = [(page.page_num, ln.x0 / w, ln.x1 / w,
                     1 - ln.y1 / h, 1 - ln.y0 / h) for ln in page.lines]
            for a in range(len(keys)):
                for b in range(a + 1, len(keys)):
                    assert not box_lt(keys[b], keys[a]), (i, page.page_num, a, b)


# ---------------------------------------------------------------------------
# error paths
# ---------------------------------------------------------------------------

def test_flate_corrupt_stream_raises():
    comp = build_pdf(_fixture_pages(), compress=True)
    # flip bytes inside the first compressed stream body
    m = re.search(rb"stream\r?\n", comp)
    start = m.end()
    bad = comp[:start + 4] + bytes(b ^ 0xFF for b in comp[start + 4:start + 8]) \
        + comp[start + 8:]
    with pytest.raises(PdfParseError, match="FlateDecode"):
        parse_pdf(bad)
    assert extract_doc(bad) == {"error": True, "num_pages": 0,
                                "pages": [], "blocs": []}


def test_flate_length_beyond_eof_raises():
    comp = build_pdf(_fixture_pages(), compress=True)
    bad = re.sub(rb"/Length (\d+) /Filter",
                 lambda m: b"/Length %d /Filter" % (int(m.group(1)) + 10 ** 6),
                 comp, count=1)
    with pytest.raises(PdfParseError):
        parse_pdf(bad)


def test_stream_sliced_by_length_survives_binary_keywords():
    """Stream bodies are sliced by /Length from the FULL file bytes, so
    binary content containing `endstream`/`endobj` byte runs must not
    derail parsing (the reason the old regex scan was replaced)."""
    body = b"q Q % " + b"endstream endobj " * 3 + b"\nBT /F1 10 Tf ET"
    blob = (b"%PDF-1.4\n7 0 obj\n<< /Length " + str(len(body)).encode()
            + b" >>\nstream\n" + body + b"\nendstream\nendobj\n")
    assert _stream_for_obj(blob, 7, _starts(blob)) == body
    # compressed variant: deflated bytes that *contain* `endstream`
    comp = zlib.compress(body, 6)
    blob2 = (b"%PDF-1.4\n7 0 obj\n<< /Length " + str(len(comp)).encode()
             + b" /Filter /FlateDecode >>\nstream\n" + comp
             + b"\nendstream\nendobj\n")
    assert _stream_for_obj(blob2, 7, _starts(blob2)) == body


def test_stream_without_length_falls_back_to_endstream_scan():
    body = b"BT /F1 10 Tf ET"
    blob = (b"%PDF-1.4\n3 0 obj\n<< >>\nstream\n" + body
            + b"\nendstream\nendobj\n")
    assert _stream_for_obj(blob, 3, _starts(blob)) == body


def test_indirect_length_ref_uses_endstream_fallback():
    """'/Length 12 0 R' (indirect ref) must not backtrack into a bogus
    '/Length 1' match — the endstream scan handles it."""
    body = b"BT /F1 10 Tf ET"
    blob = (b"%PDF-1.4\n3 0 obj\n<< /Length 12 0 R >>\nstream\n" + body
            + b"\nendstream\nendobj\n")
    assert _stream_for_obj(blob, 3, _starts(blob)) == body


def test_scan_objects_skips_binary_stream_bodies():
    """Stream bytes containing 'endobj' / 'N 0 obj' runs must neither
    truncate the containing object's span nor spawn phantom objects."""
    payload = b"x endobj y 9 0 obj z endstream w"
    blob = (b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog >>\nendobj\n"
            b"2 0 obj\n<< /Length " + str(len(payload)).encode()
            + b" >>\nstream\n" + payload + b"\nendstream\nendobj\n"
            b"3 0 obj\n<< /Type /Page >>\nendobj\n")
    scanned = _scan_objects(blob)
    assert [oid for oid, _s, _e in scanned] == [1, 2, 3]
    # object 2's span must reach past the embedded 'endobj' run
    _oid, s, e = scanned[1]
    assert payload in blob[s:e]


def test_flate_inside_spark_pipeline(spark):
    """Compressed docs flow through the fused Spark pipeline: the
    compressed doc parses error-free and yields non-empty body text."""
    from edspdf_spark.operators import PipelineConfig, run_fused
    from edspdf_spark.sources.readers import from_iterable

    cfg = PipelineConfig(masks=[(None, 0.0, 1.0, 0.0, 1.0, "body")],
                         threshold=0.1)
    rows = [("u2", synth.make_pdf_bytes(2)), ("u1", synth.make_pdf_bytes(1))]
    out = run_fused(from_iterable(spark, rows), cfg) \
        .where("label = 'body'").orderBy("url").collect()
    assert [r["url"] for r in out] == ["u1", "u2"]
    assert all((not r["error"]) and len(r["text"]) > 0 for r in out)
