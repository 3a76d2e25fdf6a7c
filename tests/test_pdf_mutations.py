"""Adversarial structure corpus (r4 VERDICT #4): every original PDF,
re-expressed through 9 file-structure mutations a real-world writer
could have chosen — object-stream repacking, classic-table rewrites,
split content arrays, indirect lengths and resources, reversed object
numbering, incremental updates that vandalize the original stream
bytes, and re/de-compression — must parse to the EXACT same bloc set
as the unmutated file.

The originals live in this repo: the non-error synth docs among the
first 40 (classic, FlateDecode and /ObjStm layouts, styled and 3-page
docs), a two-page FlateDecode doc, a /ToUnicode doc with /Widths
metrics, and a blank page. The reference resource PDFs (themselves
pinned to the reference's pdfminer ground truth by
test_real_pdf_parity.py) are extra cases when that checkout exists.

Mutants are built by edspdf_spark/kernels/pdf_rewrite.py, which
serializes through `kernels.pdf.write_pdf` (the writer `build_pdf`
uses too), independent of the parser's reader: a scanner bug that
mangled structure would produce a mutant whose parse diverges here,
not one that round-trips the bug invisibly."""

import pytest

from edspdf_spark.kernels.extract import extract_doc
from edspdf_spark.kernels.pdf import (Line, PdfParseError, Segment,
                                      _dict_head, _load_objects, build_pdf,
                                      read_xref_stream)
from edspdf_spark.kernels.pdf_rewrite import ALL_MUTATIONS, objstm_repack
from edspdf_spark.synth import make_pdf_bytes
from tests.test_pdf_flate import _fixture_pages
from tests.test_pdf_tounicode import CMAP

RES = "/root/reference/tests/resources"


def _reference(name):
    path = f"{RES}/{name}.pdf"
    return pytest.param(lambda: open(path, "rb").read(), id=name,
                        marks=pytest.mark.requires_reference(path))


def _tounicode_doc():
    line = Line(x=72, y=700, segments=[Segment("AB C", "Coded", 10.0)])
    return build_pdf([[line]], custom_fonts={"Coded": ([500] * 95, 32)},
                     to_unicode={"Coded": CMAP})


# every 13th synth doc (13, 26, 39) is truncated by design
ORIGINALS = [pytest.param(lambda i=i: make_pdf_bytes(i), id=f"synth{i:02d}")
             for i in range(40) if i == 0 or i % 13]
ORIGINALS += [
    pytest.param(lambda: build_pdf(_fixture_pages(), compress=True),
                 id="flate"),
    pytest.param(_tounicode_doc, id="tounicode"),
    _reference("test"), _reference("styles"), _reference("letter"),
]
BLANKS = [pytest.param(lambda: build_pdf([[]]), id="empty_page"),
          _reference("blank")]


def _blocs(data: bytes):
    res = extract_doc(data)
    assert not res["error"], res
    return sorted(
        (b["page_num"], b["text"], b["x0"], b["x1"], b["y0"], b["y1"])
        for b in res["blocs"])


@pytest.fixture(params=ORIGINALS)
def original(request):
    data = request.param()
    return data, _blocs(data)


@pytest.fixture(params=BLANKS)
def blank(request):
    return request.param()


@pytest.mark.parametrize("mutation", sorted(ALL_MUTATIONS))
def test_mutated_pdf_parses_identically(original, mutation):
    data, want = original
    try:
        mutant = ALL_MUTATIONS[mutation](data)
    except PdfParseError as exc:
        pytest.skip(f"{mutation} inapplicable: {exc}")
    assert mutant != data
    assert _blocs(mutant) == want, mutation


@pytest.mark.parametrize("mutation", ["classicize", "objstm_repack",
                                      "renumber_reversed"])
def test_mutated_blank_pdf_stays_blank(blank, mutation):
    assert _blocs(blank) == []
    mutant = ALL_MUTATIONS[mutation](blank)
    assert _blocs(mutant) == []


def test_mutations_compose(original):
    """Chained mutations (repack -> renumber -> split -> indirect
    lengths -> classicize) still parse identically — the structure
    features compose the way real writer pipelines stack them."""
    data, want = original
    m = ALL_MUTATIONS["objstm_repack"](data)
    m = ALL_MUTATIONS["renumber_reversed"](m)
    m = ALL_MUTATIONS["split_contents"](m)
    m = ALL_MUTATIONS["indirect_lengths"](m)
    m = ALL_MUTATIONS["classicize"](m)
    assert _blocs(m) == want


def test_incremental_override_vandalized_base_is_garbage(original):
    """The incremental mutant's FIRST copy of each content stream is
    vandalized in place — proof the parser really honors
    last-occurrence-wins rather than happening to read bytes that are
    still valid."""
    from edspdf_spark.kernels.pdf_rewrite import (incremental_override,
                                                  parse_objects,
                                                  write_classic)
    data, want = original
    mutant = incremental_override(data)
    assert _blocs(mutant) == want
    # truncating the file before the appended section leaves only the
    # vandalized copies: the parse must NOT reproduce the document
    base_len = len(write_classic(parse_objects(data)))
    truncated = mutant[:base_len]
    res = extract_doc(truncated)
    got = sorted((b["page_num"], b["text"]) for b in res["blocs"])
    assert res["error"] or got != sorted((p, t) for p, t, *_ in want)


def test_extract_doc_byte_flip_fuzz_never_raises():
    """Common-Crawl reality: truncated/bit-rotted PDFs. Any byte
    corruption of a valid document must either still parse or come
    back as an error row — neither extract_doc nor the fused per-doc
    chain (process_doc) raises or hangs, so no such doc fails a Spark
    task. Deterministic RNG so failures reproduce."""
    import random

    from edspdf_spark.kernels import extract_doc
    from edspdf_spark.operators.fused import PipelineConfig, process_doc

    rng = random.Random(20260818)
    base = bytearray(make_pdf_bytes(7))
    for trial in range(60):
        data = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            pos = rng.randrange(len(data))
            data[pos] = rng.randrange(256)
        res = extract_doc(bytes(data))
        assert isinstance(res["error"], bool), trial
        assert isinstance(res["blocs"], list), trial

    # truncations at every granularity
    for cut in (0, 1, 16, len(base) // 3, len(base) // 2, len(base) - 7):
        res = extract_doc(bytes(base[:cut]))
        assert isinstance(res["error"], bool)

    # the fused per-doc chain over 15 mutants of each of 400 synth docs:
    # each mutant overwrites 1-4 bytes, truncates, or inserts 1-8 bytes
    cfg = PipelineConfig(masks=[(None, 0.1, 0.9, 0.1, 0.9, "body")],
                         threshold=0.1)
    rng = random.Random(7)
    for i in range(400):
        doc = make_pdf_bytes(i)
        for trial in range(15):
            data = bytearray(doc)
            kind = rng.randrange(3)
            if kind == 0:
                for _ in range(rng.randint(1, 4)):
                    data[rng.randrange(len(data))] = rng.randrange(256)
            elif kind == 1:
                del data[rng.randrange(len(data)):]
            else:
                pos = rng.randrange(len(data) + 1)
                data[pos:pos] = bytes(rng.randrange(256)
                                      for _ in range(rng.randint(1, 8)))
            rows = process_doc(f"doc{i}", bytes(data), cfg)
            assert isinstance(rows, list), (i, trial)


XREF_STREAM_DOCS = (
    [pytest.param(lambda kw=kw: build_pdf(_fixture_pages(), xref_stream=True,
                                          **kw), id=name)
     for name, kw in [("synth_xref", {}), ("synth_xref_objstm",
                                           {"objstm": True}),
                      ("synth_xref_objstm_flate",
                       {"objstm": True, "compress": True})]]
    + [pytest.param(lambda i=i: objstm_repack(make_pdf_bytes(i)),
                    id=f"objstm_repack{i:02d}") for i in (0, 2, 4, 7, 17)])


@pytest.mark.parametrize("make", XREF_STREAM_DOCS)
def test_xref_stream_entries_locate_every_object(make):
    """The one xref-stream form of `write_pdf`, read back by
    read_xref_stream: each type-1 entry points at its `oid 0 obj`
    header, each type-2 entry names the /ObjStm container and the
    member's index in it, and together they cover every object."""
    data = make()
    entries = read_xref_stream(data)
    objs, starts, members = _load_objects(data)
    assert entries[0] == (0, 0, 65535)  # free-list head
    direct, packed = set(), set()
    for oid, (typ, f2, f3) in entries.items():
        if typ == 1:
            assert data.startswith(b"%d 0 obj" % oid, f2), oid
            direct.add(oid)
        elif typ == 2:
            assert entries[f2][0] == 1, oid
            assert b"/ObjStm" in _dict_head(objs[f2]), oid
            assert members[f2][f3] == oid
            packed.add(oid)
        else:
            assert typ == 0, oid
    assert direct == set(starts)
    assert packed == {m for ms in members.values() for m in ms}
