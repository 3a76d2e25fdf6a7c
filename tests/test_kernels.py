"""Kernel unit tests — golden cases lifted from the reference test
suite (FIXTURES.md §4; citations per case)."""

import re

import pytest

from edspdf_spark.kernels import (PdfParseError, aggregate_doc, align_labels,
                                  build_pdf, classify_with_masks, extract_doc,
                                  parse_pdf, reading_order, to_markdown,
                                  walk_line)
from edspdf_spark.kernels.pdf import Line, Segment, annotate_pdf
from edspdf_spark.kernels.pdf_rewrite import parse_objects, write_classic
from edspdf_spark.synth import make_pdf_bytes


# ---------------------------------------------------------------------------
# pdf writer/parser roundtrip
# ---------------------------------------------------------------------------

def test_pdf_roundtrip_simple():
    pages = [[Line.simple(72, 700, "Hello world", size=12),
              Line.simple(72, 650, "Second line", size=12)],
             [Line.simple(100, 500, "Page two", size=10)]]
    data = build_pdf(pages)
    parsed = parse_pdf(data)
    assert len(parsed) == 2
    assert parsed[0].width == 612 and parsed[0].height == 792
    texts = ["".join(c for c, _f, _u in ln.chars) for ln in parsed[0].lines]
    assert texts == ["Hello world", "Second line"]
    ln = parsed[0].lines[0]
    assert ln.x0 == 72
    # monospaced advance: 11 chars * 600/1000 * 12pt
    assert ln.x1 == pytest.approx(72 + 11 * 0.6 * 12)
    assert ln.y1 == pytest.approx(700 + 0.8 * 12)
    assert ln.y0 == pytest.approx(700 - 0.2 * 12)


def test_pdf_roundtrip_styled_segments():
    pages = [[Line(x=72, y=700, segments=[
        Segment(text="plain ", size=10),
        Segment(text="bold", font="Helvetica-Bold", size=10),
        Segment(text=" ital", font="Helvetica-Italic", size=10),
    ])]]
    parsed = parse_pdf(build_pdf(pages))
    ln = parsed[0].lines[0]
    assert "".join(c for c, _f, _u in ln.chars) == "plain bold ital"
    fonts = {f for _c, f, _u in ln.chars}
    assert fonts == {"Helvetica", "Helvetica-Bold", "Helvetica-Italic"}


def test_pdf_escapes_roundtrip():
    pages = [[Line.simple(72, 700, r"parens (x) and \slash", size=10)]]
    parsed = parse_pdf(build_pdf(pages))
    assert "".join(c for c, _f, _u in parsed[0].lines[0].chars) == \
        r"parens (x) and \slash"


def test_pdf_parse_error_on_truncated():
    data = build_pdf([[Line.simple(72, 700, "x")]])
    with pytest.raises(PdfParseError):
        parse_pdf(data[:100])
    with pytest.raises(PdfParseError):
        parse_pdf(b"not a pdf at all")


# (box, plain page size, /Rotate, the node carrying /Rotate, the
# inverse `cm` of the page's initial CTM per pdfminer's
# PDFPageInterpreter.process_page); 90 and 270 use a square box
_PAGE_FRAMES = [
    pytest.param(b"[100 100 712 892]", (612, 792), b"", "page",
                 b"1 0 0 1 100 100", id="origin"),
    pytest.param(b"[0 0 612 792]", (612, 792), b"180", "page",
                 b"-1 0 0 -1 612 792", id="rotate180"),
    pytest.param(b"[0 0 792 792]", (792, 792), b"90", "page",
                 b"0 1 -1 0 792 0", id="rotate90"),
    pytest.param(b"[0 0 792 792]", (792, 792), b"270", "page",
                 b"0 -1 1 0 0 792", id="rotate270"),
    pytest.param(b"[0 0 792 792]", (792, 792), b"-90", "pages",
                 b"0 -1 1 0 0 792", id="inherited_rotate-90"),
    pytest.param(b"[100 100 892 892]", (792, 792), b"90", "page",
                 b"0 1 -1 0 892 100", id="origin_rotate90"),
]


@pytest.mark.parametrize("box,size,rotate,holder,inverse_cm", _PAGE_FRAMES)
def test_page_ctm_follows_box_origin_and_rotate(box, size, rotate, holder,
                                                inverse_cm):
    """A page whose content starts with the inverse `cm` of its initial
    CTM extracts the same blocs as the plain page, and annotate_pdf
    draws its outlines through that same inverse."""
    plain = build_pdf([[Line.simple(72, 700, "Framed page", size=12),
                        Line(x=72, y=300, segments=[
                            Segment(text="plain ", size=10),
                            Segment(text="bold", font="Helvetica-Bold",
                                    size=10)])]],
                      page_width=size[0], page_height=size[1])
    objs = parse_objects(plain)
    for o in objs.values():
        if o.stream is not None:
            o.stream = inverse_cm + b" cm\n" + o.stream
        elif re.search(rb"/Type\s*/Page\b", o.head):
            o.head = re.sub(rb"/MediaBox \[[^\]]*\]", b"/MediaBox " + box,
                            o.head)
        if rotate and re.search(rb"/Type\s*/" + holder.title().encode()
                                + rb"\b", o.head):
            o.head = o.head.replace(b" >>", b" /Rotate %s >>" % rotate, 1)
    framed = write_classic(objs)
    want = extract_doc(plain, extract_style=True)
    assert len(want["blocs"]) == 2
    assert extract_doc(framed, extract_style=True) == want

    anns = [(b["page_num"], b["x0"], b["x1"], b["y0"], b["y1"], "body")
            for b in want["blocs"]]

    def outlines(data):
        return re.findall(rb"q [^\n]*? re S Q", annotate_pdf(data, anns))

    assert outlines(framed) == [
        op.replace(b"q ", b"q " + inverse_cm + b" cm ", 1)
        for op in outlines(plain)]


# ---------------------------------------------------------------------------
# style walk (reference pdfminer.py:197-249)
# ---------------------------------------------------------------------------

def _chars(s, font="Helvetica", upright=True):
    return [(c, font, upright) for c in s]


def test_walk_line_whitespace_rules():
    text, spans = walk_line(_chars("  Hello\t world  "))
    assert text == "Hello world"  # no leading/double spaces, rstripped
    assert spans[0]["begin"] == 0


def test_walk_line_style_runs():
    chars = _chars("ab ") + _chars("cd", font="Helvetica-Bold") + \
        _chars(" ef", font="Helvetica-Italic")
    text, spans = walk_line(chars)
    assert text == "ab cd ef"
    # spaces inherit the previous style key but do NOT extend span end
    # (reference pdfminer.py:240-241: `elif new_char_text != " "`)
    assert [s["bold"] for s in spans] == [False, True, False]
    assert [s["italic"] for s in spans] == [False, False, True]
    assert text[spans[1]["begin"]:spans[1]["end"]] == "cd"
    assert text[spans[2]["begin"]:spans[2]["end"]] == "ef"


def test_walk_line_empty():
    assert walk_line([]) == ("", [])
    text, spans = walk_line(_chars("   "))
    assert text == ""


def test_fast_stream_replay_matches_interpreter():
    """_run_content's restricted-grammar fast path must be
    bit-identical to the general interpreter on synth documents (the
    shape it exists for), and real-writer constructs must fall back
    (pinned indirectly by the real-PDF parity suite)."""
    import re as _re

    from edspdf_spark.kernels import pdf as P

    saved = P._FAST_STREAM_RE
    try:
        for i in (0, 3, 7, 13, 17, 42):
            blob = make_pdf_bytes(i)
            P._FAST_STREAM_RE = saved
            fast = extract_doc(blob, extract_style=True)
            P._FAST_STREAM_RE = _re.compile(rb"(?!x)x")  # never match
            slow = extract_doc(blob, extract_style=True)
            assert fast == slow, f"doc {i}"
    finally:
        P._FAST_STREAM_RE = saved


def test_fast_op_findall_dispatch_is_unambiguous():
    """The fast replay dispatches on findall tuples by truthiness, so
    each op must fill exactly its own group(s), and no group may be
    able to match empty bytes (an empty match would read as "not this
    op")."""
    from re import _parser as sre_parse

    from edspdf_spark.kernels import pdf as P

    groups = ("s", "tm", "tag", "size", "bt", "et")
    ops = [(b"(hi) Tj\n", {"s"}), (b"() Tj\n", {"s"}),
           (b"1 0 0 1 72.5 -7 Tm\n", {"tm"}),
           (b"/F1 12 Tf\n", {"tag", "size"}),
           (b"BT\n", {"bt"}), (b"ET\n", {"et"}), (b"ET", {"et"})]
    for op, own in ops:
        (hit,) = P._FAST_OP_RE.findall(op)
        assert {g for g, v in zip(groups, hit) if v} == own, op
    stream = b"".join(op for op, _own in ops[:-1]) + b"ET"
    assert len(P._FAST_OP_RE.findall(stream)) == len(ops)

    def group_widths(sub):
        for code, av in sub:
            if code is sre_parse.SUBPATTERN:
                if av[0]:
                    yield av[0], av[-1].getwidth()[0]
                yield from group_widths(av[-1])
            elif code is sre_parse.BRANCH:
                for branch in av[1]:
                    yield from group_widths(branch)
            elif code in (sre_parse.MAX_REPEAT, sre_parse.MIN_REPEAT):
                yield from group_widths(av[2])

    names = {i: n for n, i in P._FAST_OP_RE.groupindex.items()}
    widths = {names[i]: w for i, w in group_widths(
        sre_parse.parse(P._FAST_OP_RE.pattern))}
    assert set(widths) == set(groups)
    assert all(w > 0 for w in widths.values()), widths


def test_walk_line_text_matches_walk_line():
    """The extract_style=False fast path must produce the exact text
    of the per-char walk for every whitespace shape the normalizer
    handles (runs carry single-char-granularity text)."""
    import random

    from edspdf_spark.kernels.styles import walk_line_text

    cases = [
        "", "   ", "a", "  Hello\t world  ", "a b", "x\n\ny",
        "tab\tandmore", " lead", "trail ", "a  b   c",
        "\t\t", "mixed  thin  spaces",
    ]
    rng = random.Random(7)
    alphabet = "ab \t\n  xy"
    cases += ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
              for _ in range(200)]
    for s in cases:
        runs = []
        i = 0
        while i < len(s):  # arbitrary run segmentation
            j = min(len(s), i + rng.randint(1, 5))
            runs.append((s[i:j], "F"))
            i = j
        expect, _spans = walk_line([(c, "F", True) for c in s])
        assert walk_line_text(runs) == expect, repr(s)


# ---------------------------------------------------------------------------
# reading order (reference structures.py:197-234)
# ---------------------------------------------------------------------------

def test_reading_order_vertical_then_horizontal():
    boxes = [
        (0, 0.1, 0.4, 0.5, 0.6),  # lower left
        (0, 0.1, 0.4, 0.1, 0.2),  # top
        (0, 0.6, 0.9, 0.5, 0.6),  # lower right
    ]
    assert reading_order(boxes) == [1, 0, 2]


def test_reading_order_pages_first():
    boxes = [(1, 0.1, 0.2, 0.1, 0.2), (0, 0.8, 0.9, 0.8, 0.9)]
    assert reading_order(boxes) == [1, 0]


# ---------------------------------------------------------------------------
# alignment / mask classification (FIXTURES.md §4.1, §4.2;
# reference tests/pipes/classifiers/test_mask.py:37-58, test_align.py:5-36)
# ---------------------------------------------------------------------------

BLOCS_3 = [
    (0, 0.1, 0.9, 0.1, 0.2),
    (0, 0.1, 0.4, 0.6, 0.7),
    (0, 0.1, 0.9, 0.6, 0.7),
]


def test_mask_classifier_threshold_04():
    masks = [(None, 0.0, 0.5, 0.5, 1.0, "body")]
    labels = classify_with_masks(masks, BLOCS_3, threshold=0.4)
    assert labels == ["pollution", "body", "body"]


def test_mask_classifier_threshold_09():
    masks = [(None, 0.0, 0.5, 0.5, 1.0, "body")]
    labels = classify_with_masks(masks, BLOCS_3, threshold=0.9)
    assert labels == ["pollution", "body", "pollution"]


def test_align_per_page_vs_global_masks():
    # 6 blocs over 2 pages (reference conftest.py:18-34 uses 3 per page)
    blocs = [(0, 0.1, 0.9, 0.1, 0.2), (0, 0.1, 0.4, 0.6, 0.7),
             (0, 0.1, 0.9, 0.6, 0.7), (1, 0.1, 0.9, 0.1, 0.2),
             (1, 0.1, 0.4, 0.6, 0.7), (1, 0.1, 0.9, 0.6, 0.7)]
    per_page = [(0, 0.0, 1.0, 0.0, 1.0, "big"),
                (1, 0.0, 1.0, 0.0, 1.0, "small")]
    labels = align_labels(per_page, blocs, threshold=0.4)
    assert labels == ["big"] * 3 + ["small"] * 3

    global_mask = [(None, 0.0, 1.0, 0.0, 1.0, "small")]
    labels = align_labels(global_mask, blocs, threshold=0.4)
    assert labels == ["small"] * 6


def test_mask_priority_first_wins():
    # two identical masks: the earlier one must win (argmax first-max)
    masks = [(None, 0.0, 1.0, 0.0, 1.0, "first"),
             (None, 0.0, 1.0, 0.0, 1.0, "second")]
    labels = classify_with_masks(masks, BLOCS_3, threshold=0.1)
    assert labels == ["first"] * 3


# ---------------------------------------------------------------------------
# aggregation (FIXTURES.md §4.3; reference test_simple.py:9-62)
# ---------------------------------------------------------------------------

def _bloc(page, x0, y0, x1, y1, text, label="body", props=None):
    return {"page_num": page, "x0": x0, "y0": y0, "x1": x1, "y1": y1,
            "text": text, "label": label, "props": props or []}


def test_aggregate_golden_separators():
    blocs = [
        _bloc(0, 0.1, 0.1, 0.5, 0.2, "Begin"),
        _bloc(0, 0.6, 0.1, 0.7, 0.2, "and"),
        _bloc(0, 0.8, 0.1, 0.9, 0.2, "end."),
        _bloc(1, 0.8, 0.1, 0.9, 0.2, "New page"),
    ]
    out = aggregate_doc(blocs)
    assert out["body"]["text"] == "Begin and end.\n\nNew page"


def test_aggregate_newline_and_paragraph():
    # heights 0.1; dy = 0.13 -> "\n" (0.2 < 1.3 <= 1.5, disjoint);
    # dy = 0.25 -> "\n\n" (2.5 > 1.5, disjoint)
    blocs = [
        _bloc(0, 0.1, 0.10, 0.5, 0.20, "a"),
        _bloc(0, 0.1, 0.23, 0.5, 0.33, "b"),
        _bloc(0, 0.1, 0.48, 0.5, 0.58, "c"),
    ]
    out = aggregate_doc(blocs)
    assert out["body"]["text"] == "a\nb\n\nc"


def test_aggregate_label_map_fanout_and_seed():
    blocs = [_bloc(0, 0.1, 0.1, 0.5, 0.2, "T", label="title"),
             _bloc(0, 0.1, 0.4, 0.5, 0.5, "B", label="body")]
    out = aggregate_doc(blocs, label_map={"text": ["title", "body"],
                                          "title": "title",
                                          "empty": "nothing"})
    assert out["text"]["text"] == "T\n\nB"
    assert out["title"]["text"] == "T"
    assert out["empty"]["text"] == ""  # pre-seeded label, no lines
    assert "body" not in out  # consumed by the map


def test_aggregate_unlabeled_and_empty_dropped():
    blocs = [_bloc(0, 0.1, 0.1, 0.5, 0.2, "keep"),
             _bloc(0, 0.1, 0.4, 0.5, 0.5, "", label="body"),
             _bloc(0, 0.1, 0.6, 0.5, 0.7, "drop", label=None)]
    out = aggregate_doc(blocs)
    assert out["body"]["text"] == "keep"


def test_aggregate_styles_rebased_and_markdown():
    blocs = [
        _bloc(0, 0.1, 0.10, 0.5, 0.20, "this mi",
              props=[{"italic": False, "bold": True, "begin": 0, "end": 7,
                      "fontname": "Helvetica-Bold"}]),
        _bloc(0, 0.1, 0.12, 0.9, 0.22, "ght be hard.",
              props=[{"italic": False, "bold": False, "begin": 0, "end": 12,
                      "fontname": "Helvetica"}]),
    ]
    out = aggregate_doc(blocs)
    text, props = out["body"]["text"], out["body"]["properties"]
    assert text == "this mi ght be hard."
    assert (props[0]["begin"], props[0]["end"]) == (0, 7)
    assert (props[1]["begin"], props[1]["end"]) == (8, 20)
    assert to_markdown(text, props) == "**this mi** ght be hard."


def test_aggregate_sort_option():
    # out-of-order blocs; sort=True orders by (label, page, y1//row_height, x0)
    blocs = [
        _bloc(0, 0.1, 0.60, 0.5, 0.70, "world"),
        _bloc(0, 0.1, 0.10, 0.5, 0.20, "hello"),
    ]
    assert aggregate_doc(blocs)["body"]["text"] == "world hello"
    assert aggregate_doc(blocs, sort=True)["body"]["text"] == "hello\n\nworld"


def test_zero_height_label_golden():
    """height = median(y1-y0) = 0: dy/height is an inf/nan float64
    comparison (the reference's simple.py:159-163 semantics, NOT a
    ZeroDivisionError) and must stay warning-free (r5 VERDICT #4).
    Pinned: dy > 0 -> inf > 1.5 and nxt.y0 > cur.y1 -> paragraph
    break; dy == 0 -> nan comparisons are False -> single space."""
    import warnings as _w

    rising = [
        _bloc(0, 0.1, 0.10, 0.5, 0.10, "a"),   # y1 == y0
        _bloc(0, 0.1, 0.30, 0.5, 0.30, "b"),
    ]
    flat = [
        _bloc(0, 0.1, 0.10, 0.5, 0.10, "a"),
        _bloc(0, 0.6, 0.10, 0.9, 0.10, "b"),
    ]
    with _w.catch_warnings():
        _w.simplefilter("error")               # any warning -> failure
        assert aggregate_doc(rising)["body"]["text"] == "a\n\nb"
        assert aggregate_doc(flat)["body"]["text"] == "a b"


# ---------------------------------------------------------------------------
# extract end-to-end on synthetic PDFs
# ---------------------------------------------------------------------------

def test_extract_doc_basic():
    res = extract_doc(make_pdf_bytes(1))
    assert res["error"] is False
    assert res["num_pages"] == 2
    assert len(res["blocs"]) > 0
    for b in res["blocs"]:
        assert 0 <= b["x0"] <= b["x1"] <= 1
        assert 0 <= b["y0"] <= b["y1"] <= 1
        assert len(b["text"]) > 0
    # reading order: per page, header (top) first
    first = res["blocs"][0]
    assert first["text"].startswith("Page 1 of doc")


def test_extract_doc_error_semantics():
    corrupt = make_pdf_bytes(13)  # every 13th doc is truncated
    res = extract_doc(corrupt)
    assert res["error"] is True
    assert res["num_pages"] == 0 and res["blocs"] == []
    with pytest.raises(PdfParseError):
        extract_doc(corrupt, raise_on_error=True)


def test_extract_doc_styles():
    res = extract_doc(make_pdf_bytes(7), extract_style=True)  # styled doc
    assert res["error"] is False
    all_props = [p for b in res["blocs"] for p in b["props"]]
    assert any(p["bold"] for p in all_props)
    assert any(p["italic"] for p in all_props)
    # spans index into the bloc text
    for b in res["blocs"]:
        for p in b["props"]:
            assert 0 <= p["begin"] <= p["end"] <= len(b["text"]) + 1


def test_extract_determinism():
    a = extract_doc(make_pdf_bytes(5))
    b = extract_doc(make_pdf_bytes(5))
    assert a == b


def _walk_line_spec(chars):
    """Spec-faithful naive rendering of the reference char walk
    (pipes/extractors/pdfminer.py:197-249): per-char string concat,
    no caches, no inlining. The optimized kernels.styles.walk_line
    must match this on ANY input, including multi-char ligature
    expansions and degenerate leading-space spans."""
    import re
    spans, current, text, last = [], None, "", None
    for raw, fontname_in, upright in chars:
        ch = re.sub(r"\s", " ", raw)
        new_text = text
        if not (ch == " " and (text.endswith(" ") or not text)):
            new_text = text + ch
        if ch == " ":
            fontname, italic, bold = last or (None, None, None)
        else:
            fontname = fontname_in if fontname_in is not None else ""
            italic = (not upright) or ("italic" in fontname.lower())
            bold = "bold" in fontname.lower()
        key = (fontname, italic, bold)
        if key != last:
            if current is not None:
                spans.append(current)
            current = {"fontname": fontname, "italic": italic,
                       "bold": bold, "begin": len(text),
                       "end": len(new_text)}
        elif ch != " ":
            current["end"] = len(new_text)
        text, last = new_text, key
    if current is not None:
        spans.append(current)
    return text.rstrip(), spans


def test_walk_line_matches_spec_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    unit = st.tuples(
        st.one_of(st.sampled_from([" ", "\t", "\n", "a", "B", "fi",
                                   "a\tb", "  ", "é", " "]),
                  st.text(min_size=1, max_size=3)),
        st.one_of(st.none(), st.sampled_from(
            ["Arial", "Arial-BoldItalic", "times-bold", "ITALIC-x"])),
        st.booleans())

    @settings(max_examples=300, deadline=None)
    @given(st.lists(unit, min_size=0, max_size=30))
    def run(chars):
        assert walk_line(chars) == _walk_line_spec(chars)

    run()


def test_align_small_path_matches_numpy():
    """The small-page pure-Python alignment path must be bit-identical
    to the numpy formulation on randomized mask/bloc layouts
    (including zero-area boxes and threshold-boundary overlaps)."""
    import random

    from edspdf_spark.kernels import alignment as A

    rng = random.Random(13)

    def boxes(n, page=0, with_label=False):
        out = []
        for i in range(n):
            x0, y0 = rng.random(), rng.random()
            w = rng.choice([0.0, rng.random() * 0.5])
            h = rng.choice([0.0, rng.random() * 0.5])
            if with_label:
                out.append((page, x0, x0 + w, y0, y0 + h, f"m{i}"))
            else:
                out.append((page, x0, x0 + w, y0, y0 + h))
        return out

    saved = A._SMALL_ALIGN_CELLS
    try:
        for trial in range(60):
            src = boxes(rng.randint(1, 4), with_label=True)
            dst = boxes(rng.randint(1, 12))
            thr = rng.choice([0.0001, 0.1, 0.5, 1.0])
            A._SMALL_ALIGN_CELLS = 10 ** 9
            fast = A._align_on_page(src, dst, thr, "poll")
            A._SMALL_ALIGN_CELLS = 0      # force the numpy path
            slow = A._align_on_page(src, dst, thr, "poll")
            assert fast == slow, (trial, src, dst, thr)
    finally:
        A._SMALL_ALIGN_CELLS = saved
