"""Minimal deterministic PDF writer/parser pair.

This environment has no ``pdfminer.six``, so the engine carries its own
parser for a strict, deterministic subset of PDF 1.4:

* content streams raw or FlateDecode-compressed (stdlib zlib — the
  single most common real-PDF stream filter); stream bytes are sliced
  by the dict's /Length from the full file, so binary stream content
  containing ``endobj``/``endstream`` byte runs cannot derail parsing
* text shown with ``BT .. Tf/Tm/Td/TD/TL/T* .. Tj/TJ .. ET``
* monospaced metrics (CHAR_WIDTH=600/1000 em for every glyph) so that
  writer and parser agree on glyph advances by construction

The *writer* (`build_pdf`) is the fixture generator required by
FIXTURES.md §1.1; it serializes through `write_pdf`, the one object,
xref and trailer writer that `annotate_pdf` and the `pdf_rewrite`
mutations share. The *parser* (`parse_pdf`) recovers pages, line boxes
and per-char font runs. Layout semantics that the reference implements
on top of pdfminer (coordinate normalization + y-flip, reading order,
style runs — see /root/reference/edspdf/pipes/extractors/pdfminer.py:103-194)
live in :mod:`edspdf_spark.kernels.extract`, not here.

Nothing in this module touches Spark; it is a pure-Python document
kernel invoked from Arrow-batched UDFs.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

# Monospaced font model shared by writer and parser (units: 1/1000 em).
CHAR_WIDTH = 600
ASCENT = 800
DESCENT = -200

# Font tag -> BaseFont name. Names are chosen so the reference's style
# rules fire: italic iff "italic" in name.lower(), bold iff "bold"
# (pdfminer.py:226-227).
FONTS = {
    "F1": "Helvetica",
    "F2": "Helvetica-Bold",
    "F3": "Helvetica-Italic",
    "F4": "Helvetica-BoldItalic",
}
_FONT_TAG_BY_NAME = {v: k for k, v in FONTS.items()}

PAGE_WIDTH = 612.0
PAGE_HEIGHT = 792.0


class PdfParseError(Exception):
    """Raised for bytes this parser cannot interpret as a PDF."""


def text_width(text: str, size: float) -> float:
    """Advance width of `text` at font `size` under the monospaced model."""
    return len(text) * CHAR_WIDTH * size / 1000.0


@dataclass
class FontInfo:
    """Parsed font: BaseFont name + optional proportional metrics
    (/Widths array with /FirstChar, PDF 32000-1 §9.6.2). Chars outside
    [first_char, first_char+len(widths)) fall back to /MissingWidth
    (default: the monospaced CHAR_WIDTH)."""

    name: str
    widths: Optional[List[int]] = None
    first_char: int = 0
    missing_width: int = CHAR_WIDTH
    # /ToUnicode CMap: character code -> unicode string (possibly
    # multi-char, e.g. ligature expansions). Advance widths are keyed
    # by CODE; only the emitted text is remapped.
    to_unicode: Optional[Dict[int, str]] = None
    # Type0 composite font (Identity-H): 2-byte codes, widths from the
    # CIDFontType2 descendant's /W map with /DW default (PDF §9.7)
    two_byte: bool = False
    cid_widths: Optional[Dict[int, int]] = None
    default_width: int = 1000

    def iter_codes(self, raw: str) -> List[int]:
        """Raw string (latin-1, byte-per-char) -> character codes:
        single bytes for simple fonts, big-endian byte PAIRS for
        Identity-H composite fonts (a trailing odd byte is dropped,
        matching pdfminer's CMap byte consumption)."""
        if not self.two_byte:
            return [ord(ch) for ch in raw]
        return [(ord(raw[i]) << 8) | ord(raw[i + 1])
                for i in range(0, len(raw) - 1, 2)]

    def decode_codes(self, codes: List[int]) -> str:
        """Map character codes through /ToUnicode (codes without an
        entry pass through as their codepoint — pdfminer's behavior
        for unmapped codes)."""
        if self.to_unicode is None:
            return "".join(chr(c) for c in codes)
        return "".join(self.to_unicode.get(c, chr(c)) for c in codes)

    def show_info(self, raw: str, size: float):
        """One-pass metrics for a shown string: (decoded_text,
        total_advance, first_char_advance, last_char_advance) — the
        hot path of the content walker, with an O(1) branch for the
        plain monospaced simple font (the synth-corpus case)."""
        if not self.two_byte and self.widths is None:
            if not raw:
                return "", 0.0, 0.0, 0.0
            w = CHAR_WIDTH * size / 1000.0
            text = raw if self.to_unicode is None else \
                "".join(self.to_unicode.get(ord(c), c) for c in raw)
            return text, len(raw) * w, w, w
        codes = self.iter_codes(raw)
        if not codes:
            return "", 0.0, 0.0, 0.0
        if self.two_byte:
            cw, dw = self.cid_widths or {}, self.default_width
            advs = [cw.get(c, dw) * size / 1000.0 for c in codes]
        else:
            lo = self.first_char
            hi = lo + len(self.widths)
            advs = [(self.widths[c - lo] if lo <= c < hi
                     else self.missing_width) * size / 1000.0
                    for c in codes]
        return (self.decode_codes(codes), sum(advs), advs[0], advs[-1])


# ---------------------------------------------------------------------------
# Writer
# ---------------------------------------------------------------------------


@dataclass
class Segment:
    """A same-font run of characters within a line."""

    text: str
    font: str = "Helvetica"  # BaseFont name
    size: float = 10.0


@dataclass
class Line:
    """One visual text line placed at baseline (x, y) in PDF user space."""

    x: float
    y: float
    segments: List[Segment] = field(default_factory=list)

    @classmethod
    def simple(cls, x: float, y: float, text: str, font: str = "Helvetica",
               size: float = 10.0) -> "Line":
        return cls(x=x, y=y, segments=[Segment(text=text, font=font, size=size)])


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _cmap_stream_obj(mapping: Dict[int, str]) -> bytes:
    """Serialize a code->unicode dict as a /ToUnicode CMap stream
    object body (minimal but spec-shaped: codespace + bfchar list,
    UTF-16BE destinations — PDF 32000-1 §9.10.3)."""
    if any(not 0 <= c <= 0xFF for c in mapping):
        raise ValueError("simple-font ToUnicode codes must be one byte")
    entries = "\n".join(
        f"<{code:02X}> <{text.encode('utf-16-be').hex().upper()}>"
        for code, text in sorted(mapping.items()))
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n"
        "/CMapName /Custom-UCS def\n/CMapType 2 def\n"
        "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        f"{len(mapping)} beginbfchar\n{entries}\nendbfchar\n"
        "endcmap\nCMapName currentdict /CMap defineresource pop\n"
        "end\nend").encode("ascii")
    return (f"<< /Length {len(cmap)} >>\nstream\n".encode()
            + cmap + b"\nendstream")


def write_pdf(header: bytes, objects: List[Tuple[int, bytes]], root: int,
              in_objstm: Optional[Dict[int, Tuple[int, int]]] = None,
              xref_stream: bool = False) -> bytes:
    """The one PDF serializer (build_pdf, annotate_pdf, pdf_rewrite):
    `header`, then each (oid, body) in the given order as
    `oid 0 obj\\n<body>\\nendobj\\n`, then a classic xref table and
    trailer, or with ``xref_stream=True`` a PDF-1.5 cross-reference
    STREAM (/Type/XRef, /W [1 4 2]) under the next free oid, then
    `startxref` and `%%EOF`. `in_objstm` maps the oids packed in an
    /ObjStm to (container oid, index): type-2 entries of the xref
    stream, free entries of a classic table (which cannot name them;
    this scanning parser never reads the table). Every other oid up to
    the highest one is a free entry."""
    in_objstm = in_objstm or {}
    out = bytearray(header)
    offsets: Dict[int, int] = {}
    for oid, body in objects:
        offsets[oid] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (oid, body)
    top = max([*offsets, *in_objstm], default=0)
    xref_at = len(out)
    if not xref_stream:
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (top + 1)
        for oid in range(1, top + 1):
            out += (b"%010d 00000 n \n" % offsets[oid] if oid in offsets
                    else b"0000000000 65535 f \n")
        out += b"trailer\n<< /Size %d /Root %d 0 R >>\n" % (top + 1, root)
    else:
        offsets[top + 1] = xref_at  # the xref stream object itself
        entries = bytearray()
        for oid in range(top + 2):
            if oid in offsets:
                entries += b"\x01%s\x00\x00" % offsets[oid].to_bytes(4, "big")
            elif oid in in_objstm:
                stm, idx = in_objstm[oid]
                entries += b"\x02%s%s" % (stm.to_bytes(4, "big"),
                                          idx.to_bytes(2, "big"))
            else:
                entries += b"\x00\x00\x00\x00\x00\xff\xff"
        comp = zlib.compress(bytes(entries), 6)
        out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
                b"/Filter /FlateDecode /Length %d >>\nstream\n%s\n"
                b"endstream\nendobj\n" % (top + 1, top + 2, root, len(comp),
                                          comp))
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def build_pdf(pages: List[List[Line]], page_width: float = PAGE_WIDTH,
              page_height: float = PAGE_HEIGHT,
              compress: bool = False, objstm: bool = False,
              custom_fonts: Optional[Dict[str, Tuple[List[int], int]]] = None,
              xref_stream: bool = False,
              to_unicode: Optional[Dict[str, Dict[int, str]]] = None
              ) -> bytes:
    """Serialize pages of Lines into deterministic PDF bytes.

    Object layout: 1=Catalog, 2=Pages, 3..6=Fonts F1..F4 (+ one object
    per custom font), then for each page two objects (Page, Contents).
    Offsets in the xref are exact. With ``compress=True`` content
    streams are FlateDecode (zlib level 6 — deterministic), exercising
    the parser's compressed path. With ``objstm=True`` every dictionary
    object (catalog, pages tree, fonts, page dicts) is packed into ONE
    FlateDecode /ObjStm object — the PDF-1.5 layout most real-world
    writers emit — leaving only the content streams as classic
    top-level objects (streams may not live inside an object stream,
    per spec).

    ``custom_fonts`` maps a BaseFont name (usable in Segment.font) to
    (widths, first_char): a proportional /Widths+/FirstChar font, the
    metric model every real-world PDF uses for non-monospaced text.
    ``xref_stream=True`` replaces the classic xref table + trailer with
    a PDF-1.5 cross-reference STREAM (/Type/XRef, /W [1 4 2]): type-1
    entries for top-level objects and type-2 (objstm, index) entries
    for ObjStm members.

    ``to_unicode`` maps a BaseFont name to a code->unicode dict; the
    font object gains a /ToUnicode CMap stream (bfchar entries), and
    Segment.text for that font carries raw CHARACTER CODES — the
    embedded-font situation where byte codes and extracted text
    differ. Names not otherwise defined become simple Type1 fonts.
    """
    n_pages = len(pages)
    custom_fonts = custom_fonts or {}
    to_unicode = to_unicode or {}
    font_objs = list(FONTS.items())  # 4 fonts -> objects 3..6
    extra = list(custom_fonts) + [n for n in to_unicode
                                  if n not in custom_fonts
                                  and n not in FONTS.values()]
    for ci, name in enumerate(extra):
        font_objs.append((f"F{5 + ci}", name))
    tag_by_name = {name: tag for tag, name in font_objs}
    # CMap stream objects sit directly after the font objects
    cmap_oid_by_name = {
        name: 3 + len(font_objs) + i for i, name in enumerate(to_unicode)}
    first_page_obj = 3 + len(font_objs) + len(to_unicode)
    page_obj_ids = [first_page_obj + 2 * i for i in range(n_pages)]

    objects: List[bytes] = []

    kids = " ".join(f"{oid} 0 R" for oid in page_obj_ids)
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for _tag, base in font_objs:
        tu = (f" /ToUnicode {cmap_oid_by_name[base]} 0 R"
              if base in cmap_oid_by_name else "")
        if base in custom_fonts:
            widths, first = custom_fonts[base]
            warr = " ".join(str(int(w)) for w in widths)
            objects.append(
                f"<< /Type /Font /Subtype /TrueType /BaseFont /{base} "
                f"/FirstChar {first} /LastChar {first + len(widths) - 1} "
                f"/Widths [{warr}]{tu} >>".encode())
        else:
            objects.append(
                f"<< /Type /Font /Subtype /Type1 /BaseFont /{base}{tu} >>"
                .encode())
    for name in to_unicode:
        objects.append(_cmap_stream_obj(to_unicode[name]))

    font_res = " ".join(
        f"/{tag} {3 + i} 0 R" for i, (tag, _b) in enumerate(font_objs)
    )
    for i, lines in enumerate(pages):
        content = _content_stream(lines, tag_by_name)
        filt = ""
        if compress:
            content = zlib.compress(content, 6)
            filt = " /Filter /FlateDecode"
        page_dict = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_width:g} "
            f"{page_height:g}] /Resources << /Font << {font_res} >> >> "
            f"/Contents {page_obj_ids[i] + 1} 0 R >>"
        ).encode()
        stream_obj = (
            f"<< /Length {len(content)}{filt} >>\nstream\n".encode()
            + content
            + b"\nendstream"
        )
        objects.append(page_dict)
        objects.append(stream_obj)

    numbered = list(enumerate(objects, start=1))
    in_objstm: Dict[int, Tuple[int, int]] = {}  # oid -> (stm_oid, idx)
    if objstm:
        # dict objects (no stream keyword) -> one compressed /ObjStm;
        # content streams stay top-level (spec: no streams in ObjStm)
        in_stream = [(oid, body) for oid, body in numbered
                     if b"stream" not in body]
        top_level = [(oid, body) for oid, body in numbered
                     if b"stream" in body]
        header_parts: List[str] = []
        payload = bytearray()
        for oid, body in in_stream:
            header_parts.append(f"{oid} {len(payload)}")
            payload += body + b"\n"
        header = (" ".join(header_parts) + "\n").encode()
        content = zlib.compress(header + bytes(payload), 6)
        stm_oid = len(objects) + 1
        stm = (f"<< /Type /ObjStm /N {len(in_stream)} "
               f"/First {len(header)} /Length {len(content)} "
               f"/Filter /FlateDecode >>\nstream\n").encode()
        numbered = [(stm_oid, stm + content + b"\nendstream")] + top_level
        in_objstm = {oid: (stm_oid, idx)
                     for idx, (oid, _b) in enumerate(in_stream)}

    header = b"%PDF-1.5\n" if objstm or xref_stream else b"%PDF-1.4\n"
    return write_pdf(header, numbered, 1, in_objstm, xref_stream)


def _content_stream(lines: List[Line],
                    tag_by_name: Optional[Dict[str, str]] = None) -> bytes:
    tags = tag_by_name or _FONT_TAG_BY_NAME
    ops: List[str] = []
    for ln in lines:
        ops.append("BT")
        ops.append(f"1 0 0 1 {ln.x:g} {ln.y:g} Tm")
        for seg in ln.segments:
            tag = tags[seg.font]
            ops.append(f"/{tag} {seg.size:g} Tf")
            ops.append(f"({_esc(seg.text)}) Tj")
        ops.append("ET")
    return "\n".join(ops).encode("latin-1", errors="replace")


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


_MAT_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


@dataclass
class ParsedLine:
    """A text line in PDF user space (y axis up)."""

    x0: float
    y0: float  # bottom (pdf coords)
    x1: float
    y1: float  # top (pdf coords)
    # same-font text runs: (text, basefont-name) — ONE tuple per show
    # op instead of one per char (the per-char layout dominated parse
    # allocation); the `chars` property preserves the per-char view
    # for the style walk and the tests
    runs: List[Tuple[str, str]] = field(default_factory=list)
    # advance width (pts) of the first / last shown char — the
    # pdfminer-style run-merging margins are char-relative
    first_w: float = 0.0
    last_w: float = 0.0

    @property
    def chars(self) -> List[Tuple[str, str, bool]]:
        """Per-char (char, basefont-name, upright) view of `runs`
        (this parser only produces upright text)."""
        return [(ch, f, True) for t, f in self.runs for ch in t]


@dataclass
class ParsedPage:
    page_num: int
    width: float
    height: float
    lines: List[ParsedLine] = field(default_factory=list)
    # initial CTM: user space -> page space (box origin and /Rotate)
    ctm: Tuple[float, ...] = _MAT_ID


_OBJ_HDR_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_STREAM_KW_RE = re.compile(rb"stream(\r\n|\n|\r)")
# (?!\d) pins the match to the FULL number before the indirect-ref
# rejection — without it, '/Length 12 0 R' backtracks into a bogus
# match of '1' instead of falling through to the endstream scan
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+0\s+R)")
_ENDSTREAM_RE = re.compile(rb"(\r\n|\n|\r)?endstream")
_LENGTH_REF_RE = re.compile(rb"/Length\s+(\d+)\s+0\s+R")
_BASEFONT_RE = re.compile(rb"/BaseFont\s*/([A-Za-z0-9+\-]+)")
_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_BFRANGE_ITEM_RE = re.compile(
    rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*"
    rb"(<[0-9A-Fa-f\s]*>|\[(?:\s*<[0-9A-Fa-f\s]*>)*\s*\])")


def _cmap_hex_bytes(h: bytes) -> bytes:
    digits = b"".join(h.split())
    if len(digits) % 2:
        raise PdfParseError("odd-length hex in CMap")
    return bytes.fromhex(digits.decode("ascii"))


def _cmap_dst_str(h: bytes) -> str:
    """Destination hex string -> unicode (UTF-16BE per PDF 32000-1
    §9.10.3: ToUnicode destinations are UTF-16BE code sequences)."""
    b = _cmap_hex_bytes(h)
    if len(b) % 2:
        raise PdfParseError("ToUnicode destination is not UTF-16BE")
    return b.decode("utf-16-be", errors="replace")


def parse_cmap(body: bytes) -> Dict[int, str]:
    """Parse a /ToUnicode CMap stream (PDF 32000-1 §9.10.3): bfchar
    pairs plus bfrange in both destination forms — a start hex string
    (incremented per code, BMP arithmetic on the UTF-16BE value) and
    an explicit array of destinations. Source codes are the integer
    value of the hex string (single-byte codes for simple fonts)."""
    out: Dict[int, str] = {}
    for blk in _BFCHAR_RE.findall(body):
        toks = _CMAP_HEX_RE.findall(blk)
        if len(toks) % 2:
            raise PdfParseError("unpaired bfchar entry")
        for src, dst in zip(toks[0::2], toks[1::2]):
            out[int.from_bytes(_cmap_hex_bytes(src), "big")] = \
                _cmap_dst_str(dst)
    for blk in _BFRANGE_RE.findall(body):
        for m in _BFRANGE_ITEM_RE.finditer(blk):
            lo = int.from_bytes(_cmap_hex_bytes(m.group(1)), "big")
            hi = int.from_bytes(_cmap_hex_bytes(m.group(2)), "big")
            if hi < lo:
                raise PdfParseError("descending bfrange")
            dst = m.group(3)
            if dst.startswith(b"["):
                arr = _CMAP_HEX_RE.findall(dst)
                if len(arr) != hi - lo + 1:
                    raise PdfParseError("bfrange array length mismatch")
                for i, code in enumerate(range(lo, hi + 1)):
                    out[code] = _cmap_dst_str(arr[i])
            else:
                base_b = _cmap_hex_bytes(dst[1:-1])
                base = int.from_bytes(base_b, "big")
                width = len(base_b)
                for i, code in enumerate(range(lo, hi + 1)):
                    out[code] = (base + i).to_bytes(width, "big") \
                        .decode("utf-16-be", errors="replace")
    return out
_WIDTHS_RE = re.compile(rb"/Widths\s*\[([^\]]*)\]")
_WIDTHS_REF_RE = re.compile(rb"/Widths\s+(\d+)\s+0\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_DESCFONTS_RE = re.compile(
    rb"/DescendantFonts\s*(?:\[\s*(\d+)\s+0\s+R\s*\]|(\d+)\s+0\s+R)")
_DW_RE = re.compile(rb"/DW\s+(\d+)")
_W_ARR_RE = re.compile(rb"/W\s*\[(.*?)\]\s*(?:/|>>)", re.S)
_W_REF_RE = re.compile(rb"/W\s+(\d+)\s+0\s+R")


def _parse_cid_w(body: bytes) -> Dict[int, int]:
    """CIDFont /W array (PDF 32000-1 §9.7.4.3): two entry forms —
    `c [w1 w2 ...]` assigns consecutive widths from CID c, and
    `cFirst cLast w` assigns one width to a CID range."""
    out: Dict[int, int] = {}
    toks = re.findall(rb"\[|\]|-?\d+(?:\.\d+)?", body)
    i = 0
    while i < len(toks):
        if toks[i] in (b"[", b"]"):  # stray delimiter; skip
            i += 1
            continue
        c = int(float(toks[i]))
        if i + 1 < len(toks) and toks[i + 1] == b"[":
            j = i + 2
            k = 0
            while j < len(toks) and toks[j] != b"]":
                out[c + k] = int(round(float(toks[j])))
                j += 1
                k += 1
            i = j + 1
        elif i + 2 < len(toks) and toks[i + 1] not in (b"[", b"]") \
                and toks[i + 2] not in (b"[", b"]"):
            c2 = int(float(toks[i + 1]))
            w = int(round(float(toks[i + 2])))
            for cid in range(c, min(c2, c + 65535) + 1):
                out[cid] = w
            i += 3
        else:
            i += 1
    return out
_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_MISSINGW_RE = re.compile(rb"/MissingWidth\s+(\d+)")
_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)\s*\]"
)
# an integer /Rotate; pdfminer reads any other value as 0
_ROTATE_RE = re.compile(rb"/Rotate\s+([-+]?\d+)(?![\d.])")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
# real writers also emit /Contents as an ARRAY of stream refs (the
# spec allows splitting a page's content at any token boundary)
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[(.*?)\]", re.S)
_FONTRES_RE = re.compile(rb"/(F\d+)\s+(\d+)\s+0\s+R")
_RESOURCES_REF_RE = re.compile(rb"/Resources\s+(\d+)\s+0\s+R")
_FONTDICT_REF_RE = re.compile(rb"/Font\s+(\d+)\s+0\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.S)
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")

_TOKEN_RE = re.compile(
    rb"""
      (?P<str>\((?:\\.|[^\\()])*\))
    | (?P<hex><[0-9A-Fa-f\s]*>)
    | (?P<name>/[^\s/\[\]()<>]+)
    | (?P<num>[-+]?(?:\d+\.\d*|\.\d+|\d+))
    | (?P<arr>[\[\]])
    | (?P<op>[A-Za-z'"][A-Za-z0-9*'"]*)
    """,
    re.X,
)

class _ArrayMarker:
    __slots__ = ()


_ARR_MARKER = _ArrayMarker()

# Fast path for the dominant writer shape: a stream that is NOTHING
# but BT / 6-number Tm / Tf / literal-string Tj / ET lines (no
# escapes, no kerning, no graphics state). When the WHOLE stream
# matches, _run_content replays it with one regex step per operator
# instead of one per token and no operand stack — same state
# transitions, same show()/flush() closures, bit-identical floats
# (float() on the same byte slices). Anything else — TJ arrays,
# escaped/hex strings, q/Q/cm overlays (annotate appends those),
# Td/TD/T* — fails the fullmatch and takes the general interpreter.
_FNUM = rb"[-+]?(?:\d+\.\d*|\.\d+|\d+)"
_FAST_STREAM_RE = re.compile(
    rb"(?:BT\n(?:%s(?: %s){5} Tm\n|/[^\s/\[\]()<>]+ %s Tf\n"
    rb"|\([^\\()]*\) Tj\n)+ET(?:\n|\Z))+\Z" % (_FNUM, _FNUM, _FNUM))
_FAST_OP_RE = re.compile(
    rb"(?:(?P<s>\([^\\()]*\)) Tj\n"
    rb"|(?P<tm>%s(?: %s){5}) Tm\n"
    rb"|/(?P<tag>[^\s/\[\]()<>]+) (?P<size>%s) Tf\n"
    rb"|(?P<bt>BT)\n"
    rb"|(?P<et>ET)(?:\n|\Z))" % (_FNUM, _FNUM, _FNUM))

_STR_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _scan_objects(data: bytes) -> List[Tuple[int, int, int]]:
    """Ordered (oid, body_start, body_end) object spans. Stream bodies
    are jumped over via the dict's /Length, so binary/compressed stream
    content containing ``endobj``/``N 0 obj`` byte runs can neither
    truncate an object's span nor spawn phantom objects."""
    out: List[Tuple[int, int, int]] = []
    pos = 0
    n_data = len(data)
    while True:
        hm = _OBJ_HDR_RE.search(data, pos)
        if hm is None:
            break
        oid = int(hm.group(1))
        body_start = hm.end()
        sm = _STREAM_KW_RE.search(data, body_start)
        em = data.find(b"endobj", body_start)
        if sm is not None and (em < 0 or sm.start() < em):
            ln = _stream_length(data, data[body_start:sm.start()])
            scan_from = sm.end() + ln if ln is not None else sm.end()
            em = data.find(b"endobj", min(scan_from, n_data))
        if em < 0:
            break  # truncated tail: callers decide whether that matters
        out.append((oid, body_start, em))
        pos = em + 6  # len(b"endobj")
    return out


def _dict_head(body: bytes) -> bytes:
    """An object body up to its stream keyword (the body itself when
    it has none): only this dict identifies the object's type, since
    stream content may hold '/ObjStm' or '/XRef' as data."""
    sm = _STREAM_KW_RE.search(body)
    return body[:sm.start()] if sm else body


def _expand_objstms(data: bytes, objs: Dict[int, bytes],
                    starts: Dict[int, int]) -> Dict[int, List[int]]:
    """Expand PDF-1.5 object streams in-place: /ObjStm packs dictionary
    objects (never stream objects) as 'oid1 off1 oid2 off2 ...<bodies>'
    with body offsets relative to /First. Returns the containment map
    {objstm_oid: [member oids]} so re-writers (annotate_pdf,
    pdf_rewrite) can expand members to top-level classic objects."""
    members: Dict[int, List[int]] = {}
    for oid in [o for o, b in objs.items()
                if b"/ObjStm" in _dict_head(b)]:
        head = _dict_head(objs[oid])
        stream = _stream_for_obj(data, oid, starts)
        nm = re.search(rb"/N\s+(\d+)", head)
        fm = re.search(rb"/First\s+(\d+)", head)
        if nm is None or fm is None:
            raise PdfParseError("ObjStm without /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        pairs = stream[:first].split()
        if len(pairs) < 2 * n:
            raise PdfParseError("ObjStm header shorter than /N entries")
        try:
            entries = [(int(pairs[2 * j]), int(pairs[2 * j + 1]))
                       for j in range(n)]
        except ValueError as exc:
            raise PdfParseError(f"bad ObjStm header token: {exc}")
        for j, (sub_oid, off) in enumerate(entries):
            end = entries[j + 1][1] if j + 1 < n else len(stream) - first
            objs[sub_oid] = stream[first + off:first + end]
        members[oid] = [e[0] for e in entries]
    return members


def _load_objects(data: bytes) -> Tuple[Dict[int, bytes], Dict[int, int],
                                        Dict[int, List[int]]]:
    """The object table every reader shares (parse_pdf, annotate_pdf,
    pdf_rewrite.parse_objects): (bodies, body starts, ObjStm members).
    Bodies are keyed by oid in first-occurrence order, the LAST
    occurrence winning (incremental-update semantics), with /ObjStm
    members expanded in; body starts cover the top-level objects, for
    stream slicing."""
    objs: Dict[int, bytes] = {}
    starts: Dict[int, int] = {}
    for oid, start, end in _scan_objects(data):
        objs[oid] = data[start:end]
        starts[oid] = start
    if not objs:
        raise PdfParseError("no objects found")
    return objs, starts, _expand_objstms(data, objs, starts)


def read_xref_stream(data: bytes) -> Dict[int, Tuple[int, int, int]]:
    """Decode the PDF-1.5 cross-reference STREAM at startxref:
    {oid: (type, field2, field3)} with /W-driven field widths
    (PDF 32000-1 §7.5.8). type 0 = free, 1 = (offset, gen),
    2 = (objstm oid, index within).

    The scanning parser never needs this (it finds objects directly),
    but spec-compliant navigation does — this is the read-side dual of
    build_pdf(xref_stream=True) and is pinned against the scanner's
    offsets by tests."""
    tail = data.rstrip()
    sm = re.search(rb"startxref\s+(\d+)\s*%%EOF\s*$", tail)
    if sm is None:
        raise PdfParseError("missing startxref")
    pos = int(sm.group(1))
    hm = _OBJ_HDR_RE.match(data, pos)
    if hm is None:
        raise PdfParseError("startxref does not point at an object "
                            "(classic xref table input?)")
    body_start = hm.end()
    head_end = _STREAM_KW_RE.search(data, body_start)
    head = data[body_start:head_end.start()] if head_end else b""
    if b"/XRef" not in head:
        raise PdfParseError("startxref object is not /Type/XRef")
    wm = re.search(rb"/W\s*\[([^\]]*)\]", head)
    if wm is None:
        raise PdfParseError("xref stream without /W")
    w = [int(v) for v in wm.group(1).split()]
    im = re.search(rb"/Index\s*\[([^\]]*)\]", head)
    szm = re.search(rb"/Size\s+(\d+)", head)
    if im is not None:
        idx = [int(v) for v in im.group(1).split()]
    elif szm is not None:
        idx = [0, int(szm.group(1))]
    else:
        raise PdfParseError("xref stream without /Index or /Size")
    raw = _stream_for_obj(data, int(hm.group(1)),
                          {int(hm.group(1)): body_start})
    entry_w = sum(w)
    out: Dict[int, Tuple[int, int, int]] = {}
    p = 0
    for s in range(0, len(idx), 2):
        first, count = idx[s], idx[s + 1]
        for k in range(count):
            if p + entry_w > len(raw):
                raise PdfParseError("xref stream shorter than /Index")
            fields = []
            for width in w:
                fields.append(int.from_bytes(raw[p:p + width], "big")
                              if width else 1)  # absent type field = 1
                p += width
            out[first + k] = tuple(fields[:3]) if len(fields) >= 3 \
                else tuple(fields + [0] * (3 - len(fields)))
    return out


def _find_obj(data: bytes, oid: int) -> Optional[int]:
    """Body start of the first `oid 0 obj` header in the file: how an
    indirect /Length is found, and an object the scan could not delimit
    (a neighbour with a damaged `endobj` swallowed it)."""
    hm = re.search(rb"(?<!\d)" + str(oid).encode() + rb"\s+0\s+obj\b",
                   data)
    return hm.end() if hm else None


def _stream_length(data: bytes, dict_part: bytes) -> Optional[int]:
    """A stream dict's /Length: direct, or an indirect integer object
    ('N 0 obj 123 endobj' — how real writers store it before the
    stream bytes are known). None when absent or when the ref does not
    resolve to an integer — readers then fall back to the endstream
    scan (repair-reader behavior) rather than failing the doc."""
    lm = _LENGTH_RE.search(dict_part)
    if lm:
        return int(lm.group(1))
    rm = _LENGTH_REF_RE.search(dict_part)
    start = _find_obj(data, int(rm.group(1))) if rm else None
    if start is None:
        return None
    m = re.match(rb"\s*(\d+)", data[start:start + 64])
    return int(m.group(1)) if m else None


def _raw_stream(data: bytes, start: int) -> Tuple[bytes, bytes]:
    """(dict, RAW stream bytes) of the stream object whose body starts
    at `start`, sliced out of the FULL file bytes (binary/compressed
    stream content may contain `endobj` byte runs, so the scanned
    object body cannot be trusted for streams). Slices by the dict's
    /Length (direct or indirect) and checks that it reaches
    `endstream`; with no usable /Length, scans for the keyword."""
    sm = _STREAM_KW_RE.search(data, start)
    if sm is None:
        raise PdfParseError("contents without stream")
    dict_part = data[start:sm.start()]
    body_start = sm.end()
    n = _stream_length(data, dict_part)
    if n is not None:
        if body_start + n > len(data):
            raise PdfParseError("stream /Length beyond end of file")
        body = data[body_start:body_start + n]
        if not _ENDSTREAM_RE.match(data, body_start + n):
            raise PdfParseError("stream /Length does not reach endstream")
    else:  # absent /Length: scan (uncompressed subset only)
        em = data.find(b"endstream", body_start)
        if em < 0:
            raise PdfParseError("unterminated stream")
        body = data[body_start:em]
        if body.endswith(b"\r\n"):
            body = body[:-2]
        elif body.endswith(b"\n") or body.endswith(b"\r"):
            body = body[:-1]
    return dict_part, body


def _stream_for_obj(data: bytes, oid: int, starts: Dict[int, int]) -> bytes:
    """Stream bytes of object `oid`: its raw slice (`_raw_stream`),
    inflated when /Filter names FlateDecode. `starts` are the scan's
    body offsets; an oid the scan did not delimit is looked up by its
    header."""
    start = starts.get(oid)
    if start is None:
        start = _find_obj(data, oid)
        if start is None:
            raise PdfParseError(f"dangling contents ref {oid}")
    dict_part, body = _raw_stream(data, start)
    if b"/FlateDecode" in dict_part:
        try:
            body = zlib.decompress(body)
        except zlib.error as exc:
            raise PdfParseError(f"bad FlateDecode stream: {exc}")
    return body


def _text_bytes_to_str(body: bytes) -> str:
    """PDF text-string semantics (PDF 32000-1 §7.9.2.2): a BE BOM
    (FE FF) marks UTF-16BE; everything else reads as single-byte
    (PDFDocEncoding approximated by latin-1, their shared ASCII
    range being what real content streams use)."""
    if body.startswith(b"\xfe\xff"):
        return body[2:].decode("utf-16-be", errors="replace")
    return body.decode("latin-1")


def _decode_pdf_string(raw: bytes) -> str:
    # raw includes surrounding parens; escapes resolve at BYTE level
    # first so a UTF-16BE BOM split across escapes still decodes
    body = raw[1:-1]
    if b"\\" not in body:  # fast path: no escapes to process
        return _text_bytes_to_str(body)
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1 : i + 2]
            if nxt in _STR_ESCAPES:
                out += _STR_ESCAPES[nxt].encode("latin-1")
                i += 2
                continue
            if nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                digits = b""
                while j < len(body) and len(digits) < 3 and body[j : j + 1].isdigit():
                    digits += body[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
                continue
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return _text_bytes_to_str(bytes(out))


def _walk_pages(objs: Dict[int, bytes]
                ) -> Tuple[List[int], Dict[int, bytes]]:
    """Page object ids in document order via the Pages tree when
    present, with the /MediaBox and /Rotate each page inherits (as one
    `/MediaBox [..] /Rotate r` fragment). The tree may be NESTED (/Kids
    pointing at intermediate /Pages nodes — real writers balance wide
    documents this way), and both keys are inheritable from any
    ancestor node (PDF 32000-1 table 30), so pages are collected by
    depth-first traversal from the catalog's root node, carrying the
    inherited values down."""
    page_ids: List[int] = []
    inherited: Dict[int, bytes] = {}

    def walk(oid: int, box: bytes, rotate: bytes, depth: int) -> None:
        if depth > 64:  # cycle guard: malformed self-referential trees
            raise PdfParseError("Pages tree deeper than 64")
        body = objs.get(oid)
        if body is None:
            raise PdfParseError(f"dangling page ref {oid}")
        mb_here = _MEDIABOX_RE.search(body)
        if mb_here:
            box = mb_here.group(0)
        rm = _ROTATE_RE.search(body)
        if rm:
            rotate = rm.group(0)
        km_ = _KIDS_RE.search(body)
        if km_ is not None and re.search(rb"/Type\s*/Pages\b", body):
            for r in _REF_RE.finditer(km_.group(1)):
                walk(int(r.group(1)), box, rotate, depth + 1)
        else:
            page_ids.append(oid)
            if box or rotate:
                inherited[oid] = box + b" " + rotate

    root_pages: Optional[int] = None
    cat = next((body for body in objs.values()
                if b"/Type" in body and b"/Catalog" in body), None)
    if cat is not None:
        pm = re.search(rb"/Pages\s+(\d+)\s+0\s+R", cat)
        if pm and int(pm.group(1)) in objs:
            root_pages = int(pm.group(1))
    if root_pages is None:
        pages_nodes = [
            oid for oid, body in objs.items()
            if b"/Type" in body and b"/Pages" in body and b"/Kids" in body
        ]
        # the root node is the one no other /Pages node lists as a kid
        kids_of = {int(r.group(1))
                   for oid in pages_nodes
                   for km_ in [_KIDS_RE.search(objs[oid])] if km_
                   for r in _REF_RE.finditer(km_.group(1))}
        roots = [oid for oid in pages_nodes if oid not in kids_of]
        if roots:
            root_pages = min(roots)
    if root_pages is not None:
        walk(root_pages, b"", b"", 0)
    if not page_ids:
        page_ids = sorted(
            oid for oid, body in objs.items()
            if b"/Type" in body and b"/Page" in body and b"/Pages" not in body
        )
    if not page_ids:
        raise PdfParseError("no pages")
    return page_ids, inherited


def _content_ids(page: bytes) -> List[int]:
    """A page's content stream oids: one /Contents ref, or an array."""
    cm = _CONTENTS_RE.search(page)
    if cm:
        return [int(cm.group(1))]
    am = _CONTENTS_ARR_RE.search(page)
    return [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))] \
        if am else []


def parse_pdf(data: bytes) -> List[ParsedPage]:
    """Parse the deterministic PDF subset into pages of positioned lines.

    Raises PdfParseError for anything malformed (mirrors the reference's
    error semantics, pdfminer.py:128-135: the caller converts this into
    ``error=True`` and zero pages unless ``raise_on_error``).
    """
    return _read_pdf(data)[2]


def _read_pdf(data: bytes):
    """parse_pdf's whole read: (object table as `_load_objects` returns
    it, page ids in document order, parsed pages). annotate_pdf
    rewrites the file from the same table and page order."""
    if not isinstance(data, (bytes, bytearray)):
        raise PdfParseError("not bytes")
    data = bytes(data)
    if not data.startswith(b"%PDF-"):
        raise PdfParseError("missing %PDF- header")
    if b"%%EOF" not in data:
        raise PdfParseError("missing %%EOF marker")
    table = _load_objects(data)
    objs, starts, _members = table

    # font metrics by object id (BaseFont + optional /Widths array)
    fonts_by_obj: Dict[int, FontInfo] = {}
    for oid, body in objs.items():
        fm = _BASEFONT_RE.search(body)
        if fm and b"/Type" in body and b"/Font" in body:
            widths = None
            first_char = 0
            missing = CHAR_WIDTH
            wm = _WIDTHS_RE.search(body)
            warr = wm.group(1) if wm else None
            if warr is None:
                # real-world writers (Word, LibreOffice) emit the
                # /Widths array as an INDIRECT object
                wrm = _WIDTHS_REF_RE.search(body)
                if wrm:
                    ref_body = objs.get(int(wrm.group(1)), b"")
                    am = re.search(rb"\[([^\]]*)\]", ref_body)
                    if am:
                        warr = am.group(1)
            if warr is not None:
                try:
                    widths = [int(round(float(v))) for v in warr.split()]
                except ValueError as exc:
                    raise PdfParseError(f"bad /Widths entry: {exc}")
                fcm = _FIRSTCHAR_RE.search(body)
                first_char = int(fcm.group(1)) if fcm else 0
                mm = _MISSINGW_RE.search(body)
                missing = int(mm.group(1)) if mm else CHAR_WIDTH
            to_uni = None
            tm = _TOUNICODE_RE.search(body)
            if tm:
                to_uni = parse_cmap(
                    _stream_for_obj(data, int(tm.group(1)), starts))
            two_byte = False
            cid_widths = None
            default_width = 1000
            if _TYPE0_RE.search(body):
                # composite font (Identity-H): 2-byte codes; widths
                # live in the CIDFontType2 descendant's /W + /DW
                two_byte = True
                dm = _DESCFONTS_RE.search(body)
                if dm:
                    ref = dm.group(1) or dm.group(2)
                    desc = objs.get(int(ref), b"")
                    if desc and not desc.lstrip().startswith(b"<<"):
                        # /DescendantFonts N 0 R -> [M 0 R]
                        im = _REF_RE.search(desc)
                        desc = objs.get(int(im.group(1)), b"") \
                            if im else b""
                    dwm = _DW_RE.search(desc)
                    if dwm:
                        default_width = int(dwm.group(1))
                    wm2 = _W_ARR_RE.search(desc)
                    wbody = wm2.group(1) if wm2 else None
                    if wbody is None:
                        wrm2 = _W_REF_RE.search(desc)
                        if wrm2:
                            rb = objs.get(int(wrm2.group(1)), b"")
                            am2 = re.search(rb"\[(.*)\]", rb, re.S)
                            wbody = am2.group(1) if am2 else None
                    if wbody is not None:
                        cid_widths = _parse_cid_w(wbody)
            fonts_by_obj[oid] = FontInfo(
                name=fm.group(1).decode("latin-1"), widths=widths,
                first_char=first_char, missing_width=missing,
                to_unicode=to_uni, two_byte=two_byte,
                cid_widths=cid_widths, default_width=default_width)

    page_ids, inherited = _walk_pages(objs)
    pages: List[ParsedPage] = []
    for page_num, pid in enumerate(page_ids):
        body = objs[pid]
        attrs = inherited.get(pid, body)
        mb = _MEDIABOX_RE.search(attrs)
        if not mb:
            raise PdfParseError("page without MediaBox")
        x0, y0, x1, y1 = (float(mb.group(i)) for i in range(1, 5))
        # pdfminer's PDFPageInterpreter.process_page: the initial CTM
        # moves the box origin to (0, 0) and applies /Rotate; the page
        # size is the box's extent under it (PDFLayoutAnalyzer.begin_page)
        rm = _ROTATE_RE.search(attrs)
        rotate = (int(rm.group(1)) + 360) % 360 if rm else 0
        if rotate == 90:
            ctm = (0.0, -1.0, 1.0, 0.0, 0.0 - y0, x1)
        elif rotate == 180:
            ctm = (-1.0, 0.0, 0.0, -1.0, x1, y1)
        elif rotate == 270:
            ctm = (0.0, 1.0, -1.0, 0.0, y1, 0.0 - x0)
        else:
            ctm = (1.0, 0.0, 0.0, 1.0, 0.0 - x0, 0.0 - y0)
        a, b, c, d, e, f = ctm
        width = abs((a * x0 + c * y0 + e) - (a * x1 + c * y1 + e))
        height = abs((b * x0 + d * y0 + f) - (b * x1 + d * y1 + f))

        # /Resources (and its /Font dict) may each be indirect objects
        # — Word/LibreOffice share one resource dict across pages that
        # way. Inline dicts keep the old direct-scan behavior.
        res_body = body
        rr = _RESOURCES_REF_RE.search(body)
        if rr:
            res_body = objs.get(int(rr.group(1)), b"")
        font_body = res_body
        fr = _FONTDICT_REF_RE.search(res_body)
        if fr:
            font_body = objs.get(int(fr.group(1)), b"")
        font_res = {
            m.group(1).decode(): int(m.group(2))
            for m in _FONTRES_RE.finditer(font_body)
        }

        lines: List[ParsedLine] = []
        content_ids = _content_ids(body)
        if content_ids:
            # array streams concatenate with a token break between
            # parts (PDF 32000-1 §7.8.2) — a newline joint is that
            # break and never splits a token
            stream = b"\n".join(
                _stream_for_obj(data, cid, starts) for cid in content_ids)
            lines = _run_content(
                stream,
                {tag: fonts_by_obj.get(oid, FontInfo(name="Unknown"))
                 for tag, oid in font_res.items()},
                ctm,
            )
        pages.append(ParsedPage(page_num=page_num, width=width, height=height,
                                lines=lines, ctm=ctm))
    return table, page_ids, pages


def _mat_mult(m1, m2):
    """Affine compose (row-vector convention: apply m1, then m2)."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


def _pretranslate(tx, ty, m):
    """translate(tx, ty) x m — the hot compose (advances, TJ kerns,
    Td): only e/f change, 4 mults instead of 12."""
    a, b, c, d, e, f = m
    return (a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f)


def _floats(stack: List[object], n: int) -> Optional[List[float]]:
    """The last n operands as floats, or None when there are fewer
    than n or one has no float value. pdfminer's rule: such an op is
    skipped, it does not fail the document."""
    if len(stack) < n:
        return None
    try:
        return [float(v) for v in stack[-n:]]
    except (TypeError, ValueError):
        return None


def _run_content(stream: bytes, font_names: Dict[str, object],
                 ctm: Tuple[float, ...] = _MAT_ID) -> List[ParsedLine]:
    """Interpret a content stream; every BT..ET block becomes one line.

    `font_names` maps resource tag -> FontInfo (or a bare BaseFont
    string for direct callers; normalized to monospaced FontInfo).
    `ctm` is the page's initial transformation matrix."""
    fonts: Dict[str, FontInfo] = {
        tag: (f if isinstance(f, FontInfo) else FontInfo(name=f))
        for tag, f in font_names.items()}
    lines: List[ParsedLine] = []
    stack: List[object] = []

    in_text = False
    # full affine state (PDF 32000-1 §8.3.3 / §9.4.2, row-vector
    # convention): ctm survives BT/ET and composes under cm with q/Q
    # save/restore; tm/tlm are the text and text-line matrices. For
    # `1 0 0 1 x y Tm` under an identity ctm this reduces EXACTLY to
    # the previous translation-only arithmetic (same float ops), so
    # synth documents parse bit-identically; real-world writers
    # (Skia/Google Docs: y-flip cm + scale + d=-1 Tm) now land where
    # they render.
    gstack: List[Tuple[float, ...]] = []
    tm = tlm = _MAT_ID
    leading = 0.0
    finfo = FontInfo(name="Unknown")
    font = finfo.name
    size = 0.0
    cur: Optional[ParsedLine] = None

    def flush():
        nonlocal cur
        if cur is not None and cur.runs:
            lines.append(cur)
        cur = None

    def show(text: str):
        nonlocal tm, cur
        if not in_text:
            raise PdfParseError("Tj outside BT/ET")
        decoded, adv_text, first_adv, last_adv = \
            finfo.show_info(text, size)
        if not decoded and adv_text == 0.0:
            return
        trm = tm if ctm == _MAT_ID else _mat_mult(tm, ctm)
        ox, oy = trm[4], trm[5]
        ax = trm[0] if trm[0] != 0 else 1.0    # x-axis image scale
        dyy = abs(trm[3]) if trm[3] != 0 else abs(trm[1]) or 1.0
        size_dev = size * dyy
        x_a, x_b = ox, ox + adv_text * ax
        x_start, x_end = (x_a, x_b) if x_a <= x_b else (x_b, x_a)
        y0 = oy + DESCENT * size_dev / 1000.0
        y1 = oy + ASCENT * size_dev / 1000.0
        if cur is None:
            cur = ParsedLine(x0=x_start, y0=y0, x1=x_end, y1=y1)
        else:
            cur.x0 = min(cur.x0, x_start)
            cur.x1 = max(cur.x1, x_end)
            cur.y0 = min(cur.y0, y0)
            cur.y1 = max(cur.y1, y1)
        if not cur.runs:
            cur.first_w = first_adv * abs(ax)
        cur.last_w = last_adv * abs(ax)
        if decoded:
            cur.runs.append((decoded, font))
        tm = _pretranslate(adv_text, 0.0, tm)

    if _FAST_STREAM_RE.fullmatch(stream):
        # restricted-grammar replay (see _FAST_STREAM_RE): the
        # interpreter's behavior on BT/Tm/Tf/Tj/ET with an empty
        # graphics stack reduces exactly to these transitions
        # findall tuple dispatch: exactly one alternative matches per
        # op and no matched group can be empty (_FNUM is >=1 char,
        # strings keep their parens), so truthiness identifies the op
        # without per-match Match-object probing
        for s, tmg, tag, sizeg, bt, _et in _FAST_OP_RE.findall(stream):
            if s:                           # (string) Tj
                show(_decode_pdf_string(s))
            elif tmg:                       # a b c d e f Tm
                tlm = tuple(map(float, tmg.split(b" ")))
                tm = tlm
                flush()
            elif sizeg:                     # /Tag size Tf
                size = float(sizeg)
                finfo = fonts.get(tag.decode("latin-1"),
                                  FontInfo(name="Unknown"))
                font = finfo.name
            elif bt:                        # BT
                in_text = True
                tm = tlm = _MAT_ID
                cur = None
            else:                           # ET
                flush()
                in_text = False
        flush()
        return _merge_runs(lines)

    # branch order by measured token frequency (numbers and strings
    # dominate every content stream; the op chain leads with the
    # per-line ops). Dispatch on m.lastindex (an int; groups are
    # 1=str 2=hex 3=name 4=num 5=arr 6=op) and compare op tokens as
    # raw bytes — same semantics, fewer dead comparisons and no
    # per-op decode. Alternation order in _TOKEN_RE is untouched
    # (first-char classes are disjoint anyway).
    append = stack.append
    clear = stack.clear
    for m in _TOKEN_RE.finditer(stream):
        kind = m.lastindex
        tok = m.group(0)
        if kind == 4:                     # num
            append(float(tok))
        elif kind == 1:                   # str
            append(_decode_pdf_string(tok))
        elif kind == 6:                   # op
            if tok == b"Tj":
                # only a string is shown: a number or the `[` marker
                # is a malformed operand, skipped as pdfminer does
                if stack and isinstance(stack[-1], str):
                    show(stack[-1])
                clear()
            elif tok == b"Td" or tok == b"TD":
                d = _floats(stack, 2)
                if d:
                    dx, dy = d
                    if tok == b"TD":
                        leading = -dy
                    tlm = _pretranslate(dx, dy, tlm)
                    tm = tlm
                    flush()
                clear()
            elif tok == b"Tm":
                nums = [v for v in stack if isinstance(v, float)]
                if len(nums) >= 6:
                    tlm = tuple(nums[-6:])
                    tm = tlm
                flush()
                clear()
            elif tok == b"TJ":
                for item in stack:
                    if isinstance(item, str):
                        show(item)
                    elif isinstance(item, float):
                        # standard TJ kerning: a number n translates the
                        # text matrix by -n/1000*size (horizontal writing)
                        tm = _pretranslate(
                            -item / 1000.0 * size, 0.0, tm)
                clear()
            elif tok == b"Tf":
                f = _floats(stack, 1)
                if f and len(stack) >= 2:
                    size = f[0]
                    finfo = fonts.get(str(stack[-2]),
                                      FontInfo(name="Unknown"))
                    font = finfo.name
                clear()
            elif tok == b"BT":
                in_text = True
                tm = tlm = _MAT_ID
                cur = None
            elif tok == b"ET":
                flush()
                in_text = False
            elif tok == b"q":
                gstack.append(ctm)
                clear()
            elif tok == b"Q":
                if gstack:
                    ctm = gstack.pop()
                clear()
            elif tok == b"cm":
                nums = [v for v in stack if isinstance(v, float)]
                if len(nums) >= 6:
                    ctm = _mat_mult(tuple(nums[-6:]), ctm)
                clear()
            elif tok == b"TL":
                f = _floats(stack, 1)
                if f:
                    leading = f[0]
                clear()
            elif tok == b"T*":
                tlm = _pretranslate(0.0, -leading, tlm)
                tm = tlm
                flush()
                clear()
            else:
                clear()
        elif kind == 3:                   # name
            append(tok[1:].decode("latin-1"))
        elif kind == 2:                   # hex
            # <48656C6C6F> hex string; odd digit count pads with 0
            digits = b"".join(tok[1:-1].split())
            if len(digits) % 2:
                digits += b"0"
            append(_text_bytes_to_str(
                bytes.fromhex(digits.decode("ascii"))))
        else:                             # arr
            append(_ARR_MARKER)  # sentinel: a '[' STRING (hex
            # or escaped) must remain distinguishable from delimiters
    flush()
    return _merge_runs(lines)


# the reference's own LAParams (pipes/extractors/pdfminer.py:103-111)
LA_LINE_OVERLAP = 0.5
LA_CHAR_MARGIN = 2.05
LA_WORD_MARGIN = 0.1


def _merge_runs(runs: List[ParsedLine]) -> List[ParsedLine]:
    """pdfminer-style text-line assembly at RUN granularity: merge
    stream-consecutive runs that vertically overlap by >= line_overlap
    of the smaller height AND whose horizontal gap is under
    char_margin x the adjacent char's width; insert a space when the
    gap exceeds word_margin x that width (LTTextLineHorizontal.add
    semantics). Real-world writers (Word et al.) emit one BT run per
    kerning segment — pdfminer stitches them back into visual lines,
    and the reference's ground truth is built from THOSE lines. Synth
    single-run-per-line documents pass through untouched (column gaps
    are far beyond char_margin)."""
    out: List[ParsedLine] = []
    for run in runs:
        if out:
            prev = run_prev = out[-1]
            h1 = prev.y1 - prev.y0
            h2 = run.y1 - run.y0
            voverlap = min(prev.y1, run.y1) - max(prev.y0, run.y0)
            cw = max(prev.last_w, run.first_w)
            gap = run.x0 - prev.x1
            if (voverlap >= LA_LINE_OVERLAP * min(h1, h2)
                    and -cw <= gap < LA_CHAR_MARGIN * cw):
                if gap > LA_WORD_MARGIN * cw and run.runs \
                        and prev.runs and prev.runs[-1][0][-1] != " " \
                        and run.runs[0][0][0] != " ":
                    fnt = run.runs[0][1]
                    run_prev.runs.append((" ", fnt))
                run_prev.runs.extend(run.runs)
                run_prev.x1 = max(run_prev.x1, run.x1)
                run_prev.x0 = min(run_prev.x0, run.x0)
                run_prev.y0 = min(run_prev.y0, run.y0)
                run_prev.y1 = max(run_prev.y1, run.y1)
                run_prev.last_w = run.last_w or run_prev.last_w
                continue
        out.append(run)
    return out


# ---------------------------------------------------------------------------
# Annotation overlay — the reference's show_annotations analog
# (/root/reference/edspdf/visualization/annotations.py:34-83) without
# pypdfium2/PIL: instead of rendering pages to images and drawing PIL
# rectangles, the SAME outlines (CATEGORY20 palette, labels colored in
# first-encounter order, 3px-at-scale-2 = 1.5pt strokes) are appended
# to each page's content stream, so any PDF viewer shows them and the
# text extraction is byte-for-byte unaffected (the parser ignores
# non-text operators).
# ---------------------------------------------------------------------------

CATEGORY20 = [
    "#1f77b4", "#ff7f0e", "#2ca02c", "#98df8a", "#d62728", "#ff9896",
    "#9467bd", "#c5b0d5", "#8c564b", "#c49c94", "#e377c2", "#f7b6d2",
    "#7f7f7f", "#c7c7c7", "#bcbd22", "#dbdb8d", "#17becf", "#9edae5",
]

_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+0\s+R")
# outline stroke: the reference's 3 px at render scale 2
_LINE_WIDTH = 1.5


def _hex_rgb(color: str) -> Tuple[float, float, float]:
    c = color.lstrip("#")
    return tuple(int(c[i:i + 2], 16) / 255.0 for i in (0, 2, 4))


def _resolve_colors(annotations, colors) -> Dict[str, str]:
    """Reference color assignment (annotations.py:62-67): unique labels
    in first-encounter order zipped with CATEGORY20, unless given."""
    unique = list(dict.fromkeys(a[5] for a in annotations))
    if colors is None:
        return dict(zip(unique, CATEGORY20))
    if isinstance(colors, list):
        return dict(zip(unique, colors))
    return dict(colors)


def annotate_pdf(data: bytes, annotations, colors=None) -> bytes:
    """Rewrite `data` with rectangle outlines for each annotation
    (page_num, x0, x1, y0, y1, label) — coordinates normalized with
    y0=top (extractor output). Streams are re-emitted uncompressed;
    everything else in the file is preserved byte-for-byte. A page
    draws after its last content stream; when another page shows that
    stream too, the page gets its own overlaid copy of it instead."""
    # parse_pdf's read: raises PdfParseError on malformed input, and
    # gives the live objects (ObjStm members expanded) and page order
    return annotate_read(data, _read_pdf(data), annotations, colors)


def annotate_read(data: bytes, read, annotations, colors=None) -> bytes:
    """annotate_pdf over `read = _read_pdf(data)`, for a caller that
    extracted from that same read. Rewrites its object table."""
    (objs, starts, members), page_ids, pages = read
    cmap = _resolve_colors(annotations, colors)

    def overlaid(oid: int, ops: bytes) -> bytes:
        stream = _stream_for_obj(data, oid, starts) + b"\n" + ops
        return b"<< /Length %d >>\nstream\n%s\nendstream" % (
            len(stream), stream)

    overlays: Dict[int, bytes] = {}  # contents oid -> ops to append
    copies: List[Tuple[int, bytes]] = []  # overlaid copies, new oids
    # a stream an earlier page claimed, or one a page shows before its
    # last, cannot take this page's outlines in place
    claimed = {cid for pid in page_ids for cid in _content_ids(objs[pid])[:-1]}
    for page, pid in zip(pages, page_ids):
        content_ids = _content_ids(objs[pid])
        if not content_ids:
            continue
        last = content_ids[-1]
        shared = last in claimed
        claimed.add(last)
        w, h = page.width, page.height
        to_user = ""  # page space -> user space: the page CTM's inverse
        if page.ctm != _MAT_ID:
            m = page.ctm  # a rotation and a shift: determinant 1
            inv = (m[3], -m[1], -m[2], m[0],
                   m[2] * m[5] - m[3] * m[4], m[1] * m[4] - m[0] * m[5])
            to_user = "".join(f"{v + 0.0:g} " for v in inv) + "cm "
        ops: List[str] = []
        for a in annotations:
            if a[0] != page.page_num or a[5] not in cmap:
                continue
            r, g, b = _hex_rgb(cmap[a[5]])
            x0, x1, y0, y1 = a[1], a[2], a[3], a[4]
            ops.append(
                f"q {to_user}{r:g} {g:g} {b:g} RG {_LINE_WIDTH:g} w "
                f"{x0 * w:g} {(1 - y1) * h:g} {(x1 - x0) * w:g} "
                f"{(y1 - y0) * h:g} re S Q")
        if not ops:
            continue
        overlay = "\n".join(ops).encode("latin-1")
        if not shared:  # after the page's last content stream, on top
            overlays[last] = overlay
            continue
        new = max(objs) + 1 + len(copies)
        copies.append((new, overlaid(last, overlay)))
        body = objs[pid]
        cm = _CONTENTS_RE.search(body) or _CONTENTS_ARR_RE.search(body)
        ref = list(_REF_RE.finditer(body, cm.start(), cm.end()))[-1]
        objs[pid] = body[:ref.start()] + b"%d 0 R" % new + body[ref.end():]

    # preserve the input's version header (an /ObjStm file is 1.5)
    hdr_end = data.find(b"\n")
    header = data[:hdr_end + 1] if 0 < hdr_end < 32 else b"%PDF-1.4\n"
    objects: List[Tuple[int, bytes]] = []
    # each top-level object once, where it first occurs, with the body
    # of its last occurrence (the live one of an incremental update)
    for oid in starts:
        head = _dict_head(objs[oid])
        if b"/XRef" in head and b"/Type" in head:
            # stale cross-reference stream: superseded by the classic
            # xref table written below, and its offsets would be wrong
            continue
        if oid in members:
            # expand the ObjStm: members become classic objects (they
            # are dict objects by spec, so this is always legal) and
            # the now-redundant container is not re-emitted, so the
            # classic xref we write covers the catalog/page dicts
            objects += [(sub, objs[sub].strip()) for sub in members[oid]]
            continue
        body = overlaid(oid, overlays[oid]) if oid in overlays else objs[oid]
        objects.append((oid, body.strip()))
    rm = _ROOT_RE.search(data)
    return write_pdf(header, objects + copies, int(rm.group(1)) if rm else 1)


def compare_pdfs(data: bytes, pred, gold, colors=None) -> Tuple[bytes, bytes]:
    """compare_results analog (annotations.py:86-130): one shared color
    assignment over pred+gold labels, two annotated PDFs instead of
    hstacked page images (no PIL here)."""
    colors = _resolve_colors(list(pred) + list(gold), colors)
    return (annotate_pdf(data, pred, colors),
            annotate_pdf(data, gold, colors))
