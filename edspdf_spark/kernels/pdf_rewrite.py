"""Structure-preserving PDF rewriters — the adversarial-mutation
toolkit behind tests/test_real_pdf_parity.py's corpus (r4 VERDICT #4).

Every function here takes the bytes of a well-formed PDF and returns
the bytes of a DIFFERENTLY-SHAPED but semantically identical PDF:
same pages, same text, same glyph geometry — re-expressed through a
file-structure feature a real-world writer could have chosen instead
(object streams vs classic tables, split content arrays, indirect
lengths/resources, renumbered objects, incremental updates, different
compression). Parsing the mutant must therefore reproduce the exact
bloc set of the original; that equivalence is what the parity suite
asserts against the reference's own frozen pdfminer ground truth
(reference: tests/pipes/extractors/blocks_ground_truth.py, parser
surface pipes/extractors/pdfminer.py:103-111).

The rewriters deliberately reuse the parser's own reader (the object
table of _load_objects and the stream slice of _raw_stream) for
READING, and serialize through `kernels.pdf.write_pdf`, the object,
xref and trailer writer that `build_pdf` and `annotate_pdf` share.
That writer is independent of the READER, so a scan bug that mangled
structure would produce a mutant whose parse diverges, not one that
round-trips the bug invisibly.
"""

from __future__ import annotations

import re
import zlib
from typing import Dict, Optional, Tuple

from .pdf import (
    PdfParseError,
    _LENGTH_RE,
    _LENGTH_REF_RE,
    _REF_RE,
    _STREAM_KW_RE,
    _TOKEN_RE,
    _dict_head,
    _load_objects,
    _raw_stream,
    _scan_objects,
    write_pdf,
)

__all__ = [
    "parse_objects",
    "write_classic",
    "write_xref_stream",
    "classicize",
    "objstm_repack",
    "uncompress_streams",
    "recompress_streams",
    "indirect_lengths",
    "split_page_contents",
    "renumber_reversed",
    "incremental_override",
    "outline_resources",
    "ALL_MUTATIONS",
]


class PdfObj:
    """One indirect object: `head` is the body text before any stream
    keyword (dictionary / scalar, refs in `N 0 R` form); `stream` the
    RAW (still-encoded) stream bytes, or None for plain objects."""

    __slots__ = ("head", "stream")

    def __init__(self, head: bytes, stream: Optional[bytes] = None):
        self.head = head
        self.stream = stream

    def decoded(self) -> bytes:
        """Stream bytes after FlateDecode (identity when unfiltered)."""
        if self.stream is None:
            raise PdfParseError("not a stream object")
        if b"/FlateDecode" in self.head:
            return zlib.decompress(self.stream)
        return self.stream


def parse_objects(data: bytes) -> Dict[int, PdfObj]:
    """All live indirect objects, LAST occurrence winning (incremental
    -update semantics), with PDF-1.5 object streams expanded to plain
    top-level objects and their containers / cross-reference stream
    objects dropped (they describe the old file layout, which the
    writers below regenerate from scratch)."""
    if not data.startswith(b"%PDF-"):
        raise PdfParseError("missing %PDF- header")
    objs, starts, members = _load_objects(data)
    out: Dict[int, PdfObj] = {}
    for oid, body in objs.items():
        if oid in members:  # an ObjStm container, expanded into objs
            continue
        head = _dict_head(body)
        if head is body or oid not in starts:  # ObjStm members are plain
            out[oid] = PdfObj(body.strip())
        elif not (b"/XRef" in head and b"/W" in head):
            out[oid] = PdfObj(head.strip(), _raw_stream(data, starts[oid])[1])
    return out


def _find_root(objs: Dict[int, PdfObj]) -> int:
    for oid, o in sorted(objs.items()):
        if re.search(rb"/Type\s*/Catalog\b", o.head):
            return oid
    raise PdfParseError("no /Catalog object")


def _set_length(head: bytes, n: int) -> bytes:
    """Rewrite the dict's /Length (direct or indirect) to a direct n,
    adding the key when the dict never had one."""
    val = b"/Length " + str(n).encode()
    if _LENGTH_REF_RE.search(head):
        return _LENGTH_REF_RE.sub(val, head, count=1)
    if _LENGTH_RE.search(head):
        return _LENGTH_RE.sub(val, head, count=1)
    close = head.rfind(b">>")
    if close < 0:
        raise PdfParseError("stream object without a dict")
    return head[:close] + val + b" " + head[close:]


def _body(o: PdfObj) -> bytes:
    """The body `write_pdf` frames: the head, plus the stream under a
    direct /Length."""
    if o.stream is None:
        return o.head
    return b"%s\nstream\n%s\nendstream" % (_set_length(o.head, len(o.stream)),
                                          o.stream)


def write_classic(objs: Dict[int, PdfObj]) -> bytes:
    """Serialize with a CLASSIC cross-reference table + trailer."""
    return write_pdf(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n",
                     [(oid, _body(objs[oid])) for oid in sorted(objs)],
                     _find_root(objs))


def write_xref_stream(objs: Dict[int, PdfObj], pack: bool = False) -> bytes:
    """Serialize with a PDF-1.5 cross-reference STREAM; with
    pack=True, every plain (non-stream) object except the catalog is
    packed into one /ObjStm container first — the Word/Acrobat 'fast
    web view'-era layout the reference resources themselves use."""
    objs = {oid: o for oid, o in objs.items()}
    root = _find_root(objs)
    in_objstm: Dict[int, Tuple[int, int]] = {}  # oid -> (container, idx)
    packable = [oid for oid in sorted(objs)
                if objs[oid].stream is None and oid != root] if pack else []
    if packable:
        container = max(objs) + 1
        header = bytearray()
        bodies = bytearray()
        for idx, oid in enumerate(packable):
            header += b"%d %d " % (oid, len(bodies))
            bodies += objs.pop(oid).head + b"\n"
            in_objstm[oid] = (container, idx)
        comp = zlib.compress(bytes(header) + bytes(bodies), 6)
        objs[container] = PdfObj(
            b"<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>"
            % (len(packable), len(header), len(comp)), comp)
    return write_pdf(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n",
                     [(oid, _body(objs[oid])) for oid in sorted(objs)],
                     root, in_objstm, xref_stream=True)


# --- mutation classes -------------------------------------------------------


def classicize(data: bytes) -> bytes:
    """ObjStm/xref-stream layout -> all-classic objects + xref table."""
    return write_classic(parse_objects(data))


def objstm_repack(data: bytes) -> bytes:
    """Pack every plain object into ONE object stream + xref stream."""
    return write_xref_stream(parse_objects(data), pack=True)


def uncompress_streams(data: bytes) -> bytes:
    """Inflate every FlateDecode stream to stored form (drop /Filter).
    Streams with /DecodeParms (predictors) are left as-is."""
    objs = parse_objects(data)
    for o in objs.values():
        if (o.stream is not None and b"/FlateDecode" in o.head
                and b"/DecodeParms" not in o.head):
            o.stream = zlib.decompress(o.stream)
            o.head = re.sub(
                rb"/Filter\s*(\[\s*/FlateDecode\s*\]|/FlateDecode)",
                b"", o.head, count=1)
    return write_classic(objs)


def recompress_streams(data: bytes, level: int = 9) -> bytes:
    """Re-deflate every FlateDecode stream at a different zlib level —
    same content, different stream bytes and lengths throughout."""
    objs = parse_objects(data)
    for o in objs.values():
        if (o.stream is not None and b"/FlateDecode" in o.head
                and b"/DecodeParms" not in o.head):
            o.stream = zlib.compress(zlib.decompress(o.stream), level)
    return write_classic(objs)


def indirect_lengths(data: bytes) -> bytes:
    """Move every stream's /Length into an indirect integer object —
    how incremental writers emit streams before their size is known."""
    objs = parse_objects(data)
    next_oid = max(objs) + 1
    for oid in sorted([k for k, o in objs.items() if o.stream is not None]):
        o = objs[oid]
        head = _set_length(o.head, len(o.stream))  # normalize first
        head = _LENGTH_RE.sub(b"/Length %d 0 R" % next_oid, head, count=1)
        o.head = head
        objs[next_oid] = PdfObj(str(len(o.stream)).encode())
        next_oid += 1
    return write_classic(objs)


def _split_offset(content: bytes) -> Optional[int]:
    """A token-boundary offset near the middle of a content stream
    (PDF 32000-1 §7.8.2: array parts may break between any two lexical
    tokens). Prefers the start of a BT block; falls back to any token
    start past the midpoint."""
    mid = len(content) // 2
    fallback = None
    for m in _TOKEN_RE.finditer(content):
        if m.start() < mid:
            continue
        if m.group("op") == b"BT":
            return m.start()
        if fallback is None and m.start() > mid:
            fallback = m.start()
    return fallback


def split_page_contents(data: bytes) -> bytes:
    """Split every page's single /Contents stream into a TWO-stream
    array, cut at a token boundary — the multi-stream page layout
    incremental editors produce."""
    objs = parse_objects(data)
    next_oid = max(objs) + 1
    changed = False
    for oid in sorted(objs):
        o = objs[oid]
        if o.stream is not None or not re.search(rb"/Type\s*/Page\b",
                                                 o.head):
            continue
        cm = re.search(rb"/Contents\s+(\d+)\s+0\s+R(?!\w)", o.head)
        if cm is None:
            continue
        cobj = objs.get(int(cm.group(1)))
        if cobj is None or cobj.stream is None:
            continue
        content = cobj.decoded()
        cut = _split_offset(content)
        if cut is None or cut <= 0 or cut >= len(content):
            continue
        parts = []
        for piece in (content[:cut], content[cut:]):
            comp = zlib.compress(piece, 6)
            objs[next_oid] = PdfObj(
                b"<< /Length %d /Filter /FlateDecode >>" % len(comp), comp)
            parts.append(next_oid)
            next_oid += 1
        o.head = (o.head[:cm.start()]
                  + b"/Contents [%d 0 R %d 0 R]" % tuple(parts)
                  + o.head[cm.end():])
        # the original stream object stays (it may be shared by
        # another page); it becomes an unreferenced orphan otherwise
        changed = True
    if not changed:
        raise PdfParseError("no single-stream page contents to split")
    return write_classic(objs)


def renumber_reversed(data: bytes) -> bytes:
    """Renumber every object to (max+1 - oid) and rewrite all `N 0 R`
    references — document order and ids decouple entirely."""
    objs = parse_objects(data)
    top = max(objs) + 1
    mapping = {oid: top - oid for oid in objs}

    def _remap(head: bytes) -> bytes:
        return _REF_RE.sub(
            lambda m: b"%d 0 R" % mapping[int(m.group(1))]
            if int(m.group(1)) in mapping else m.group(0), head)

    return write_classic({
        mapping[oid]: PdfObj(_remap(o.head), o.stream)
        for oid, o in objs.items()})


def incremental_override(data: bytes) -> bytes:
    """Append an INCREMENTAL UPDATE that re-states every content
    stream, then vandalize the original copies in place (zlib-valid
    garbage of identical length, so spans still scan). A reader that
    honors last-occurrence-wins reproduces the document; one that
    reads the first version sees the garbage."""
    objs = parse_objects(data)
    content_oids = set()
    for o in objs.values():
        if o.stream is None and re.search(rb"/Type\s*/Page\b", o.head):
            for m in re.finditer(rb"/Contents\s+(\d+)\s+0\s+R", o.head):
                content_oids.add(int(m.group(1)))
            am = re.search(rb"/Contents\s*\[(.*?)\]", o.head, re.S)
            if am:
                content_oids.update(
                    int(r.group(1)) for r in _REF_RE.finditer(am.group(1)))
    if not content_oids:
        raise PdfParseError("no page contents to override")
    base = write_classic(objs)  # normalize so spans are predictable
    buf = bytearray(base)
    # vandalize the ORIGINAL stream bytes in place, same length
    for oid, start, end in _scan_objects(bytes(buf)):
        if oid not in content_oids:
            continue
        sm = _STREAM_KW_RE.search(bytes(buf), start)
        raw = _raw_stream(bytes(buf), start)[1]
        filler = zlib.compress(b"% overridden\n" * 4, 6)
        junk = (filler * (len(raw) // len(filler) + 1))[:len(raw)]
        buf[sm.end():sm.end() + len(raw)] = junk
    # append the true content objects + a /Prev trailer section
    prev_xref = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    offsets: Dict[int, int] = {}
    for oid in sorted(content_oids):
        offsets[oid] = len(buf)
        buf += b"%d 0 obj\n%s\nendobj\n" % (oid, _body(objs[oid]))
    root = _find_root(objs)
    size = max(objs) + 1
    xref_at = len(buf)
    buf += b"xref\n"
    for oid in sorted(offsets):
        buf += b"%d 1\n%010d 00000 n \n" % (oid, offsets[oid])
    buf += (b"trailer\n<< /Size %d /Root %d 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (size, root, prev_xref, xref_at))
    return bytes(buf)


def outline_resources(data: bytes) -> bytes:
    """Move every page's inline /Resources dict into a shared indirect
    object (the Word/LibreOffice layout); pages referencing resources
    indirectly already are left unchanged."""
    objs = parse_objects(data)
    next_oid = max(objs) + 1
    changed = False
    for oid in sorted(objs):
        o = objs[oid]
        if o.stream is not None or not re.search(rb"/Type\s*/Page\b",
                                                 o.head):
            continue
        rm = re.search(rb"/Resources\s*<<", o.head)
        if rm is None:
            continue
        # find the matching >> of the inline dict
        depth = 0
        i = rm.end() - 2
        end = None
        while i < len(o.head) - 1:
            two = o.head[i:i + 2]
            if two == b"<<":
                depth += 1
                i += 2
            elif two == b">>":
                depth -= 1
                i += 2
                if depth == 0:
                    end = i
                    break
            else:
                i += 1
        if end is None:
            raise PdfParseError("unbalanced inline /Resources dict")
        inner = o.head[rm.end() - 2:end]
        objs[next_oid] = PdfObj(inner)
        o.head = (o.head[:rm.start()]
                  + b"/Resources %d 0 R" % next_oid
                  + o.head[end:])
        next_oid += 1
        changed = True
    if not changed:
        raise PdfParseError("no inline /Resources to outline")
    return write_classic(objs)


ALL_MUTATIONS = {
    "classicize": classicize,
    "objstm_repack": objstm_repack,
    "uncompress": uncompress_streams,
    "recompress9": recompress_streams,
    "indirect_lengths": indirect_lengths,
    "split_contents": split_page_contents,
    "renumber_reversed": renumber_reversed,
    "incremental_override": incremental_override,
    "outline_resources": outline_resources,
}
