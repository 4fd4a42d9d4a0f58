"""From-scratch PDF text extraction for the declared fixture dialect.

Reimplements the *semantics* of the reference's per-document conversion
(docling_strategy_processor.py:622-712 document convert; :1482-1510 element
flattening; :1264-1300 page assembly; :1699-1726 table headers rule) with a
hand-written parser instead of Docling's ML models — pure functions over
``bytes``, no I/O, no Spark imports (the UDF body IS the pytest oracle).

Supported dialect (FIXTURES.md): PDF 1.4-1.7 document structure —
classic xref tables AND cross-reference streams (``/Type /XRef``, PDF 1.5+)
with PNG/TIFF predictors, object streams (``/Type /ObjStm``), hybrid-reference
files (``/XRefStm``), and incremental updates (``/Prev`` chains, newest
section wins, free entries tombstone); ``/Type /Page`` tree (inherited
``/Resources``), content streams raw or filtered (FlateDecode, LZWDecode,
ASCIIHexDecode, ASCII85Decode, RunLengthDecode, cascades), text via
``BT/Tf/Td/TD/Tm/TL/T*/Tj/TJ/'/"/ET`` with literal AND ``<...>`` hex show
strings, inline images (``BI..ID..EI``) skipped, text inside ``/Subtype
/Form`` XObjects followed through ``Do`` (cycle/depth capped, no CTM
modeling); fonts: simple fonts (latin-1 pinned default; ``/WinAnsiEncoding``
/ ``/MacRomanEncoding`` bases, ``/Differences`` glyph-name overrides,
per-code ``/ToUnicode``) and Type0/CID composite fonts (``/Identity-H|V``
+ ``/ToUnicode`` bfchar/bfrange CMaps — the subset-embedded-font shape
modern real-web PDF producers emit). Everything outside the dialect raises
``CorruptedFileError``/``UnsupportedFormatError`` -> a hard-failure row,
mirroring the reference's poison-pill taxonomy
(docling_strategy_processor.py:527-544, 1024-1027). The reference accepts
any Docling-parseable PDF (docling_strategy_processor.py:622-712); xref/
object-stream support is what closes that gap for real-web (PDF 1.5+)
documents.

PINNED SEMANTICS (byte-identical invariant surface):

1. Show events group into lines by exact y; lines order top-down
   (descending y, PDF origin is bottom-left), events within a line by x.
2. A line is a *table row* iff it has >= 2 show events; maximal runs of
   consecutive table rows with identical x-grids (>= 2 rows) form one table.
   headers = first-row cells sorted by column x offset — the reference rule
   verbatim (docling_strategy_processor.py:1719-1726).
3. Non-table lines: label = "header" if font size >= 14 else "body"
   (fixture signal: 18pt header vs 10pt body).
4. Reading order = line order; a table row renders into content as its cells
   joined with single spaces.
5. Page content (reference M5/M4 templates, docling_strategy_processor.py:
   1264-1300): per ``output_format`` — 'text' (default, the golden
   byte-identity surface): ``"Page {n}\\n\\n"`` + ``line_text + "\\n"`` per
   line; 'markdown' (reference :1282-1286): ``"# Page {n}\\n\\n"`` + the
   same per-line template; any other format (reference fallback :1293-94):
   bare ``"\\n"``-join of the lines, no header, no trailing newline.
   word_count = ``len(content.split())`` over the rendered content;
   element char spans index into the rendered content.
6. Pages are 1-indexed (reference: docling_strategy_processor.py:1149-1150).
7. Table/figure ids are deterministic ``{url_hash}_table_{idx}`` (reference
   uuid4 ids at docling 1550, 1665 are excluded from the invariant surface).
"""

from __future__ import annotations

import bisect
import re
import zlib
from dataclasses import dataclass
from typing import NamedTuple

from .model import (
    DOC_TYPE_PDF,
    LABEL_BODY,
    LABEL_HEADER,
    LABEL_TABLE_CELL,
    BBox,
    Element,
    ExtractionResult,
    FigureRef,
    PageResult,
    TableRef,
    table_csv,
    word_count,
)
from .taxonomy import (
    CorruptedFileError,
    EmptyContentError,
    OversizeDocumentError,
    ScannedPdfNoTextError,
    UnsupportedFormatError,
)

HEADER_SIZE_MIN = 14.0  # pinned rule 3
PAGE_HEIGHT_DEFAULT = 792.0

# Flate-bomb guard: cap the DECODED size of any single stream (a 1 MB
# Flate payload can inflate to ~1 GB; at 10^12 docs one such page must
# cost a failure row, not an executor OOM).
MAX_DECODED_STREAM = 256 << 20

# Show-event bomb guard: a crafted content stream of millions of tiny
# Tj ops would balloon the per-page element list far past the stream's
# own byte size; cap events per page (real pages run ~10^2-10^4).
MAX_SHOWS_PER_PAGE = 200_000

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# --------------------------------------------------------------------------
# Object-level lexer/parser
# --------------------------------------------------------------------------


class _Ref(tuple):
    """Indirect reference (num, gen)."""


class _Objects:
    """Lazy object store over the raw buffer + xref entries.

    An entry is either an int byte offset (xref type 1), a
    ``("objstm", stream_num, idx)`` tuple (type 2 — the object lives inside
    a ``/Type /ObjStm`` object stream, PDF 1.5+), or ``None`` (a free-entry
    tombstone from an incremental update — the object was deleted)."""

    def __init__(self, buf: bytes, offsets: dict[int, object]):
        self.buf = buf
        self.offsets = offsets
        # stream decryptor (standard security handler, core/pdf_crypt.py):
        # installed AFTER construction since the /Encrypt dict itself is
        # fetched through this store; plain dict objects cached before
        # installation carry no stream payload, so nothing stale survives
        self.decryptor = None
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self.offsets.get(num)
        if isinstance(off, tuple):
            obj = self._get_from_objstm(num, off[1], off[2])
            self._cache[num] = obj
            return obj
        if off is None or not isinstance(off, int) or off >= len(self.buf):
            raise CorruptedFileError(f"missing object {num}")
        m = _OBJ_HEADER_RE.match(self.buf, off, off + 64)
        if not m or int(m.group(1)) != num:
            raise CorruptedFileError(f"bad object header for {num}")
        pos = m.end()
        obj, pos = _parse_object(self.buf, pos)
        # stream?
        m2 = _STREAM_KW_RE.match(self.buf, pos, pos + 16)
        if m2 is not None and isinstance(obj, dict):
            data_start = m2.end()
            length = self.resolve(obj.get("Length"))
            if not isinstance(length, int):
                raise CorruptedFileError(f"stream /Length missing in obj {num}")
            data = self.buf[data_start : data_start + length]
            if len(data) != length:
                raise CorruptedFileError(f"truncated stream in obj {num}")
            if self.decryptor is not None:
                # standard security handler: stream payloads decrypt with
                # the per-object key BEFORE any /Filter runs (PDF 32000
                # 7.6.2). Cross-reference streams never reach here (they
                # are parsed outside the object store and are unencrypted
                # by spec).
                data = self.decryptor(num, int(m.group(2)), data)
            obj = _Stream(obj, data)
        self._cache[num] = obj
        return obj

    def resolve(self, obj):
        seen = 0
        while isinstance(obj, _Ref):
            obj = self.get(obj[0])
            seen += 1
            if seen > 32:
                raise CorruptedFileError("reference cycle")
        return obj

    def _get_from_objstm(self, num: int, stm_num: int, idx: int):
        """Fetch object ``num`` out of object stream ``stm_num`` (PDF 1.5+
        ``/Type /ObjStm``: header of N (num, offset) int pairs, then the
        serialized objects at ``/First`` + offset)."""
        if stm_num not in self._objstm_cache:
            # an ObjStm must itself be a top-level (type-1) object: a
            # type-2 entry here would recurse (self- or mutually-nested
            # object streams — spec-invalid, crafted-input territory)
            if isinstance(self.offsets.get(stm_num), tuple):
                raise CorruptedFileError(
                    f"ObjStm {stm_num} is itself inside an object stream"
                )
            stm = self.get(stm_num)
            if not isinstance(stm, _Stream) or stm.dict.get("Type") != "ObjStm":
                raise CorruptedFileError(
                    f"object {num} points into non-ObjStm object {stm_num}"
                )
            data = stm.decoded()
            n = self.resolve(stm.dict.get("N"))
            first = self.resolve(stm.dict.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise CorruptedFileError(f"ObjStm {stm_num} missing /N or /First")
            header = data[:first].split()
            if len(header) < 2 * n:
                raise CorruptedFileError(f"ObjStm {stm_num} header truncated")
            table: dict[int, object] = {}
            for i in range(n):
                try:
                    onum = int(header[2 * i])
                    ooff = int(header[2 * i + 1])
                except ValueError as exc:
                    raise CorruptedFileError(
                        f"ObjStm {stm_num} non-integer header entry"
                    ) from exc
                obj, _pos = _parse_object(data, first + ooff)
                table[onum] = obj
            self._objstm_cache[stm_num] = table
        table = self._objstm_cache[stm_num]
        if num not in table:
            raise CorruptedFileError(f"object {num} not found in ObjStm {stm_num}")
        return table[num]


@dataclass
class _Stream:
    dict: dict
    data: bytes

    def decoded(self) -> bytes:
        filt = self.dict.get("Filter")
        if filt is None:
            return self.data
        filters = filt if isinstance(filt, list) else [filt]
        parms_raw = self.dict.get("DecodeParms") or self.dict.get("DP")
        parms_list = parms_raw if isinstance(parms_raw, list) else [parms_raw]
        data = self.data
        for i, f in enumerate(filters):
            f = _FILTER_ALIASES.get(f, f)  # inline-image short names
            parms = parms_list[i] if i < len(parms_list) else None
            if f == "FlateDecode":
                try:
                    d = zlib.decompressobj()
                    data = d.decompress(data, MAX_DECODED_STREAM)
                    if d.unconsumed_tail:
                        raise OversizeDocumentError(
                            f"stream inflates past {MAX_DECODED_STREAM} "
                            "bytes — flate bomb guard"
                        )
                    if not d.eof:
                        # bounded decompressobj does NOT raise on truncation
                        # the way zlib.decompress does — restore that
                        # behavior or partial text would commit as success
                        raise CorruptedFileError(
                            "truncated FlateDecode stream"
                        )
                except zlib.error as exc:
                    raise CorruptedFileError(f"flate decode failed: {exc}") from exc
            elif f == "ASCIIHexDecode":
                data = _asciihex_decode(data)
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _runlength_decode(data)
            elif f == "LZWDecode":
                early = 1
                if isinstance(parms, dict):
                    ec = parms.get("EarlyChange", 1)
                    early = ec if isinstance(ec, int) else 1
                data = _lzw_decode(data, early)
            else:
                raise UnsupportedFormatError(f"unsupported stream filter /{f}")
            # /Predictor applies to the binary compression filters
            if isinstance(parms, dict) and f in ("FlateDecode", "LZWDecode"):
                data = _unpredict(data, parms)
        return data


_FILTER_ALIASES = {  # inline-image short names (PDF 32000 table 94)
    "Fl": "FlateDecode",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "RL": "RunLengthDecode",
    "LZW": "LZWDecode",
}

def _asciihex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (PDF 32000 7.4.2): whitespace ignored, ``>`` EOD,
    odd final digit padded with 0."""
    end = data.find(b">")
    digits = _HEX_WS_RE.sub(b"", data[: end if end >= 0 else len(data)])
    if not _HEX_OK_RE.match(digits):
        raise CorruptedFileError("non-hex digit in ASCIIHexDecode stream")
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (PDF 32000 7.4.3): ``~>`` EOD, ``z`` zero group,
    whitespace ignored; a final partial group of n chars yields n-1
    bytes."""
    end = data.find(b"~>")
    body = data[: end if end >= 0 else len(data)]
    body = bytes(c for c in body if c not in _WS)
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c == 0x7A:  # 'z'
            if group:
                raise CorruptedFileError("'z' inside ASCII85 group")
            out += b"\x00\x00\x00\x00"
            if len(out) > MAX_DECODED_STREAM:  # a z-run is the cheapest
                # possible bomb — the cap must apply to this branch too
                raise OversizeDocumentError("ASCII85 stream exceeds decode cap")
            continue
        if not 0x21 <= c <= 0x75:  # '!'..'u'
            raise CorruptedFileError(f"invalid ASCII85 byte {c:#x}")
        group.append(c - 0x21)
        if len(group) == 5:
            acc = 0
            for d in group:
                acc = acc * 85 + d
            if acc > 0xFFFFFFFF:
                raise CorruptedFileError("ASCII85 group overflow")
            out += acc.to_bytes(4, "big")
            group.clear()
        if len(out) > MAX_DECODED_STREAM:
            raise OversizeDocumentError("ASCII85 stream exceeds decode cap")
    if group:
        if len(group) == 1:
            raise CorruptedFileError("single trailing ASCII85 digit")
        n = len(group)
        padded = group + [84] * (5 - n)  # pad with 'u'
        acc = 0
        for d in padded:
            acc = acc * 85 + d
        if acc > 0xFFFFFFFF:
            raise CorruptedFileError("ASCII85 group overflow")
        out += acc.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """RunLengthDecode (PDF 32000 7.4.5): length byte 0-127 copies L+1
    literal bytes, 129-255 repeats the next byte 257-L times, 128 EOD."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        length = data[pos]
        pos += 1
        if length == 128:
            return bytes(out)
        if length < 128:
            chunk = data[pos : pos + length + 1]
            if len(chunk) != length + 1:
                raise CorruptedFileError("truncated RunLength literal")
            out += chunk
            pos += length + 1
        else:
            if pos >= n:
                raise CorruptedFileError("truncated RunLength repeat")
            out += data[pos : pos + 1] * (257 - length)
            pos += 1
        if len(out) > MAX_DECODED_STREAM:
            raise OversizeDocumentError("RunLength stream exceeds decode cap")
    raise CorruptedFileError("RunLength stream missing EOD")


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """LZWDecode (PDF 32000 7.4.4.2): MSB-first variable-width codes
    (9-12 bits), clear 256, EOD 257, EarlyChange per /DecodeParms."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # clear table
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise CorruptedFileError("LZW first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise CorruptedFileError("LZW code out of range")
            out += entry
            if len(out) > MAX_DECODED_STREAM:
                raise OversizeDocumentError("LZW stream exceeds decode cap")
            prev = entry
            # width bump convention (pdfminer/pdf.js-compatible): with
            # EarlyChange=1 the switch to 10 bits happens at table size
            # 511, not 512 — one off and every real-encoder stream
            # desyncs past ~510 entries
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)  # EOD-less streams: spec-lenient like real readers


def _unpredict(data: bytes, parms: dict) -> bytes:
    """Reverse the /Predictor pre-filter (PDF 32000 7.4.4.4) — xref streams
    in real-web PDFs are near-universally Flate + PNG Up (predictor 12).
    Supports TIFF (2) and all PNG row filters (10-15; the per-row filter
    byte decides, so one implementation covers them all)."""
    pred = parms.get("Predictor", 1)
    if not isinstance(pred, int) or pred <= 1:
        return data
    columns = parms.get("Columns", 1)
    colors = parms.get("Colors", 1)
    bpc = parms.get("BitsPerComponent", 8)
    if not all(isinstance(v, int) for v in (columns, colors, bpc)):
        raise CorruptedFileError("non-integer predictor parameters")
    if bpc != 8:
        raise UnsupportedFormatError(f"predictor with BitsPerComponent={bpc}")
    bpp = colors  # bytes per pixel at 8 bpc
    rowlen = columns * colors
    if pred == 2:  # TIFF horizontal differencing
        if len(data) % rowlen:  # same typed failure as the PNG branch —
            # a silent pass-through would yield garbage xref entries
            raise CorruptedFileError("predictor data not a whole number of rows")
        out = bytearray(data)
        for r0 in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(r0 + bpp, r0 + rowlen):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if pred < 10 or pred > 15:
        raise UnsupportedFormatError(f"unknown predictor {pred}")
    # PNG predictors: each row = 1 filter byte + rowlen data bytes
    stride = rowlen + 1
    if len(data) % stride:
        raise CorruptedFileError("predictor data not a whole number of rows")
    out = bytearray()
    prev = bytearray(rowlen)
    for r0 in range(0, len(data), stride):
        ftype = data[r0]
        row = bytearray(data[r0 + 1 : r0 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif ftype != 0:
            raise CorruptedFileError(f"bad PNG row filter {ftype}")
        out += row
        prev = row
    return bytes(out)


def _skip_ws(buf: bytes, pos: int) -> int:
    # byte loop beats a regex here: runs are typically ONE space, where
    # match-object construction costs more than the containment test
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # '%' comment to EOL
            while pos < n and buf[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


_NAME_RE = re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)")
# one attempt for the two most common scalar shapes (ref first — a ref's
# prefix also matches the number pattern)
_REF_OR_NUM_RE = re.compile(
    rb"(\d+)\s+(\d+)\s+R\b|([+-]?(?:\d+\.\d*|\.\d+|\d+))"
)

# precompiled structural patterns (hot path: one get() per object per doc;
# the re-module cache lookup alone showed up in profiles)
_OBJ_HEADER_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_KW_RE = re.compile(rb"\s*stream(\r\n|\n|\r)")
_XREF_SUBSECTION_RE = re.compile(rb"(\d+)\s+(\d+)")
_XREF_ENTRY_RE = re.compile(rb"(\d{10}) (\d{5}) ([nf])")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _parse_object(buf: bytes, pos: int):
    """Parse one PDF object at pos; return (obj, new_pos)."""
    pos = _skip_ws(buf, pos)
    if pos >= len(buf):
        raise CorruptedFileError("unexpected EOF in object")
    c = buf[pos]
    if buf.startswith(b"<<", pos):
        pos += 2
        d: dict = {}
        while True:
            pos = _skip_ws(buf, pos)
            if buf.startswith(b">>", pos):
                return d, pos + 2
            m = _NAME_RE.match(buf, pos)
            if not m:
                raise CorruptedFileError("dict key is not a name")
            key = m.group(1).decode("latin-1")
            val, pos = _parse_object(buf, m.end())
            d[key] = val
    if c == 0x5B:  # '['
        pos += 1
        arr: list = []
        while True:
            pos = _skip_ws(buf, pos)
            if pos < len(buf) and buf[pos] == 0x5D:  # ']'
                return arr, pos + 1
            val, pos = _parse_object(buf, pos)
            arr.append(val)
    if c == 0x2F:  # '/'
        m = _NAME_RE.match(buf, pos)
        return m.group(1).decode("latin-1"), m.end()
    if c == 0x28:  # '('
        return _parse_string(buf, pos)
    if c == 0x3C:  # '<' not '<<' (dict handled above): hex string
        raw, pos = _parse_hex_string_bytes(buf, pos)
        return raw.decode("latin-1"), pos
    if buf.startswith(b"true", pos):
        return True, pos + 4
    if buf.startswith(b"false", pos):
        return False, pos + 5
    if buf.startswith(b"null", pos):
        return None, pos + 4
    m = _REF_OR_NUM_RE.match(buf, pos)
    if m:
        if m.group(1) is not None:
            return _Ref((int(m.group(1)), int(m.group(2)))), m.end()
        tok = m.group(3)
        val = float(tok) if b"." in tok else int(tok)
        return val, m.end()
    raise CorruptedFileError(f"unparseable object at offset {pos}")


_OCTAL = frozenset(b"01234567")


def _parse_string(buf: bytes, pos: int) -> tuple[str, int]:
    """Parse a (...) literal string with standard escapes; latin-1 decode
    (object-level strings; show strings decode through the current FONT —
    see _decode_shown)."""
    raw, pos = _parse_string_bytes(buf, pos)
    return raw.decode("latin-1"), pos


def _parse_string_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Parse a (...) literal string to its raw BYTES (standard escapes)."""
    assert buf[pos] == 0x28
    pos += 1
    out = bytearray()
    depth = 1
    n = len(buf)
    while pos < n:
        c = buf[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = buf[pos]
            if e in _OCTAL:
                oct_digits = bytearray([e])
                pos += 1
                while pos < n and len(oct_digits) < 3 and buf[pos] in _OCTAL:
                    oct_digits.append(buf[pos])
                    pos += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
                continue
            mapped = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}.get(e)
            if mapped is not None:
                out.append(mapped)
            elif e in b"\r\n":
                pass  # line continuation
            else:
                out.append(e)
            pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise CorruptedFileError("unterminated string literal")


_HEX_WS_RE = re.compile(rb"[\x00\t\n\x0c\r ]+")
_HEX_OK_RE = re.compile(rb"[0-9A-Fa-f]*\Z")


def _parse_hex_string_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Parse a <...> hex string to raw bytes (PDF 32000 7.3.4.3): embedded
    whitespace ignored, odd digit count padded with a trailing 0."""
    assert buf[pos] == 0x3C
    end = buf.find(b">", pos)
    if end < 0:
        raise CorruptedFileError("unterminated hex string")
    digits = _HEX_WS_RE.sub(b"", buf[pos + 1 : end])
    if not _HEX_OK_RE.match(digits):
        raise CorruptedFileError("non-hex digit in hex string")
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), end + 1


# --------------------------------------------------------------------------
# xref / document structure
# --------------------------------------------------------------------------


def _parse_classic_section(buf: bytes, pos: int) -> tuple[dict[int, object], dict]:
    """One classic ``xref`` table section starting at ``pos`` (after ws).
    Free entries are recorded as ``None`` tombstones so a newer section's
    deletion shadows an older section's offset in incremental updates."""
    offsets: dict[int, object] = {}
    pos += 4  # past b"xref"
    while True:
        pos = _skip_ws(buf, pos)
        if buf.startswith(b"trailer", pos):
            pos += 7
            trailer_obj, pos = _parse_object(buf, pos)
            if not isinstance(trailer_obj, dict):
                raise CorruptedFileError("trailer is not a dict")
            return offsets, trailer_obj
        m2 = _XREF_SUBSECTION_RE.match(buf, pos, pos + 64)
        if not m2:
            raise CorruptedFileError("malformed xref subsection header")
        start, count = int(m2.group(1)), int(m2.group(2))
        pos = m2.end()
        pos = _skip_ws(buf, pos)
        for i in range(count):
            entry = buf[pos : pos + 20]
            m3 = _XREF_ENTRY_RE.match(entry)
            if not m3:
                raise CorruptedFileError("malformed xref entry")
            offsets[start + i] = (
                int(m3.group(1)) if m3.group(3) == b"n" else None
            )
            pos += 20


def _parse_xref_stream_section(
    buf: bytes, pos: int
) -> tuple[dict[int, object], dict]:
    """One cross-reference STREAM section (PDF 1.5+, ``/Type /XRef``):
    an ordinary stream object whose decoded bytes are fixed-width binary
    entries described by ``/W``, covering the object ranges in ``/Index``
    (default ``[0 /Size]``). Entry types: 0 free (tombstone), 1 byte
    offset, 2 (objstm_num, idx)."""
    m = _OBJ_HEADER_RE.match(buf, pos, pos + 64)
    if not m:
        raise CorruptedFileError("xref stream: no object at startxref")
    obj_pos = m.end()
    sdict, obj_pos = _parse_object(buf, obj_pos)
    if not isinstance(sdict, dict) or sdict.get("Type") != "XRef":
        raise CorruptedFileError("startxref does not point at xref table or /XRef")
    m2 = _STREAM_KW_RE.match(buf, obj_pos, obj_pos + 16)
    if m2 is None:
        raise CorruptedFileError("xref stream without stream data")
    data_start = m2.end()
    length = sdict.get("Length")  # direct per spec (PDF 32000 7.5.8.2)
    if not isinstance(length, int):
        raise CorruptedFileError("xref stream /Length missing or indirect")
    raw = buf[data_start : data_start + length]
    if len(raw) != length:
        raise CorruptedFileError("truncated xref stream")
    data = _Stream(sdict, raw).decoded()

    w = sdict.get("W")
    size = sdict.get("Size")
    if not (isinstance(w, list) and len(w) >= 3 and isinstance(size, int)):
        raise CorruptedFileError("xref stream missing /W or /Size")
    w0, w1, w2 = (int(x) for x in w[:3])
    index = sdict.get("Index") or [0, size]
    if not isinstance(index, list) or len(index) % 2:
        raise CorruptedFileError("malformed xref stream /Index")
    entry_len = w0 + w1 + w2
    if entry_len <= 0:
        raise CorruptedFileError("zero-width xref stream entries")

    offsets: dict[int, object] = {}
    pos_d = 0
    for r in range(0, len(index), 2):
        start, count = int(index[r]), int(index[r + 1])
        for num in range(start, start + count):
            chunk = data[pos_d : pos_d + entry_len]
            if len(chunk) != entry_len:
                raise CorruptedFileError("xref stream data truncated")
            pos_d += entry_len
            etype = int.from_bytes(chunk[:w0], "big") if w0 else 1
            f2 = int.from_bytes(chunk[w0 : w0 + w1], "big")
            f3 = int.from_bytes(chunk[w0 + w1 :], "big")
            if etype == 1:
                offsets[num] = f2
            elif etype == 2:
                offsets[num] = ("objstm", f2, f3)
            else:  # type 0 free (or unknown: spec says treat as free)
                offsets[num] = None
    return offsets, sdict


# object header at a line start — anchoring at line boundaries keeps
# binary stream bytes that happen to contain "N 0 obj" from poisoning
# the rebuilt table (the standard reader-repair heuristic)
_REBUILD_OBJ_RE = re.compile(rb"(?:^|[\r\n])[\x00\t\x0c ]*(\d+)[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+obj\b")
_REBUILD_TRAILER_RE = re.compile(rb"trailer\b")
_REBUILD_CATALOG_RE = re.compile(rb"/Type[\x00\t\n\x0c\r ]*/Catalog\b")
_REBUILD_XREF_TYPE_RE = re.compile(rb"/Type[\x00\t\n\x0c\r ]*/XRef\b")


def _nearest_preceding_header(
    headers: list[tuple[int, int, int]], pos: int
) -> tuple[int, int, int] | None:
    """Last ``N G obj`` header starting before ``pos`` (headers are the
    in-order match list collected by _rebuild_xref's first scan)."""
    i = bisect.bisect_left(headers, (pos, -1, -1))
    return headers[i - 1] if i else None


def _rebuild_xref(buf: bytes) -> tuple[dict[int, object], dict]:
    """Reader-repair fallback when every xref section is unusable: scan
    for ``N G obj`` headers at line starts (LAST occurrence of an object
    number wins — incremental updates append replacements), recover the
    trailer from the last parseable ``trailer`` dict, and fall back to
    locating the ``/Type /Catalog`` object for /Root. Truncated objects
    still fail typed downstream (a rebuilt table only says where objects
    START)."""
    offsets: dict[int, object] = {}
    # every header match, in file order, for nearest-preceding lookups
    # below via bisect — re-running finditer(buf, 0, pos) per /Type /XRef
    # occurrence is O(occurrences x filesize) and a crafted file salted
    # with '/Type /XRef' markers becomes a wall-clock bomb
    headers: list[tuple[int, int, int]] = []  # (start, end, obj num)
    for m in _REBUILD_OBJ_RE.finditer(buf):
        num = int(m.group(1))
        headers.append((m.start(1), m.end(), num))
        if num in offsets:
            # conflicting candidate (header-like bytes inside a stream
            # payload can mimic one): the later candidate only wins if an
            # object actually parses there — otherwise keep the earlier
            try:
                _parse_object(buf, _skip_ws(buf, m.end()))
            except CorruptedFileError:
                continue
        offsets[num] = m.start(1)
    if not offsets:
        raise CorruptedFileError("xref unusable and no object headers found")

    trailer: dict = {}
    for m in _REBUILD_TRAILER_RE.finditer(buf):
        try:
            d, _pos = _parse_object(buf, _skip_ws(buf, m.end()))
        except CorruptedFileError:
            continue
        if isinstance(d, dict):
            # merge PER KEY, newest (later) trailer winning — an appended
            # update's minimal trailer must not drop the original's
            # /Encrypt or /ID (mirrors _parse_xref's setdefault merge)
            trailer.update(d)
    if "Root" not in trailer or "Encrypt" not in trailer:
        # xref-stream files carry the trailer entries (/Root /Encrypt /ID)
        # in the /Type /XRef stream dict, not behind a 'trailer' keyword —
        # without this the round-4 repair and decryption features would
        # not compose for PDF 1.5+ encrypted documents
        xref_dicts: list[dict] = []
        for xm in _REBUILD_XREF_TYPE_RE.finditer(buf):
            hdr = _nearest_preceding_header(headers, xm.start())
            if hdr is None:
                continue
            try:
                d, _pos = _parse_object(buf, _skip_ws(buf, hdr[1]))
            except CorruptedFileError:
                continue
            if isinstance(d, dict) and d.get("Type") == "XRef":
                xref_dicts.append(d)
        for d in reversed(xref_dicts):  # newest section first
            for k, v in d.items():
                trailer.setdefault(k, v)
    if "Root" not in trailer:
        # xref-stream files have no classic trailer: find the catalog
        cm = None
        for cm in _REBUILD_CATALOG_RE.finditer(buf):
            pass  # last occurrence
        if cm is not None:
            hdr = _nearest_preceding_header(headers, cm.start())
            if hdr is not None:
                trailer["Root"] = _Ref((hdr[2], 0))
    if "Root" not in trailer:
        raise CorruptedFileError("rebuilt xref found no document catalog")
    return offsets, trailer


def _parse_xref(buf: bytes) -> tuple[dict[int, object], dict]:
    """All xref sections, newest first: classic tables AND xref streams,
    following ``/Prev`` chains (incremental updates — a newer section's
    entry, including a free tombstone, shadows older ones) and hybrid
    ``/XRefStm`` pointers."""
    tail = buf[-2048:]
    m = None
    for m in _STARTXREF_RE.finditer(tail):
        pass  # keep last occurrence
    if m is None:
        raise CorruptedFileError("startxref not found")
    xref_pos = int(m.group(1))

    offsets: dict[int, object] = {}
    trailer: dict = {}
    seen: set[int] = set()
    queue: list[int] = [xref_pos]
    while queue:
        pos = queue.pop(0)
        if pos in seen:
            raise CorruptedFileError("xref /Prev cycle")
        seen.add(pos)
        if pos >= len(buf):
            raise CorruptedFileError("xref offset beyond EOF")
        pos = _skip_ws(buf, pos)
        if buf.startswith(b"xref", pos):
            sec_offsets, sec_trailer = _parse_classic_section(buf, pos)
        else:
            sec_offsets, sec_trailer = _parse_xref_stream_section(buf, pos)
        for k, v in sec_trailer.items():
            trailer.setdefault(k, v)
        # hybrid-reference file: classic trailer points at a parallel xref
        # stream holding the objstm entries. Per PDF 32000 7.5.8.4 the
        # stream SUPPLEMENTS the table within this generation: objects the
        # table marks FREE (deliberately, to hide compressed objects from
        # pre-1.5 readers) resolve through the stream — so merge the two
        # BEFORE the global newest-first setdefault, letting stream entries
        # fill the table's tombstones while real table offsets keep
        # priority.
        xs = sec_trailer.get("XRefStm")
        if isinstance(xs, int) and xs not in seen and xs < len(buf):
            seen.add(xs)
            s_off, _s_tr = _parse_xref_stream_section(buf, _skip_ws(buf, xs))
            merged = dict(s_off)
            for k, v in sec_offsets.items():
                if v is not None or k not in merged:
                    merged[k] = v
            sec_offsets = merged
        for k, v in sec_offsets.items():
            offsets.setdefault(k, v)  # newest section first: first write wins
        prev = sec_trailer.get("Prev")
        if isinstance(prev, int):
            queue.append(prev)
        if len(seen) > 64:
            raise CorruptedFileError("too many xref sections")
    return offsets, trailer


def _page_objects(objs: _Objects, trailer: dict) -> list[tuple[dict, object]]:
    """Page dicts in tree order, each with its effective /Resources —
    Resources is INHERITABLE (PDF 32000 7.7.3.4): a page without its own
    entry uses the nearest ancestor's."""
    root = objs.resolve(trailer.get("Root"))
    if not isinstance(root, dict):
        raise CorruptedFileError("missing /Root catalog")
    pages_node = objs.resolve(root.get("Pages"))
    if not isinstance(pages_node, dict):
        raise CorruptedFileError("missing /Pages tree")
    out: list[tuple[dict, object]] = []

    def walk(node: dict, depth: int = 0, resources: object = None) -> None:
        if depth > 32:
            raise CorruptedFileError("page tree too deep")
        res = node.get("Resources", resources)  # may be a _Ref; lazy
        ntype = node.get("Type")
        if ntype == "Page":
            out.append((node, res))
            return
        kids = objs.resolve(node.get("Kids")) or []
        if not isinstance(kids, list):
            # a corrupted /Kids resolving to a stream/number/name must
            # fail typed, not leak TypeError (round-5 deep-fuzz finding)
            raise CorruptedFileError("/Kids is not an array")
        for kid in kids:
            kid_node = objs.resolve(kid)
            if isinstance(kid_node, dict):
                walk(kid_node, depth + 1, res)

    walk(pages_node)
    if not out:
        raise CorruptedFileError("no pages in document")
    return out


# --------------------------------------------------------------------------
# Font decoders: show-string bytes -> text (PDF 32000 9.6-9.10)
# --------------------------------------------------------------------------
#
# A show operand is BYTES whose meaning depends on the current font:
# - no /Encoding, no /ToUnicode (the pinned fixture dialect): latin-1
#   byte identity — the golden byte-identity surface, unchanged;
# - simple fonts: base encoding (/WinAnsiEncoding, /MacRomanEncoding) +
#   /Differences glyph-name overrides + per-code /ToUnicode overrides;
# - Type0 composite fonts with /Identity-H|V: 2-byte CIDs through the
#   /ToUnicode CMap (unmapped codes -> U+FFFD).
# Decoders are cheap tuples, not classes: built once per font per doc,
# consulted per show op in the hottest loop.

_DEFAULT_DEC = ("latin1", None)

_UNDEF = "�"


def _codec_table(codec: str) -> tuple[str, ...]:
    out = []
    for i in range(256):
        try:
            out.append(bytes([i]).decode(codec))
        except UnicodeDecodeError:  # cp1252 leaves 5 bytes undefined
            out.append(_UNDEF)
    return tuple(out)


_WINANSI_TABLE = _codec_table("cp1252")
_MACROMAN_TABLE = _codec_table("mac_roman")

# Adobe Glyph List subset: the names real subset fonts put in
# /Differences. Algorithmic uniXXXX / uXXXXXX names are handled in
# _glyph_to_unicode; single-char names map to themselves; anything else
# unknown becomes U+FFFD (deterministic, never a crash).
_AGL_SUBSET = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # Latin-1 accents and signs (by AGL name)
    "exclamdown": "¡", "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "copyright": "©", "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î", "Idieresis": "Ï",
    "Eth": "Ð", "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
    "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î", "idieresis": "ï",
    "eth": "ð", "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ", "ydieresis": "ÿ",
    # typography (WinAnsi 0x80-0x9F region)
    "Euro": "€", "quotesinglbase": "‚", "florin": "ƒ",
    "quotedblbase": "„", "ellipsis": "…", "dagger": "†",
    "daggerdbl": "‡", "circumflex": "ˆ", "perthousand": "‰",
    "Scaron": "Š", "guilsinglleft": "‹", "OE": "Œ", "Zcaron": "Ž",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "bullet": "•", "endash": "–", "emdash": "—", "tilde": "˜",
    "trademark": "™", "scaron": "š", "guilsinglright": "›", "oe": "œ",
    "zcaron": "ž", "Ydieresis": "Ÿ", "nbspace": " ",
    "minus": "−", "fi": "ﬁ", "fl": "ﬂ", "dotlessi": "ı",
}


_UNI_HEX_RE = re.compile(r"[0-9A-F]{4}")
_U_HEX_RE = re.compile(r"[0-9A-F]{4,6}")


def _glyph_to_unicode(name: str) -> str:
    """AGL resolution: uniXXXX / uXXXX[XX] algorithmic names, single-char
    names, the AGL subset — unknown names become U+FFFD."""
    # Algorithmic forms take UPPERCASE hex per the AGL spec — a
    # lowercase-hex match would shadow real AGL names like 'uacute'
    # ('acute' parses as hex!) and mangle them to U+FFFD
    if name.startswith("uni") and len(name) >= 7:
        m = _UNI_HEX_RE.match(name, 3)
        if m is not None:
            return chr(int(m.group(0), 16))
    elif name.startswith("u") and 5 <= len(name) <= 7:
        if _U_HEX_RE.fullmatch(name, 1) is not None:
            cp = int(name[1:], 16)
            return chr(cp) if cp <= 0x10FFFF else _UNDEF
    if len(name) == 1 and " " <= name <= "~":
        return name
    return _AGL_SUBSET.get(name, _UNDEF)


# ToUnicode bomb guard: a crafted bfrange <0000> <FFFF> is legal (64Ki
# entries); anything past one full 2-byte code space per section is not.
MAX_CMAP_ENTRIES = 1 << 17

_BF_HEX = rb"<([0-9A-Fa-f\s]+)>"
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFCHAR_PAIR_RE = re.compile(_BF_HEX + rb"\s*" + _BF_HEX)
_BFRANGE_ENTRY_RE = re.compile(
    _BF_HEX + rb"\s*" + _BF_HEX + rb"\s*(?:" + _BF_HEX + rb"|\[(.*?)\])", re.S
)
_HEX_ITEM_RE = re.compile(_BF_HEX)


def _hex_int(h: bytes) -> int:
    digits = _HEX_WS_RE.sub(b"", h)
    if not digits:  # '< >' — int(b'',16) would leak an untyped ValueError
        raise CorruptedFileError("empty hex token in CMap")
    return int(digits, 16)


def _utf16be_str(h: bytes) -> str:
    """Destination hex -> text. UTF-16BE per spec; a lone surrogate (or odd
    byte count) degrades to U+FFFD rather than poisoning Arrow."""
    raw = _HEX_WS_RE.sub(b"", h)
    if len(raw) % 2:
        raw += b"0"
    return bytes.fromhex(raw.decode("ascii")).decode("utf-16-be", "replace")


# CMap-bytes -> parsed mapping, worker-global: documents from one
# producer embed byte-identical subset-font CMaps, so the pure-Python
# parse (the costliest font-layer primitive, ~39% of the tounicode
# corpus' wall) runs once per worker per distinct CMap. Consumers treat
# the mapping as read-only. Same discipline as the pdf_crypt decryptor
# cache (round 5).
_TOUNICODE_CACHE: dict[bytes, dict[int, str]] = {}
_TOUNICODE_CACHE_MAX = 256


def _parse_tounicode(stm) -> dict[int, str]:
    """Parse a /ToUnicode CMap stream (bfchar + bfrange sections) into a
    code -> text mapping (PDF 32000 9.10.3). Cached per distinct CMap
    byte string (see cache note above)."""
    if not isinstance(stm, _Stream):
        raise CorruptedFileError("/ToUnicode is not a stream")
    data = stm.decoded()
    hit = _TOUNICODE_CACHE.get(data)
    if hit is not None:
        return hit
    mapping = _parse_tounicode_bytes(data)
    if len(data) <= 1 << 20:  # don't let crafted MB-scale CMaps pin RAM
        if len(_TOUNICODE_CACHE) >= _TOUNICODE_CACHE_MAX:
            _TOUNICODE_CACHE.clear()
        _TOUNICODE_CACHE[data] = mapping
    return mapping


def _parse_tounicode_bytes(data: bytes) -> dict[int, str]:
    mapping: dict[int, str] = {}
    for sec in _BFCHAR_RE.finditer(data):
        for m in _BFCHAR_PAIR_RE.finditer(sec.group(1)):
            mapping[_hex_int(m.group(1))] = _utf16be_str(m.group(2))
            if len(mapping) > MAX_CMAP_ENTRIES:
                raise CorruptedFileError("ToUnicode CMap too large")
    for sec in _BFRANGE_RE.finditer(data):
        for m in _BFRANGE_ENTRY_RE.finditer(sec.group(1)):
            lo, hi = _hex_int(m.group(1)), _hex_int(m.group(2))
            if hi < lo or hi - lo >= MAX_CMAP_ENTRIES:
                raise CorruptedFileError("malformed ToUnicode bfrange")
            if m.group(3) is not None:  # <lo> <hi> <dstBase>
                base = _HEX_WS_RE.sub(b"", m.group(3))
                if not base:
                    raise CorruptedFileError("empty hex token in CMap")
                if len(base) % 2:
                    base += b"0"
                base_bytes = bytes.fromhex(base.decode("ascii"))
                # the increment applies to the LAST UTF-16 code unit
                head, last = base_bytes[:-2], base_bytes[-2:]
                last_i = int.from_bytes(last, "big") if last else 0
                for i in range(hi - lo + 1):
                    unit = (last_i + i) & 0xFFFF
                    mapping[lo + i] = (head + unit.to_bytes(2, "big")).decode(
                        "utf-16-be", "replace"
                    )
            else:  # <lo> <hi> [<dst> <dst> ...]
                dsts = _HEX_ITEM_RE.findall(m.group(4))
                for i, d in enumerate(dsts[: hi - lo + 1]):
                    mapping[lo + i] = _utf16be_str(d)
            if len(mapping) > MAX_CMAP_ENTRIES:
                raise CorruptedFileError("ToUnicode CMap too large")
    return mapping


def _font_decoder(objs: _Objects, font_obj) -> tuple:
    """Font dict -> decoder tuple (see module section comment)."""
    font = objs.resolve(font_obj)
    if not isinstance(font, dict):
        raise CorruptedFileError("font resource is not a dict")
    if (
        "Encoding" not in font
        and "ToUnicode" not in font
        and font.get("Subtype") != "Type0"
    ):
        return _DEFAULT_DEC  # the common simple-font fast path
    tou_obj = objs.resolve(font.get("ToUnicode")) if "ToUnicode" in font else None

    if font.get("Subtype") == "Type0":
        enc = objs.resolve(font.get("Encoding"))
        if enc in ("Identity-H", "Identity-V") or tou_obj is not None:
            # named non-Identity CMaps (UniJIS-UCS2-H etc.) are mostly
            # 2-byte too — when a /ToUnicode exists it keys on the same
            # character CODES, so decode through it rather than failing
            mapping = _parse_tounicode(tou_obj) if tou_obj is not None else {}
            return ("cid", mapping)
        if isinstance(enc, str):
            # a PREDEFINED CMap name (/GBK-EUC-H, /UniJIS-UCS2-H, ...)
            # with no /ToUnicode: the codes are multi-byte in a charset
            # we don't ship tables for — decoding them latin-1 per byte
            # would be silent garbage, so degrade TYPED (round-4 verdict
            # task 3: typed degrade acceptable, silent garbage is not;
            # the reference reads these through pypdfium2's CMap tables,
            # docling_strategy_processor.py:622-712)
            raise UnsupportedFormatError(
                f"predefined CMap /{enc} without /ToUnicode"
            )
        # embedded CMap stream (or no /Encoding at all) without
        # /ToUnicode: keep the latin-1 byte default — these are 1-byte
        # code spaces often enough that a whole-document hard failure
        # would flip real-web docs that extracted fine pre-font-layer
        return _DEFAULT_DEC

    table: list[str] | None = None  # None == latin-1 identity (pinned)
    enc = objs.resolve(font.get("Encoding"))
    if enc is not None and not isinstance(enc, (str, dict)):
        # crafted /Encoding of the wrong TYPE must fail typed, not leak
        # AttributeError/TypeError into the taxonomy's error_type
        raise CorruptedFileError(f"malformed /Encoding {type(enc).__name__}")
    if enc is not None:
        base = enc if isinstance(enc, str) else objs.resolve(enc.get("BaseEncoding"))
        if base == "WinAnsiEncoding":
            table = list(_WINANSI_TABLE)
        elif base == "MacRomanEncoding":
            table = list(_MACROMAN_TABLE)
        else:
            # None, /StandardEncoding (the Type1 default many producers
            # write explicitly), /MacExpertEncoding, symbolic names:
            # degrade to the latin-1 byte default — hard-failing the
            # whole document over an encoding NAME would flip real-web
            # docs that extracted fine before the font layer existed
            table = [chr(i) for i in range(256)]
        if isinstance(enc, dict):
            diffs = objs.resolve(enc.get("Differences")) or []
            if not isinstance(diffs, list):
                raise CorruptedFileError("malformed /Differences")
            code = 0
            for item in diffs:
                item = objs.resolve(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, str):
                    if 0 <= code <= 255:
                        table[code] = _glyph_to_unicode(item)
                    code += 1
                else:
                    raise CorruptedFileError("bad /Differences entry")
    if tou_obj is not None:
        tou = _parse_tounicode(tou_obj)
        if table is None:
            table = [chr(i) for i in range(256)]
        for code, s in tou.items():
            if 0 <= code <= 255:
                table[code] = s
    if table is None:
        return _DEFAULT_DEC
    return ("simple", tuple(table))


def _fonts_for_page(objs: _Objects, resources, cache: dict) -> dict[str, tuple]:
    """Resource-name -> decoder for one page; decoders cached per font
    object across pages (fonts are shared document-wide)."""
    res = objs.resolve(resources)
    if not isinstance(res, dict):
        return {}
    fdict = objs.resolve(res.get("Font"))
    if not isinstance(fdict, dict):
        return {}
    out: dict[str, tuple] = {}
    for name, ref in fdict.items():
        key = ref[0] if isinstance(ref, _Ref) else id(ref)
        if key not in cache:
            cache[key] = _font_decoder(objs, ref)
        dec = cache[key]
        if dec is not _DEFAULT_DEC:  # default decoders need no lookup at
            out[name] = dec  # show time: an empty dict short-circuits Tf
    return out


MAX_FORM_DEPTH = 8


class _FormEntry:
    """Lazy ``/Subtype /Form`` XObject: decode + font/child resolution run
    on FIRST ``Do`` invocation, never at page setup. An unreferenced corrupt
    or oversize form stream therefore cannot flip an otherwise-extractable
    document to hard_failure, and only forms actually drawn charge the
    shared decode-byte budget (advisor finding, round 4)."""

    __slots__ = ("objs", "xobj", "fres", "font_cache", "form_state",
                 "depth", "cache_key", "drawing", "_value", "_state")

    def __init__(self, objs, xobj, fres, font_cache, form_state, depth,
                 cache_key):
        self.objs = objs
        self.xobj = xobj
        self.fres = fres
        self.font_cache = font_cache
        self.form_state = form_state
        self.depth = depth
        self.cache_key = cache_key  # into form_state['decoded']
        self.drawing = False  # Do-recursion cycle guard (consumer-managed)
        self._value = None
        self._state = 0  # 0 unresolved / 1 resolving / 2 done

    def resolve(self):
        """-> (content bytes, fonts, nested xobjects) or None to skip
        (unsupported filter / reference cycle). Corrupt or bomb streams
        still raise — poison-pill signals, not capability gaps."""
        if self._state == 2:
            return self._value
        if self._state == 1:  # self-referential Do cycle: cut it
            return None
        self._state = 1
        try:
            decoded = self.form_state["decoded"]
            cache_key = self.cache_key
            if cache_key not in decoded:
                try:
                    blob = self.xobj.decoded()
                except UnsupportedFormatError:
                    # e.g. /DCTDecode image-ish form: skip, keep doc
                    self._value = None
                    self._state = 2
                    return None
                self.form_state["bytes"] += len(blob)
                if self.form_state["bytes"] > MAX_DECODED_STREAM:
                    raise OversizeDocumentError(
                        f"form XObjects exceed {MAX_DECODED_STREAM} "
                        f"bytes combined"
                    )
                decoded[cache_key] = blob
            self._value = (
                decoded[cache_key],
                _fonts_for_page(self.objs, self.fres, self.font_cache),
                _form_xobjects(self.objs, self.fres, self.font_cache,
                               self.form_state, self.depth + 1),
            )
            self._state = 2
            return self._value
        except BaseException:
            self._state = 0  # leave re-resolvable; raising Do aborts anyway
            raise


def _form_xobjects(
    objs: _Objects, resources, font_cache: dict,
    form_state: dict | None = None, depth: int = 0,
) -> dict[str, "_FormEntry"]:
    """Resource-name -> lazy _FormEntry for every ``/Subtype /Form``
    XObject named by ``resources`` — text inside form XObjects is real
    page text (pdflatex and many generators wrap whole pages in one);
    ignoring ``Do`` would silently drop it. Image XObjects are skipped. A
    form without its own /Resources inherits the parent's (PDF 32000
    8.10.1 legacy behavior). Decode/expansion is DEFERRED to the first
    ``Do`` via _FormEntry.resolve().

    ``form_state`` (per document) carries:
    - 'decoded': form obj num -> bytes (decode once per form, not per page);
    - 'memo': (num, effective-resources identity) -> _FormEntry. The memo
      is what bounds the tree expansion: K sibling forms inheriting the
      same resources would otherwise re-expand per PATH (~K^8 calls under
      the depth cap — a 2 KB crafted PDF hangs the executor). The entry's
      own resolving-state flag cuts reference cycles;
    - 'bytes': running total of decoded form bytes — the same combined
      MAX_DECODED_STREAM ceiling page /Contents arrays get (many
      just-under-cap forms must not add up to an executor OOM)."""
    if depth >= MAX_FORM_DEPTH:
        return {}
    if form_state is None:
        form_state = {"decoded": {}, "memo": {}, "bytes": 0}
    res = objs.resolve(resources)
    if not isinstance(res, dict):
        return {}
    xdict = objs.resolve(res.get("XObject"))
    if not isinstance(xdict, dict):
        return {}
    memo = form_state["memo"]
    out: dict[str, _FormEntry] = {}
    for name, ref in xdict.items():
        num = ref[0] if isinstance(ref, _Ref) else None
        try:
            xobj = objs.resolve(ref)
        except CorruptedFileError:
            # dangling XObject reference (freed by an update / truncated):
            # real readers ignore it unless drawn — skipping here keeps
            # the failure local to a Do that actually needs it
            continue
        if not isinstance(xobj, _Stream) or xobj.dict.get("Subtype") != "Form":
            continue
        has_own_res = "Resources" in xobj.dict
        key = (num if num is not None else id(xobj),
               None if has_own_res else id(res))
        entry = memo.get(key)
        if entry is None:
            fres = xobj.dict.get("Resources", resources)
            entry = _FormEntry(
                objs, xobj, fres, font_cache, form_state, depth,
                cache_key=num if num is not None else id(xobj),
            )
            if depth + 1 < MAX_FORM_DEPTH:
                # entries whose children would be depth-truncated are NOT
                # memoized: the memo key has no depth component, and a
                # truncated expansion must not replay at SHALLOW
                # references on later pages. Leaf-level rebuilds are O(1).
                memo[key] = entry
        out[name] = entry
    return out


def _has_image_xobjects(objs: _Objects, resources) -> bool:
    """True iff the page's /Resources name an /Subtype /Image XObject
    (scanned-page signal; header dict read only, pixels never decoded).
    DIAGNOSTIC-ONLY: dangling references (freed/truncated XObjects) are
    skipped, never raised — a classification helper must not flip an
    empty document's taxonomy or trigger the rebuild-retry."""
    try:
        res = objs.resolve(resources)
        if not isinstance(res, dict):
            return False
        xdict = objs.resolve(res.get("XObject"))
    except CorruptedFileError:
        return False
    if not isinstance(xdict, dict):
        return False
    for ref in xdict.values():
        try:
            xobj = objs.resolve(ref)
        except CorruptedFileError:
            continue
        if isinstance(xobj, _Stream) and xobj.dict.get("Subtype") == "Image":
            return True
    return False


# embedded-image compression -> FigureRef.image_format (header-only
# classification; /DCTDecode payloads ARE JPEG files, /JPXDecode JPEG
# 2000, /CCITTFaxDecode fax-TIFF data; plain or Flate/LZW streams are
# raw rasters)
_IMAGE_FILTER_FORMATS = {
    "DCTDecode": "jpeg",
    "JPXDecode": "jp2",
    "CCITTFaxDecode": "tiff",
    "JBIG2Decode": "jbig2",
}


def _scanned_figure_pages(
    objs: _Objects, page_nodes, pages: list[PageResult], url_hash: str
) -> list[PageResult] | None:
    """Figure-side value of a scanned document (round-4 verdict task 5):
    rebuild the text-free ``pages`` with ``figures`` populated from each
    page's /Subtype /Image XObject HEADERS (width/height/format/payload
    size — dict reads only, pixels never decoded). Returns None when no
    image carries parsable /Width//Height metadata, in which case the
    caller keeps the typed ScannedPdfNoTextError."""
    out: list[PageResult] = []
    counter = 0
    for page, (_n, resources) in zip(pages, page_nodes):
        figures: list[FigureRef] = []
        try:
            res = objs.resolve(resources)
            xdict = (
                objs.resolve(res.get("XObject"))
                if isinstance(res, dict)
                else None
            )
        except CorruptedFileError:
            xdict = None
        if isinstance(xdict, dict):
            for _name, ref in xdict.items():
                try:
                    xobj = objs.resolve(ref)
                except CorruptedFileError:
                    continue
                if (
                    not isinstance(xobj, _Stream)
                    or xobj.dict.get("Subtype") != "Image"
                ):
                    continue
                w = xobj.dict.get("Width")
                h = xobj.dict.get("Height")
                if not isinstance(w, int) or not isinstance(h, int):
                    continue
                filt = xobj.dict.get("Filter")
                filters = filt if isinstance(filt, list) else [filt]
                fmt = "raw"
                for f in filters:
                    if f in _IMAGE_FILTER_FORMATS:
                        fmt = _IMAGE_FILTER_FORMATS[f]
                        break
                figures.append(
                    FigureRef(
                        figure_id=f"{url_hash}_figure_{counter}",
                        page_number=page.page_number,
                        caption=None,
                        label="picture",
                        image_format=fmt,
                        image_width=w,
                        image_height=h,
                        payload_bytes=len(xobj.data),
                    )
                )
                counter += 1
        out.append(
            PageResult(
                page_number=page.page_number,
                content=page.content,
                word_count=page.word_count,
                elements=page.elements,
                tables=page.tables,
                figures=figures,
            )
        )
    return out if counter else None


def render_figure_images(data: bytes, url_hash: str) -> list[dict]:
    """M11 figure image RENDER, stdlib-only (round 5; reference
    asset_storage_service.py:643-658 exports figure images via PIL).

    Walks the page tree in order and emits one dict per /Subtype /Image
    XObject with a rendered payload where the encoding allows it:

    - /DCTDecode payloads ARE complete JPEG files — passed through;
    - plain or Flate-compressed 8-bpc /DeviceGray//DeviceRGB rasters are
      re-encoded as real PNGs via core/png_codec (decode budget applies
      through ``_Stream.decoded``);
    - anything else (CCITT, JBIG2, JPX, palettes, 1-bpc) yields a
      metadata-only row (``image=None``) — never silent garbage.

    Shares the parse/repair/decrypt plumbing with :func:`extract_pdf`;
    raises the same typed failures."""
    from .png_codec import png_encode

    if not data.startswith(b"%PDF-"):
        raise UnsupportedFormatError("missing %PDF- magic")
    try:
        offsets, trailer = _parse_xref(data)
    except CorruptedFileError:
        offsets, trailer = _rebuild_xref(data)
    objs = _Objects(data, offsets)
    enc = trailer.get("Encrypt")
    if enc is not None:
        from .pdf_crypt import build_decryptor, trailer_id0

        enc_dict = objs.resolve(enc)
        if not isinstance(enc_dict, dict):
            raise CorruptedFileError("/Encrypt is not a dictionary")
        objs.decryptor = build_decryptor(enc_dict, trailer_id0(trailer))
    out: list[dict] = []
    counter = 0
    for page_no, (_node, resources) in enumerate(
        _page_objects(objs, trailer), start=1
    ):
        try:
            res = objs.resolve(resources)
            xdict = (
                objs.resolve(res.get("XObject"))
                if isinstance(res, dict)
                else None
            )
        except CorruptedFileError:
            continue
        if not isinstance(xdict, dict):
            continue
        for _name, ref in xdict.items():
            try:
                xobj = objs.resolve(ref)
            except CorruptedFileError:
                continue
            if (
                not isinstance(xobj, _Stream)
                or xobj.dict.get("Subtype") != "Image"
            ):
                continue
            w = xobj.dict.get("Width")
            h = xobj.dict.get("Height")
            if not isinstance(w, int) or not isinstance(h, int):
                continue
            filt = xobj.dict.get("Filter")
            filters = [
                f for f in (filt if isinstance(filt, list) else [filt])
                if f is not None
            ]
            fmt = "raw"
            for f in filters:
                if f in _IMAGE_FILTER_FORMATS:
                    fmt = _IMAGE_FILTER_FORMATS[f]
                    break
            image: bytes | None = None
            if fmt == "jpeg" and filters == ["DCTDecode"]:
                image = xobj.data
            elif fmt == "raw" and set(filters) <= {"FlateDecode"}:
                cs = objs.resolve(xobj.dict.get("ColorSpace"))
                bpc = xobj.dict.get("BitsPerComponent")
                channels = {"DeviceGray": 1, "DeviceRGB": 3}.get(cs)
                if channels is not None and bpc == 8:
                    try:
                        raw = xobj.decoded()
                    except (CorruptedFileError, OversizeDocumentError):
                        raw = None
                    if raw is not None and len(raw) == w * h * channels:
                        image = png_encode(raw, w, h, channels)
                        fmt = "png"
            out.append(
                {
                    "figure_id": f"{url_hash}_figure_{counter}",
                    "page_number": page_no,
                    "image_format": fmt,
                    "width": w,
                    "height": h,
                    "image": image,
                }
            )
            counter += 1
    return out


def _decode_shown(dec: tuple, raw: bytes) -> str:
    """Show-operand bytes -> text through the current font's decoder."""
    kind = dec[0]
    if kind == "latin1":
        return raw.decode("latin-1")
    if kind == "simple":
        table = dec[1]
        return "".join([table[b] for b in raw])
    # cid: 2-byte codes, big-endian; trailing odd byte -> U+FFFD
    mapping = dec[1]
    n = len(raw)
    out = [
        mapping.get((raw[i] << 8) | raw[i + 1], _UNDEF)
        for i in range(0, n - 1, 2)
    ]
    if n % 2:
        out.append(_UNDEF)
    return "".join(out)


# --------------------------------------------------------------------------
# Content-stream tokenizer -> show events
# --------------------------------------------------------------------------


class _Show(NamedTuple):
    # NamedTuple, not frozen dataclass: created once per text-show op in
    # the hottest loop; frozen-dataclass __init__ pays object.__setattr__
    # per field
    x: float
    y: float
    size: float
    text: str


_CS_TOKEN = re.compile(
    rb"""
      (?P<str>\()                     # string start (handled by _parse_string)
    | (?P<arr>\[)                     # array start
    | /(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+))
    | (?P<op>[A-Za-z'"*]+)
    """,
    re.VERBOSE,
)


_INLINE_ID_RE = re.compile(rb"\bID[\x00\t\n\x0c\r ]")
_INLINE_EI_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|\Z)")
# /L (or /Length) inside the inline-image dict: exact entropy-data length
_INLINE_L_RE = re.compile(rb"/L(?:ength)?[\x00\t\n\x0c\r ]+(\d+)")
# expected shape right after /L bytes of data: optional ws then EI
_INLINE_EI_AT_RE = re.compile(rb"[\x00\t\n\x0c\r ]*EI(?=[\x00\t\n\x0c\r ]|\Z)")


def _tokenize_content(data: bytes):
    pos = 0
    n = len(data)
    while pos < n:
        pos = _skip_ws(data, pos)
        if pos >= n:
            break
        if data[pos] == 0x28:
            s, pos = _parse_string_bytes(data, pos)
            yield ("str", s)
        elif data.startswith(b"<<", pos):
            # dict operand (BDC/DP marked-content property lists —
            # tagged PDFs from Word/pdflatex emit '<</MCID n>> BDC' on
            # essentially every text run): parse and DISCARD, so the
            # page's text still extracts
            _obj, pos = _parse_object(data, pos)
        elif data[pos] == 0x3C:  # hex-string show operand
            s, pos = _parse_hex_string_bytes(data, pos)
            yield ("str", s)
        elif data[pos] == 0x5B:
            pos += 1
            yield ("arr_open", None)
        elif data[pos] == 0x5D:
            pos += 1
            yield ("arr_close", None)
        else:
            m = _CS_TOKEN.match(data, pos)
            if not m:
                raise CorruptedFileError(
                    f"unparseable content token at offset {pos}"
                )
            pos = m.end()
            if m.group("name") is not None:
                yield ("name", m.group("name").decode("latin-1"))
            elif m.group("num") is not None:
                tok = m.group("num")
                yield ("num", float(tok) if b"." in tok else int(tok))
            elif m.group("op") is not None:
                op = m.group("op").decode("latin-1")
                if op == "BI":
                    # inline image (PDF 32000 8.9.7): skip the dict and
                    # the raw binary to past EI — without this, the
                    # binary bytes would poison the tokenizer and fail
                    # the WHOLE page even though its text is extractable
                    mid = _INLINE_ID_RE.search(data, pos)
                    if mid is None:
                        raise CorruptedFileError("inline image without ID")
                    # /L (alias /Length, PDF 2.0) gives the exact byte
                    # count of the entropy data: jump past it instead of
                    # scanning, because random image bytes contain a
                    # whitespace-delimited 'EI' with ~2^-24 probability
                    # per offset — at 10^12 documents that is a routine
                    # event, and a short scan would tokenize the rest of
                    # the image as operators, corrupting the page
                    ml = _INLINE_L_RE.search(data, pos, mid.start())
                    if ml is not None:
                        dstart = mid.end()
                        dend = dstart + int(ml.group(1))
                        tail = _INLINE_EI_AT_RE.match(data, min(dend, n))
                        if tail is not None:
                            pos = tail.end()
                            continue
                        # declared length inconsistent: fall back to scan
                    mei = _INLINE_EI_RE.search(data, mid.end())
                    if mei is None:
                        raise CorruptedFileError("inline image without EI")
                    pos = mei.end()
                    continue
                yield ("op", op)


def _opnum(v) -> float | None:
    """Operand-stack value as float, or None when a corrupted stream put
    a name/byte-string where a number belongs (the op is then skipped,
    matching viewer tolerance — never an untyped ValueError)."""
    return float(v) if isinstance(v, (int, float)) else None


def _shows_from_content(
    data: bytes,
    fonts: dict[str, tuple] | None = None,
    xobjects: dict[str, tuple] | None = None,
    shows: list[_Show] | None = None,
    init_state: tuple | None = None,
) -> list[_Show]:
    """Interpret the text operators of one page's content stream(s).

    ``fonts`` maps resource names (the ``Tf`` operand) to font decoders;
    show-string BYTES decode through the current font (latin-1 when the
    font is unknown — the pinned fixture default). ``xobjects`` maps
    ``Do`` operand names to (content, fonts, nested) form-XObject tuples
    interpreted recursively into the SAME ``shows`` accumulator (depth
    and cycle caps live in _form_xobjects); form coordinates are taken
    as-is — no CTM modeling, matching the common whole-page
    identity-matrix wrapper shape.

    The show-event bomb cap is enforced INSIDE the loop: a 256 MB stream
    of tiny Tj ops must fail before materializing millions of records,
    not after."""
    if fonts is None:
        fonts = {}
    if shows is None:
        shows = []
    stack: list = []  # operand stack (numbers, byte-strings, names, arrays)
    in_array: list | None = None
    if init_state is not None:
        # a form INHERITS the caller's text state (PDF 32000 8.10.1):
        # a form showing text without its own Tf must keep using the
        # invoking stream's font decoder and position
        x, y, size, leading, dec = init_state
    else:
        size = 0.0
        x = y = 0.0
        leading = 0.0
        dec = _DEFAULT_DEC  # current font decoder (set by Tf)
    for kind, val in _tokenize_content(data):
        if kind == "arr_open":
            in_array = []
            continue
        if kind == "arr_close":
            stack.append(in_array if in_array is not None else [])
            in_array = None
            continue
        if kind in ("num", "str", "name"):
            (in_array if in_array is not None else stack).append(val)
            continue
        # operator. Positioning operands go through _opnum: a corrupted
        # stream can leave a NAME or byte-string on the stack where a
        # number belongs ('/F1 Tf' with the size byte flipped away) —
        # float() on those raised an UNTYPED ValueError through the
        # taxonomy (round-5 mutation-fuzz finding). Viewers skip such
        # malformed ops; so do we, exactly like the missing-operand
        # guards one line up.
        op = val
        if op == "BT":
            x = y = 0.0
        elif op == "Tf":
            if stack:
                n = _opnum(stack[-1])
                # malformed size operand -> skip the WHOLE op (font and
                # size), matching the Td/TD/Tm skip semantics: a
                # half-applied Tf (font switched, size kept) mixed the
                # skip and apply behaviors (round-5 advice)
                if n is not None:
                    size = n
                    if len(stack) >= 2 and isinstance(stack[-2], str):
                        # NO 'fonts and' short-circuit: inside a form
                        # that inherited a non-default decoder, Tf on
                        # one of the form's own (default) fonts must
                        # RESET dec — the default-filtered fonts dict
                        # may be empty here
                        dec = fonts.get(stack[-2], _DEFAULT_DEC)
        elif op == "Td":
            if len(stack) >= 2:
                dx, dy = _opnum(stack[-2]), _opnum(stack[-1])
                if dx is not None and dy is not None:
                    x += dx
                    y += dy
        elif op == "TD":
            if len(stack) >= 2:
                dx, dy = _opnum(stack[-2]), _opnum(stack[-1])
                if dx is not None and dy is not None:
                    leading = -dy
                    x += dx
                    y += dy
        elif op == "Tm":
            if len(stack) >= 6:
                nx, ny = _opnum(stack[-2]), _opnum(stack[-1])
                if nx is not None and ny is not None:
                    x = nx
                    y = ny
        elif op == "TL":
            if stack:
                n = _opnum(stack[-1])
                if n is not None:
                    leading = n
        elif op == "T*":
            y -= leading
        elif op in ("Tj", "'", '"'):
            # ' = T* then show; " = set word/char spacing, T*, show
            # (PDF 32000 9.4.3) — both are next-line show operators real
            # writers emit line by line; dropping them would silently
            # lose every line after the first
            if op in ("'", '"'):
                y -= leading
            if stack and isinstance(stack[-1], bytes):
                raw = stack[-1]
                text = (
                    raw.decode("latin-1")  # default-decoder fast path
                    if dec is _DEFAULT_DEC
                    else _decode_shown(dec, raw)
                )
                shows.append(_Show(x, y, size, text))
                if len(shows) > MAX_SHOWS_PER_PAGE:
                    raise OversizeDocumentError(
                        f"page exceeds {MAX_SHOWS_PER_PAGE} text shows"
                    )
        elif op == "TJ":
            if stack and isinstance(stack[-1], list):
                if dec is _DEFAULT_DEC:
                    text = "".join(
                        t.decode("latin-1")
                        for t in stack[-1]
                        if isinstance(t, bytes)
                    )
                else:
                    text = "".join(
                        _decode_shown(dec, t)
                        for t in stack[-1]
                        if isinstance(t, bytes)
                    )
                shows.append(_Show(x, y, size, text))
                if len(shows) > MAX_SHOWS_PER_PAGE:
                    raise OversizeDocumentError(
                        f"page exceeds {MAX_SHOWS_PER_PAGE} text shows"
                    )
        elif op == "Do":
            if xobjects and stack and isinstance(stack[-1], str):
                entry = xobjects.get(stack[-1])
                if entry is not None and not entry.drawing:
                    # form XObject: decode lazily on first Do, then
                    # recurse in place inheriting the current text state;
                    # the form's own font dict shadows the page's for its
                    # Tf operands. ``drawing`` cuts self/mutual Do cycles
                    # (repeated sequential invocation stays legal).
                    resolved = entry.resolve()
                    if resolved is not None:
                        fdata, ffonts, fxobjs = resolved
                        entry.drawing = True
                        try:
                            _shows_from_content(
                                fdata, ffonts, fxobjs, shows,
                                init_state=(x, y, size, leading, dec),
                            )
                        finally:
                            entry.drawing = False
        # ET and any other operator: no state change needed
        stack.clear()
    return shows


# --------------------------------------------------------------------------
# Lines -> tables -> elements -> page assembly
# --------------------------------------------------------------------------


@dataclass
class _Line:
    y: float
    shows: list[_Show]

    @property
    def xs(self) -> tuple[float, ...]:
        return tuple(s.x for s in self.shows)

    @property
    def max_size(self) -> float:
        return max(s.size for s in self.shows)


def _group_lines(shows: list[_Show]) -> list[_Line]:
    by_y: dict[float, list[_Show]] = {}
    for s in shows:
        by_y.setdefault(s.y, []).append(s)
    lines = []
    for yv in sorted(by_y, reverse=True):  # top-down (pinned rule 1)
        row = sorted(by_y[yv], key=lambda s: s.x)
        lines.append(_Line(yv, row))
    return lines


def _find_tables(lines: list[_Line]) -> list[tuple[int, int]]:
    """Maximal runs [i, j) of consecutive lines that are table rows with the
    same x-grid; require >= 2 rows (pinned rule 2)."""
    spans: list[tuple[int, int]] = []
    i = 0
    n = len(lines)
    while i < n:
        if len(lines[i].shows) >= 2:
            j = i + 1
            grid = lines[i].xs
            while j < n and len(lines[j].shows) >= 2 and lines[j].xs == grid:
                j += 1
            if j - i >= 2:
                spans.append((i, j))
                i = j
                continue
        i += 1
    return spans


def _bbox_for(show: _Show, page_height: float, text: str) -> BBox:
    """Deterministic approximate box: Helvetica-ish 0.5em advance width."""
    top = page_height - show.y - show.size
    return BBox(
        left=show.x,
        top=top,
        right=show.x + 0.5 * show.size * len(text),
        bottom=top + show.size,
        coord_origin="TOP_LEFT",
    )


def _page_header(page_no: int, output_format: str) -> tuple[str, bool]:
    """(header, bare_join) per pinned rule 5 / reference M4 templates.
    'html' and 'json' use the bare-join layer for element spans (their
    content is re-rendered afterwards); unknown formats fall through to
    the reference's bare "\\n"-join branch
    (docling_strategy_processor.py:1293-1294)."""
    if output_format == "markdown":
        return f"# Page {page_no}\n\n", False
    if output_format == "text":
        return f"Page {page_no}\n\n", False
    return "", True  # html/json/unknown: bare join for the span layer


# the shared pinned escape rule (core/render.py) — one definition for
# both the PDF and generic renderers so they cannot drift; bound once,
# not re-imported inside the per-cell render loop
from .render import esc_html as _esc_html  # noqa: E402


def _render_html_page(lines, table_spans) -> str:
    """M4 'html' renderer (reference DoclingOutputFormatEnum.HTML,
    docling_models.py:22-28; doc.export_to_html dispatch at
    docling_strategy_processor.py:1454-1465): minimal deterministic
    markup over the line stream — header lines as <h1>, body lines as
    <p>, each detected grid table as one <table> of <tr><td> cells —
    joined with '\\n'. PINNED (golden surface for output_format='html')."""
    span_start = {i: j for (i, j) in table_spans}
    out: list[str] = []
    li = 0
    n = len(lines)
    while li < n:
        j = span_start.get(li)
        if j is not None:
            rows = "".join(
                "<tr>"
                + "".join(
                    f"<td>{_esc_html(s.text)}</td>" for s in lines[k].shows
                )
                + "</tr>"
                for k in range(li, j)
            )
            out.append(f"<table>{rows}</table>")
            li = j
            continue
        line = lines[li]
        text = _esc_html(" ".join(s.text for s in line.shows))
        tag = "h1" if line.max_size >= HEADER_SIZE_MIN else "p"
        out.append(f"<{tag}>{text}</{tag}>")
        li += 1
    return "\n".join(out)


def _render_json_page(page_no: int, elements) -> str:
    """M4 'json' renderer (reference DoclingOutputFormatEnum.JSON,
    export_to_dict dispatch at docling_strategy_processor.py:1454-1465):
    canonical sorted-key, no-whitespace dump of the page's element stream.
    PINNED: keys are exactly char_end/char_start/label/page_no/text —
    float fields (bbox) are EXCLUDED so the dump stays byte-stable across
    writers/platforms; spans index the bare-join text layer. Delegates to
    the shared canonical dump (core/render.py) used by every doc type."""
    from .render import elements_json

    return elements_json(page_no, elements)


def extract_pdf(
    data: bytes, url_hash: str, output_format: str = "text"
) -> ExtractionResult:
    """Extract text/elements/tables from PDF bytes. Raises typed failures.

    ``output_format`` selects the content renderer (pinned rule 5).

    Broken cross-reference tables are ROUTINE in crawled PDFs (truncated
    tails, wrong startxref after naive concatenation, generators that lie
    about offsets); every real reader repairs by rescanning object
    headers. Two repair triggers: an xref that fails to PARSE rebuilds
    up front, and an xref that parses but then fails to RESOLVE (a
    CorruptedFileError anywhere downstream) retries the whole extraction
    once on the rebuilt table — at-most-doubled work, still inside every
    per-document decode budget."""
    if not data.startswith(b"%PDF-"):
        raise UnsupportedFormatError("missing %PDF- magic")
    try:
        offsets, trailer = _parse_xref(data)
        rebuilt = False
    except CorruptedFileError:
        offsets, trailer = _rebuild_xref(data)
        rebuilt = True
    try:
        return _extract_pdf_with(data, url_hash, output_format, offsets, trailer)
    except CorruptedFileError:
        if rebuilt:
            raise
        offsets, trailer = _rebuild_xref(data)
        return _extract_pdf_with(data, url_hash, output_format, offsets, trailer)


def _extract_pdf_with(
    data: bytes, url_hash: str, output_format: str, offsets: dict,
    trailer: dict,
) -> ExtractionResult:
    """One extraction attempt against a given object table."""
    objs = _Objects(data, offsets)
    enc = trailer.get("Encrypt")
    if enc is not None:
        # standard security handler (owner-password-only documents are
        # routine in crawls): install the stream decryptor before any
        # stream object is fetched (core/pdf_crypt.py; typed errors for
        # AES/non-empty-user-password)
        from .pdf_crypt import build_decryptor, trailer_id0

        enc_dict = objs.resolve(enc)
        if not isinstance(enc_dict, dict):
            raise CorruptedFileError("/Encrypt is not a dictionary")
        objs.decryptor = build_decryptor(enc_dict, trailer_id0(trailer))
    page_nodes = _page_objects(objs, trailer)

    pages: list[PageResult] = []
    table_counter = 0
    font_cache: dict = {}  # font object -> decoder, shared across pages
    # shared per-document form state: decode-once cache, build memo
    # (bounds the tree expansion), combined decode-size budget
    form_state: dict = {"decoded": {}, "memo": {}, "bytes": 0}
    for page_no, (node, resources) in enumerate(page_nodes, start=1):
        fonts = _fonts_for_page(objs, resources, font_cache)
        xobjs = _form_xobjects(objs, resources, font_cache, form_state)
        # /MediaBox only feeds bbox y-flips: a corrupted box (non-array,
        # short, or non-numeric height — round-5 deep-fuzz finding
        # 'len(int)') degrades to the US-Letter default like viewers do,
        # never an untyped TypeError through the taxonomy
        media = objs.resolve(node.get("MediaBox"))
        page_height = PAGE_HEIGHT_DEFAULT
        if isinstance(media, list) and len(media) >= 4:
            mh = objs.resolve(media[3])
            if isinstance(mh, (int, float)):
                page_height = float(mh)
        contents = objs.resolve(node.get("Contents"))
        streams = contents if isinstance(contents, list) else [contents]
        blob = bytearray()
        for s in streams:
            s = objs.resolve(s)
            if isinstance(s, _Stream):
                blob += s.decoded()
                blob += b"\n"
                if len(blob) > MAX_DECODED_STREAM:
                    # the per-stream flate cap is bypassable via a
                    # /Contents ARRAY of many at-cap streams — the page
                    # total gets the same ceiling
                    raise OversizeDocumentError(
                        f"page {page_no} content streams exceed "
                        f"{MAX_DECODED_STREAM} bytes combined"
                    )
        shows = _shows_from_content(bytes(blob), fonts, xobjs)  # cap in-loop
        lines = _group_lines(shows)
        table_spans = _find_tables(lines)
        in_table_rows: dict[int, int] = {}  # line idx -> table idx (local)
        for t_local, (i, j) in enumerate(table_spans):
            for li in range(i, j):
                in_table_rows[li] = t_local

        # Assemble content + elements in reading order (pinned rules 4-5).
        header, bare_join = _page_header(page_no, output_format)
        parts: list[str] = [header]
        offset = len(header)
        elements: list[Element] = []
        # cell boxes per local table idx, captured while building the
        # cell Elements (the TableRef bbox union reuses them — no second
        # _bbox_for pass over table-heavy pages)
        table_boxes: dict[int, list[BBox]] = {}
        for li, line in enumerate(lines):
            if li in in_table_rows:
                # table row: cells joined by single spaces
                cell_texts = [s.text for s in line.shows]
                line_text = " ".join(cell_texts)
                cursor = offset
                boxes = table_boxes.setdefault(in_table_rows[li], [])
                for s, ct in zip(line.shows, cell_texts):
                    cbox = _bbox_for(s, page_height, ct)
                    boxes.append(cbox)
                    elements.append(
                        Element(
                            text=ct,
                            label=LABEL_TABLE_CELL,
                            page_no=page_no,
                            bbox=cbox,
                            char_start=cursor,
                            char_end=cursor + len(ct),
                        )
                    )
                    cursor += len(ct) + 1
            else:
                show = line.shows[0]
                line_text = " ".join(s.text for s in line.shows)
                label = LABEL_HEADER if line.max_size >= HEADER_SIZE_MIN else LABEL_BODY
                elements.append(
                    Element(
                        text=line_text,
                        label=label,
                        page_no=page_no,
                        bbox=_bbox_for(show, page_height, line_text),
                        char_start=offset,
                        char_end=offset + len(line_text),
                    )
                )
            parts.append(line_text + "\n")
            offset += len(line_text) + 1
        content = "".join(parts)
        if bare_join and lines:
            content = content[:-1]  # "\n".join semantics: no trailing \n
        if output_format == "html":
            content = _render_html_page(lines, table_spans)
        elif output_format == "json":
            content = _render_json_page(page_no, elements)

        tables: list[TableRef] = []
        for t_local, (i, j) in enumerate(table_spans):
            rows = [[s.text for s in lines[li].shows] for li in range(i, j)]
            # headers = first-row cells sorted by start column offset —
            # reference rule verbatim (docling_strategy_processor.py:1719-1726);
            # shows are already x-sorted within the line.
            headers = tuple(rows[0])
            ncols = max(len(r) for r in rows)
            # table bbox = union of the cell boxes (reference TableMetadata
            # bbox, lib/models/extraction_models.py:151-179) — PDF is the
            # one source format here that carries layout coordinates;
            # boxes were computed with the cell Elements above
            cell_boxes = table_boxes[t_local]
            tbbox = BBox(
                left=min(b.left for b in cell_boxes),
                top=min(b.top for b in cell_boxes),
                right=max(b.right for b in cell_boxes),
                bottom=max(b.bottom for b in cell_boxes),
            )
            tables.append(
                TableRef(
                    table_id=f"{url_hash}_table_{table_counter}",
                    page_number=page_no,
                    num_rows=len(rows),
                    num_cols=ncols,
                    headers=headers,
                    cell_count=sum(len(r) for r in rows),
                    csv=table_csv(rows),
                    bbox=tbbox,
                )
            )
            table_counter += 1

        pages.append(
            PageResult(
                page_number=page_no,
                content=content,
                word_count=word_count(content),
                elements=elements,
                tables=tables,
                figures=[],
            )
        )

    if not any(p.elements for p in pages):
        # distinguish the scanned-document shape (pages draw image
        # XObjects, no text operators) from genuinely-empty documents:
        # the reference's OCR-off behavior still yields page images
        # (enable_ocr, docling_models.py:48), so a scanned document is a
        # SUCCESS row with empty text content and the figure metadata
        # populated from the image XObject headers (round-4 verdict task
        # 5) — pixels are never decoded. The typed ScannedPdfNoTextError
        # survives only when even the image headers carry no usable
        # metadata; inline-image-only pages (rare for scanner output)
        # still fall through to EmptyContentError.
        if any(
            _has_image_xobjects(objs, res) for _n, res in page_nodes
        ):
            figured = _scanned_figure_pages(objs, page_nodes, pages, url_hash)
            if figured is not None:
                return ExtractionResult(doc_type=DOC_TYPE_PDF, pages=figured)
            raise ScannedPdfNoTextError(
                "pages contain only image XObjects with no readable "
                "metadata (no text operators); OCR required"
            )
        raise EmptyContentError("no text content in document")
    return ExtractionResult(doc_type=DOC_TYPE_PDF, pages=pages)
