"""Legacy OLE2 Office extraction: .doc (Word 97-2003) and .xls (BIFF8).

Reference parity: application/msword and application/vnd.ms-excel are
first-class MIME types (lib/models/mime_type.py:7,9; routing at
mime_type_utils.py:36-77). From-scratch stdlib over the published MS-DOC
and MS-XLS binary layouts; the CFB container is core/cfb.py.

PINNED SEMANTICS (byte-identical invariant surface):

DOC:
 1. The container must hold a ``WordDocument`` stream with wIdent 0xA5EC,
    else CorruptedFileError (an OLE2 file with neither WordDocument nor
    Workbook is a named UnsupportedFormatError).
 2. Main text = the first ccpText characters reassembled from the
    Clx/PlcPcd piece table in the FIB-selected table stream (0Table or
    1Table per fWhichTblStm); each piece decodes cp1252 (fc bit 30 set:
    compressed, offset = fc/2) or UTF-16LE (offset = fc). lcbClx == 0 or
    a malformed Clx -> CorruptedFileError.
 3. Transform: '\\r' (paragraph mark) and '\\x07' (cell/row mark) -> '\\n';
    every other control char below 0x20 except '\\n'/'\\t' is dropped
    (field/formatting marks); result ``str.strip()``-ed. Empty ->
    EmptyContentError.
 4. One page, one "block" element spanning [0, len(content)) — the same
    shape as TXT/RTF.

XLS:
 5. The container must hold a ``Workbook`` (or BIFF5 ``Book``) stream;
    records are (id u16, len u16, payload). A record walk that runs past
    the stream end -> CorruptedFileError.
 6. Strings resolve through the SST (LABELSST isst index; rich-text and
    ext-st payloads are skipped per the string flags). The SST may spill
    into Continue (0x003C) records: splits happen between fields or
    inside character data, and continued CHARACTER data restarts with a
    fresh fHighByte option byte (MS-XLS 2.5.293) — each span decodes with
    its own byte width. Out-of-range isst or a field split across a
    boundary -> CorruptedFileError.
 7. Numeric cells (NUMBER, RK, MULRK) render as ``str(int(v))`` when the
    value is integral, else ``repr(v)`` — pinned.
 8. Sheets = pages in BOUNDSHEET order (mirrors xlsx rule 10); page
    content/elements/TableRef exactly mirror xlsx rules 11-13: rows in
    (row, col) order, cells joined with single spaces, lines joined
    '\\n', one TableRef per non-empty sheet (headers = first row, shared
    pinned CSV). No cell text anywhere -> EmptyContentError.
"""

from __future__ import annotations

import math
import struct
from itertools import groupby

from .cfb import read_cfb
from .model import (
    LABEL_BLOCK,
    Element,
    ExtractionResult,
    PageResult,
    TableRef,
    table_csv,
    word_count,
)
from .taxonomy import (
    CorruptedFileError,
    EmptyContentError,
    UnsupportedFormatError,
)

DOC_TYPE_DOC = "doc"
DOC_TYPE_XLS = "xls"

_MAX_TEXT_CHARS = 64 << 20  # ccpText bomb guard (chars, not bytes)


def extract_ole2(data: bytes, url_hash: str) -> ExtractionResult:
    """Route an OLE2 container to the .doc or .xls extractor (pinned 1/5)."""
    streams = read_cfb(data)
    if "WordDocument" in streams:
        return _extract_doc(streams, url_hash)
    if "Workbook" in streams or "Book" in streams:
        return _extract_xls(streams, url_hash)
    names = ", ".join(sorted(streams)[:5]) or "no streams"
    raise UnsupportedFormatError(
        f"ole2 compound document without WordDocument/Workbook ({names})"
    )


# --------------------------------------------------------------------------
# DOC
# --------------------------------------------------------------------------


def _extract_doc(streams: dict[str, bytes], url_hash: str) -> ExtractionResult:
    word = streams["WordDocument"]
    if len(word) < 0x200 or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
        raise CorruptedFileError("WordDocument stream has no valid FIB")
    flags = struct.unpack_from("<H", word, 0x0A)[0]
    table_name = "1Table" if flags & 0x0200 else "0Table"
    table = streams.get(table_name)
    if table is None:
        raise CorruptedFileError(f"FIB selects missing {table_name} stream")

    # walk the variable-length FIB to the FcLcb array (robust across nFib
    # revisions, MS-DOC 2.5.1): base(32) csw fibRgW cslw fibRgLw cbRgFcLcb.
    # csw/cslw are UNTRUSTED — crafted values must become the typed
    # taxonomy error, not a raw struct.error escaping as error_type 'error'
    try:
        pos = 0x20
        csw = struct.unpack_from("<H", word, pos)[0]
        pos += 2 + 2 * csw
        cslw = struct.unpack_from("<H", word, pos)[0]
        fib_rg_lw = pos + 2
        pos += 2 + 4 * cslw
        cb_rg_fc_lcb = struct.unpack_from("<H", word, pos)[0]
        fc_lcb = pos + 2
        if cslw < 4 or cb_rg_fc_lcb < 34:
            raise CorruptedFileError("FIB too small for ccpText/fcClx")
        ccp_text = struct.unpack_from("<I", word, fib_rg_lw + 3 * 4)[0]
        fc_clx = struct.unpack_from("<I", word, fc_lcb + 33 * 8)[0]
        lcb_clx = struct.unpack_from("<I", word, fc_lcb + 33 * 8 + 4)[0]
    except struct.error as exc:
        raise CorruptedFileError(f"FIB walk out of bounds: {exc}") from exc
    if ccp_text > _MAX_TEXT_CHARS:
        raise CorruptedFileError(f"ccpText {ccp_text} exceeds text cap")
    if lcb_clx == 0 or fc_clx + lcb_clx > len(table):
        raise CorruptedFileError("missing or truncated Clx piece table")

    # Clx: skip Prc blocks (0x01 + i16 size) to the Pcdt (0x02 + u32 size)
    clx = table[fc_clx : fc_clx + lcb_clx]
    cpos = 0
    while cpos < len(clx) and clx[cpos] == 0x01:
        if cpos + 3 > len(clx):
            raise CorruptedFileError("truncated Prc in Clx")
        cb = struct.unpack_from("<h", clx, cpos + 1)[0]
        cpos += 3 + max(cb, 0)
    if cpos + 5 > len(clx) or clx[cpos] != 0x02:
        raise CorruptedFileError("Clx has no Pcdt")
    lcb = struct.unpack_from("<I", clx, cpos + 1)[0]
    plc = clx[cpos + 5 : cpos + 5 + lcb]
    if len(plc) != lcb or lcb < 4 or (lcb - 4) % 12:
        raise CorruptedFileError("malformed PlcPcd")
    npieces = (lcb - 4) // 12
    cps = struct.unpack_from(f"<{npieces + 1}I", plc, 0)
    out: list[str] = []
    got = 0
    for i in range(npieces):
        nchars = cps[i + 1] - cps[i]
        if nchars < 0:
            raise CorruptedFileError("piece table CPs not increasing")
        take = min(nchars, max(ccp_text - got, 0))  # main text only
        if take == 0:
            continue
        fc_raw = struct.unpack_from(
            "<I", plc, 4 * (npieces + 1) + 8 * i + 2
        )[0]
        if fc_raw & 0x40000000:  # cp1252-compressed
            off = (fc_raw & 0x3FFFFFFF) // 2
            raw = word[off : off + take]
            if len(raw) != take:
                raise CorruptedFileError("piece beyond WordDocument stream")
            out.append(raw.decode("cp1252", "replace"))
        else:
            off = fc_raw & 0x3FFFFFFF
            raw = word[off : off + 2 * take]
            if len(raw) != 2 * take:
                raise CorruptedFileError("piece beyond WordDocument stream")
            out.append(raw.decode("utf-16-le", "replace"))
        got += take
    text = "".join(out)

    # pinned rule 3 transform
    content = "".join(
        "\n" if c in "\r\x07" else c
        for c in text
        if c in "\n\t\r\x07" or ord(c) >= 0x20
    ).strip()
    if not content:
        raise EmptyContentError("empty doc document")
    page = PageResult(
        page_number=1,
        content=content,
        word_count=word_count(content),
        elements=[
            Element(
                text=content,
                label=LABEL_BLOCK,
                page_no=1,
                bbox=None,
                char_start=0,
                char_end=len(content),
            )
        ],
        tables=[],
        figures=[],
    )
    return ExtractionResult(doc_type=DOC_TYPE_DOC, pages=[page])


# --------------------------------------------------------------------------
# XLS (BIFF8)
# --------------------------------------------------------------------------


def _records(stream: bytes, start: int = 0):
    pos = start
    n = len(stream)
    while pos + 4 <= n:
        rid, rlen = struct.unpack_from("<HH", stream, pos)
        payload = stream[pos + 4 : pos + 4 + rlen]
        if len(payload) != rlen:
            raise CorruptedFileError("truncated BIFF record")
        yield rid, payload, pos
        pos += 4 + rlen
        if rid == 0x000A and start > 0:
            return


class _SstCursor:
    """Reader over [SST payload, Continue payload, ...] segments.

    MS-XLS split rules: structures split only at field boundaries or
    inside character arrays; a continuation of CHARACTER data begins with
    a fresh option-flags byte (fHighByte may differ per span); rich-run /
    ext-st skip data and field headers continue WITHOUT an extra byte."""

    def __init__(self, segments: list[bytes]):
        self.segs = segments
        self.i = 0
        self.pos = 0

    def _avail(self) -> int:
        return len(self.segs[self.i]) - self.pos

    def _next_segment(self) -> None:
        self.i += 1
        self.pos = 0
        if self.i >= len(self.segs):
            raise CorruptedFileError("truncated SST")

    def read_field(self, fmt: str, size: int):
        while self._avail() == 0:
            self._next_segment()
        if self._avail() < size:
            raise CorruptedFileError("SST field split across Continue")
        vals = struct.unpack_from(fmt, self.segs[self.i], self.pos)
        self.pos += size
        return vals

    def skip(self, n: int) -> None:
        while n:
            while self._avail() == 0:
                self._next_segment()
            take = min(n, self._avail())
            self.pos += take
            n -= take

    def read_chars(self, cch: int, high: int) -> str:
        parts: list[str] = []
        need = cch
        while need:
            if self._avail() == 0:
                self._next_segment()
                (high,) = self.read_field("<B", 1)  # fresh option byte
                high &= 0x01
                continue
            unit = 2 if high else 1
            take = min(need, self._avail() // unit)
            if take == 0:
                raise CorruptedFileError("SST char unit split across Continue")
            raw = self.segs[self.i][self.pos : self.pos + take * unit]
            parts.append(
                raw.decode("utf-16-le", "replace")
                if high
                else raw.decode("latin-1")
            )
            self.pos += take * unit
            need -= take
        return "".join(parts)


def _parse_sst(segments: list[bytes]) -> list[str]:
    """SST strings across the record + its Continue spills (pinned 6)."""
    payload = segments[0]
    if len(payload) < 8:
        raise CorruptedFileError("truncated SST header")
    cst_unique = struct.unpack_from("<I", payload, 4)[0]
    if cst_unique > sum(len(s) for s in segments):  # strings are >= 3 bytes
        raise CorruptedFileError("SST count exceeds record size")
    cur = _SstCursor(segments)
    cur.pos = 8
    out: list[str] = []
    for _ in range(cst_unique):
        cch, flags = cur.read_field("<HB", 3)
        c_run = 0
        cb_ext = 0
        if flags & 0x08:  # fRichSt
            (c_run,) = cur.read_field("<H", 2)
        if flags & 0x04:  # fExtSt
            (cb_ext,) = cur.read_field("<I", 4)
        out.append(cur.read_chars(cch, flags & 0x01))
        cur.skip(4 * c_run + cb_ext)
    return out


def _fmt_number(v: float) -> str:
    """Pinned rule 7; NaN/Infinity render via repr ('nan'/'inf') — int()
    on them raises, which would escape the taxonomy as ValueError."""
    if math.isfinite(v) and v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _rk_value(rk: int) -> float:
    v: float
    if rk & 0x02:  # 30-bit signed integer
        i = rk >> 2
        if i & 0x20000000:
            i -= 0x40000000
        v = float(i)
    else:  # high 30 bits of an IEEE double
        v = struct.unpack("<d", struct.pack("<Q", (rk & 0xFFFFFFFC) << 32))[0]
    return v / 100.0 if rk & 0x01 else v


def _fill_sheet_cells(
    wb: bytes, start: int, sst: list[str], cells: dict
) -> None:
    """One sheet substream's cell records -> (rw, col) -> text."""
    for rid, payload, _pos in _records(wb, start):
        if rid == 0x00FD:  # LABELSST
            rw, col, _ixfe, isst = struct.unpack_from("<HHHI", payload, 0)
            if isst >= len(sst):
                raise CorruptedFileError(f"LABELSST isst {isst} out of range")
            cells[(rw, col)] = sst[isst]
        elif rid == 0x0203:  # NUMBER
            rw, col, _ixfe = struct.unpack_from("<HHH", payload, 0)
            (v,) = struct.unpack_from("<d", payload, 6)
            cells[(rw, col)] = _fmt_number(v)
        elif rid == 0x027E:  # RK
            rw, col, _ixfe, rk = struct.unpack_from("<HHHI", payload, 0)
            cells[(rw, col)] = _fmt_number(_rk_value(rk))
        elif rid == 0x0204:  # LABEL: inline XLUnicodeString cell
            rw, col, _ixfe = struct.unpack_from("<HHH", payload, 0)
            if len(payload) < 9:
                raise CorruptedFileError("truncated LABEL record")
            cch, lflags = struct.unpack_from("<HB", payload, 6)
            nbytes = cch * 2 if lflags & 0x01 else cch
            raw = payload[9 : 9 + nbytes]
            if len(raw) != nbytes:
                raise CorruptedFileError("truncated LABEL string")
            cells[(rw, col)] = (
                raw.decode("utf-16-le", "replace")
                if lflags & 0x01
                else raw.decode("latin-1")
            )
        elif rid == 0x00BD:  # MULRK
            rw, col_first = struct.unpack_from("<HH", payload, 0)
            nrk = (len(payload) - 6) // 6
            for j in range(nrk):
                _ixfe, rk = struct.unpack_from("<HI", payload, 4 + 6 * j)
                cells[(rw, col_first + j)] = _fmt_number(_rk_value(rk))


def _check_biff8_bof(wb: bytes) -> None:
    """The stream's first record must be a BIFF8 BOF (rid 0x0809, vers
    0x0600). 'Book' streams are routinely BIFF5 (Excel 5.0/95), whose
    BOUNDSHEET/LABEL records lack the Unicode flags byte and which has no
    SST/LABELSST — parsing them as BIFF8 yields garbage cell text emitted
    as a 'success' row. Degrade TYPED instead (MS-XLS 2.4.21 BOF vers)."""
    if len(wb) < 8:
        raise CorruptedFileError("workbook stream too short for BOF")
    rid, _rlen = struct.unpack_from("<HH", wb, 0)
    if rid in (0x0009, 0x0209, 0x0409):  # BIFF2/3/4 BOF record ids
        raise UnsupportedFormatError(
            f"legacy BIFF BOF record 0x{rid:04x} (BIFF8 only)"
        )
    if rid != 0x0809:
        raise CorruptedFileError(f"workbook stream starts with 0x{rid:04x}, not BOF")
    vers = struct.unpack_from("<H", wb, 4)[0]
    if vers != 0x0600:
        raise UnsupportedFormatError(
            f"BIFF version 0x{vers:04x} unsupported (BIFF8/0x0600 only)"
        )


def _extract_xls(streams: dict[str, bytes], url_hash: str) -> ExtractionResult:
    wb = streams.get("Workbook", streams.get("Book", b""))
    _check_biff8_bof(wb)
    sst: list[str] = []
    sheets: list[tuple[str, int]] = []  # (name, substream offset)
    # STREAM the globals walk (stop at its EOF) — list(_records(wb))
    # would materialize and copy every cell payload of every sheet
    # substream just to find SST/BOUNDSHEET, doubling per-doc CPU+memory
    sst_segments: list[bytes] | None = None
    for rid, payload, _pos in _records(wb):
        if sst_segments is not None and rid == 0x003C:  # SST Continue spill
            sst_segments.append(payload)
            continue
        if sst_segments is not None:  # first non-Continue ends the spill
            sst = _parse_sst(sst_segments)
            sst_segments = None
        if rid == 0x00FC:  # SST
            sst_segments = [payload]
        elif rid == 0x0085:  # BOUNDSHEET
            if len(payload) < 8:
                raise CorruptedFileError("truncated BOUNDSHEET")
            lb_ply_pos = struct.unpack_from("<I", payload, 0)[0]
            cch = payload[6]
            name = payload[8 : 8 + cch].decode("latin-1", "replace")
            sheets.append((name, lb_ply_pos))
        elif rid == 0x000A and sheets:
            break  # end of globals substream
    if sst_segments is not None:  # SST was the last globals record
        sst = _parse_sst(sst_segments)
    if not sheets:
        raise CorruptedFileError("workbook has no BOUNDSHEET records")

    pages: list[PageResult] = []
    table_counter = 0
    any_text = False
    for page_no, (_name, start) in enumerate(sheets, start=1):
        if start >= len(wb):
            raise CorruptedFileError("BOUNDSHEET offset beyond workbook")
        cells: dict[tuple[int, int], str] = {}
        # short/crafted record payloads must fail TYPED, not as struct.error
        try:
            _fill_sheet_cells(wb, start, sst, cells)
        except struct.error as exc:
            raise CorruptedFileError(
                f"truncated BIFF record fields: {exc}"
            ) from exc
        # grid in (row, col) order (mirrors xlsx rule 11 document order);
        # ONE sort + groupby, not a re-sort per row
        rows: list[list[str]] = [
            [v for _k, v in grp]
            for _rw, grp in groupby(
                sorted(cells.items()), key=lambda kv: kv[0][0]
            )
        ]
        lines = [" ".join(r) for r in rows]
        content = "\n".join(lines)
        if content:
            any_text = True
        elements: list[Element] = []
        offset = 0
        for line in lines:
            elements.append(
                Element(
                    text=line,
                    label=LABEL_BLOCK,
                    page_no=page_no,
                    bbox=None,
                    char_start=offset,
                    char_end=offset + len(line),
                )
            )
            offset += len(line) + 1
        tables = []
        if rows:
            tables.append(
                TableRef(
                    table_id=f"{url_hash}_table_{table_counter}",
                    page_number=page_no,
                    num_rows=len(rows),
                    num_cols=max(len(r) for r in rows),
                    headers=tuple(rows[0]),
                    cell_count=sum(len(r) for r in rows),
                    csv=table_csv(rows),
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
    if not any_text:
        raise EmptyContentError("no cell text in workbook")
    return ExtractionResult(doc_type=DOC_TYPE_XLS, pages=pages)
