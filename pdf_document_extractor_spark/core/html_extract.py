"""HTML main-content extraction: boilerplate stripping by DOM block scoring.

From-scratch implementation of the boilerpipe/jusText family of shallow-text
heuristics (Kohlschuetter et al., WSDM 2010; Pomikalek's jusText). The
north star names lxml parse trees; lxml is NOT installed in this
environment (and installs are disallowed), so the same text-density /
link-density node scoring runs over the stdlib ``html.parser`` event
stream — the algorithm family, thresholds, and output contract are
identical; only the tree library differs. The reference repo contains
no HTML input path (its only HTML touchpoints are an *output* format enum,
docling_models.py:22-28); this module satisfies the north-rule's HTML half
while honoring the reference's *output contract*: per-page ``content`` plus
elements with char spans (reference element charspan:
docling_strategy_processor.py:1504).

PINNED SEMANTICS (the byte-identical invariant surface — change these and
every golden fixture changes):

1. Bytes are decoded with a sniffed charset, ``errors="replace"``:
   a BOM wins (UTF-8/UTF-16LE/UTF-16BE, stripped), else the first
   ``<meta ... charset=...>`` / ``http-equiv`` label within the leading
   1024 bytes (resolved via Python ``codecs.lookup``; unknown labels fall
   back), else UTF-8. Legacy-web pages (windows-1252, GBK, Shift-JIS...)
   decode correctly instead of silently mangling to U+FFFD.
2. Subtrees under structural-boilerplate / non-content tags are dropped
   outright: head, nav, header, footer, aside, script, style, noscript,
   template, form, iframe, svg, button, select, option, object, embed,
   canvas.
3. A *block* is a maximal run of inline content directly under one
   block-level element (p, div, h1-h6, li, ...). Entering or leaving a
   block-level element flushes the current block.
4. Block text is whitespace-normalized with Python ``str.split()`` semantics
   (``" ".join(t.split())``).
5. A block is KEPT iff its normalized text is non-empty AND its link density
   (normalized chars under <a> descendants / normalized chars total)
   is <= 0.5. This is the linkfarm-rejection rule.
6. ``content`` = kept block texts joined with "\n". HTML documents are a
   single page (page_number=1), mirroring the reference's API extraction
   path which returns one text body (api_extraction_processor.py:314-344).
7. Empty ``content`` raises ``EmptyContentError`` -> hard-failure row
   (reference raises on empty content, api_extraction_processor.py:333-344).
   Non-HTML binary junk (dispatch fallback for unknown magic bytes) is
   detected by content whose control-char/U+FFFD ratio exceeds 10% ->
   ``UnsupportedFormatError`` hard-failure row.
8. <table> subtrees are excluded from ``content``; they are emitted into the
   ``tables`` array (headers = first row, CSV export) instead.
9. <img alt=...> produce figure refs with deterministic ids
   ``{url_hash}_figure_{idx}`` (no uuid4 — determinism policy, FIXTURES.md).
"""

from __future__ import annotations

import codecs
import re
from html.parser import HTMLParser

from .model import (
    DOC_TYPE_HTML,
    table_csv,
    LABEL_BLOCK,
    Element,
    ExtractionResult,
    FigureRef,
    PageResult,
    TableRef,
    normalize_ws,
    word_count,
)
from .taxonomy import EmptyContentError, UnsupportedFormatError

# Tags whose entire subtree is boilerplate or non-content (pinned rule 2).
DROP_TAGS = frozenset(
    {
        "head",
        "nav",
        "header",
        "footer",
        "aside",
        "script",
        "style",
        "noscript",
        "template",
        "form",
        "iframe",
        "svg",
        "button",
        "select",
        "option",
        "object",
        "embed",
        "canvas",
    }
)

# Block-level elements: entering/leaving one flushes the current text block.
BLOCK_TAGS = frozenset(
    {
        "html",
        "body",
        "main",
        "article",
        "section",
        "div",
        "p",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "ul",
        "ol",
        "li",
        "dl",
        "dt",
        "dd",
        "blockquote",
        "pre",
        "figure",
        "figcaption",
        "address",
        "hr",
        "br",
    }
)

# Void elements (never pushed on the open-tag stack).
VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "source", "track", "wbr"}
)

LINK_DENSITY_MAX = 0.5  # pinned rule 5

# Control chars other than \t\n\r (pinned rule 7's binary-junk signal).
_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

# Charset sniffing (pinned rule 1) -----------------------------------------

_BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)

# Matches both `<meta charset=X>` and
# `<meta http-equiv="Content-Type" content="text/html; charset=X">`
# within a single tag (charset never legally spans tags).
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,512}?charset\s*=\s*[\"']?\s*([a-zA-Z0-9_.:\-]+)",
    re.IGNORECASE,
)

SNIFF_WINDOW = 1024  # bytes scanned for a meta charset (WHATWG prescan size)


def detect_charset(data: bytes) -> tuple[str, int]:
    """Return (codec_name, bom_length). BOM > meta tag > utf-8 fallback."""
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc, len(bom)
    m = _META_CHARSET_RE.search(data[:SNIFF_WINDOW])
    if m:
        label = m.group(1).decode("ascii", errors="replace").strip().lower()
        # WHATWG prescan rule: a meta label READABLE in the byte stream
        # proves the document is not utf-16 — mislabeled pages are legion;
        # honoring the label would decode ASCII byte-pairs as CJK garbage
        # that even the junk guard can't catch
        if label.replace("-", "").replace("_", "").startswith("utf16"):
            return "utf-8", 0
        try:
            codecs.lookup(label)
        except LookupError:
            return "utf-8", 0
        return label, 0
    return "utf-8", 0


def decode_html_bytes(data: bytes) -> str:
    """Pinned rule 1 decode: sniffed charset, errors=replace."""
    enc, bom_len = detect_charset(data)
    return data[bom_len:].decode(enc, errors="replace")


class _BlockCollector(HTMLParser):
    """Streaming block segmentation: no materialized DOM needed.

    Maintains a drop-depth (inside DROP_TAGS), a table-depth (inside
    <table>), and an anchor-depth; text fragments accumulate into the
    current block and flush at block-tag boundaries.
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, float]] = []  # (normalized_text, link_density)
        # img figures in doc order: [alt_text | None, caption | None]
        # (caption assigned at </figure> when a <figcaption> was present)
        self.figures_raw: list[list[str | None]] = []
        # table -> (rows, caption | None, has_merged_cells)
        self.tables_raw: list[tuple[list[list[str]], str | None, bool]] = []
        self._frags: list[tuple[str, bool]] = []  # (raw_text, in_anchor)
        self._drop_depth = 0
        self._anchor_depth = 0
        self._table_depth = 0
        # current table assembly state
        self._cur_table: list[list[str]] | None = None
        self._cur_row: list[str] | None = None
        self._cur_cell: list[str] | None = None
        self._cur_tcaption: list[str] | None = None  # inside <caption>
        self._tcaption_final: str | None = None  # closed-caption text
        self._cur_merged = False  # colspan/rowspan>1 seen in current table
        # <figure> assembly: one frame per OPEN figure so nested figures
        # keep their captions to themselves — frame = [caption|None,
        # [figures_raw idxs of imgs directly inside this figure frame]]
        self._fig_stack: list[list] = []
        self._figcap: list[str] | None = None  # inside <figcaption>

    # -- block flushing -------------------------------------------------
    def _flush(self) -> None:
        if not self._frags:
            return
        frags, self._frags = self._frags, []
        text = normalize_ws("".join(t for t, _ in frags))
        if not text:
            return
        link_chars = sum(len(normalize_ws(t)) for t, in_a in frags if in_a)
        total = len(text)
        link_density = link_chars / total if total else 0.0
        self.blocks.append((text, link_density))

    # -- parser callbacks ------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "img":
            attr_map = dict(attrs)
            alt = attr_map.get("alt")
            if self._fig_stack:
                self._fig_stack[-1][1].append(len(self.figures_raw))
            self.figures_raw.append([normalize_ws(alt) if alt else None, None])
            return
        if tag == "table":
            self._flush()
            self._table_depth += 1
            if self._table_depth == 1:
                self._cur_table = []
                self._cur_merged = False
            return
        if self._table_depth:
            if tag == "tr":
                self._cur_row = []
            elif tag in ("td", "th"):
                self._cur_cell = []
                for k, v in attrs:
                    if k in ("colspan", "rowspan") and v:
                        try:
                            if int(v.strip()) > 1:
                                self._cur_merged = True
                        except ValueError:
                            pass
            elif tag == "caption" and self._table_depth == 1:
                self._cur_tcaption = []
            return
        if tag == "figure":
            if self._figcap is not None:
                # a figure OPENING inside an open <figcaption> (legal —
                # figcaption allows flow content): the caption text so
                # far belongs to the OUTER frame; finalize before the
                # inner frame could steal it at its own </figure>
                self._close_figcaption()
            self._fig_stack.append([None, []])
        elif tag == "figcaption" and self._fig_stack:
            self._figcap = []
        if tag == "a":
            self._anchor_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            # An inline anchor cannot span into a new block; without this
            # reset one unclosed <a> (ubiquitous in crawl HTML) would mark
            # every later fragment as link text and reject all remaining
            # blocks as link-dense.
            self._anchor_depth = 0

    def handle_endtag(self, tag: str) -> None:
        if tag in DROP_TAGS:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        if tag == "table":
            if self._table_depth == 1 and self._cur_table is not None:
                self.tables_raw.append(
                    (self._cur_table, self._tcaption_text(), self._cur_merged)
                )
                self._cur_table = None
            if self._table_depth:
                self._table_depth -= 1
            return
        if self._table_depth:
            if tag in ("td", "th") and self._cur_cell is not None:
                if self._cur_row is not None:
                    self._cur_row.append(normalize_ws("".join(self._cur_cell)))
                self._cur_cell = None
            elif tag == "tr" and self._cur_row is not None:
                if self._cur_table is not None and self._cur_row:
                    self._cur_table.append(self._cur_row)
                self._cur_row = None
            elif tag == "caption" and self._cur_tcaption is not None:
                if self._tcaption_final is None:  # first caption wins
                    self._tcaption_final = (
                        normalize_ws("".join(self._cur_tcaption)) or None
                    )
                self._cur_tcaption = None
            return
        if tag == "figcaption" and self._figcap is not None:
            self._close_figcaption()
        elif tag == "figure" and self._fig_stack:
            if self._figcap is not None:  # unclosed figcaption: finalize
                self._close_figcaption()
            caption, img_idxs = self._fig_stack.pop()
            if caption is not None:
                for idx in img_idxs:
                    self.figures_raw[idx][1] = caption
        if tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1
        if tag in BLOCK_TAGS:
            self._flush()

    def _close_figcaption(self) -> None:
        """Finalize the open <figcaption> into the innermost figure frame
        (first caption wins — same rule as table <caption>)."""
        text = normalize_ws("".join(self._figcap)) or None
        self._figcap = None
        if self._fig_stack and self._fig_stack[-1][0] is None:
            self._fig_stack[-1][0] = text

    def _tcaption_text(self) -> str | None:
        """Finalized <caption> text for the table being closed (first
        caption wins; an unclosed caption finalizes here)."""
        if self._tcaption_final is None and self._cur_tcaption is not None:
            self._tcaption_final = (
                normalize_ws("".join(self._cur_tcaption)) or None
            )
        text, self._tcaption_final, self._cur_tcaption = (
            self._tcaption_final, None, None,
        )
        return text

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        if self._table_depth:
            if self._cur_cell is not None:
                self._cur_cell.append(data)
            elif self._cur_tcaption is not None:
                self._cur_tcaption.append(data)
            return
        if self._figcap is not None:
            # figcaption text is BOTH caption metadata and regular block
            # content (it is visible page text) — capture, don't divert
            self._figcap.append(data)
        if data:
            self._frags.append((data, self._anchor_depth > 0))

    def close(self) -> None:  # final flush
        super().close()
        self._flush()


def _table_csv(rows: list[list[str]]) -> str | None:
    return table_csv(rows)  # shared pinned implementation (model.py)


# --------------------------------------------------------------------------
# Fast tag scanner (performance-only; semantics delegated)
# --------------------------------------------------------------------------
#
# html.parser's event loop costs ~100us/doc; for the STRICT well-formed
# subset below, a single-regex scanner produces a byte-identical event
# stream into the same _BlockCollector at ~4x the speed. ANY construct
# whose html.parser behavior is not trivially mirrored falls back to
# html.parser — the fast path changes performance, never semantics
# (pinned by golden byte-identity plus a differential hypothesis fuzz).
#
# Fallback triggers: charrefs ('&'), markup declarations/PIs ('<!', '<?'),
# CDATA-mode elements (script/style), any bare '<' that does not open a
# well-formed tag, quotes-with-angle-bracket attribute soup, unterminated
# trailing tags.

_FAST_REJECT = re.compile(r"&|<[!?]|</?(?:script|style)\b", re.IGNORECASE)
_FAST_TAG = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)([^<>]*)>")
# Unquoted attribute values INCLUDE a trailing '/' — html.parser absorbs
# it into the value ('<td colspan=2/>' -> colspan='2/', NOT self-close),
# and since the collector now reads td/th attrs that difference is
# semantic (has_merged_cells), not just an event-shape nicety.
_FAST_ATTRS = re.compile(
    r"(?:\s+[a-zA-Z_:][-a-zA-Z0-9_:.]*"
    r"(?:\s*=\s*(?:\"[^\"<>]*\"|'[^'<>]*'|[^\s\"'<>]*))?)*\s*(/?)"
)
_ATTR_PAIR = re.compile(
    r"([a-zA-Z_:][-a-zA-Z0-9_:.]*)"
    r"(?:\s*=\s*(?:\"([^\"<>]*)\"|'([^'<>]*)'|([^\s\"'<>]*)))?"
)


class _FallBack(Exception):
    pass


def _fast_events(text: str) -> list[tuple]:
    """('start', tag, attrs, selfclose) / ('end', tag) / ('data', s) events
    for the strict subset; raises _FallBack outside it."""
    if _FAST_REJECT.search(text):
        raise _FallBack
    events: list[tuple] = []
    pos = 0
    for m in _FAST_TAG.finditer(text):
        seg = text[pos : m.start()]
        if "<" in seg:
            raise _FallBack  # bare '<' — html.parser has quirky recovery
        if seg:
            events.append(("data", seg))
        closing, name, body = m.group(1), m.group(2), m.group(3)
        name = name.lower()
        if closing:
            if body.strip():
                raise _FallBack  # attributes on an end tag
            events.append(("end", name))
        else:
            am = _FAST_ATTRS.fullmatch(body)
            if am is None:
                raise _FallBack
            attrs = None
            # the only tags whose attrs the collector reads: img (alt),
            # td/th (colspan/rowspan merged-cell detection)
            if name in ("img", "td", "th"):
                attrs = [
                    (
                        pm.group(1).lower(),
                        next(
                            (g for g in pm.group(2, 3, 4) if g is not None),
                            None,
                        ),
                    )
                    for pm in _ATTR_PAIR.finditer(body)
                ]
            events.append(("start", name, attrs or [], am.group(1) == "/"))
        pos = m.end()
    tail = text[pos:]
    if "<" in tail:
        raise _FallBack  # unterminated trailing tag
    if tail:
        events.append(("data", tail))
    return events


def _collect(text: str) -> _BlockCollector:
    """Run the block collector over ``text`` — fast scanner when the input
    is inside the verified subset, html.parser otherwise."""
    try:
        events = _fast_events(text)
    except _FallBack:
        parser = _BlockCollector()
        parser.feed(text)
        parser.close()
        return parser
    parser = _BlockCollector()
    for ev in events:
        kind = ev[0]
        if kind == "data":
            parser.handle_data(ev[1])
        elif kind == "start":
            _k, name, attrs, selfclose = ev
            parser.handle_starttag(name, attrs)
            if selfclose:
                # html.parser: handle_startendtag -> starttag + endtag
                # (for void tags too — event identity over tag taxonomy)
                parser.handle_endtag(name)
        else:
            parser.handle_endtag(ev[1])
    parser._flush()
    return parser


def build_page_from_collector(
    parser: _BlockCollector,
    page_no: int,
    url_hash: str,
    fig_start: int = 0,
    table_start: int = 0,
) -> PageResult:
    """Collector state -> one PageResult under the PINNED standalone-page
    rules (kept-filter, '\\n' join, binary-junk guard, char-span
    elements, table/figure structs). Shared by extract_html and the EPUB
    chapter path so the block semantics exist ONCE. Never raises for
    empty content (the caller decides: a standalone page hard-fails, an
    individual epub chapter may be empty); the junk guard raises."""
    kept = [(t, ld) for t, ld in parser.blocks if ld <= LINK_DENSITY_MAX]
    content = "\n".join(t for t, _ in kept)
    # Binary-junk guard (pinned): only fires when raw CONTROL chars survive
    # into content (legit pages never contain them; a few stray U+FFFD from
    # bad encodings alone never trigger it). Regex fast path: clean pages
    # (the overwhelming majority) pay one C-speed scan, not a Python loop.
    if content:
        ctrl = len(_CTRL_RE.findall(content))
        if ctrl > 0:
            repl = content.count("�")
            if (ctrl + repl) / len(content) > 0.10:
                raise UnsupportedFormatError(
                    "binary payload without recognized magic bytes"
                )

    elements: list[Element] = []
    offset = 0
    for t, _ld in kept:
        start = offset
        end = start + len(t)
        elements.append(
            Element(
                text=t,
                label=LABEL_BLOCK,
                page_no=page_no,
                bbox=None,
                char_start=start,
                char_end=end,
            )
        )
        offset = end + 1  # the "\n" separator

    tables: list[TableRef] = []
    ti = table_start
    for rows, caption, merged in parser.tables_raw:
        if not rows:
            continue
        tables.append(
            TableRef(
                table_id=f"{url_hash}_table_{ti}",
                page_number=page_no,
                num_rows=len(rows),
                num_cols=max(len(r) for r in rows),
                headers=tuple(rows[0]),
                cell_count=sum(len(r) for r in rows),
                csv=_table_csv(rows),
                caption=caption,
                has_merged_cells=merged,
            )
        )
        ti += 1

    figures = [
        FigureRef(
            figure_id=f"{url_hash}_figure_{fig_start + fi}",
            page_number=page_no,
            caption=caption,
            alt_text=alt,
            label="picture",
        )
        for fi, (alt, caption) in enumerate(parser.figures_raw)
    ]

    return PageResult(
        page_number=page_no,
        content=content,
        word_count=word_count(content),
        elements=elements,
        tables=tables,
        figures=figures,
    )


def extract_html(data: bytes, url_hash: str) -> ExtractionResult:
    """Extract main content from HTML bytes. Raises typed hard failures."""
    text = decode_html_bytes(data)
    parser = _collect(text)
    page = build_page_from_collector(parser, 1, url_hash)
    if not page.content:
        raise EmptyContentError("empty extracted content")
    return ExtractionResult(doc_type=DOC_TYPE_HTML, pages=[page])
