"""RTF extraction (reference MIME-table parity: lib/models/mime_type.py
lists RTF; routing at mime_type_utils.py:36-77).

From-scratch stdlib tokenizer over the RTF control stream — no external
parser. The dialect covers what word processors actually emit for text:
group nesting, destination groups, \\par/\\line breaks, \\'hh codepage
escapes, \\uN unicode escapes.

PINNED SEMANTICS (byte-identical invariant surface):

1. The payload must start with ``{\\rtf`` (dispatch guarantees it; a
   direct call on anything else raises CorruptedFileError).
2. Bytes decode latin-1 for tokenization; ``\\'hh`` escapes decode through
   cp1252 (the \\ansi default codepage).
3. Destination groups are dropped whole: any group opening with ``\\*``
   (starred destinations) or whose first control word is one of
   fonttbl, colortbl, stylesheet, info, header, footer, pict.
4. ``\\par`` and ``\\line`` emit "\\n"; ``\\tab`` emits " "; ``\\~`` emits
   a space; ``\\\\``, ``\\{``, ``\\}`` emit the literal char.
5. ``\\uN`` emits chr(N mod 65536) and skips the following ANSI fallback
   per the spec's ``\\ucN`` skip count (group-scoped, default 1): each
   skipped unit is one raw character or one ``\\'hh`` escape — the two
   shapes real writers emit (Word: ``\\uN\\'hh``; TextEdit: ``\\uc0\\uN``
   with no fallback). Skipping stops early at group braces or any other
   control sequence. Word encodes astral-plane characters as two
   consecutive ``\\uN`` escapes carrying a UTF-16 surrogate pair (e.g.
   ``\\u-10179\\'3f\\u-8704\\'3f``): adjacent high+low surrogates combine
   into the real code point; any lone surrogate becomes U+FFFD (a lone
   surrogate is not encodable, so it would otherwise abort Arrow
   serialization far outside the extract taxonomy).
6. Every other control word (with optional numeric parameter and one
   optional trailing space) is dropped.
7. ``content`` = accumulated text, ``str.strip()``-ed at the ends;
   empty -> EmptyContentError. One page, one "block" element spanning
   [0, len(content)).
"""

from __future__ import annotations

import re

from .model import (
    DOC_TYPE_RTF,
    LABEL_BLOCK,
    Element,
    ExtractionResult,
    PageResult,
    word_count,
)
from .taxonomy import CorruptedFileError, EmptyContentError

RTF_MAGIC = b"{\\rtf"

_DESTINATIONS = frozenset(
    {"fonttbl", "colortbl", "stylesheet", "info", "header", "footer", "pict"}
)

_CTRL_RE = re.compile(r"\\([a-zA-Z]+)(-?\d+)? ?|\\'([0-9a-fA-F]{2})|\\(.)")


def rtf_to_text(data: bytes) -> str:
    """Tokenize RTF bytes to plain text (pinned rules 2-6)."""
    src = data.decode("latin-1", errors="replace")
    out: list[str] = []
    pos = 0
    n = len(src)
    depth = 0
    skip_until_depth: int | None = None  # inside a dropped destination
    group_start = False  # just entered a group: first token decides dest
    uc = 1  # \ucN skip count, group-scoped (rule 5)
    uc_stack: list[int] = []
    pending_skip = 0  # fallback units still to swallow after a \uN
    pending_high: str | None = None  # high surrogate awaiting its low half
    while pos < n:
        ch = src[pos]
        if ch == "{":
            if pending_high is not None:  # group brace ends the pair (rule 5)
                out.append("�")
                pending_high = None
            depth += 1
            group_start = True
            uc_stack.append(uc)
            pending_skip = 0
            pos += 1
            continue
        if ch == "}":
            if pending_high is not None:
                out.append("�")
                pending_high = None
            depth -= 1
            if skip_until_depth is not None and depth < skip_until_depth:
                skip_until_depth = None
            group_start = False
            uc = uc_stack.pop() if uc_stack else 1
            pending_skip = 0
            pos += 1
            continue
        if ch == "\\":
            m = _CTRL_RE.match(src, pos)
            if not m:
                pos += 1
                continue
            word, _param, hexcode, esc = (
                m.group(1), m.group(2), m.group(3), m.group(4),
            )
            starts_group = group_start
            group_start = False
            pos = m.end()
            if skip_until_depth is not None:
                continue
            if esc == "*" and starts_group:
                skip_until_depth = depth  # starred destination (rule 3)
                continue
            if word is not None and starts_group and word in _DESTINATIONS:
                skip_until_depth = depth
                continue
            if hexcode is not None:
                if pending_skip:  # Word's \uN\'hh ANSI fallback shape
                    pending_skip -= 1
                    continue
                if pending_high is not None:
                    out.append("�")
                    pending_high = None
                out.append(bytes([int(hexcode, 16)]).decode("cp1252",
                                                            errors="replace"))
                continue
            if esc is not None:
                pending_skip = 0  # skipping stops at other escapes
                if pending_high is not None:
                    out.append("�")
                    pending_high = None
                if esc in "\\{}":
                    out.append(esc)
                elif esc == "~":
                    out.append(" ")
                continue
            if word == "uc":
                uc = int(_param) if _param else 1
                continue
            pending_skip = 0  # any other control word ends the skip
            if word == "u":
                code = int(_param) if _param else 0
                c = chr(code % 65536)
                pending_skip = uc  # swallow the ANSI fallback (rule 5)
                if "\ud800" <= c <= "\udbff":  # high surrogate: hold it
                    if pending_high is not None:
                        out.append("�")
                    pending_high = c
                elif "\udc00" <= c <= "\udfff":  # low surrogate
                    if pending_high is not None:  # combine the pair (rule 5)
                        out.append(chr(0x10000
                                       + ((ord(pending_high) - 0xD800) << 10)
                                       + (ord(c) - 0xDC00)))
                        pending_high = None
                    else:
                        out.append("�")  # lone low surrogate
                else:
                    if pending_high is not None:
                        out.append("�")
                        pending_high = None
                    out.append(c)
                continue
            if pending_high is not None and word in ("par", "line", "tab"):
                out.append("�")
                pending_high = None
            if word in ("par", "line"):
                out.append("\n")
            elif word == "tab":
                out.append(" ")
            # any other control word: dropped (rule 6)
            continue
        group_start = False
        if pending_skip and skip_until_depth is None:
            pending_skip -= 1  # raw fallback character after \uN
            pos += 1
            continue
        if skip_until_depth is None and ch not in "\r\n":
            if pending_high is not None:
                out.append("�")
                pending_high = None
            out.append(ch)
        pos += 1
    if pending_high is not None:
        out.append("�")
    return "".join(out)


def extract_rtf(data: bytes, url_hash: str) -> ExtractionResult:
    """Extract text from RTF bytes (pinned rules 1-7)."""
    if not data.startswith(RTF_MAGIC):
        raise CorruptedFileError("missing {\\rtf magic")
    content = rtf_to_text(data).strip()
    if not content:
        raise EmptyContentError("empty rtf document")
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
    return ExtractionResult(doc_type=DOC_TYPE_RTF, pages=[page])
