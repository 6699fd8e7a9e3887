"""HTML fragment parser with libxml2-style error recovery.

The reference parses via ``lxml.html.fromstring`` (sanitizer.py:281-287),
i.e. libxml2's recovering HTML parser. This is an original stdlib
re-implementation of the *recovery behaviors the golden corpus exercises*
(tests.py — notably test_05 implicit <p> close, test_10 broken html,
test_billion_laughs doctype residue, test_entities):

- implicit close: <p> is closed by block-level start tags (so ``<p>foo<p>bar``
  becomes siblings), <li> by <li>, <a> by <a>, dt/dd/tr/td/th by their peers;
- unmatched end tags are ignored; open elements auto-close at EOF;
- ``<`` not followed by a name start is literal text (``<>`` survives as text);
- a tag left incomplete at EOF (``<p/``) is dropped entirely;
- ``<!...>`` / ``<?...>`` are consumed as bogus comments / PIs up to the first
  ``>`` and dropped (comments/PIs are unconditionally removed by the
  reference's Cleaner pass, sanitizer.py:289-299, so dropping at parse time
  is equivalent and cheaper) — this reproduces the billion-laughs ``]>``
  residue;
- HTML4 named entities are decoded (unknown names stay literal), numeric
  character references are decoded; a terminating ``;`` is required;
- <script>/<style> content is raw text (no entity decoding, no tags);
- \r\n and \r are normalized to \n (XML line-ending normalization, which is
  how the reference's keep_typographic_whitespace mode turns \r into \n,
  tests.py:432-437).
"""

from __future__ import annotations

import re
from html.entities import entitydefs as _HTML4_ENTITIES

from .tree import Element

__all__ = ["parse_fragment", "decode_entities", "VOID_ELEMENTS"]

VOID_ELEMENTS = frozenset(
    "area base basefont br col embed frame hr img input isindex keygen "
    "link meta param source track wbr".split()
)

# Raw-text elements: content is CDATA until the matching close tag.
_RAW_TEXT = frozenset({"script", "style"})
# RCDATA: entities decoded but no nested tags.
_RCDATA = frozenset({"textarea", "title"})

# Start tags that implicitly close an open <p> (libxml2 htmlAutoClose /
# HTML block-level content model).
_P_CLOSERS = frozenset(
    "address article aside blockquote center details dialog dir div dl dd dt "
    "fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup "
    "hr li main menu nav ol p pre section summary table ul".split()
)

# tag -> set of start tags that implicitly close it
_CLOSED_BY = {
    "p": _P_CLOSERS,
    "li": frozenset({"li"}),
    "a": frozenset({"a"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "option": frozenset({"option", "optgroup"}),
    "tr": frozenset({"tr"}),
    "td": frozenset({"td", "th", "tr"}),
    "th": frozenset({"td", "th", "tr"}),
}

# Implied end tags close THROUGH intermediate open elements (HTML5 "in
# scope" checks; fuzz-found 2026-08: '<a><t><a>' must not build nested
# anchors just because an unknown — later unwrapped — element sits between
# them, or the serialized output re-parses differently than the tree that
# produced it). Keyed by the tag BEING CLOSED — HTML5 consults the scope
# of the element whose implied end tag would be generated, not the
# incoming tag — so the candidate is protected when one of its barrier
# elements is open ABOVE it: a new <ul>/<ol> protects an outer <li>
# (list-item scope), <dl> protects dt/dd, <table> protects tr/td/th,
# button scope protects <p>, and the table/cell formatting marker
# protects <a> (ADVICE r04 #3: an <a> open outside a table must not be
# closed by an <a> inside a td, popping table/tr/td off the stack).
# HTML5's base "in scope" list — every scope variant includes these; an
# li/dt/dd close-scan additionally breaks at any "special" element except
# address/div/p, approximated here by the scope list + the list container
# + button (the full special list — section, h1, etc. — is intentionally
# not modeled; documented narrower-barrier approximation).
_BASE_SCOPE = frozenset(
    {"applet", "caption", "table", "td", "th", "marquee", "object", "template"}
)
_SCOPE_BARRIER = {
    "li": _BASE_SCOPE | frozenset({"ul", "ol", "button"}),
    "dt": _BASE_SCOPE | frozenset({"dl", "button"}),
    "dd": _BASE_SCOPE | frozenset({"dl", "button"}),
    "option": frozenset({"select"}),
    "optgroup": frozenset({"select"}),
    "tr": _BASE_SCOPE,
    "td": _BASE_SCOPE,
    "th": _BASE_SCOPE,
    "p": _BASE_SCOPE | frozenset({"button"}),
    "a": _BASE_SCOPE,
}
_NO_BARRIER: frozenset = frozenset()
# Start tags that can imply ANY close — everything else (b, em, span, ...)
# skips the stack scan entirely (hot path: most opens close nothing).
_CAN_CLOSE = frozenset().union(*_CLOSED_BY.values())

_ENTITY_RE = re.compile(r"&(?:#(?P<dec>[0-9]+)|#[xX](?P<hex>[0-9a-fA-F]+)|(?P<name>[a-zA-Z][a-zA-Z0-9]*));")

# Control characters libxml2 refuses in text content (the reference filters
# them per-element during its walk, sanitizer.py:115-119; filtering at
# tokenize time additionally covers top-level text, which the walk never
# visits — same result on every golden pair, strictly cleaner output).
_CONTROL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")

_NAME_START = re.compile(r"[a-zA-Z]")
_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9._:-]*")
_ATTR_NAME_RE = re.compile(r"[^\s=/>]+")
_WS_RE = re.compile(r"[ \t\n\f\r]+")


def _decode_one(m: re.Match) -> str:
    dec, hexa, name = m.group("dec"), m.group("hex"), m.group("name")
    if name is not None:
        ch = _HTML4_ENTITIES.get(name)
        # Unknown entity names survive literally (tests.py:560-566 &lol9;).
        return ch if ch is not None else m.group(0)
    code = int(dec, 10) if dec is not None else int(hexa, 16)
    if 0 < code <= 0x10FFFF and not (0xD800 <= code <= 0xDFFF):
        return chr(code)
    return "�"


def decode_entities(s: str) -> str:
    """Decode HTML4 named + numeric character references; leave unknown
    names and bare ``&`` literal (libxml2 recovery behavior)."""
    if "&" not in s:
        return s
    return _ENTITY_RE.sub(_decode_one, s)


class _TreeBuilder:
    def __init__(self) -> None:
        self.root = Element("#fragment")
        self.stack: list[Element] = [self.root]

    def _top(self) -> Element:
        return self.stack[-1]

    def add_text(self, text: str) -> None:
        if text and _CONTROL_RE.search(text):
            text = _CONTROL_RE.sub("", text)
        if not text:
            return
        top = self._top()
        if top._children:
            last = top._children[-1]
            last.tail = (last.tail or "") + text
        else:
            top.text = (top.text or "") + text

    def open_tag(self, name: str, attrs: dict, self_closing: bool) -> None:
        # implicit closes (p-in-p, li-in-li, a-in-a, ...): scan down for an
        # open element this start tag implies closed — THROUGH intermediate
        # elements (else '<a><t><a>' builds nested anchors the serialized
        # output can't round-trip). A candidate is skipped when one of ITS
        # scope-barrier elements is open above it (_SCOPE_BARRIER, keyed by
        # the closed tag): a nested <ul> protects the outer <li>, an open
        # <td> protects an <a> outside the table. Loop to drain chains
        # ('<ul><li><p><li>': the li closes the p, then the outer li).
        if name in _CAN_CLOSE and len(self.stack) > 1:
            while True:
                idx = None
                crossed: set = set()
                for i in range(len(self.stack) - 1, 0, -1):
                    tag = self.stack[i].tag
                    if name in _CLOSED_BY.get(
                        tag, _NO_BARRIER
                    ) and not crossed & _SCOPE_BARRIER.get(tag, _NO_BARRIER):
                        idx = i
                        break
                    crossed.add(tag)
                if idx is None:
                    break
                del self.stack[idx:]
        el = Element(name, attrs)
        self._top().append(el)
        if name in VOID_ELEMENTS:
            return  # void elements never go on the stack
        # An explicit "/" on a non-void element is ignored by the HTML parser
        # (treated as a plain open tag), matching libxml2/HTML5.
        self.stack.append(el)

    def close_tag(self, name: str) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == name:
                del self.stack[i:]
                return
        # unmatched end tag: ignored (tests.py:133 trailing </p>)

    def finish(self) -> Element:
        return self.root


def parse_fragment(html: str) -> Element:
    """Parse an HTML string into a ``#fragment``-rooted Element tree.

    Comments, PIs, doctypes and bogus ``<!`` markup are dropped here (the
    reference drops them in its first Cleaner pass; no caller observes them
    in between). Returns the synthetic root whose children are the
    top-level nodes.
    """
    html = html.replace("\r\n", "\n").replace("\r", "\n")
    b = _TreeBuilder()
    i, n = 0, len(html)
    text_start = 0

    def flush_text(end: int) -> None:
        if end > text_start:
            b.add_text(decode_entities(html[text_start:end]))

    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            break
        c = html[lt + 1] if lt + 1 < n else ""
        if c == "/":
            m = _TAG_NAME_RE.match(html, lt + 2)
            if m:
                gt = html.find(">", m.end())
                if gt < 0:
                    # incomplete end tag at EOF: dropped
                    flush_text(lt)
                    text_start = n
                    break
                flush_text(lt)
                b.close_tag(m.group(0).lower())
                i = text_start = gt + 1
            else:
                # </ followed by junk: bogus comment to next '>'
                gt = html.find(">", lt + 2)
                flush_text(lt)
                i = text_start = (gt + 1) if gt >= 0 else n
                if gt < 0:
                    break
        elif _NAME_START.match(c or ""):
            parsed = _parse_start_tag(html, lt)
            if parsed is None:
                # incomplete start tag at EOF: dropped entirely (tests.py:184)
                flush_text(lt)
                text_start = n
                break
            name, attrs, self_closing, after = parsed
            flush_text(lt)
            b.open_tag(name, attrs, self_closing)
            i = text_start = after
            if name in _RAW_TEXT or name in _RCDATA:
                close_at = html.lower().find("</" + name, after)
                if close_at < 0:
                    # raw text runs to EOF
                    chunk = html[after:]
                    b.add_text(chunk if name in _RAW_TEXT else decode_entities(chunk))
                    b.close_tag(name)
                    text_start = n
                    break
                chunk = html[after:close_at]
                b.add_text(chunk if name in _RAW_TEXT else decode_entities(chunk))
                gt = html.find(">", close_at)
                b.close_tag(name)
                i = text_start = (gt + 1) if gt >= 0 else n
                if gt < 0:
                    break
        elif c == "!":
            if html.startswith("<!--", lt):
                end = html.find("-->", lt + 4)
                flush_text(lt)
                i = text_start = (end + 3) if end >= 0 else n
                if end < 0:
                    break
            else:
                gt = html.find(">", lt + 2)
                flush_text(lt)
                i = text_start = (gt + 1) if gt >= 0 else n
                if gt < 0:
                    break
        elif c == "?":
            gt = html.find(">", lt + 2)
            flush_text(lt)
            i = text_start = (gt + 1) if gt >= 0 else n
            if gt < 0:
                break
        else:
            # '<' not starting markup: literal text (tests.py:184 '<>')
            i = lt + 1
    flush_text(n)
    return b.finish()


def _parse_start_tag(html: str, lt: int):
    """Parse ``<name attr=val ...>`` starting at ``lt``.

    Returns (name, attrs, self_closing, index_after_gt) or None if the tag
    is unterminated at EOF (libxml2 drops such tags).
    """
    n = len(html)
    m = _TAG_NAME_RE.match(html, lt + 1)
    assert m
    name = m.group(0).lower()
    attrs: dict[str, str] = {}
    i = m.end()
    self_closing = False
    while True:
        ws = _WS_RE.match(html, i)
        if ws:
            i = ws.end()
        if i >= n:
            return None
        ch = html[i]
        if ch == ">":
            return name, attrs, self_closing, i + 1
        if ch == "/":
            j = i + 1
            ws2 = _WS_RE.match(html, j)
            if ws2:
                j = ws2.end()
            if j < n and html[j] == ">":
                return name, attrs, True, j + 1
            if j >= n:
                return None
            i = i + 1  # stray '/': skip
            continue
        am = _ATTR_NAME_RE.match(html, i)
        if not am:
            i += 1
            continue
        attr_name = am.group(0).lower()
        i = am.end()
        ws = _WS_RE.match(html, i)
        if ws:
            i = ws.end()
        value = ""
        if i < n and html[i] == "=":
            i += 1
            ws = _WS_RE.match(html, i)
            if ws:
                i = ws.end()
            if i >= n:
                return None
            q = html[i]
            if q in ("'", '"'):
                end = html.find(q, i + 1)
                if end < 0:
                    return None
                value = decode_entities(html[i + 1 : end])
                i = end + 1
            else:
                vm = re.compile(r"[^\s>]*").match(html, i)
                value = decode_entities(vm.group(0))
                i = vm.end()
        if attr_name not in attrs:
            attrs[attr_name] = value
