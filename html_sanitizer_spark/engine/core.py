"""The sanitize pipeline: string -> string, pure stdlib.

Stage order matches the reference engine exactly
(sanitizer.py:260-450, stages documented in SURVEY.md §3.1):

  1. unicode normalize (NFKC, or NFC under keep_typographic_whitespace) —
     BEFORE parsing, so fullwidth ``＜img`` becomes a real tag and is then
     filtered (security ordering, tests.py:658-666)
  2. overall whitespace normalization on the raw string
  3. wrap in <div>, parse with recovery
  4. coarse clean (kill scripts/styles/frames, neutralize javascript)
  5. reverse-document-order fixpoint walk (drop empties, flatten p-in-li/p,
     collapse <br> runs, merge adjacent same-tag siblings, filter
     attributes, sanitize hrefs, normalize whitespace per node)
  6. autolink (optional)
  7. strict clean (unwrap disallowed tags, optional nofollow)
  8. serialize + post regexes, strip wrapper

This function is designed to be executed inside an Arrow batch kernel (a
``mapInArrow`` or ``arrow_udf`` stage): it is deterministic,
allocation-light for KB-sized fragments, and all config lives in a
pickle-safe Settings captured by the kernel's closure.
"""

from __future__ import annotations

import re
import unicodedata

from . import cleaner as _cleaner
from .parser import parse_fragment
from .serializer import serialize, space_self_closing, strip_wrapper_div
from .settings import Settings, get_settings
from .tree import Element

__all__ = ["sanitize", "normalize_overall_whitespace", "filter_control_chars"]

_CONTROL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")
_LI_MARKER_RE = re.compile(r"^\s*(-|\*|&#183;)\s+")

# Exact literal list from the reference (sanitizer.py:52-63) — note the
# lowercase-hex-only numeric forms.
_WS_LITERALS = (
    "\xa0", "&nbsp;", "&#160;", "&#xa0;",
    "\n", "&#10;", "&#xa;",
    "\r", "&#13;", "&#xd;",
)


def filter_control_chars(text: str) -> str:
    """P5: strip control chars lxml can't represent (sanitizer.py:115-119)."""
    if not text:
        return text
    return _CONTROL_RE.sub("", text)


def normalize_overall_whitespace(html: str, settings: Settings) -> str:
    """F2: whole-string whitespace collapse (sanitizer.py:47-69)."""
    if settings.keep_typographic_whitespace:
        return html
    for lit in _WS_LITERALS:
        html = html.replace(lit, " ")
    return settings.whitespace_re.sub(" ", html)


def _normalize_node_ws(el: Element, settings: Settings) -> None:
    """F3 + P5 on one node's text/tail (sanitizer.py:122-150). Control chars
    are always filtered; whitespace collapse is skipped under
    keep_typographic_whitespace. One ``whitespace_re`` sub reaches the
    reference's fixpoint: it turns every maximal run of the class into one
    space, a space is in both classes, and the runs stay apart."""
    if el.text and _CONTROL_RE.search(el.text):
        el.text = _CONTROL_RE.sub("", el.text)
    if el.tail and _CONTROL_RE.search(el.tail):
        el.tail = _CONTROL_RE.sub("", el.tail)
    if settings.keep_typographic_whitespace:
        return
    ws_re = settings.whitespace_re
    if el.text:
        el.text = ws_re.sub(" ", el.text)
    if el.tail:
        el.tail = ws_re.sub(" ", el.tail)


def _doc_root(fragment_root: Element) -> Element:
    """Pick the document root the way lxml.html.fromstring does: the single
    top-level element if the fragment is exactly one element, else a fresh
    <div> adopting all the content."""
    kids = fragment_root._children
    if (
        len(kids) == 1
        and not (fragment_root.text or "").strip()
        and not (kids[0].tail or "").strip()
    ):
        root = kids[0]
        root._parent = None
        return root
    wrapper = Element("div")
    wrapper.text = fragment_root.text
    for child in list(kids):
        wrapper.append(child)
    return wrapper


# Any of these chars means the input can reach the tokenizer/serializer
# non-trivially: '<' opens tags/comments, '&' starts entities, and a bare
# '>' gets escaped to &gt; on serialize. Checked AFTER unicode
# normalization, which is what can CREATE them (＜ -> < under NFKC).
_MARKUP_CHAR_RE = re.compile(r"[<>&]")


def sanitize(html: str, settings: Settings | str | None = None) -> str:
    """Sanitize one HTML fragment. ``settings`` may be a Settings instance,
    a registered config name, or None for defaults."""
    if settings is None:
        settings = get_settings("default")
    elif isinstance(settings, str):
        settings = get_settings(settings)

    # stage 1: unicode normalization (sanitizer.py:269-279)
    if settings.keep_typographic_whitespace:
        html = unicodedata.normalize("NFC", html)
    else:
        html = unicodedata.normalize("NFKC", html)

    # Markup-free fast path: with no '<', '>', or '&' in the NORMALIZED
    # string, the whole tree pipeline is provably the identity on top-level
    # text — the wrapper <div> holds one text node the fixpoint walk never
    # visits (it iterates descendants), coarse/strict clean and the post
    # regexes need tags, entity decode needs '&', and serialize-escape is
    # the identity without <>&. What remains of stages 2-10 is exactly:
    # overall whitespace normalization, then the tokenizer's control-char
    # strip. autolink disqualifies (it DOES linkify root text) — and the
    # tree path (like sanitizer.py:428-431) runs it for True OR any dict
    # including the falsy {}, so the guard must test shape, not truthiness.
    # Equality with the tree path is pinned by tests/test_fuzz.py's
    # test_plain_fast_path_matches_tree_path and the sanitize_text_plain
    # DuckDB oracle replays the same reduction end-to-end in SQL.
    #
    # Clean text is a fixed point of this path. Call a fragment clean when
    # it is printable ASCII (0x20-0x7e) with no '<', '>' or '&' and no
    # double space. Then sanitize returns it unchanged, whatever the
    # settings, as long as autolink is off:
    #   - NFKC and NFC leave ASCII unchanged, so no markup char appears;
    #   - with no '\xa0', '\n', '\r' or '&', none of _WS_LITERALS matches;
    #   - its only whitespace is single spaces, and a single space is a
    #     fixed point of whitespace_re.sub(" ", ...) in both classes;
    #   - it has no control chars, so the \r and _CONTROL_RE subs are
    #     no-ops.
    # functions/udfs.py's batch kernel relies on this: it marks clean spans
    # in Arrow and never hands them to sanitize.
    if (
        settings.autolink is not True
        and not isinstance(settings.autolink, dict)
        and not _MARKUP_CHAR_RE.search(html)
    ):
        out = normalize_overall_whitespace(html, settings)
        # the tokenizer's XML line-ending normalization (parser: \r\n and
        # \r -> \n before tokenizing) — a no-op in NFKC mode where the \r
        # whitespace literal was already collapsed, load-bearing under
        # keep_typographic_whitespace (golden keep_typographic[1])
        out = out.replace("\r\n", "\n").replace("\r", "\n")
        return _CONTROL_RE.sub("", out)

    return _sanitize_tree(html, settings)


def _sanitize_tree(html: str, settings: Settings) -> str:
    """Stages 2-10 on an already unicode-normalized fragment (the tree
    path; exposed separately so tests can force it on inputs the fast
    path would claim)."""
    # stage 2: overall whitespace normalization (sanitizer.py:269-279)
    html = normalize_overall_whitespace(html, settings)

    # stage 3-4: wrap + parse (sanitizer.py:280-287)
    doc = _doc_root(parse_fragment("<div>%s</div>" % html))

    # stage 5: coarse clean (sanitizer.py:289-299)
    _cleaner.coarse_clean(doc, settings.tags)

    # stage 6: fixpoint walk (sanitizer.py:303-426)
    _fixpoint_walk(doc, settings)

    # stage 7: autolink (sanitizer.py:428-431)
    if settings.autolink is True:
        _cleaner.autolink(doc)
    elif isinstance(settings.autolink, dict):
        _cleaner.autolink(doc, **settings.autolink)

    # stage 8: strict clean (sanitizer.py:434-440)
    if settings.add_nofollow:
        _cleaner.add_nofollow_links(doc)
    _cleaner.strict_clean(doc, settings.tags)

    # stage 9-10: serialize + post regexes (sanitizer.py:442-448)
    out = serialize(doc)
    out = space_self_closing(out)
    return strip_wrapper_div(out)


from . import processors as _procs

_DEFAULT_PREPROCESSORS = (
    _procs.bold_span_to_strong,
    _procs.italic_span_to_em,
    _procs.target_blank_noopener,
    _procs.anchor_id_to_name,
)


def _fused_default_preprocess(el: Element) -> Element:
    """Single-dispatch equivalent of the default preprocessor chain
    (sanitizer.py:178-189): behavior-identical, one call per element
    instead of seven."""
    tag = el.tag
    if tag == "span":
        style = el.attrib.get("style", "")
        if "bold" in style:
            el.tag = "strong"
        elif "italic" in style:
            el.tag = "em"
    elif tag == "b":
        el.tag = "strong"
    elif tag == "i":
        el.tag = "em"
    elif tag == "form":
        el.tag = "p"
    elif tag == "a":
        _procs.target_blank_noopener(el)
        _procs.anchor_id_to_name(el)
    return el


def _is_default_preprocessor_chain(procs: list) -> bool:
    if len(procs) != 7:
        return False
    names = [getattr(f, "__name__", "") for f in procs]
    return names == [
        "bold_span_to_strong",
        "italic_span_to_em",
        "replace_b_with_strong",
        "replace_i_with_em",
        "replace_form_with_p",
        "target_blank_noopener",
        "anchor_id_to_name",
    ] and procs[0] is _procs.bold_span_to_strong


def _fixpoint_walk(doc: Element, settings: Settings) -> None:
    """Reverse-document-order worklist over all descendants, with re-enqueue
    after merges/strips so transitive effects converge (the reference's
    deque-backlog loop, sanitizer.py:303-426).

    Reverse order guarantees every sibling/child an action touches was
    already visited, so structural edits never invalidate pending work.
    Unlike the reference we tolerate re-visiting a node that has since been
    detached (guarded drops) — on adversarial real-world input that path
    would crash lxml's drop_tag assertion.
    """
    only_ws = settings.only_whitespace_re
    mergeable_tags = settings.tags - settings.separate
    stack: list[Element] = doc.descendants_list()

    preprocessors = settings.element_preprocessors
    fused_default = _is_default_preprocessor_chain(preprocessors)

    while stack:
        el = stack.pop()

        if fused_default:
            el = _fused_default_preprocess(el)
        else:
            for proc in preprocessors:
                el = proc(el)

        _normalize_node_ws(el, settings)

        attached = el.getparent() is not None

        # P6: drop empty elements (sanitizer.py:320-327)
        if (
            (not el.text or only_ws.match(el.text))
            and el.tag not in settings.empty
            and not len(el)
        ):
            if attached:
                el.drop_tag()
            continue

        # P7: drop whitespace-only subtrees (sanitizer.py:329-337)
        if (
            el.tag not in settings.empty
            and only_ws.match(el.text or "")
            and {c.tag for c in el} <= settings.whitespace
            and all(only_ws.match(c.tail or "") for c in el)
        ):
            if attached:
                el.drop_tree()
            continue

        if el.tag in ("li", "p"):
            # F12: flatten p-in-li / p-in-p with space padding
            # (sanitizer.py:339-344)
            for p in el.findall("p"):
                if p.text:
                    p.text = " " + p.text + " "
                p.drop_tag()
            # P8: strip copy-pasted list markers (sanitizer.py:346-350)
            if el.text:
                el.text = filter_control_chars(_LI_MARKER_RE.sub("", el.text))
        elif el.tag in settings.whitespace:
            # A2: collapse consecutive <br>-likes (sanitizer.py:352-363)
            nxt = el.getnext()
            if (
                nxt is not None
                and nxt.tag == el.tag
                and (not el.tail or only_ws.match(el.tail))
            ):
                nxt.drop_tag()

        if not el.text:
            # A3: strip leading <br>-likes (sanitizer.py:365-372)
            first = el._children[0] if el._children else None
            if first is not None and first.tag in settings.whitespace:
                first.drop_tag()
                stack.append(el)  # there may be more than one
                continue

        if el.tag in mergeable_tags:
            # A1: merge adjacent same-tag siblings separated by nothing or
            # whitespace (sanitizer.py:374-406). Tail handling is
            # asymmetric on purpose: with children the whitespace tail is
            # discarded, without children it is kept (the 2.5 fix).
            nxt = el.getnext()
            if (
                only_ws.match(el.tail or "")
                and nxt is not None
                and nxt.tag == el.tag
                and settings.is_mergeable(el, nxt)
            ):
                if nxt.text:
                    if len(el):
                        last = el._children[-1]
                        last.tail = (last.tail or "") + nxt.text
                    else:
                        el.text = (el.text or "") + (el.tail or "") + nxt.text
                for child in nxt:
                    el.append(child)
                el.tail = nxt.tail
                nxt.getparent().remove(nxt)
                stack.append(el)  # transitive merges (<hr><hr><hr>)
                continue

        for proc in settings.element_postprocessors:
            el = proc(el)

        # P3: attribute allowlist (sanitizer.py:411-415)
        allowed = settings.attributes.get(el.tag, ())
        for key in list(el.attrib):
            if key not in allowed:
                del el.attrib[key]

        # P4: href policy (sanitizer.py:417-420)
        href = el.get("href")
        if href is not None:
            el.set("href", settings.sanitize_href(href))

        _normalize_node_ws(el, settings)
