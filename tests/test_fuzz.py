"""Property-based fuzzing of the engine (hypothesis): on arbitrary hostile
input the sanitizer must never crash, must emit only allowed tags, must
never emit a javascript: href or a control character, and must stay within
linear output blowup."""

from __future__ import annotations

import re

from hypothesis import given, settings as hsettings, strategies as st

from html_sanitizer_spark.engine.core import sanitize
from html_sanitizer_spark.engine.settings import TYPOGRAPHIC_WHITESPACE, Settings

_SETTINGS = Settings()
_ALLOWED = _SETTINGS.tags

_HTMLISH = st.text(
    alphabet=(
        "abAB <>/&\"'=;:#!?-_.\n\t\r\x00\x01\x7f"
        "<>pahref=javascript:scriptstyleform  ＜＞｡😀&#xa0;&lt;&nbsp;"
    ),
    max_size=400,
)

_TAG_RE = re.compile(r"</?([a-zA-Z][a-zA-Z0-9]*)")
_CONTROL_RE = re.compile(r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]")


@given(_HTMLISH)
@hsettings(max_examples=300, deadline=None)
def test_never_crashes_and_output_is_clean(html):
    out = sanitize(html, _SETTINGS)
    # only allowed tags survive
    for m in _TAG_RE.finditer(out):
        assert m.group(1).lower() in _ALLOWED, (html, out)
    # no control characters in the output
    assert not _CONTROL_RE.search(out), (html, out)
    # no javascript: URLs
    assert "javascript:" not in out.lower().replace(" ", ""), (html, out)
    # bounded blowup (entity escaping expands at most ~6x + wrapper slack)
    assert len(out) <= 6 * len(html) + 64, (len(html), len(out))


@given(_HTMLISH)
@hsettings(max_examples=150, deadline=None)
def test_typographic_mode_never_crashes(html):
    s = Settings({"keep_typographic_whitespace": True})
    out = sanitize(html, s)
    for m in _TAG_RE.finditer(out):
        assert m.group(1).lower() in s.tags


@given(_HTMLISH)
@hsettings(max_examples=150, deadline=None)
def test_parse_serialize_roundtrip_stable(html):
    """Sanitized output must round-trip our own parser/serializer exactly
    (when free of '&', whose re-decoding is inherently lossy): the output
    is well-formed by construction."""
    from html_sanitizer_spark.engine.parser import parse_fragment
    from html_sanitizer_spark.engine.serializer import serialize_children

    out = sanitize(html, _SETTINGS)
    if "&" in out:
        return
    again = serialize_children(parse_fragment(out))
    assert again == out, (html, out, again)


@given(st.lists(st.sampled_from(
    ["<p>", "</p>", "<li>", "</li>", "<strong>", "</strong>", "<br>",
     "<hr>", "text ", "&amp;", "<h2>", "</h2>", "<a href='/x'>", "</a>"]),
    max_size=60))
@hsettings(max_examples=200, deadline=None)
def test_tag_soup_structured(parts):
    """Structured tag soup: re-sanitizing must be stable from the second
    pass on. (One-pass idempotence is false for the *reference* too — its
    single reverse-order walk can expose a new adjacency only after the
    merge stage already passed that subtree, e.g. an empty-<a> drop leaving
    two adjacent <h2>s; and p-flatten pads with spaces after the receiving
    sibling was already normalized — hence second-pass comparison and the
    whitespace-insensitive form.)"""
    html = "".join(parts)
    once = sanitize(html, _SETTINGS)
    twice = sanitize(once, _SETTINGS)
    thrice = sanitize(twice, _SETTINGS)
    assert re.sub(r" +", " ", thrice) == re.sub(r" +", " ", twice), (
        html, once, twice, thrice,
    )


# ---------------------------------------------------------------------------
# Recovery corpus beyond the golden 112 (VERDICT r01 #9): nested tables /
# selects, mis-nested inline tags, CDATA-ish junk, doctype/PI noise, broken
# attributes, foreign content. Contract: no crash, only allowed tags, no
# control chars, structurally idempotent.
# ---------------------------------------------------------------------------

_NASTY_CASES = [
    "<table><tr><td>a<td>b</table>tail",
    "<table><thead><tr><th>h</table><p>after</p>",
    "<select><option>a<option>b</select>done",
    "<b><i>mis</b>nested</i> tail",
    "<em><strong>x</em></strong>y",
    "<strong><p>block in inline</strong></p>",
    "<![CDATA[ <script>x()</script> ]]>after",
    "<!-- comment --><p>x</p><!-->",
    "<!--[if IE]><script>evil()</script><![endif]--><p>safe</p>",
    "<!DOCTYPE html><?php echo 1 ?><p>y</p>",
    "<p><table><p>nested block</p></table></p>",
    "<ul><li>a<ul><li>b</li></ul>",
    "<ol><li><ol><li><ol><li>deep</ol>",
    "<a href='/x'><a href='/y'>double anchor</a></a>",
    "<p>unclosed <em>emphasis",
    "</p>stray close<p>ok</p></em></strong>",
    "<p foo='bar' foo='baz' =x>dupe attrs</p>",
    "<p/><br/><hr/>self closed blocks",
    "<style>p{color:red}</style><p>after style</p>",
    "<script src=x>var a='</p>';</script><p>after script</p>",
    "<textarea><p>inside</p></textarea>",
    "<svg onload=alert(1)><circle r='1'/></svg>text",
    "<math><mi>x</mi><annotation-xml><p>y</p></annotation-xml></math>",
    "<p>&#xD800;&#x110000;&#0;bad refs</p>",
    "&#xfeff;&notanentity;&amp",
    "<p title='unterminated>x</p><p>next</p>",
    '<p ="weird" == =>y</p>',
    "<" + "div" * 200 + ">absurd tagname</div>",
    "<p>" + "<span>" * 300 + "deep inline" + "</span>" * 100,
    "a<br/>b<br />c<br>d</br>e",
]


def _assert_clean(html, out):
    for m in _TAG_RE.finditer(out):
        assert m.group(1).lower() in _ALLOWED, (html, out)
    assert not _CONTROL_RE.search(out), (html, out)
    assert "javascript:" not in out.lower().replace(" ", ""), (html, out)


def test_nasty_recovery_corpus():
    for html in _NASTY_CASES:
        once = sanitize(html, _SETTINGS)
        twice = sanitize(once, _SETTINGS)
        _assert_clean(html, once)
        assert re.sub(r" +", " ", twice) == re.sub(r" +", " ", once), (
            html, once, twice,
        )


_SOUP_PARTS = [
    "<table>", "</table>", "<tr>", "<td>", "<select>", "<option>",
    "</select>", "<b>", "</i>", "<i>", "</b>", "<em>", "</strong>",
    "<strong>", "</em>", "<p>", "</p>", "<li>", "<ul>", "</ul>", "<div>",
    "</div>", "<span class='x'>", "</span>", "<![CDATA[x]]>", "<!-- c -->",
    "<!DOCTYPE x>", "<?pi ?>", "text ", "&amp;", "&#65;", "<a href='/x'>",
    "</a>", "<br>", "<td colspan=2>",
]


@given(st.lists(st.sampled_from(_SOUP_PARTS), max_size=40))
@hsettings(max_examples=250, deadline=None)
def test_misnested_structured_soup(parts):
    """Arbitrary interleavings of table/select/inline open-close tags and
    markup junk: recovery must be crash-free, allowlist-clean, and stable
    from the second pass on. (One-pass idempotence is false for the
    REFERENCE too: its strict unwrap pass runs after the p-in-li flatten
    walk, so '<li><table><p>x' legitimately needs a second pass to settle —
    the property here is no oscillation beyond that.)"""
    html = "".join(parts)
    once = sanitize(html, _SETTINGS)
    twice = sanitize(once, _SETTINGS)
    thrice = sanitize(twice, _SETTINGS)
    _assert_clean(html, once)
    _assert_clean(html, twice)
    assert re.sub(r" +", " ", thrice) == re.sub(r" +", " ", twice), (
        html, twice, thrice,
    )


_CONFIG_POOL_TAGS = [
    "a", "b", "br", "em", "h1", "h2", "h3", "hr", "i", "li", "ol", "p",
    "strong", "sub", "sup", "ul", "span", "div", "table",
]


def _settings_from_seed(seed: int):
    """Deterministic random-but-valid Settings (r04 settings-matrix fuzz:
    a 192k-pair campaign over this generator found zero violations; this
    property keeps the matrix pinned in CI)."""
    import random

    rng = random.Random(seed)
    tags = set(rng.sample(_CONFIG_POOL_TAGS, rng.randint(3, len(_CONFIG_POOL_TAGS))))
    tags.add("p")
    attrs = {}
    if "a" in tags:
        ch = ["href", "name", "title"]
        if rng.random() < 0.5:
            ch += ["target", "rel"]
        attrs["a"] = tuple(ch)
    ov = {
        "tags": tags,
        "empty": {t for t in ("hr", "a", "br") if t in tags and rng.random() < 0.8},
        "separate": {t for t in ("a", "p", "li") if t in tags and rng.random() < 0.8},
        "whitespace": {t for t in ("br",) if t in tags and rng.random() < 0.8},
        "attributes": attrs,
        "keep_typographic_whitespace": rng.random() < 0.3,
        "add_nofollow": rng.random() < 0.3,
        # all four public shapes — False / True / {} / kwargs dict. The
        # falsy {} is load-bearing: the tree path runs autolink for ANY
        # dict (sanitizer.py:428-431), so a truthiness-based fast-path
        # guard silently diverges on it (ADVICE r04 #1).
        "autolink": (
            False if (r := rng.random()) < 0.55
            else True if r < 0.75
            else {} if r < 0.9
            else {"avoid_hosts": []}
        ),
    }
    return Settings(ov), ov


@given(st.integers(0, 2**32 - 1), _HTMLISH)
@hsettings(max_examples=200, deadline=None)
def test_random_settings_matrix(seed, html):
    """The engine's invariants must hold for EVERY valid configuration,
    not just the defaults: only configured tags survive, no control chars,
    no javascript: URLs, stability from the second pass on, and the
    add_nofollow contract on every external link."""
    s, ov = _settings_from_seed(seed)
    out = sanitize(html, s)
    for m in _TAG_RE.finditer(out):
        assert m.group(1).lower() in s.tags, (html, out)
    assert not _CONTROL_RE.search(out), (html, out)
    assert "javascript:" not in out.lower().replace(" ", ""), (html, out)
    twice = sanitize(out, s)
    assert sanitize(twice, s) == twice, (html, out, twice)
    if ov["add_nofollow"] and "a" in s.tags:
        for m in re.finditer(r"<a\s[^>]*href=\"https?://[^\"]*\"[^>]*>", out):
            assert "nofollow" in m.group(0), (html, m.group(0))


_PLAINISH = st.text(
    alphabet=(
        "abAB \xa0’ﬁ｡😀 \n\t\r\x00\x01\x0b\x7f.-_:/h t p s w"
        # fullwidth AND small-form compat chars that NFKC into real
        # markup (＜＞＆﹤﹥﹠) -> the guard must see them POST-normalize
        # and disqualify (192k-example r04 campaign: zero divergences)
        "＜＞＆﹤﹥﹠"
    ),
    max_size=300,
)


@given(st.integers(0, 2**32 - 1), _PLAINISH)
@hsettings(max_examples=300, deadline=None)
def test_plain_fast_path_matches_tree_path(seed, text):
    """The markup-free fast path must be byte-identical to the full tree
    pipeline on every input it claims (r04: the claim is checked on the
    NORMALIZED string, so NFKC-created brackets fall through to the tree
    path), for every valid configuration."""
    import unicodedata

    from html_sanitizer_spark.engine import core

    s, _ = _settings_from_seed(seed)
    form = "NFC" if s.keep_typographic_whitespace else "NFKC"
    normalized = unicodedata.normalize(form, text)
    if s.autolink or core._MARKUP_CHAR_RE.search(normalized):
        return  # fast path does not claim this input
    assert sanitize(text, s) == core._sanitize_tree(normalized, s), (
        text, normalized,
    )


_DEEP_SOUP_PARTS = [
    "<ul>", "</ul>", "<ol>", "</ol>", "<li>", "</li>", "<p>", "</p>",
    "<a href='/x'>", "<a href=\"https://e.org/y\" target=_blank rel=x>",
    "</a>", "<dl>", "<dt>", "<dd>", "</dl>", "<table>", "<tr>", "<td>",
    "</table>", "<b>", "</b>", "<em>", "</em>",
    "<span style='font-weight: bold'>", "</span>", "<div>", "</div>",
    "<t>", "</t>", "＜a＞", "＜/a＞", "<p title='q>r'>", "<p a=1 a=2 b>",
    "<a name=n id=i>", "<hr>", "<br>", "<h2>", "</h2>",
    "text ", "* ", "- ", "&amp;", "&#183; ", " ", "\r\n", "\t",
]


@given(st.lists(st.sampled_from(_DEEP_SOUP_PARTS), max_size=120))
@hsettings(max_examples=250, deadline=None)
def test_deep_soup_converges_monotonically(parts):
    """Deep soup with list markers and unwrapped containers: convergence
    can take SEVERAL passes — strict unwrap (post-walk) exposes a list
    marker, stripping it (next pass) exposes emptiness, the empty-drop
    (pass after) exposes a merge... The REFERENCE has the identical
    cascade by construction (sanitizer.py:320-350: the empty check runs
    BEFORE the marker strip within a visit and the strip does not
    re-enqueue; strict lxml-clean runs after the walk entirely), so
    two-pass stability is NOT the contract here — bounded monotone
    convergence is: a fixpoint within 10 passes (worst measured over 80k
    random inputs: 7), with every intermediate output allowlist-clean.
    r04 fuzz campaign finding."""
    html = "".join(parts)
    prev = sanitize(html, _SETTINGS)
    for _ in range(10):
        _assert_clean(html, prev)
        nxt = sanitize(prev, _SETTINGS)
        if nxt == prev:
            break
        prev = nxt
    else:
        raise AssertionError(f"no fixpoint within 10 passes: {html!r}")


def test_unwrap_marker_empty_cascade_is_a_reference_artifact():
    """The minimal 3-pass chain, pinned as equality: '<p><t>* ' — the
    unknown <t> is unwrapped AFTER the walk (so pass 1 keeps the marker),
    pass 2's walk strips the marker but the empty check already ran for
    that element (reference visit order, sanitizer.py:320-350), pass 3
    drops the now-empty <p>. The reference produces the same chain."""
    one = sanitize("<p><t>* ", _SETTINGS)
    assert one == "<p>* </p>"
    two = sanitize(one, _SETTINGS)
    assert two == "<p></p>"
    three = sanitize(two, _SETTINGS)
    assert three == ""
    assert sanitize(three, _SETTINGS) == ""


@given(
    st.text(alphabet=" \t\n\r\x0b\x0c\x1c\x1f\x85\u200b\u2028\u3000ab"
            + TYPOGRAPHIC_WHITESPACE, max_size=80),
    st.booleans(),
)
@hsettings(max_examples=300, deadline=None)
def test_whitespace_collapse_is_idempotent(text, typographic):
    """One ``whitespace_re`` sub reaches the fixpoint the reference loops
    to, under both whitespace classes: ``_normalize_node_ws`` runs it
    once."""
    ws_re = Settings({"keep_typographic_whitespace": typographic}).whitespace_re
    once = ws_re.sub(" ", text)
    assert ws_re.sub(" ", once) == once, (text, once)
