"""The Arrow batch kernel both sanitize UDF shapes call (functions/udfs.py):
the clean-text mask is exact, the kernel equals per-span ``sanitize`` under
every config, the nested plan's batch rebuild handles Arrow edge cases, and
the exploded and nested plans agree span for span on plain-heavy input."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings as hsettings, strategies as st

from html_sanitizer_spark.configs import PIPELINE_CONFIGS, settings_for
from html_sanitizer_spark.engine.core import sanitize
from html_sanitizer_spark.engine.settings import Settings
from html_sanitizer_spark.functions import udfs

_AUTOLINK = ("autolink", "autolink_nofollow")

# characters on both sides of every clause of the mask: printable ASCII,
# markup, single and double spaces, other whitespace and control chars,
# non-ASCII (fullwidth and small-form brackets NFKC turns into markup)
_CHARS = st.text(
    alphabet="abAZ09 .,;:!?-_/'\"=#()[]{}~`^|\\+*%$@<>&\t\n\r\x0b\x00\x1f\x7f"
             "\xa0éü＜＞＆﹤ﬁ😀",
    max_size=40,
)
_TOKENS = st.lists(st.sampled_from([
    "http://x.org", "www.example.com", "a@b.io", "word", " ", "  ", "<b>",
    "</b>", "&amp;", "&#160;", "&nbsp;", "\t", "\n", "é", "＜i＞", "x&y",
]), max_size=12).map("".join)
_TEXT = st.one_of(_CHARS, _TOKENS)


@given(st.lists(_TEXT, max_size=25))
@hsettings(max_examples=300, deadline=None)
def test_clean_mask_marks_only_fixed_points(texts):
    """A string the mask marks clean comes back from ``sanitize`` unchanged
    under every config without autolink."""
    mask = udfs._clean_mask(pa.array(texts, pa.string())).to_pylist()
    for text, clean in zip(texts, mask):
        if clean:
            for name in PIPELINE_CONFIGS:
                if name not in _AUTOLINK:
                    assert sanitize(text, settings_for(name)) == text, (
                        name, text)


@pytest.mark.parametrize("name", sorted(PIPELINE_CONFIGS))
@given(texts=st.lists(_TEXT, max_size=25))
@hsettings(max_examples=60, deadline=None)
def test_batch_kernel_equals_sanitize(name, texts):
    """Span for span the batch kernel returns what ``sanitize`` returns,
    autolink configs included; null texts stay null."""
    run = udfs._make_batch_kernel(name, 0, "raise")
    out, errors = run(pa.array(texts + [None], pa.string()))
    want = [sanitize(t, settings_for(name)) for t in texts]
    assert out.to_pylist() == want + [None]
    assert errors == []


@pytest.mark.parametrize("settings", [
    "autolink", "autolink_nofollow", Settings({"autolink": {}}),
], ids=["autolink", "autolink_nofollow", "empty-dict"])
def test_autolink_switches_the_mask_off(settings):
    """Autolink rewrites text the mask calls clean, so with autolink on
    (True or any dict) every span goes to the engine."""
    text = "go to http://x.org now"
    assert udfs._clean_mask(pa.array([text])).to_pylist() == [True]
    want = sanitize(text, settings_for(settings))
    assert want != text
    out, _ = udfs._make_batch_kernel(settings, 0, "raise")(pa.array([text]))
    assert out.to_pylist() == [want]


@pytest.fixture
def calls(monkeypatch):
    """The fragments that reach ``sanitize``; one containing BOOM raises."""
    seen = []
    orig = udfs.sanitize

    def spy(text, settings):
        seen.append(text)
        if "BOOM" in text:
            raise RuntimeError("poison fragment")
        return orig(text, settings)

    monkeypatch.setattr(udfs, "sanitize", spy)
    return seen


@pytest.mark.parametrize("on_error", ["keep", "null"])
def test_apply_mask_and_error_positions(calls, on_error):
    """Only applied, non-null, non-clean spans reach the engine; the error
    positions index the input array."""
    texts = pa.array(["<b>BOOM</b>", "<b>x</b>", "BOOM", "<i>BOOM</i>",
                      None, "a  b", "<p>BOOM</p>"])
    apply = pa.array([True, True, True, False, True, True, None])
    out, errors = udfs._make_batch_kernel(None, 0, on_error)(texts, apply)
    poison = "<b>BOOM</b>" if on_error == "keep" else None
    assert out.to_pylist() == [poison, "<strong>x</strong>", "BOOM",
                               "<i>BOOM</i>", None, "a b", "<p>BOOM</p>"]
    assert errors == [0]
    assert calls == ["<b>BOOM</b>", "<b>x</b>", "a  b"]


def test_raise_policy_propagates(calls):
    with pytest.raises(RuntimeError, match="poison"):
        udfs._make_batch_kernel(None, 0, "raise")(pa.array(["<b>BOOM</b>"]))


_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
_EDGE_TEXTS = ["", " lead", "trail ", "  ", "\t", "\x7f", "é", "＜", "a&b",
               None, "<b>BOOM</b>", "plain words"]


def _span(kind, text, offset):
    return {"kind": kind, "text": text, "media_ref": "" if kind == "text"
            else "m://x", "offset": offset}


_EDGE_DOCS = [
    {"doc_id": "edge", "spans": [_span("text", t, i)
                                 for i, t in enumerate(_EDGE_TEXTS)]
     + [_span("image", "<b>x</b>", 99)]},
    {"doc_id": "null-spans", "spans": None},
    {"doc_id": "null-element", "spans": [
        None, _span("text", "<b>y</b>", 1), _span("text", "<p>BOOM</p>", 2)]},
    {"doc_id": "empty", "spans": []},
    {"doc_id": "media-only", "spans": [_span("video", "a  b", 0)]},
]


def _expected(docs, on_error):
    """Per-span ``sanitize`` of text-kind spans with the poison policy, and
    the per-document error count."""
    out = []
    for doc in docs:
        spans, n_err = doc["spans"], 0
        if spans is not None:
            spans = [dict(s) if s else s for s in spans]
            for s in spans:
                if s and s["kind"] == "text" and s["text"] is not None:
                    if "BOOM" in s["text"]:
                        n_err += 1
                        s["text"] = s["text"] if on_error == "keep" else None
                    else:
                        s["text"] = sanitize(s["text"])
        row = {"doc_id": doc["doc_id"], "spans": spans}
        if on_error != "raise":
            row["n_span_errors"] = None if spans is None else n_err
        out.append(row)
    return out


@pytest.mark.parametrize("on_error", ["keep", "null"])
def test_document_batch_edge_cases(calls, on_error):
    """The nested plan's batch rebuild on Arrow edge cases: empty and
    whitespace-edged texts, control and non-ASCII chars, null text, a media
    span with markup (passed through byte-identical), a null spans row, a
    null span element and an empty array; and on every slice of the batch,
    whose spans alone reach the engine."""
    batch = pa.RecordBatch.from_pylist(_EDGE_DOCS, schema=_DOCS)
    kernel = udfs._make_batch_kernel(None, 0, on_error)
    want = _expected(_EDGE_DOCS, on_error)
    got = udfs._sanitize_documents(batch, kernel, True)
    assert got.to_pylist() == want
    assert got.schema.field("spans").type == _DOCS.field("spans").type
    assert want[0]["spans"][-1]["text"] == "<b>x</b>"
    for start in range(len(_EDGE_DOCS)):
        for length in range(len(_EDGE_DOCS) - start + 1):
            calls.clear()
            part = batch.slice(start, length)
            got = udfs._sanitize_documents(part, kernel, True)
            assert got.to_pylist() == want[start:start + length]
            in_part = {s["text"] for d in part.to_pylist()
                       for s in d["spans"] or () if s}
            assert set(calls) <= in_part, (start, length, calls)


def test_document_batch_under_raise_has_no_count_column():
    docs = [d for d in _EDGE_DOCS if "BOOM" not in str(d)]
    batch = pa.RecordBatch.from_pylist(docs, schema=_DOCS)
    kernel = udfs._make_batch_kernel(None, 0, "raise")
    got = udfs._sanitize_documents(batch, kernel, False)
    assert got.schema.names == ["doc_id", "spans"]
    assert got.to_pylist() == _expected(docs, "raise")


def _plain_heavy_docs(poison: bool) -> list[dict]:
    """40 documents, mostly clean plain text, with plain text the engine
    changes (double spaces, tabs, non-ASCII, entities), markup, media spans
    carrying markup, null texts and, if ``poison``, BOOM spans."""
    kinds = ["clean"] * 6 + ["dirty", "markup", "media", "null"]
    docs = []
    for i in range(40):
        spans = []
        for j in range(3 + i % 7):
            kind = kinds[(i * 3 + j) % len(kinds)]
            if kind == "clean":
                spans.append(_span("text", f"doc {i} line {j} plain words", j))
            elif kind == "dirty":
                text = ["a  b", "tab\there", "caf\xe9 \xa0 x", "a &amp; b",
                        " edge "][(i + j) % 5]
                spans.append(_span("text", text, j))
            elif kind == "markup":
                text = f"<b>bold {i}</b><script>x</script>"
                spans.append(_span("text", text, j))
            elif kind == "media":
                spans.append(_span("image", "<i>caption</i>  BOOM", j))
            else:
                spans.append(_span("text", None, j))
        if poison and i % 5 == 0:
            spans.append(_span("text", f"<p>BOOM {i}</p>", len(spans)))
        docs.append({"doc_id": f"d{i:02d}", "spans": spans})
    return docs


@pytest.mark.parametrize("on_error", ["raise", "keep", "null"])
def test_plans_agree_on_plain_heavy_frame(spark, calls, on_error):
    """The exploded and nested plans agree span for span and in
    ``n_span_errors`` on a plain-heavy frame, and both equal per-span
    ``sanitize``."""
    from html_sanitizer_spark.pipeline.job import sanitize_spans
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    docs = _plain_heavy_docs(poison=on_error != "raise")
    df = spark.createDataFrame(docs, schema=DOC_SCHEMA)

    def rows(out):
        return sorted(
            ({"doc_id": r["doc_id"],
              "spans": [s.asDict() if s else s for s in r["spans"]],
              **({"n_span_errors": r["n_span_errors"]}
                 if "n_span_errors" in out.columns else {})}
             for r in out.collect()),
            key=lambda r: r["doc_id"],
        )

    nested = rows(sanitize_spans(spark, df, explode=False, on_error=on_error))
    exploded = rows(sanitize_spans(spark, df, explode=True, salt_buckets=4,
                                   on_error=on_error))
    assert nested == exploded == _expected(docs, on_error)
    if on_error != "raise":
        assert sum(r["n_span_errors"] for r in nested) == 8
