"""Poison-document policy on every physical plan, and plan agreement."""

from __future__ import annotations

import pytest
from pyspark.sql.utils import PythonException

from html_sanitizer_spark.functions import udfs
from html_sanitizer_spark.pipeline.job import sanitize_spans
from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA, synth_spans_df


@pytest.fixture
def poison(monkeypatch):
    orig = udfs.sanitize

    def bomb(t, s):
        if "BOOM" in t:
            raise RuntimeError("poison document")
        return orig(t, s)

    monkeypatch.setattr(udfs, "sanitize", bomb)
    yield


@pytest.fixture
def doc(spark):
    return spark.createDataFrame(
        [{"doc_id": "d", "spans": [
            {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 0},
            {"kind": "text", "text": "<p>BOOM</p>", "media_ref": "", "offset": 1},
        ]}],
        schema=DOC_SCHEMA,
    )


_PLANS = [
    {"explode": True, "salt_buckets": 2},
    {"explode": False},
]
_PLAN_IDS = ["exploded", "nested-arrow"]


@pytest.mark.parametrize("plan", _PLANS, ids=_PLAN_IDS)
def test_on_error_keep(spark, poison, doc, plan):
    """keep-policy parity across every physical plan (VERDICT r03 #8: the
    nested plans honor the poison policy instead of rejecting it)."""
    spans = sanitize_spans(spark, doc, on_error="keep",
                           **plan).collect()[0]["spans"]
    assert [s["text"] for s in spans] == ["<p>ok</p>", "<p>BOOM</p>"]


@pytest.mark.parametrize("plan", _PLANS, ids=_PLAN_IDS)
def test_on_error_null(spark, poison, doc, plan):
    spans = sanitize_spans(spark, doc, on_error="null",
                           **plan).collect()[0]["spans"]
    assert [s["text"] for s in spans] == ["<p>ok</p>", None]


@pytest.mark.parametrize("plan", _PLANS[1:], ids=_PLAN_IDS[1:])
def test_on_error_raise_on_nested_plans(spark, poison, doc, plan):
    with pytest.raises(Exception):
        sanitize_spans(spark, doc, **plan).collect()


def test_on_error_raise_default(spark, poison, doc):
    with pytest.raises(Exception):
        sanitize_spans(spark, doc, salt_buckets=2).collect()


def test_on_error_rejects_bad_value():
    with pytest.raises(ValueError):
        udfs.make_sanitize_udf(on_error="ignore")


def test_auto_plan_selection(spark):
    """The two plans agree span for span per document, on tame documents
    and on mega-documents alike."""
    small = synth_spans_df(spark, 20, seed=1, mega_every=0)
    mega = synth_spans_df(spark, 20, seed=1, mega_every=10)
    for df in (small, mega):
        exploded, nested = (
            {r["doc_id"]: r["spans"]
             for r in sanitize_spans(spark, df, explode=explode).collect()}
            for explode in (True, False)
        )
        assert len(exploded) == 20
        assert exploded == nested


def test_on_error_flag_visible_in_lineage(spark, poison, doc):
    """Safe modes must not be silent: the poison span carries an explicit
    span_error flag on the exploded frame, the document its n_span_errors
    count, and lineage over the sanitize_spans output counts it."""
    from html_sanitizer_spark.pipeline.job import (
        explode_spans,
        lineage_metrics,
        sanitize_exploded,
    )

    clean = sanitize_exploded(explode_spans(doc), None, salt_buckets=2,
                              on_error="keep")
    rows = {r["span"]["text"]: r["span_error"] for r in clean.collect()}
    assert rows["<p>BOOM</p>"] is True
    assert all(not v for t, v in rows.items() if t != "<p>BOOM</p>")
    docs = sanitize_spans(spark, doc, salt_buckets=2, on_error="keep")
    assert docs.collect()[0]["n_span_errors"] == 1
    lineage = lineage_metrics(docs).collect()
    assert sum(r["n_errors"] for r in lineage) == 1


def test_raise_mode_lineage_has_zero_errors(spark, doc):
    from html_sanitizer_spark.pipeline.job import lineage_metrics

    docs = sanitize_spans(spark, doc, salt_buckets=2)
    assert "n_span_errors" not in docs.columns
    lineage = lineage_metrics(docs).collect()
    assert sum(r["n_errors"] for r in lineage) == 0


def test_nested_arrow_and_exploded_agree(spark):
    from html_sanitizer_spark.pipeline.job import sanitize_spans as ss

    df = synth_spans_df(spark, 80, seed=11, mega_every=0).cache()
    a = ss(spark, df, explode=False)
    e = ss(spark, df, explode=True, salt_buckets=4)
    rows_a = {r["doc_id"]: r["spans"] for r in a.collect()}
    rows_e = {r["doc_id"]: r["spans"] for r in e.collect()}
    assert rows_a == rows_e
    df.unpersist()


def test_arrow_with_errors_counts_poison_per_doc(spark, poison, doc):
    """Nested quarantine visibility (VERDICT r03 #8): a non-raise policy
    appends a per-document n_span_errors count computed from the list
    offsets — the nested analog of the exploded frame's span_error flag."""
    from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow

    clean_doc = spark.createDataFrame(
        [{"doc_id": "c", "spans": [
            {"kind": "text", "text": "<p>fine</p>", "media_ref": "",
             "offset": 0},
        ]}],
        schema=DOC_SCHEMA,
    )
    out = sanitize_spans_arrow(doc.union(clean_doc), on_error="keep")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["d"]["n_span_errors"] == 1
    assert rows["c"]["n_span_errors"] == 0
    assert [s["text"] for s in rows["d"]["spans"]] == [
        "<p>ok</p>", "<p>BOOM</p>"
    ]
    # under raise a poison span fails the job: no count column at all
    assert "n_span_errors" not in sanitize_spans_arrow(doc).columns


def test_nested_plans_memoize_through_worker_cache(spark):
    """memoize on the nested and exploded plans routes through the one
    shared bounded worker cache (same fingerprint machinery)."""
    df = spark.createDataFrame(
        [{"doc_id": str(i), "spans": [
            {"kind": "text", "text": "<b>same</b>", "media_ref": "",
             "offset": 0},
        ]} for i in range(12)],
        schema=DOC_SCHEMA,
    )
    for kwargs in ({"explode": False}, {"explode": True, "salt_buckets": 2}):
        out = sanitize_spans(spark, df, memoize=64, **kwargs)
        texts = {r["spans"][0]["text"] for r in out.collect()}
        assert texts == {"<strong>same</strong>"}


def test_null_span_element_preserved_on_all_paths(spark):
    """A null element inside a spans array must come back null — not a
    struct of null fields — on the arrow and exploded paths alike
    (ADVICE r02)."""
    from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow

    df = spark.createDataFrame(
        [{"doc_id": "d", "spans": [
            None,
            {"kind": "text", "text": "<b>x</b>", "media_ref": "", "offset": 1},
        ]}],
        schema=DOC_SCHEMA,
    )
    expected = [None, ("text", "<strong>x</strong>", "", 1)]

    def spans_of(out):
        row = out.collect()[0]["spans"]
        return [None if s is None else tuple(s) for s in row]

    assert spans_of(sanitize_spans_arrow(df)) == expected
    assert spans_of(sanitize_spans(spark, df, explode=True,
                                   salt_buckets=2)) == expected


@pytest.mark.parametrize("spans", [
    [],                                                             # empty
    [{"kind": "text", "text": None, "media_ref": "", "offset": 0}],  # null text
    [{"kind": "text", "text": "", "media_ref": "", "offset": 0}],    # empty text
    [{"kind": "image", "text": "cap", "media_ref": "m://x", "offset": 0}],
], ids=["empty-array", "null-text", "empty-text", "media-only"])
def test_edge_span_arrays_agree_across_paths(spark, spans):
    """Arrow and exploded paths must agree on degenerate span arrays
    (null/empty text, media-only, empty docs)."""
    from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow

    df = spark.createDataFrame([{"doc_id": "d", "spans": spans}],
                               schema=DOC_SCHEMA)

    def spans_of(out):
        return [tuple(s) for s in out.collect()[0]["spans"]]

    arrow = spans_of(sanitize_spans_arrow(df))
    exploded = spans_of(sanitize_spans(spark, df, explode=True,
                                       salt_buckets=2))
    # nothing here has markup to rewrite: every path returns the input
    assert arrow == exploded == [tuple(s.values()) for s in spans]


def test_lineage_parity_exploded_vs_nested_arrow(spark, poison):
    """VERDICT r04 #7: under on_error='keep' with planted poison
    fragments, lineage_metrics over the nested arrow plan's output must
    agree with lineage_metrics over the exploded plan's output on every
    corpus-level total — n_errors above all, plus span/media/byte
    accounting. Partition boundaries differ by plan, so parity is on the
    summed rollup."""
    from html_sanitizer_spark.pipeline.job import lineage_metrics

    docs = spark.createDataFrame(
        [
            {"doc_id": "a", "spans": [
                {"kind": "text", "text": "<p>ok</p>", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "<p>BOOM</p>", "media_ref": "", "offset": 1},
                {"kind": "image", "text": "", "media_ref": "m://1", "offset": 2},
            ]},
            {"doc_id": "b", "spans": [
                # markup, so the span reaches sanitize: the batch kernel
                # never hands a clean span (here "x BOOM y") to it
                {"kind": "text", "text": "x <i>BOOM</i> y", "media_ref": "",
                 "offset": 0},
                {"kind": "text", "text": "<b>fine</b>", "media_ref": "", "offset": 1},
            ]},
            {"doc_id": "c", "spans": [
                {"kind": "video", "text": "", "media_ref": "m://2", "offset": 0},
            ]},
            # ADVICE r05 #1: empty and null spans arrays — posexplode_outer
            # keeps one placeholder row each, so the exploded rollup counts
            # them as n_spans=1; the nested path must agree.
            {"doc_id": "d-empty", "spans": []},
            {"doc_id": "e-null", "spans": None},
        ],
        schema=DOC_SCHEMA,
    )

    def totals(rollup):
        rows = rollup.collect()
        return {
            k: sum(r[k] for r in rows)
            for k in ("n_spans", "text_bytes_out", "n_media_spans", "n_errors")
        }

    exploded = sanitize_spans(spark, docs, explode=True, salt_buckets=4,
                              on_error="keep")
    nested = sanitize_spans(spark, docs, explode=False, on_error="keep")
    t_exp = totals(lineage_metrics(exploded))
    t_nest = totals(lineage_metrics(nested))
    assert t_exp == t_nest, (t_exp, t_nest)
    assert t_exp["n_errors"] == 2  # both planted BOOMs counted, once each
    assert t_exp["n_media_spans"] == 2
    assert t_exp["n_spans"] == 8  # 6 real + 1 empty-doc + 1 null-doc placeholder
