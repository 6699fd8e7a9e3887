"""Tier 1: golden replay through the full Spark pipeline.

Each golden case becomes one document of interleaved spans
(media / text / media). The north_rule invariant is asserted per document:
span-sequence equality on (kind, text, media_ref, order) — media spans
byte-identical and in position, text spans equal to the golden ``after``.
Both physical plans (exploded+salted+reassembled, and nested single-UDF)
must produce identical results.
"""

from __future__ import annotations

import pytest

from html_sanitizer_spark.engine.settings import Settings
from html_sanitizer_spark.pipeline.job import lineage_metrics, sanitize_spans
from html_sanitizer_spark.pipeline.synth import golden_spans_df, synth_spans_df

from .golden_cases import CASES, CONFIGS, expected

# Configs exercised through the Spark path. 'default' covers ~70 cases;
# the others prove config plumbing (closure capture incl. custom callables).
_SPARK_CONFIGS = ["default", "typographic", "classes_mergeable", "autolink_nofollow"]


def _expected_by_doc(config):
    out = {}
    for case in CASES:
        if case.config == config:
            out[case.case_id] = (case, expected(case))
    return out


@pytest.mark.parametrize("explode", [True, False], ids=["exploded", "nested"])
@pytest.mark.parametrize("config", _SPARK_CONFIGS)
def test_golden_replay_spark(spark, config, explode):
    df = golden_spans_df(spark, config)
    result = sanitize_spans(
        spark, df, settings=Settings(CONFIGS[config]), explode=explode,
        salt_buckets=8,
    )
    rows = {r["doc_id"]: r["spans"] for r in result.collect()}
    want = _expected_by_doc(config)
    assert set(rows) == set(want)
    for doc_id, (case, want_text) in want.items():
        spans = rows[doc_id]
        assert [s["kind"] for s in spans] == ["image", "text", "video"], doc_id
        assert spans[0]["media_ref"] == f"media://pre/{doc_id}"
        assert spans[0]["text"] == ""
        assert spans[2]["media_ref"] == f"media://post/{doc_id}"
        assert spans[2]["text"] == "cap"
        assert [s["offset"] for s in spans] == [0, 1, 2], doc_id
        got = spans[1]["text"]
        if case.strip:
            got, want_text = got.strip(), want_text.strip()
        assert got == want_text, (
            f"{doc_id}: expected {want_text!r} got {got!r}"
        )


_EXTRA_CONFIGS = [
    "h1_h2_only", "keep_br", "img", "style_tag_attr", "custom_attr",
    "data_attr_span", "classes", "nofollow", "autolink",
]


@pytest.mark.parametrize("config", _EXTRA_CONFIGS)
def test_golden_replay_remaining_configs(spark, config):
    """The rest of the reference's config variants through the exploded
    Spark path (text equality only; sentinel structure covered above)."""
    df = golden_spans_df(spark, config)
    if df.rdd.isEmpty():
        pytest.skip(f"no golden cases for {config}")
    result = sanitize_spans(
        spark, df, settings=Settings(CONFIGS[config]), salt_buckets=4
    )
    rows = {r["doc_id"]: r["spans"][1]["text"] for r in result.collect()}
    for doc_id, (case, want_text) in _expected_by_doc(config).items():
        got = rows[doc_id]
        if case.strip:
            got, want_text = got.strip(), want_text.strip()
        assert got == want_text, f"{doc_id}: {want_text!r} != {got!r}"


def test_exploded_and_nested_agree(spark):
    df = synth_spans_df(spark, 200, seed=7, mega_every=0).cache()
    a = sanitize_spans(spark, df, explode=True, salt_buckets=8)
    b = sanitize_spans(spark, df, explode=False)
    rows_a = {r["doc_id"]: r["spans"] for r in a.collect()}
    rows_b = {r["doc_id"]: r["spans"] for r in b.collect()}
    assert rows_a == rows_b
    df.unpersist()


def test_order_preserved_under_salting(spark):
    """Many spans, aggressive salting: order must be exactly restored."""
    df = synth_spans_df(spark, 20, seed=3, mega_every=7).cache()  # incl megadocs
    out = sanitize_spans(spark, df, explode=True, salt_buckets=16)
    in_rows = {r["doc_id"]: r["spans"] for r in df.collect()}
    out_rows = {r["doc_id"]: r["spans"] for r in out.collect()}
    assert set(in_rows) == set(out_rows)
    for doc_id, in_spans in in_rows.items():
        out_spans = out_rows[doc_id]
        assert len(out_spans) == len(in_spans)
        for i, (si, so) in enumerate(zip(in_spans, out_spans)):
            assert so["kind"] == si["kind"], (doc_id, i)
            assert so["offset"] == si["offset"], (doc_id, i)
            assert so["media_ref"] == si["media_ref"], (doc_id, i)
            if si["kind"] != "text":
                # media pass-through must be byte-identical
                assert so["text"] == si["text"], (doc_id, i)
    df.unpersist()


def test_empty_and_null_spans(spark):
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    df = spark.createDataFrame(
        [
            {"doc_id": "empty", "spans": []},
            {"doc_id": "null_text", "spans": [
                {"kind": "text", "text": None, "media_ref": "", "offset": 0}
            ]},
        ],
        schema=DOC_SCHEMA,
    )
    for explode in (True, False):
        rows = {
            r["doc_id"]: r["spans"]
            for r in sanitize_spans(spark, df, explode=explode).collect()
        }
        assert rows["empty"] == []
        assert len(rows["null_text"]) == 1
        assert rows["null_text"][0]["text"] is None


def test_lineage_metrics(spark):
    df = synth_spans_df(spark, 100, seed=11, mega_every=0)
    docs = sanitize_spans(spark, df, explode=True, salt_buckets=4)
    m = lineage_metrics(docs).collect()
    assert sum(r["n_spans"] for r in m) >= 100
    assert all(r["text_bytes_out"] >= 0 for r in m)


def test_extract_spans_interleaved_contract(spark):
    """extract_spans (r06): the north rule's extraction pipeline on the
    interleaved-span topology — media spans byte-identical and in
    position, text spans replaced by the engine extractor's output,
    span order preserved (same contract as sanitize_spans)."""
    from html_sanitizer_spark.engine.extract import extract_main
    from html_sanitizer_spark.pipeline.job import extract_spans

    df = golden_spans_df(spark, "default")
    rows = {
        r["doc_id"]: r["spans"]
        for r in extract_spans(spark, df, salt_buckets=8).collect()
    }
    want = {c.case_id: c for c in CASES if c.config == "default"}
    assert set(rows) == set(want)
    for doc_id, case in want.items():
        spans = rows[doc_id]
        assert [s["kind"] for s in spans] == ["image", "text", "video"]
        assert spans[0]["media_ref"] == f"media://pre/{doc_id}"
        assert spans[2]["media_ref"] == f"media://post/{doc_id}"
        assert spans[2]["text"] == "cap"
        assert [s["offset"] for s in spans] == [0, 1, 2]
        assert spans[1]["text"] == extract_main(case.before), doc_id


def test_extract_spans_passes_null_and_empty_docs(spark):
    from html_sanitizer_spark.pipeline.job import extract_spans
    from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA

    df = spark.createDataFrame(
        [
            {"doc_id": "empty", "spans": []},
            {"doc_id": "null_text", "spans": [
                {"kind": "text", "text": None, "media_ref": "", "offset": 0}
            ]},
        ],
        schema=DOC_SCHEMA,
    )
    rows = {
        r["doc_id"]: r["spans"] for r in extract_spans(spark, df).collect()
    }
    assert rows["empty"] == []
    assert rows["null_text"][0]["text"] is None
