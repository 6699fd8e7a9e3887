"""Output checks, run outside the timed passes. Each returns the set of
doc_ids that failed, so a document failing several checks counts once."""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from html_sanitizer_spark import sanitize

_MAX_REPORTED = 1000


def golden_cases() -> dict:
    """doc_id -> (expected text, compare stripped) for the documents
    ``pipeline.synth.golden_spans_df`` builds for the default config."""
    from tests.golden_cases import CASES, expected

    return {c.case_id: (expected(c), c.strip) for c in CASES if c.config == "default"}


def _structure(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        F.transform("spans", lambda s: F.struct(s["kind"], s["media_ref"], s["offset"]))
        .alias("shape"),
    )


def structural(inp: DataFrame, out: DataFrame) -> set[str]:
    """(kind, media_ref, offset, order) per document must survive, for every
    document. A full outer join against the output grouped by doc_id, so a
    dropped, added or duplicated document fails too."""
    got = _structure(out).groupBy("doc_id").agg(
        F.first("shape").alias("got"), F.count(F.lit(1)).alias("n"))
    bad = (
        _structure(inp).join(got, "doc_id", "full_outer")
        .filter(~F.col("shape").eqNullSafe(F.col("got"))
                | (F.coalesce(F.col("n"), F.lit(0)) != 1))
    )
    return {r["doc_id"] for r in bad.select("doc_id").limit(_MAX_REPORTED).collect()}


def texts(docs: list[dict], out: DataFrame, golden: dict, seed: int, n: int) -> set[str]:
    """Golden documents' middle span must equal the reference suite's
    ``after``; a seeded sample of ``n`` synthetic documents must equal
    in-process ``sanitize`` span by span, non-text spans byte-identical."""
    sample = {d["doc_id"]: d["spans"]
              for d in random.Random(f"check:{seed}").sample(docs, min(n, len(docs)))}
    got = {r["doc_id"]: r["spans"]
           for r in out.filter(F.col("doc_id").isin([*golden, *sample])).collect()}
    bad = set()
    for doc_id, (want, strip) in golden.items():
        spans = got.get(doc_id)
        if spans is None or len(spans) != 3 or spans[1]["text"] is None:
            bad.add(doc_id)
            continue
        text = spans[1]["text"]
        if strip:
            text, want = text.strip(), want.strip()
        if text != want:
            bad.add(doc_id)
    for doc_id, spans in sample.items():
        out_spans = got.get(doc_id)
        if out_spans is None or len(out_spans) != len(spans):
            bad.add(doc_id)
            continue
        for s, o in zip(spans, out_spans):
            expect = sanitize(s["text"]) if s["kind"] == "text" else s["text"]
            if o["text"] != expect:
                bad.add(doc_id)
                break
    return bad
