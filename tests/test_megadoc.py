"""Mega-document skew stress: a single 100k-span document must round-trip
the salted + chunked pipeline in exact order, spread over many tasks."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from html_sanitizer_spark.pipeline.job import sanitize_spans
from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA


def test_100k_span_single_doc(spark):
    n = 100_000

    def gen(batches):
        for pdf in batches:
            for _ in pdf.itertuples():
                spans = [
                    {
                        "kind": "text" if i % 3 else "image",
                        "text": f"<p>s{i} &nbsp; <b>x</b></p>" if i % 3 else "",
                        "media_ref": "" if i % 3 else f"media://{i}",
                        "offset": i,
                    }
                    for i in range(n)
                ]
                yield pd.DataFrame({"doc_id": ["mega"], "spans": [spans]})

    df = spark.range(1).mapInPandas(gen, schema=DOC_SCHEMA)
    out = sanitize_spans(spark, df, salt_buckets=64)
    rows = out.collect()
    assert len(rows) == 1
    spans = rows[0]["spans"]
    assert len(spans) == n
    # exact order + media pass-through + sanitized text
    for i in (0, 1, 2, 3, 50_000, n - 2, n - 1):
        s = spans[i]
        assert s["offset"] == i
        if i % 3 == 0:
            assert s["kind"] == "image" and s["media_ref"] == f"media://{i}"
        else:
            assert s["kind"] == "text"
            assert s["text"] == f"<p>s{i} <strong>x</strong></p>", (i, s["text"])
    assert [s["offset"] for s in spans] == list(range(n))
