"""Core batch topology (SURVEY.md §3.4, north_rule plumbing).

Exploded path (default — skew-proof):

    read (doc_id, spans)
      -> posexplode_outer(spans)                  [no shuffle: explode is
                                                   pipelined into the scan]
      -> repartition by (doc_id, pos div _CHUNK)  [SHUFFLE 1 — chunk-salted:
                                                   a mega-doc's chunks spread
                                                   over all buckets, so no
                                                   straggler UDF task; <=256
                                                   spans per doc per task]
      -> sanitize_udf on text-kind spans          [the only JVM<->Python
                                                   Arrow hop]
      -> two-phase reassembly:
           groupBy(doc_id, _chunk) partial collect [SHUFFLE 2a — same key as
                                                   the salt, bounded group
                                                   size]
           groupBy(doc_id) merge + array_sort     [SHUFFLE 2b — one row per
                                                   doc; sort restores span
                                                   order by pos]

Nested path (``explode=False``): one ``mapInArrow`` pass over whole
documents (``sanitize_spans_arrow``) — zero reassembly shuffles, order
preserved trivially. Wins when doc sizes are tame; loses when one doc has
10^6 spans (whole doc on one core). The caller picks the plan with
``sanitize_spans(explode=)`` (the CLI's ``--nested``); bench.py and
perfbench measure both.

``extract_spans`` runs main-content extraction on the exploded topology
through the same helper, ``_rewrite_text_spans``.

Order contract (north_rule): output spans equal input spans in (kind,
media_ref, offset, order), with text-kind ``text`` sanitized — verified by
tests/test_spark_tier1.py via span-sequence equality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    make_extract_udf,
    make_sanitize_udf,
    sanitize_spans_arrow,
)

__all__ = [
    "sanitize_spans",
    "extract_spans",
    "explode_spans",
    "reassemble_spans",
    "lineage_columns",
    "lineage_metrics",
]

# spans per (doc_id, _chunk) group: the salt key of the sanitize stage AND
# the phase-1 group key of the reassembly — one constant, so the two can
# never drift apart
_CHUNK = 256


def _salt(spark: SparkSession, salt_buckets: int | None) -> int:
    """The document plans' salt: ``salt_buckets``, else one partition per
    task slot. The (doc_id, _chunk) key already caps a task's share of any
    document at _CHUNK spans, so more partitions than slots only add Python
    tasks, each with a fixed worker cost, and AQE does not coalesce a
    repartition that names its count."""
    if salt_buckets is None:
        return spark.sparkContext.defaultParallelism
    return salt_buckets


def explode_spans(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, pos, span); empty docs keep a null row."""
    return df.select("doc_id", F.posexplode_outer("spans").alias("pos", "span"))


def _rewrite_text_spans(
    exploded: DataFrame, rewrite, salt_buckets: int | None
) -> DataFrame:
    """Shared exploded topology: optional chunk salt, then ``rewrite``
    applied to the text of text-kind spans, then the span struct rebuilt.

    ``rewrite(text, applies) -> (new_text, extra)`` builds the Python-UDF
    columns from the span text and the text-kind mask: ``new_text``
    replaces the text where ``applies``, and the ``extra`` columns are
    appended to the output row.

    ``salt_buckets``: unless None, repartitions by (doc_id, _chunk) where
    ``_chunk = pos div _CHUNK`` — a mega-document's chunks spread across
    tasks before hitting Python (the skew defusal the north_rule requires),
    and a task holds at most _CHUNK spans of any one document. The key is
    the reassembly's phase-1 group key, so if Spark ever preserves
    partitioning through Python nodes (4.1's EvalPythonExec drops it;
    OPTIMIZATION_r08.md) the phase-1 exchange disappears with no change
    here; test_exploded_pipeline_exchange_budget pins the <=3-exchange
    budget. The span's own row carries ``pos``, so order needs no
    co-location.
    """
    salted = salt_buckets is not None
    if salted:
        exploded = exploded.withColumn(
            "_chunk", (F.col("pos").cast("long") / F.lit(_CHUNK)).cast("long"),
        ).repartition(salt_buckets, "doc_id", "_chunk")
    applies = (F.col("span.kind") == F.lit("text")) & F.col("span.text").isNotNull()
    new_text, extra = rewrite(F.col("span.text"), applies)
    new_span = F.struct(
        F.col("span.kind").alias("kind"),
        F.when(applies, new_text).otherwise(F.col("span.text")).alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )
    return exploded.select(
        "doc_id",
        "pos",
        # carry the salt/chunk key through so reassemble_spans can group
        # on the exact attribute the exchange already partitioned by
        *(["_chunk"] if salted else []),
        # null-span guard covers both the posexplode_outer empty-doc row
        # (pos null too) and a null ELEMENT inside a spans array (pos set):
        # either stays null instead of being rebuilt as a struct of null
        # fields, matching the nested arrow path (ADVICE r02)
        F.when(F.col("span").isNotNull(), new_span).alias("span"),
        *extra,
    )


def sanitize_exploded(
    exploded: DataFrame, settings=None, salt_buckets: int | None = None,
    memoize: int = 0, on_error: str = "raise",
) -> DataFrame:
    """Apply the sanitize UDF to text-kind spans of an exploded frame,
    salted by (doc_id, _chunk) unless ``salt_buckets`` is None (see
    _rewrite_text_spans; reassemble_spans needs the salted frame). Output
    is (doc_id, pos[, _chunk], span), plus a ``span_error`` flag under a
    non-raise ``on_error`` (summed into the document's n_span_errors by
    reassemble_spans): safe modes return struct<text, err>, so the poison
    row is explicit, never a silent pass-through. Span-for-span identical
    to the nested plan (tier-1 replay + sanitize_structure/span oracles)."""
    udf = make_sanitize_udf(settings, memoize=memoize, on_error=on_error)

    def rewrite(text, applies):
        # null where the span is not text-kind: Spark evaluates the UDF on
        # every row whatever the CASE around it, and the kernel skips nulls
        res = udf(F.when(applies, text))
        if on_error == "raise":
            return res, []
        err = F.when(applies, F.coalesce(res["err"], F.lit(False)))
        return res["text"], [err.otherwise(F.lit(False)).alias("span_error")]

    return _rewrite_text_spans(exploded, rewrite, salt_buckets)


def reassemble_spans(clean: DataFrame) -> DataFrame:
    """(doc_id, pos, _chunk, span[, span_error]) -> (doc_id, spans[,
    n_span_errors]) with order restored by pos.

    Two phases bound per-group aggregation state under mega-document
    skew: spans first collect per (doc_id, chunk) where chunk = pos div
    ``_CHUNK`` — a *contiguous* range, so a normal (< _CHUNK spans)
    document pays exactly one group and zero extra structure, while a
    mega-document's chunks spread over the cluster and arrive pre-sorted;
    the final per-doc merge only orders whole chunks and flattens. This is
    strictly cheaper than hash-salted partials (which shred every doc into
    single-span chunks). collect_list skips null spans, so empty docs come
    back with an empty array rather than [null]. A ``span_error`` flag
    (present exactly under a non-raise poison policy) is summed in both
    phases into the document's ``n_span_errors``.

    Phase 1 groups on the salted frame's ``_chunk``, the salt exchange's
    own key (see _rewrite_text_spans).
    """
    keyed = F.when(
        F.col("pos").isNotNull(),
        F.struct(F.col("pos").alias("pos"), F.col("span").alias("span")),
    )
    n_err = "span_error" in clean.columns
    partial = clean.groupBy("doc_id", "_chunk").agg(
        F.sort_array(F.collect_list(keyed)).alias("chunk_arr"),
        *([F.sum(F.col("span_error").cast("int")).alias("n_err")] if n_err else []),
    )
    merged = partial.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_chunk").alias("c"),
                            F.col("chunk_arr").alias("arr"),
                        )
                    )
                ),
                lambda kv: kv["arr"],
            )
        ).alias("keyed"),
        *([F.sum("n_err").cast("int").alias("n_span_errors")] if n_err else []),
    )
    return merged.select(
        "doc_id",
        F.transform("keyed", lambda kv: kv["span"]).alias("spans"),
        *(["n_span_errors"] if n_err else []),
    )


def sanitize_spans(
    spark: SparkSession,
    df: DataFrame,
    settings=None,
    explode: bool = True,
    salt_buckets: int | None = None,
    memoize: int = 0,
    on_error: str = "raise",
) -> DataFrame:
    """End-to-end: sanitize every text-kind span of (doc_id, spans).

    Under a non-raise ``on_error`` the result carries an int
    ``n_span_errors`` column (poison spans per document) on every plan;
    under "raise" it is (doc_id, spans) alone.

    ``salt_buckets``: the exploded plan's salted shuffle partitions; None
    means the session's ``defaultParallelism`` (_salt).
    ``memoize``: per-worker output cache size for boilerplate-heavy
    corpora (see make_sanitize_udf).
    ``explode=True`` runs the exploded, chunk-salted plan that spreads a
    mega-document over tasks; ``explode=False`` runs the nested plan,
    ``sanitize_spans_arrow``. Both agree span for span."""
    if not explode:
        return sanitize_spans_arrow(df, settings, memoize=memoize,
                                    on_error=on_error)
    clean = sanitize_exploded(explode_spans(df), settings,
                              _salt(spark, salt_buckets),
                              memoize=memoize, on_error=on_error)
    return reassemble_spans(clean)


def extract_spans(
    spark: SparkSession,
    df: DataFrame,
    *,
    max_link_density: float = 0.5,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Main-content extraction over interleaved (doc_id, spans) documents —
    the north rule's "main-content extraction pipeline" run on the SAME
    topology as the sanitize flagship (``_rewrite_text_spans``): explode
    -> chunk-salted shuffle on (doc_id, _chunk) -> ONE Arrow-batched
    Python hop (engine/extract.py: boilerplate kill list + atomic-block
    link density) applied to text-kind spans only -> two-phase chunked
    reassembly. Media-kind
    spans pass through byte-identical and in position; the span order
    contract is sanitize_spans' exactly (kind, media_ref, offset, order
    preserved; text replaced by the extracted main content).
    ``salt_buckets`` as in sanitize_spans."""
    udf = make_extract_udf(max_link_density=max_link_density)
    return reassemble_spans(_rewrite_text_spans(
        explode_spans(df), lambda text, _: (udf(text)["main_text"], []),
        _salt(spark, salt_buckets),
    ))


def lineage_columns(docs: DataFrame) -> list[Column]:
    """The lineage aggregates over a document-level (doc_id, spans[,
    n_span_errors]) frame — the output of ``sanitize_spans`` on either
    plan, or of ``extract_spans``: ``n_docs`` (exact), ``n_spans``,
    ``text_bytes_out``, ``n_media_spans`` and ``n_errors``, each 0 on an
    empty frame. Per-row work is map-side array expressions, so the
    columns fit ``DataFrame.observe`` on a write as well as ``agg``. Null
    span elements count toward n_spans but toward neither bytes nor
    media, and an empty/null spans array counts as ONE span (the
    placeholder row posexplode_outer keeps for such docs), so both plans
    report the same totals (ADVICE r05 #1)."""
    spans = F.coalesce(F.col("spans"), F.array())
    text_bytes = F.aggregate(
        spans,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(
            F.when(
                (s["kind"] == F.lit("text")) & s["text"].isNotNull(),
                F.length(s["text"]).cast("long"),
            ),
            F.lit(0).cast("long"),
        ),
    )
    n_media = F.size(
        F.filter(spans, lambda s: s.isNotNull() & (s["kind"] != F.lit("text")))
    )
    n_err = (F.coalesce(F.col("n_span_errors"), F.lit(0))
             if "n_span_errors" in docs.columns else F.lit(0))

    def total(col, name):
        return F.coalesce(F.sum(col), F.lit(0)).cast("long").alias(name)

    return [
        F.count(F.lit(1)).alias("n_docs"),
        total(F.greatest(F.size(spans), F.lit(1)), "n_spans"),
        total(text_bytes, "text_bytes_out"),
        total(n_media, "n_media_spans"),
        total(n_err, "n_errors"),
    ]


def lineage_metrics(docs: DataFrame) -> DataFrame:
    """One totals row of ``lineage_columns`` over ``docs``."""
    return docs.agg(*lineage_columns(docs))
