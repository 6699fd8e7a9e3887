"""Core batch topology (SURVEY.md §3.4, north_rule plumbing).

Exploded path (default — skew-proof):

    read (doc_id, spans)
      -> inline(transform(sequence(0, k-1),       [no shuffle: the generator
           c -> (c*256 AS pos,                     is pipelined into the
                 slice(spans, c*256+1, 256))))     scan; one row per chunk]
      -> repartition by (doc_id, pos div _CHUNK)  [SHUFFLE 1 — chunk-salted:
                                                   a mega-doc's chunks spread
                                                   over all buckets, so no
                                                   straggler Python task]
      -> sanitize_spans_arrow on the chunk rows   [the only JVM<->Python
                                                   Arrow hop: the nested
                                                   plan's mapInArrow rebuild]
      -> groupBy(doc_id) flatten(sort_array(      [SHUFFLE 2 — one row per
         collect_list(struct(pos, spans))).spans)  doc; the partial collect
                                                   runs in each map task
                                                   before the exchange, and
                                                   the sort restores chunk
                                                   order by pos]

Nested path (``explode=False``): the same ``mapInArrow`` rebuild over whole
documents (``sanitize_spans_arrow``) — zero reassembly shuffles, order
preserved trivially. Wins when doc sizes are tame; loses when one doc has
10^6 spans (whole doc on one core). The caller picks the plan with
``sanitize_spans(explode=)`` (the CLI's ``--nested``); bench.py and
perfbench measure both.

``extract_spans`` runs main-content extraction on the exploded topology:
the same chunk rows through the same rebuild, with the extract kernel.

Order contract (north_rule): output spans equal input spans in (kind,
media_ref, offset, order), with text-kind ``text`` sanitized — verified by
tests/test_spark_tier1.py via span-sequence equality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import (
    _make_extract_kernel,
    _map_spans,
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

# spans per chunk row: the most spans of any one document a Python task
# holds in one row. ``pos`` is a chunk's first span position and the salt
# key is (doc_id, _chunk = pos div _CHUNK); the reassembly sorts by pos and
# does not read _chunk, which stays in sanitize_exploded's output because
# perfbench's salt-shuffle prefix plan selects it
_CHUNK = 256


def _salt(spark: SparkSession, salt_buckets: int | None) -> int:
    """The document plans' salt: ``salt_buckets``, else one partition per
    task slot. The (doc_id, _chunk) key already caps a task's share of any
    document at _CHUNK spans per key, so more partitions than slots only
    add Python tasks, each with a fixed worker cost, and AQE does not
    coalesce a repartition that names its count."""
    if salt_buckets is None:
        return spark.sparkContext.defaultParallelism
    return salt_buckets


def explode_spans(df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> chunk rows (doc_id, pos, spans): each document's
    spans in slices of at most _CHUNK, ``pos`` the slice's first span
    position. A document with an empty or null spans array keeps one row,
    pos 0, whose slice is empty or null; the rebuild keeps it so and
    reassemble_spans gives it back as such."""
    n = F.greatest(F.ceil(F.size("spans") / _CHUNK).cast("int"), F.lit(1))
    chunks = F.transform(F.sequence(F.lit(0), n - 1), lambda c: F.struct(
        (c * _CHUNK).alias("pos"),
        F.slice("spans", c * _CHUNK + 1, _CHUNK).alias("spans"),
    ))
    # the generator reads spans, but keeps only doc_id beside its output:
    # no chunk row carries its document's whole spans array
    return df.select("doc_id", F.inline(chunks))


def sanitize_exploded(
    exploded: DataFrame, settings=None, salt_buckets: int | None = None,
    memoize: int = 0, on_error: str = "raise",
) -> DataFrame:
    """Sanitize the text-kind spans of explode_spans' chunk rows with the
    nested plan's rebuild (``sanitize_spans_arrow``), after a repartition
    by (doc_id, _chunk = pos div _CHUNK) into ``salt_buckets`` unless it is
    None: a mega-document's chunks spread across tasks before they reach
    Python (the skew defusal the north_rule requires). Output is (doc_id,
    pos, spans[, _chunk]), plus the chunk's ``n_span_errors`` under a
    non-raise ``on_error`` (summed per document by reassemble_spans).
    Span-for-span identical to the nested plan (tier-1 replay +
    sanitize_structure/span oracles)."""
    return sanitize_spans_arrow(_salted(exploded, salt_buckets), settings,
                                memoize=memoize, on_error=on_error)


def _salted(chunks: DataFrame, salt_buckets: int | None) -> DataFrame:
    if salt_buckets is None:
        return chunks
    return chunks.withColumn(
        "_chunk", (F.col("pos").cast("long") / F.lit(_CHUNK)).cast("long"),
    ).repartition(salt_buckets, "doc_id", "_chunk")


def reassemble_spans(clean: DataFrame) -> DataFrame:
    """Chunk rows (doc_id, pos, spans[, n_span_errors]) -> (doc_id, spans[,
    n_span_errors]), the chunks put back in pos order.

    One ``groupBy(doc_id)``: the (pos, spans) structs are collected and
    sorted, then their spans flattened. Spark collects partially in each
    map task before the one doc_id exchange; the final merge holds a whole
    document in one task whatever the plan. ``_chunk`` is not read, so the
    salted and the unsalted frames both work.

    An empty array's one chunk comes back empty, and a null array's null
    (``flatten`` of a null chunk is null), with a null n_span_errors, as on
    the nested plan. A null span element keeps its slot. The chunks'
    ``n_span_errors`` (present exactly under a non-raise poison policy) are
    summed into the document's.
    """
    chunks = F.sort_array(F.collect_list(F.struct("pos", "spans")))
    n_err = "n_span_errors" in clean.columns
    return clean.groupBy("doc_id").agg(
        F.flatten(chunks.getField("spans")).alias("spans"),
        *([F.sum("n_span_errors").cast("int").alias("n_span_errors")]
          if n_err else []),
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
    corpora (see udfs._make_text_kernel).
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
    topology as the sanitize flagship: chunk rows -> chunk-salted shuffle
    on (doc_id, _chunk) -> the same ``mapInArrow`` rebuild with the
    extract kernel (engine/extract.py: boilerplate kill list + atomic-block
    link density) applied to text-kind spans only -> reassemble_spans' one
    doc_id aggregation. Media-kind spans pass through byte-identical and
    in position; the span order contract is sanitize_spans' exactly (kind,
    media_ref, offset, order preserved; text replaced by the extracted
    main content). ``salt_buckets`` as in sanitize_spans."""
    chunks = _salted(explode_spans(df), _salt(spark, salt_buckets))
    return reassemble_spans(
        _map_spans(chunks, _make_extract_kernel(max_link_density), False))


def lineage_columns(docs: DataFrame) -> list[Column]:
    """The lineage aggregates over a document-level (doc_id, spans[,
    n_span_errors]) frame — the output of ``sanitize_spans`` on either
    plan, or of ``extract_spans``: ``n_docs`` (exact), ``n_spans``,
    ``text_bytes_out``, ``n_media_spans`` and ``n_errors``, each 0 on an
    empty frame. Per-row work is map-side array expressions, so the
    columns fit ``DataFrame.observe`` on a write as well as ``agg``. Null
    span elements count toward n_spans but toward neither bytes nor
    media, and an empty/null spans array counts as ONE span, so every
    plan reports the same totals (ADVICE r05 #1)."""
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
