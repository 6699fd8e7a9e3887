"""Structured Streaming sanitize: incremental feeds of span documents.

The engine is a stateless per-row transform (the reference has no temporal
semantics at all — SURVEY.md §2.9), so the streaming story is deliberately
simple and robust:

    readStream (parquet dir / rate source / Kafka in production)
      -> the SAME sanitize_spans transformation as batch
      -> foreachBatch(writer)  with option("checkpointLocation", ...)

``foreachBatch`` + checkpointLocation gives exactly-once-per-epoch output
only when the writer is idempotent, so each microbatch lands in its own
``epoch=<id>`` directory with ``mode("overwrite")``: a crash between the
parquet write and the checkpoint commit replays the epoch, which simply
overwrites its own directory — no duplicate rows, no state store, no
watermarks needed (late data is irrelevant without event-time aggregation).
The batch and streaming paths share one implementation, so golden-replay
correctness carries over verbatim. Readers either take the whole output
tree (partition discovery exposes ``epoch`` as a column) or use
:func:`read_stream_output` to get the plain (doc_id, spans) shape back.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..pipeline.job import sanitize_spans
from ..pipeline.synth import DOC_SCHEMA

__all__ = [
    "stream_sanitize_parquet_dir",
    "stream_event_window_rollup",
    "stream_dedup_exact",
    "stream_dedup_incremental",
    "stream_ingest_pipeline",
    "write_epoch",
    "read_stream_output",
    "EVENT_SCHEMA",
    "DEDUP_FEED_SCHEMA",
]

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe via the JVM Hadoop FileSystem (works
    for hdfs://, s3a://, file:// alike — os.path would lie off-box).
    Falls back to os.path for sessions without a JVM handle (spark-connect)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))
    except Exception:
        return os.path.exists(path)


def write_epoch(out: DataFrame, output_dir: str, epoch_id: int) -> None:
    """Idempotent epoch sink: a replayed microbatch overwrites exactly its
    own ``epoch=<id>`` directory (the foreachBatch exactly-once contract;
    production: Iceberg ``overwritePartitions`` on an epoch column)."""
    out.write.mode("overwrite").parquet(
        os.path.join(output_dir, f"epoch={epoch_id}")
    )


def read_stream_output(spark: SparkSession, output_dir: str) -> DataFrame:
    """Read the epoch-partitioned stream output as plain (doc_id, spans)."""
    return spark.read.parquet(output_dir).drop("epoch")


def stream_sanitize_parquet_dir(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    settings=None,
    explode: bool = False,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watch ``input_dir`` for new parquet files of (doc_id, spans) docs and
    write sanitized docs to ``output_dir`` (one ``epoch=<id>`` dir per
    microbatch; see :func:`write_epoch` for the idempotence contract).

    ``explode=False`` by default: per-microbatch volumes are small, so the
    nested single-UDF plan (no reassembly shuffle) is the right physical
    strategy; flip to True for firehose feeds with mega-documents.
    """
    src = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = sanitize_spans(
            batch_df.sparkSession, batch_df, settings=settings, explode=explode
        )
        write_epoch(out, output_dir, epoch_id)

    writer = (
        src.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_quality_gate(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming Gopher quality gate: score every arriving document with
    the SAME map-side rule battery the batch operator runs
    (queries.gopher_feature_frame — single-sourced, so batch and stream
    can never drift) and emit the full feature row + keep bit per doc.

    The gate is STATELESS (pure map over each micro-batch — the
    cheap-rules-first stage a streaming ingest runs in front of the
    stateful dedup operators in this module), so there is no watermark
    and no state store: throughput is scan-bound exactly like batch.
    Output lands epoch-partitioned (write_epoch) for idempotent replay,
    matching the module-wide exactly-once contract."""
    src = spark.readStream.schema(DEDUP_FEED_SCHEMA).parquet(input_dir)
    from ..queries import gopher_feature_frame

    gated = gopher_feature_frame(
        src.filter(F.length(F.trim(F.col("text"))) > 0)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, output_dir, epoch_id)

    writer = (
        gated.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_event_window_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 day",
    watermark: str = "2 hours",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Stateful streaming: event-time tumbling-window counts with a
    watermark (the batch twin is queries.q_event_window_rollup).

    This is the bounded-state shape for an unbounded feed: the watermark
    lets the state store age out windows older than (max event time seen -
    ``watermark``), and append mode emits each (window, event_type) row
    exactly once, when its window closes. Events arriving later than the
    watermark are DROPPED by contract — the property the test pins. At
    100TB-feed scale the only tuning is the watermark delay (state size =
    windows kept open) and shuffle partitions for the groupBy; the state
    store itself is per-partition and scales with executors. The watermark
    persists in the checkpoint, so availableNow re-runs continue aging
    correctly across job restarts."""
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("day_start"), "event_type", "n_events"
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DEDUP_FEED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup: emit only the FIRST arrival of each content
    digest (streaming twin of queries.q_dedup_exact — arrival order
    replaces min(doc_id) as the keeper tiebreak, identical when the feed
    arrives in doc_id order; pinned by tests/test_streaming_dedup.py).

    ``watermark=None`` -> ``dropDuplicates`` on the digest: exact global
    dedup. State is one compact row per DISTINCT digest ever seen — the
    honest minimum for exact dedup over an unbounded feed; the state store
    is digest-hash-partitioned so it scales out with executors (at crawl
    scale this is the same digest-keyed shard layout you'd back with an
    external KV).

    ``watermark='1 hour'`` -> ``dropDuplicatesWithinWatermark``: duplicates
    are suppressed only within the watermark horizon, so entries age out
    and state is BOUNDED by feed rate x horizon — the production default
    when re-crawl duplicates cluster in time; a digest re-appearing after
    the horizon is re-emitted by contract (the test pins both sides)."""
    src = spark.readStream.schema(DEDUP_FEED_SCHEMA).parquet(input_dir)
    hashed = src.withColumn("text_hash", F.md5("text"))
    if watermark is not None:
        deduped = hashed.withWatermark("ts", watermark)\
            .dropDuplicatesWithinWatermark(["text_hash"])
    else:
        deduped = hashed.dropDuplicates(["text_hash"])

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, output_dir, epoch_id)

    writer = (
        deduped.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_incremental(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming incremental-ingest dedup: the streaming twin of
    queries.dedup_incremental_against_index. Each micro-batch of the feed
    is probed against the PERSISTED corpus digest index
    (queries.write_digest_index) with a stream-static join, then
    first-arrival-deduped within the stream itself:

        emit a doc  <=>  its digest is NOT in the corpus index
                         AND it is the stream's first sighting of it

    Scale shape: the stream-static probe is a digest-keyed hash join
    re-planned per micro-batch (a digest-bucketed index co-partitions
    it; index rows added between RUNS/RESTARTS are picked up — the static
    side's file listing is fixed when ``spark.read.parquet`` is planned,
    so a continuously-running ``trigger_once=False`` query sees index
    files that existed at start; availableNow batch-per-run ingest — the
    shape this function and its test exercise — gets the accreting-index
    semantics naturally. For a true long-running stream, rebuild the
    static frame per micro-batch inside foreachBatch), and the
    dropDuplicates state is one row per distinct NEW digest. Stream-static
    left-anti isn't supported by the engine, so the probe is the
    equivalent marker left-outer + IS NULL filter. The index scan projects
    ``digest`` only — column pruning reaches it regardless of index
    metadata columns."""
    src = spark.readStream.schema(DEDUP_FEED_SCHEMA).parquet(input_dir)
    hashed = src.withColumn("text_hash", F.md5("text"))
    idx = (
        spark.read.parquet(index_dir)
        .select(F.col("digest").alias("text_hash"))
        .withColumn("_in_corpus", F.lit(1))
    )
    fresh = (
        hashed.join(idx, "text_hash", "left")
        .filter(F.col("_in_corpus").isNull())
        .drop("_in_corpus")
        .dropDuplicates(["text_hash"])
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, output_dir, epoch_id)

    writer = (
        fresh.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_pipeline(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    settings=None,
    trigger_once: bool = True,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """The COMPOSED production ingest job (VERDICT r05 next-round #6):
    feed -> incremental dedup against an accreting digest index -> REAL
    sanitize -> epoch sink, all inside ONE streaming query. The
    previously-separate twins (stream_dedup_incremental, the sanitize
    foreachBatch path) exist for differential pinning; this is the job a
    production corpus actually runs.

    Per micro-batch, inside ``foreachBatch`` (everything batch-planned, so
    left-anti stream-static limits don't apply):

    1. probe: fresh ``spark.read.parquet(index_dir)`` per batch — digests
       appended by EARLIER batches (this run or prior runs) suppress
       immediately; a left-anti join on the content digest drops them.
    2. in-batch first-arrival: min-doc_id row per digest (batch-local
       window — bounded by the micro-batch, no state store).
    3. sanitize survivors with the fused engine UDF.
    4. sink: ``epoch=<id>`` overwrite (write_epoch idempotence contract).
    5. accrete: append the batch's new digests to the index under its OWN
       ``epoch=<id>`` partition.

    Exactly-once under replay: BOTH sinks are epoch-partitioned
    overwrites, and the probe reads only STRICTLY EARLIER epochs
    (``epoch < current``) — a replayed batch neither sees its crashed
    attempt's index partition nor double-appends it, so output is
    deterministic. The index therefore uses an epoch-partitioned layout
    (``index_dir/epoch=<id>/``); seed a pre-existing corpus index into
    ``index_dir/epoch=-1`` (e.g. via queries.write_digest_index pointed
    at that path).

    Scale shape: the probe is one digest-keyed hash join per micro-batch
    against a digest-only projection (column pruning reaches the index
    scan); the window is micro-batch-local; sanitize is the same
    Arrow-batched kernel as the batch pipeline. State is carried by the
    INDEX, not the state store — restart-safe and shared with batch
    ingest jobs by construction."""
    from ..functions.udfs import make_sanitize_udf
    from pyspark.sql.window import Window

    sanitize_udf = make_sanitize_udf(settings=settings)
    src = (
        spark.readStream.schema(DEDUP_FEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.sparkSession
        hashed = batch_df.withColumn("text_hash", F.md5("text"))

        # The missing-index case (first-ever batch) is detected by an
        # EXPLICIT path-existence probe, not by swallowing
        # AnalysisException around the read: a blanket except also
        # swallowed a MIS-SEEDED index (digests written at index_dir root
        # without the epoch=<id> partition layout make the epoch filter
        # raise), silently disabling dedup-vs-prior. Now a present-but-
        # malformed index fails loudly with the expected layout named.
        if _hadoop_path_exists(s, index_dir):
            idx_df = s.read.parquet(index_dir)
            missing = {"digest", "epoch"} - set(idx_df.columns)
            if missing:
                raise ValueError(
                    f"digest index at {index_dir!r} is mis-seeded: columns "
                    f"{sorted(missing)} absent (have {idx_df.columns}). "
                    "Expected the epoch-partitioned layout "
                    "index_dir/epoch=<id>/ with a 'digest' column — seed a "
                    "pre-existing corpus index under epoch=-1."
                )
            idx = (
                idx_df.filter(F.col("epoch") < F.lit(epoch_id))
                .select(F.col("digest").alias("text_hash"))
            )
            fresh = hashed.join(idx, "text_hash", "left_anti")
        else:  # first-ever batch: no index dir yet
            fresh = hashed
        w = Window.partitionBy("text_hash").orderBy("doc_id")
        first = (
            fresh.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        out = first.select(
            "doc_id",
            "ts",
            "text_hash",
            sanitize_udf(F.col("text")).alias("clean"),
        ).localCheckpoint()  # one pass: both sinks reuse the materialized batch
        write_epoch(out, output_dir, epoch_id)
        (
            out.select(F.col("text_hash").alias("digest"), "doc_id")
            .groupBy("digest")
            .agg(F.min("doc_id").alias("first_doc_id"))
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, f"epoch={epoch_id}"))
        )

    writer = (
        src.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
