"""Checkpointed, idempotently-resumable batch runs: the one write path the
CLI uses for every mode and plan.

Production design targets Iceberg: each bucket commit is an Iceberg
append/overwrite snapshot and the manifest is redundant with the table's own
snapshot log. This sandbox has no Iceberg runtime jar, so the same protocol
runs over plain parquet with an Iceberg-style JSON manifest we own:

    out_dir/
      _sanitize_manifest.json     # atomic (write-tmp + rename) commit record
      _staging/bucket=<k>/...     # ONE-pass bucketed copy of the input
      bucket=<k>/part-*.parquet   # one dir per doc_id hash bucket
      _lineage/bucket=<k>/...     # per-partition lineage rows per bucket
      _quarantine/bucket=<k>/...  # docs with n_span_errors > 0 (non-raise)

Protocol:
- Buckets are plan-agnostic: each runs ONE document-level plan
  (``sanitize_spans`` exploded or nested, or ``extract_spans``) whose
  (doc_id, spans[, n_span_errors]) frame is persisted once and feeds the
  data write (without the count), the quarantine and ``lineage_metrics``.
- bucket(doc) = pmod(xxhash64(doc_id), n_buckets) — stable under retries.
- With more than one bucket the input is staged ONCE with
  ``partitionBy(bucket)``, so each per-bucket job reads only its own
  ``bucket=<k>`` directory: a filter on a *computed* xxhash64 column
  cannot push down, and without staging an n-bucket run is n full scans
  of the input. On a real lakehouse the staging pass is free: declare
  ``bucket(n, doc_id)`` in the Iceberg partition spec. A single bucket
  reads the input directly: no copy.
- A bucket is processed with overwrite semantics (re-running a
  half-written bucket is safe) and only then recorded in the manifest;
  the manifest rename is the commit point.
- Resume = skip buckets already in the manifest (the left-anti-join of
  SURVEY.md §2.3 J3, done driver-side on bucket ids since the manifest is
  tiny). Staging carries its own commit marker (same atomic-rename
  pattern) so a crash mid-staging restages while a crash mid-bucket
  reuses the staged copy.
- The manifest and the staging marker record a fingerprint of
  ``configs.fingerprint(settings)`` (hooks hash by code), the mode and,
  in extract mode, ``max_link_density``; the manifest also records the
  on_error policy. Resuming with a different fingerprint, policy or bucket
  count refuses. The plan (exploded or nested) is left out: both agree
  span for span.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..configs import fingerprint
from .job import extract_spans, lineage_metrics, sanitize_spans

__all__ = ["CheckpointedRun", "run_checkpointed"]

MANIFEST_NAME = "_sanitize_manifest.json"
STAGING_DIR = "_staging"
STAGING_MARKER = "_staging_commit.json"


def _stage_bucketed(df: DataFrame, out_dir: str, n_buckets: int,
                    fp: str) -> str:
    """One-pass bucketed staging write (the Iceberg ``bucket(n, doc_id)``
    partition-spec analog): every later per-bucket read prunes to its own
    ``bucket=<k>`` directory instead of rescanning the input. Committed via
    the same atomic tmp+rename marker pattern as the run manifest; a marker
    with matching (n_buckets, fingerprint) means the staged copy is
    complete and reusable across resume attempts."""
    staging = os.path.join(out_dir, STAGING_DIR)
    marker = os.path.join(staging, STAGING_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m["n_buckets"] == n_buckets and m["config_fingerprint"] == fp:
            return staging
    (
        df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staging)
    )
    fd, tmp = tempfile.mkstemp(dir=staging, prefix="._staging")
    with os.fdopen(fd, "w") as fh:
        json.dump({"n_buckets": n_buckets, "config_fingerprint": fp}, fh)
    os.replace(tmp, marker)
    return staging


@dataclass
class CheckpointedRun:
    out_dir: str
    n_buckets: int
    config_fingerprint: str
    done: list[int] = field(default_factory=list)
    on_error: str = "raise"

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.out_dir, MANIFEST_NAME)

    @classmethod
    def load_or_create(cls, out_dir: str, n_buckets: int, fingerprint: str,
                       on_error: str = "raise"):
        path = os.path.join(out_dir, MANIFEST_NAME)
        if os.path.exists(path):
            with open(path) as fh:
                m = json.load(fh)
            if m["config_fingerprint"] != fingerprint:
                raise ValueError(
                    "Refusing to resume: manifest config fingerprint "
                    f"{m['config_fingerprint']} != current {fingerprint}"
                )
            if m["n_buckets"] != n_buckets:
                raise ValueError(
                    f"Refusing to resume: manifest n_buckets {m['n_buckets']}"
                    f" != requested {n_buckets}"
                )
            if m.get("on_error", "raise") != on_error:
                raise ValueError(
                    f"Refusing to resume: manifest on_error "
                    f"{m.get('on_error', 'raise')!r} != requested {on_error!r}"
                    " (would mix poison-row policies across buckets)"
                )
            return cls(out_dir, n_buckets, fingerprint, list(m["done"]),
                       on_error)
        os.makedirs(out_dir, exist_ok=True)
        return cls(out_dir, n_buckets, fingerprint, on_error=on_error)

    def commit_bucket(self, bucket: int) -> None:
        """Atomic manifest update AFTER the bucket's data is fully written:
        write to a temp file in the same directory, then rename (the POSIX
        atomic commit; on object stores this is an Iceberg snapshot commit
        instead)."""
        if bucket not in self.done:
            self.done.append(bucket)
        payload = {
            "n_buckets": self.n_buckets,
            "config_fingerprint": self.config_fingerprint,
            "done": sorted(self.done),
            "on_error": self.on_error,
        }
        fd, tmp = tempfile.mkstemp(dir=self.out_dir, prefix="._manifest")
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, self.manifest_path)


_PLANS = {"sanitize": sanitize_spans, "extract": extract_spans}
_CACHE_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _persist_coalesced(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``persist()`` that keeps AQE's final partition coalescing: Spark
    plans a cached frame with it off, so each bucket would write one file
    per shuffle partition. The setting is read when the cache is planned."""
    prev = spark.conf.get(_CACHE_AQE)
    spark.conf.set(_CACHE_AQE, "true")
    try:
        return df.persist()
    finally:
        spark.conf.set(_CACHE_AQE, prev)


def run_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    mode: str = "sanitize",
    **plan,
) -> CheckpointedRun:
    """Run ``mode``'s document-level plan over ``df`` into ``out_dir``
    bucket-by-bucket with resume.

    ``plan`` keywords go unchanged to ``sanitize_spans`` (mode "sanitize")
    or ``extract_spans`` (mode "extract"). A non-raise ``on_error`` adds
    ``out_dir/_quarantine/bucket=<k>``: the documents with
    ``n_span_errors > 0``; lineage carries per-partition n_errors either way.
    Each bucket is written (overwrite) to ``out_dir/bucket=<k>`` and then
    committed to the manifest.
    """
    plan_fn = _PLANS[mode]
    key = [fingerprint(plan.get("settings")), mode]
    if mode == "extract":
        key.append(plan.get("max_link_density"))
    fp = hashlib.sha256(json.dumps(key).encode()).hexdigest()[:16]
    run = CheckpointedRun.load_or_create(out_dir, n_buckets, fp,
                                         plan.get("on_error", "raise"))

    todo = [b for b in range(n_buckets) if b not in run.done]
    staging = (_stage_bucketed(df, out_dir, n_buckets, fp)
               if todo and n_buckets > 1 else None)
    for bucket in todo:
        if staging is None:
            part = df
        elif os.path.exists(os.path.join(staging, f"bucket={bucket}")):
            # partition-pruned read: only this bucket's files are scanned
            part = spark.read.schema(df.schema).parquet(
                os.path.join(staging, f"bucket={bucket}"))
        else:
            # hash bucket received no rows — still emit an (empty) committed
            # output dir so read_checkpointed's bucket=* glob stays uniform
            part = spark.createDataFrame([], df.schema)
        docs = _persist_coalesced(spark, plan_fn(spark, part, **plan))
        docs.drop("n_span_errors").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={bucket}")
        )
        if "n_span_errors" in docs.columns:
            docs.filter(F.col("n_span_errors") > 0).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, "_quarantine", f"bucket={bucket}"))
        lineage_metrics(docs).withColumn("bucket", F.lit(bucket)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "_lineage", f"bucket={bucket}"))
        docs.unpersist()
        run.commit_bucket(bucket)
    if staging is not None and len(run.done) == n_buckets:
        # every bucket committed: the staged copy is dead weight, drop it
        # (an Iceberg bucket partition spec has no copy to drop)
        shutil.rmtree(staging, ignore_errors=True)
    return run


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))
