"""Checkpointed, idempotently-resumable batch runs: the one write path the
CLI uses for every mode and plan.

Production design targets Iceberg: each bucket commit is an Iceberg
append/overwrite snapshot and the manifest is redundant with the table's own
snapshot log. This sandbox has no Iceberg runtime jar, so the same protocol
runs over plain parquet with an Iceberg-style JSON manifest we own:

    out_dir/
      _sanitize_manifest.json     # atomic (write-tmp + rename) commit record;
                                  # carries each done bucket's lineage
      _staging/bucket=<k>/...     # ONE-pass bucketed copy of the input
      bucket=<k>/part-*.parquet   # one dir per doc_id hash bucket
      _quarantine/bucket=<k>/...  # docs with n_span_errors > 0 (non-raise
                                  # policy, buckets with errors only)

Protocol:
- Buckets are plan-agnostic: each runs ONE document-level plan
  (``sanitize_spans`` exploded or nested, or ``extract_spans``) as ONE
  Spark job, the data write, with the bucket's lineage
  (``job.lineage_columns``) observed on that same job — the analog of an
  Iceberg snapshot summary's write stats. Only a bucket whose job saw
  poison documents runs a second job, its quarantine write, which reads
  them back from the bucket's output (their ids and error counts ride
  the same observation): it runs no UDF.
- ``_IN_FLIGHT`` buckets run at once, so one bucket's driver-side
  planning, file commit and tail stages overlap another's UDF stage.
  The calling thread commits buckets in completion order and starts the
  next bucket only after a commit. Once a bucket raises, no bucket starts
  and no commit lands, the running jobs of the bucket still in flight are
  cancelled (as if the process had died; a job it submits after the
  cancel still runs, uncommitted), and that first error is re-raised.
- bucket(doc) = pmod(xxhash64(doc_id), n_buckets) — stable under retries.
  Without an explicit count a new run takes one bucket per
  ``_BUCKET_BYTES`` of input files (at least one), and a resume takes the
  manifest's count.
- With more than one bucket the input is staged ONCE with
  ``partitionBy(bucket)``, so each per-bucket job reads only its own
  ``bucket=<k>`` directory: a filter on a *computed* xxhash64 column
  cannot push down, and without staging an n-bucket run is n full scans
  of the input. On a real lakehouse the staging pass is free: declare
  ``bucket(n, doc_id)`` in the Iceberg partition spec. A single bucket
  reads the input directly: no copy.
- A bucket is processed with overwrite semantics (re-running a
  half-written bucket is safe) and only then recorded, with its lineage,
  in the manifest; the manifest rename is the commit point.
- A new run (no manifest) first deletes the ``bucket=<k>`` and
  ``_quarantine`` directories a crashed run left: none was committed, and
  a run with fewer buckets would not overwrite them all.
- Resume = skip buckets already in the manifest (the left-anti-join of
  SURVEY.md §2.3 J3, done driver-side on bucket ids since the manifest is
  tiny). Staging carries its own commit marker (same atomic-rename
  pattern) so a crash mid-staging restages while a crash mid-bucket
  reuses the staged copy.
- The manifest and the staging marker record a fingerprint of
  ``configs.fingerprint(settings)`` (hooks hash by code), the mode and,
  in extract mode, ``max_link_density``; the manifest also records the
  on_error policy. Resuming with a different fingerprint, policy or
  explicit bucket count refuses, and so does resuming into a manifest
  without lineage (an older layout that kept lineage in a parquet table).
  The plan (exploded or nested) is left out: both agree span for span.
- Both also record the input's identity (``_input_identity``): a rerun or
  a resume over a changed input refuses, in the manifest and in a staged
  copy's marker alike, and so does a manifest without it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass, field
from itertools import islice

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..configs import fingerprint
from .job import extract_spans, lineage_columns, sanitize_spans

__all__ = ["CheckpointedRun", "run_checkpointed"]

MANIFEST_NAME = "_sanitize_manifest.json"
STAGING_DIR = "_staging"
STAGING_MARKER = "_staging_commit.json"
# input bytes per derived bucket: the bucket is the unit of resume (a crash
# loses at most _IN_FLIGHT of them) and costs ≈0.5 s of fixed work whatever
# its size; on 4 cores 128 MB of parquet (one default input split) takes
# ≈20 s to sanitize as plain text and minutes as markup, so that cost stays
# a few per cent at most
_BUCKET_BYTES = 128 * 1024 * 1024


def _input_identity(spark: SparkSession, df: DataFrame) -> tuple[str, int]:
    """A hash of what ``df`` reads, and its size in bytes: its sorted input
    files with their sizes and modification times or, for a frame that
    reads no files, its plan's ``semanticHash`` (which may not survive a
    new process: such a resume refuses rather than mixes) and size 0."""
    files = sorted(df.inputFiles())
    if not files:
        return str(df.semanticHash()), 0
    # through Hadoop's FileSystem, so any scheme the read used works
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    jvm = spark.sparkContext._jvm
    stats = []
    for uri in files:
        # from a java.net.URI: inputFiles() percent-encodes (a space is
        # %20), and Path(String) would not decode it
        path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(uri))
        st = path.getFileSystem(conf).getFileStatus(path)
        stats.append([uri, st.getLen(), st.getModificationTime()])
    return (hashlib.sha256(json.dumps(stats).encode()).hexdigest()[:16],
            sum(size for _, size, _ in stats))


def _stage_bucketed(df: DataFrame, out_dir: str, n_buckets: int,
                    fp: str, input_id: str) -> str:
    """One-pass bucketed staging write (the Iceberg ``bucket(n, doc_id)``
    partition-spec analog): every later per-bucket read prunes to its own
    ``bucket=<k>`` directory instead of rescanning the input. Committed via
    the same atomic tmp+rename marker pattern as the run manifest; a marker
    with matching (n_buckets, fingerprint) means the staged copy is
    complete and reusable across resume attempts. A marker from another
    input refuses."""
    staging = os.path.join(out_dir, STAGING_DIR)
    marker = os.path.join(staging, STAGING_MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            m = json.load(fh)
        if m.get("input") != input_id:
            raise ValueError(
                f"Refusing to resume: staged input {m.get('input')} !="
                f" current input {input_id}"
            )
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
        json.dump({"n_buckets": n_buckets, "config_fingerprint": fp,
                   "input": input_id}, fh)
    os.replace(tmp, marker)
    return staging


@dataclass
class CheckpointedRun:
    out_dir: str
    n_buckets: int
    config_fingerprint: str
    input: str
    done: list[int] = field(default_factory=list)
    on_error: str = "raise"
    # str(bucket) -> that bucket's lineage row (job.lineage_columns)
    lineage: dict[str, dict] = field(default_factory=dict)

    @classmethod
    def load_or_create(cls, out_dir: str, n_buckets: int | None,
                       fingerprint: str, input_id: str, input_bytes: int,
                       on_error: str):
        """Resume the run ``out_dir``'s manifest records (refusing as the
        module docstring lists) or start one. ``n_buckets`` None takes the
        manifest's count on a resume and, for a new run, one bucket per
        ``_BUCKET_BYTES`` of input (at least 1)."""
        path = os.path.join(out_dir, MANIFEST_NAME)
        if not os.path.exists(path):
            os.makedirs(out_dir, exist_ok=True)
            # with no manifest nothing here was committed: drop the output
            # a crashed run left, or read_checkpointed would read it too.
            # A staged copy stays: its marker guards its reuse.
            for name in os.listdir(out_dir):
                if name.startswith("bucket=") or name == "_quarantine":
                    shutil.rmtree(os.path.join(out_dir, name))
            if n_buckets is None:
                n_buckets = max(1, math.ceil(input_bytes / _BUCKET_BYTES))
            return cls(out_dir, n_buckets, fingerprint, input_id,
                       on_error=on_error)
        with open(path) as fh:
            m = json.load(fh)
        if "lineage" not in m:
            raise ValueError("Refusing to resume: manifest has no lineage")
        if n_buckets is None:
            n_buckets = m["n_buckets"]
        for what, have, want in (
            ("config fingerprint", m["config_fingerprint"], fingerprint),
            ("n_buckets", m["n_buckets"], n_buckets),
            ("on_error", m.get("on_error"), on_error),
            ("input", m.get("input"), input_id),
        ):
            if have != want:
                raise ValueError(f"Refusing to resume: manifest {what}"
                                 f" {have!r} != current {want!r}")
        return cls(out_dir, n_buckets, fingerprint, input_id,
                   list(m["done"]), on_error, m["lineage"])

    def commit_bucket(self, bucket: int) -> None:
        """Atomic manifest update AFTER the bucket's data is fully written,
        recording ``self.lineage`` with ``done``: write to a temp file in
        the same directory, then rename (the POSIX atomic commit; on object
        stores this is an Iceberg snapshot commit instead)."""
        if bucket not in self.done:
            self.done.append(bucket)
            self.done.sort()
        payload = {
            "n_buckets": self.n_buckets,
            "config_fingerprint": self.config_fingerprint,
            "input": self.input,
            "done": self.done,
            "on_error": self.on_error,
            "lineage": self.lineage,
        }
        fd, tmp = tempfile.mkstemp(dir=self.out_dir, prefix="._manifest")
        with os.fdopen(fd, "w") as fh:
            json.dump(payload, fh, indent=1)
        os.replace(tmp, os.path.join(self.out_dir, MANIFEST_NAME))


_PLANS = {"sanitize": sanitize_spans, "extract": extract_spans}
_IN_FLIGHT = 2  # buckets running at once


def run_checkpointed(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    n_buckets: int | None = None,
    mode: str = "sanitize",
    **plan,
) -> CheckpointedRun:
    """Run ``mode``'s document-level plan over ``df`` into ``out_dir``
    bucket-by-bucket with resume, ``_IN_FLIGHT`` buckets at a time.
    ``n_buckets`` None derives the count (``CheckpointedRun.load_or_create``):
    an input under ``_BUCKET_BYTES``, or a frame that reads no files, runs
    one bucket with no staged copy.

    ``plan`` keywords go unchanged to ``sanitize_spans`` (mode "sanitize")
    or ``extract_spans`` (mode "extract"). Each bucket is one Spark job:
    the write (overwrite) of ``out_dir/bucket=<k>``, observing the
    bucket's lineage, which the manifest commit then records as
    ``run.lineage[str(k)]``. Under a non-raise ``on_error`` a bucket whose
    lineage counts errors adds ``out_dir/_quarantine/bucket=<k>``: the
    documents with ``n_span_errors > 0``. The write's observation also
    collects those documents' ``(doc_id, n_span_errors)`` to the driver,
    and that second job joins them to the bucket's written output: it
    re-runs no plan, so a bucket's errors cost a parquet read, not a
    second pass of the UDF.

    A run that must resume in another process, or over a rebuilt frame,
    needs a file-backed ``df`` (the CLI always reads files): a frame that
    reads no files is identified by its plan's ``semanticHash``, which a
    ``createDataFrame`` frame rebuilt over the same rows does not keep, so
    that resume refuses.
    """
    plan_fn = _PLANS[mode]
    key = [fingerprint(plan.get("settings")), mode]
    if mode == "extract":
        key.append(plan.get("max_link_density"))
    fp = hashlib.sha256(json.dumps(key).encode()).hexdigest()[:16]
    input_id, input_bytes = _input_identity(spark, df)
    run = CheckpointedRun.load_or_create(out_dir, n_buckets, fp, input_id,
                                         input_bytes,
                                         plan.get("on_error", "raise"))
    n_buckets = run.n_buckets

    todo = [b for b in range(n_buckets) if b not in run.done]
    staging = (_stage_bucketed(df, out_dir, n_buckets, fp, input_id)
               if todo and n_buckets > 1 else None)
    # every job of this run carries the tag, so a failure can cancel the
    # bucket still in flight
    tag = f"run_checkpointed-{uuid.uuid4().hex}"

    def write(bucket: int) -> dict:
        """Write one bucket as ONE Spark job with its lineage observed on
        it (plus the quarantine job when it saw poison documents); returns
        the lineage row."""
        spark.sparkContext.addJobTag(tag)
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
        docs = plan_fn(spark, part, **plan)
        metrics = lineage_columns(docs)
        if "n_span_errors" in docs.columns:
            errs = docs.select("doc_id", "n_span_errors").schema
            metrics.append(F.collect_set(F.when(
                F.col("n_span_errors") > 0, F.struct(*errs.names)
            )).alias("poison"))
        data_dir = os.path.join(out_dir, f"bucket={bucket}")
        obs = Observation()
        docs.observe(obs, *metrics).drop("n_span_errors").write.mode(
            "overwrite"
        ).parquet(data_dir)
        lineage = obs.get
        poison = lineage.pop("poison", None)
        if poison:
            # the poison documents as this job wrote them, plus their
            # counts: a parquet read and a broadcast join, no plan re-run
            spark.read.parquet(data_dir).join(
                spark.createDataFrame(poison, errs), "doc_id"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "_quarantine", f"bucket={bucket}"))
        return lineage

    queue = iter(todo)
    with ThreadPoolExecutor(max_workers=_IN_FLIGHT) as pool:
        # bucket jobs keep the caller's local properties (job group,
        # scheduler pool) and session tags, as on the caller's thread
        target = inheritable_thread_target(spark)(write)
        running = {pool.submit(target, b): b for b in islice(queue, _IN_FLIGHT)}
        try:
            # commits run here, in completion order, and a bucket starts
            # only after a commit: once a bucket fails, none starts
            while running:
                fut = next(as_completed(running))
                bucket = running.pop(fut)
                run.lineage[str(bucket)] = fut.result()
                run.commit_bucket(bucket)
                running.update((pool.submit(target, b), b)
                               for b in islice(queue, 1))
        except BaseException:
            # as if the process had died: the bucket in flight is cancelled
            # and never committed
            spark.sparkContext.cancelJobsWithTag(tag)
            raise
    if len(run.done) == n_buckets:
        # every bucket committed: a staged copy (this run's, or one a
        # crashed run with another bucket count left) is dead weight, drop
        # it (an Iceberg bucket partition spec has no copy to drop)
        shutil.rmtree(os.path.join(out_dir, STAGING_DIR), ignore_errors=True)
    return run


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "bucket=*"))
