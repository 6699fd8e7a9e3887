"""Tier 3: checkpoint/resume correctness — kill after k buckets, re-run,
output must be byte-equal to an uninterrupted run; config drift refused."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from html_sanitizer_spark.engine.settings import Settings
from html_sanitizer_spark.pipeline.checkpoint import (
    MANIFEST_NAME,
    CheckpointedRun,
    read_checkpointed,
    run_checkpointed,
)
from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA, synth_spans_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def poison_df(spark, monkeypatch):
    """Eight one-span docs; sanitizing d3's span raises."""
    from html_sanitizer_spark.functions import udfs

    orig = udfs.sanitize

    def bomb(t, s):
        if "BOOM" in t:
            raise RuntimeError("poison document")
        return orig(t, s)

    monkeypatch.setattr(udfs, "sanitize", bomb)
    docs = [
        {"doc_id": f"d{i}", "spans": [
            {"kind": "text",
             "text": "<p>BOOM</p>" if i == 3 else f"<p>ok {i}</p>",
             "media_ref": "", "offset": 0},
        ]}
        for i in range(8)
    ]
    return spark.createDataFrame(docs, schema=DOC_SCHEMA)


def _crash_after_commits(monkeypatch, n, next_bucket_written=False):
    """Make the run crash with ``n`` buckets committed to the manifest:
    right after the n-th commit, or, with ``next_bucket_written``, in the
    next bucket's commit after its data has landed (a crash between the
    two commit points)."""
    orig_commit = CheckpointedRun.commit_bucket

    def commit(self, bucket):
        if next_bucket_written and len(self.done) == n:
            raise RuntimeError("injected failure in manifest commit")
        orig_commit(self, bucket)
        if not next_bucket_written and len(self.done) == n:
            raise RuntimeError(f"injected failure after bucket {bucket}")

    monkeypatch.setattr(CheckpointedRun, "commit_bucket", commit)


def _collect_sorted(df):
    return sorted(
        ((r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()),
    )


def test_resume_after_crash(spark, tmp_path, monkeypatch):
    df = synth_spans_df(spark, 120, seed=5, mega_every=0).cache()

    full_dir = str(tmp_path / "full")
    run_checkpointed(spark, df, full_dir, n_buckets=4)
    want = _collect_sorted(read_checkpointed(spark, full_dir))

    crash_dir = str(tmp_path / "crash")
    _crash_after_commits(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, crash_dir, n_buckets=4)
    monkeypatch.undo()
    manifest = json.load(open(os.path.join(crash_dir, MANIFEST_NAME)))
    assert len(manifest["done"]) == 2

    # resume: only remaining buckets run; output identical to one-shot
    run = run_checkpointed(spark, df, crash_dir, n_buckets=4)
    assert sorted(run.done) == [0, 1, 2, 3]
    got = _collect_sorted(read_checkpointed(spark, crash_dir))
    assert got == want

    # crash BETWEEN the commit points: the third bucket's data write
    # lands, then its manifest commit raises; the resume redoes it
    out = str(tmp_path / "between")
    _crash_after_commits(monkeypatch, 2, next_bucket_written=True)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, out, n_buckets=4)
    monkeypatch.undo()
    manifest = json.load(open(os.path.join(out, MANIFEST_NAME)))
    assert len(manifest["done"]) == 2
    run = run_checkpointed(spark, df, out, n_buckets=4)
    assert sorted(run.done) == [0, 1, 2, 3]
    got = _collect_sorted(read_checkpointed(spark, out))
    assert got == want
    df.unpersist()


def test_rerun_is_idempotent(spark, tmp_path):
    df = synth_spans_df(spark, 40, seed=9, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    before = _collect_sorted(read_checkpointed(spark, out))
    run2 = run_checkpointed(spark, df, out, n_buckets=2)  # no-op: all done
    assert sorted(run2.done) == [0, 1]
    assert _collect_sorted(read_checkpointed(spark, out)) == before


def test_config_drift_refused(spark, tmp_path):
    df = synth_spans_df(spark, 10, seed=2, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    with pytest.raises(ValueError, match="config fingerprint"):
        run_checkpointed(spark, df, out, settings="typographic", n_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(spark, df, out, n_buckets=4)

    with pytest.raises(ValueError, match="config fingerprint"):
        run_checkpointed(spark, df, out, n_buckets=2, mode="extract")

    # hooks hash by code: configs that differ only in their sanitize_href
    # lambda must not resume into each other's output
    hooked = str(tmp_path / "hooked")
    run_checkpointed(spark, df, hooked, n_buckets=2,
                     settings=Settings({"sanitize_href": lambda h: h}))
    with pytest.raises(ValueError, match="config fingerprint"):
        run_checkpointed(spark, df, hooked, n_buckets=2,
                         settings=Settings({"sanitize_href": lambda h: "#"}))


def test_fingerprint_stable_across_hash_seeds():
    """A resume runs in a new process: the config fingerprint must not
    depend on PYTHONHASHSEED (set-valued fields, hook code)."""
    from html_sanitizer_spark.configs import PIPELINE_CONFIGS, fingerprint

    code = ("from html_sanitizer_spark.configs import PIPELINE_CONFIGS, "
            "fingerprint; print([fingerprint(n) for n in sorted(PIPELINE_CONFIGS)])")
    outs = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, check=True,
            capture_output=True, text=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout.strip()
        for seed in ("1", "2")
    }
    assert outs == {str([fingerprint(n) for n in sorted(PIPELINE_CONFIGS)])}


def test_staging_partition_pruned_io(spark, tmp_path, monkeypatch):
    """The 100TB property: the input is staged ONCE (bucketed write), and
    each per-bucket job reads only its own bucket=<k> files — never a
    rescan of the whole input (a filter on computed xxhash64 can't prune)."""
    df = synth_spans_df(spark, 80, seed=7, mega_every=0)
    out = str(tmp_path / "out")
    _crash_after_commits(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, out, n_buckets=4)
    monkeypatch.undo()

    staging = os.path.join(out, "_staging")
    assert os.path.exists(os.path.join(staging, "_staging_commit.json"))
    # staged copy holds the full input exactly once
    assert spark.read.parquet(staging).count() == 80
    # a per-bucket read touches only that bucket's files (partition-pruned)
    part = spark.read.parquet(os.path.join(staging, "bucket=2"))
    files = part.inputFiles()
    assert files and all("bucket=2" in f for f in files), files

    # resume reuses the staged copy, completes, and drops the staging dir
    run = run_checkpointed(spark, df, out, n_buckets=4)
    assert sorted(run.done) == [0, 1, 2, 3]
    assert not os.path.exists(staging)
    assert read_checkpointed(spark, out).count() == 80


def test_lineage_written(spark, tmp_path):
    df = synth_spans_df(spark, 30, seed=4, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "bucket=*"))
    rows = lineage.collect()
    assert sum(r["n_spans"] for r in rows) >= 30
    assert {c for c in lineage.columns} >= {
        "part_id", "n_spans", "n_docs_approx", "text_bytes_out", "bucket"
    }


def test_quarantine_written_on_keep(spark, tmp_path, poison_df):
    """on_error='keep' routes documents with poison spans to an explicit
    quarantine table per bucket and records the policy in the manifest
    (resume under a different policy refuses)."""
    df = poison_df
    out = str(tmp_path / "out")
    run = run_checkpointed(spark, df, out, n_buckets=2, on_error="keep")
    assert sorted(run.done) == [0, 1]

    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    qrows = q.collect()
    assert len(qrows) == 1 and "BOOM" in qrows[0]["spans"][0]["text"]
    assert qrows[0]["n_span_errors"] == 1
    # keep policy: the raw span is still in the main output, flagged only
    # via quarantine/lineage
    main = read_checkpointed(spark, out)
    texts = {r["doc_id"]: r["spans"][0]["text"] for r in main.collect()}
    assert texts["d3"] == "<p>BOOM</p>"
    assert texts["d0"] == "<p>ok 0</p>"
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "bucket=*"))
    assert sum(r["n_errors"] for r in lineage.collect()) == 1
    # policy drift refused on resume
    with pytest.raises(ValueError, match="on_error"):
        run_checkpointed(spark, df, out, n_buckets=2, on_error="null")


@pytest.mark.parametrize("nested", [False, True], ids=["exploded", "nested"])
def test_cli_keep_quarantines_poison_doc(spark, tmp_path, poison_df, nested):
    """Every CLI plan flags a kept poison span: exactly one quarantined
    document and one error in the lineage."""
    from html_sanitizer_spark.pipeline.cli import main

    in_dir = str(tmp_path / "in")
    poison_df.write.parquet(in_dir)
    out = str(tmp_path / "out")
    assert main(["--input", in_dir, "--output", out, "--buckets", "2",
                 "--salt", "2", "--on-error", "keep",
                 *(["--nested"] if nested else [])]) == 0
    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    assert [(r["doc_id"], r["n_span_errors"]) for r in q.collect()] == [("d3", 1)]
    lineage = spark.read.parquet(os.path.join(out, "_lineage", "bucket=*"))
    assert sum(r["n_errors"] for r in lineage.collect()) == 1
