"""Tier 3: checkpoint/resume correctness — kill after k buckets, re-run,
output must be byte-equal to an uninterrupted run; config drift refused."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from html_sanitizer_spark.engine.settings import Settings
from html_sanitizer_spark.pipeline import checkpoint
from html_sanitizer_spark.pipeline.checkpoint import (
    MANIFEST_NAME,
    CheckpointedRun,
    read_checkpointed,
    run_checkpointed,
)
from html_sanitizer_spark.pipeline.job import lineage_metrics
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


def _manifest(out_dir):
    with open(os.path.join(out_dir, MANIFEST_NAME)) as fh:
        return json.load(fh)


def _collect_sorted(df):
    return sorted(
        ((r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()),
    )


def test_resume_after_crash(spark, tmp_path, monkeypatch):
    df = synth_spans_df(spark, 120, seed=5, mega_every=0).cache()

    full_dir = str(tmp_path / "full")
    run_checkpointed(spark, df, full_dir, n_buckets=4)
    want = _collect_sorted(read_checkpointed(spark, full_dir))
    want_lineage = _manifest(full_dir)["lineage"]

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
    assert _manifest(crash_dir)["lineage"] == want_lineage

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
    assert _manifest(out)["lineage"] == want_lineage
    df.unpersist()


def test_failed_bucket_stops_the_run(spark, tmp_path, monkeypatch):
    """A 4-bucket run whose third bucket's plan raises fails like a crash:
    the error reaches the caller without waiting out the bucket still in
    flight (its job is cancelled and never committed), no bucket starts
    and no commit lands after the failure, and the resume matches an
    uninterrupted run."""
    df = synth_spans_df(spark, 120, seed=5, mega_every=0).cache()
    full_dir = str(tmp_path / "full")
    run_checkpointed(spark, df, full_dir, n_buckets=4)

    events = []
    stalled = str(tmp_path / "bucket1-running")
    orig_plan = checkpoint._PLANS["sanitize"]
    orig_commit = CheckpointedRun.commit_bucket

    def stall(doc_id):  # runs in a Python worker: flag, then hang once
        if not os.path.exists(stalled):
            open(stalled, "w").close()
            time.sleep(240)
        return doc_id

    def plan(spark, part, **kw):
        bucket = int(re.search(r"bucket=(\d+)", part.inputFiles()[0])[1])
        events.append(("plan", bucket))
        docs = orig_plan(spark, part, **kw)
        if bucket == 1:
            # bucket 1's write job hangs until something cancels it
            return docs.withColumn("doc_id", F.udf(stall, "string")("doc_id"))
        if bucket == 2:
            # bucket 2 starts after bucket 0's commit and fails while
            # bucket 1's job is running
            deadline = time.monotonic() + 120
            while not os.path.exists(stalled) and time.monotonic() < deadline:
                time.sleep(0.1)
            events.append(("fail", bucket))
            raise RuntimeError("injected plan failure")
        return docs

    def commit(self, bucket):
        events.append(("commit", bucket))
        orig_commit(self, bucket)

    monkeypatch.setitem(checkpoint._PLANS, "sanitize", plan)
    monkeypatch.setattr(CheckpointedRun, "commit_bucket", commit)
    out = str(tmp_path / "out")
    started = time.monotonic()
    with pytest.raises(RuntimeError, match="injected plan failure"):
        run_checkpointed(spark, df, out, n_buckets=4)
    assert time.monotonic() - started < 120  # bucket 1 did not run out
    monkeypatch.undo()

    assert events[events.index(("fail", 2)) + 1:] == []
    assert [e for e in events if e[0] == "commit"] == [("commit", 0)]
    manifest = _manifest(out)
    assert manifest["done"] == [0] and list(manifest["lineage"]) == ["0"]

    run = run_checkpointed(spark, df, out, n_buckets=4)
    assert run.done == [0, 1, 2, 3]
    assert (_collect_sorted(read_checkpointed(spark, out))
            == _collect_sorted(read_checkpointed(spark, full_dir)))
    assert _manifest(out)["lineage"] == _manifest(full_dir)["lineage"]
    df.unpersist()


def test_bucket_jobs_keep_callers_job_group(spark, tmp_path):
    """Buckets run on pool threads, yet every job of the run carries the
    caller's job group, so cancelJobGroup still reaches all of them."""
    df = synth_spans_df(spark, 20, seed=3, mega_every=0)
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("checkpoint-run", "run_checkpointed")
    try:
        run_checkpointed(spark, df, str(tmp_path / "out"), n_buckets=2)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert sc.statusTracker().getJobIdsForGroup("checkpoint-run")


def test_rerun_is_idempotent(spark, tmp_path):
    df = synth_spans_df(spark, 40, seed=9, mega_every=0)
    out = str(tmp_path / "out")
    run_checkpointed(spark, df, out, n_buckets=2)
    before = _collect_sorted(read_checkpointed(spark, out))
    run2 = run_checkpointed(spark, df, out, n_buckets=2)  # no-op: all done
    assert sorted(run2.done) == [0, 1]
    assert _collect_sorted(read_checkpointed(spark, out)) == before


def test_small_input_runs_one_bucket(spark, tmp_path, monkeypatch):
    """Without a count, an input under ``_BUCKET_BYTES`` runs as one bucket,
    read directly with no staged copy, and its rerun rewrites nothing."""
    in_dir = str(tmp_path / "in")
    synth_spans_df(spark, 40, seed=9, mega_every=0).write.parquet(in_dir)
    df = spark.read.parquet(in_dir)

    def no_staging(*args):
        raise AssertionError("a one-bucket run staged its input")

    monkeypatch.setattr(checkpoint, "_stage_bucketed", no_staging)
    out = str(tmp_path / "out")
    run = run_checkpointed(spark, df, out)
    assert run.done == [0] and _manifest(out)["n_buckets"] == 1
    assert not os.path.exists(os.path.join(out, "_staging"))
    assert read_checkpointed(spark, out).count() == 40

    def snapshot():
        return {name: open(os.path.join(out, "bucket=0", name), "rb").read()
                for name in os.listdir(os.path.join(out, "bucket=0"))}

    manifest, written = _manifest(out), snapshot()
    assert run_checkpointed(spark, df, out).done == [0]
    assert _manifest(out) == manifest and snapshot() == written


def test_derived_bucket_count_resumes_from_manifest(spark, tmp_path,
                                                    monkeypatch):
    """An input over ``_BUCKET_BYTES`` gets more than one bucket; a resume
    with no count takes the manifest's count (whatever the rule would
    derive now) and matches an uninterrupted run, and an explicit count
    that differs still refuses."""
    in_dir = str(tmp_path / "in")
    synth_spans_df(spark, 120, seed=5, mega_every=0).write.parquet(in_dir)
    df = spark.read.parquet(in_dir)
    _, size = checkpoint._input_identity(spark, df)
    monkeypatch.setattr(checkpoint, "_BUCKET_BYTES", size // 3)

    full_dir = str(tmp_path / "full")
    n = run_checkpointed(spark, df, full_dir).n_buckets
    assert n > 1

    out = str(tmp_path / "crash")
    _crash_after_commits(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, out)
    monkeypatch.undo()  # the rule now derives one bucket for this input
    assert _manifest(out)["n_buckets"] == n and len(_manifest(out)["done"]) == 1
    with pytest.raises(ValueError, match="n_buckets"):
        run_checkpointed(spark, df, out, n_buckets=1)

    run = run_checkpointed(spark, df, out)
    assert run.n_buckets == n and run.done == list(range(n))
    assert (_collect_sorted(read_checkpointed(spark, out))
            == _collect_sorted(read_checkpointed(spark, full_dir)))
    assert _manifest(out)["lineage"] == _manifest(full_dir)["lineage"]


@pytest.mark.parametrize("rerun", ["one-bucket", "cli-derived"])
def test_new_run_drops_uncommitted_buckets(spark, tmp_path, monkeypatch,
                                           rerun):
    """A 2-bucket run that crashes in its first manifest commit leaves
    ``bucket=0``, ``bucket=1`` and a staged copy, none of them committed. A
    new one-bucket run (explicit, or the CLI's derived count) writes only
    ``bucket=0``: its output must equal a fresh run's, not also hold the
    stale ``bucket=1``."""
    in_dir = str(tmp_path / "in")
    synth_spans_df(spark, 40, seed=3, mega_every=0).write.parquet(in_dir)
    df = spark.read.parquet(in_dir)
    fresh = str(tmp_path / "fresh")
    run_checkpointed(spark, df, fresh, n_buckets=1)

    out = str(tmp_path / "out")

    def commit(self, bucket):
        # fail only once both buckets' data has landed
        deadline = time.monotonic() + 120
        while not all(os.path.exists(os.path.join(out, f"bucket={b}",
                                                  "_SUCCESS"))
                      for b in (0, 1)):
            assert time.monotonic() < deadline, os.listdir(out)
            time.sleep(0.05)
        raise RuntimeError("injected failure in manifest commit")

    monkeypatch.setattr(CheckpointedRun, "commit_bucket", commit)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, df, out, n_buckets=2)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, MANIFEST_NAME))
    assert {"bucket=0", "bucket=1", "_staging"} <= set(os.listdir(out))

    if rerun == "one-bucket":
        run_checkpointed(spark, df, out, n_buckets=1)
    else:
        from html_sanitizer_spark.pipeline.cli import main

        assert main(["--input", in_dir, "--output", out]) == 0
    assert sorted(os.listdir(out)) == [MANIFEST_NAME, "bucket=0"]
    assert (_collect_sorted(read_checkpointed(spark, out))
            == _collect_sorted(read_checkpointed(spark, fresh)))
    assert _manifest(out)["lineage"] == _manifest(fresh)["lineage"]


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

    # a manifest without lineage comes from the layout that kept lineage
    # in a parquet table: resuming into it would mix the two layouts
    old = _manifest(out)
    del old["lineage"]
    with open(os.path.join(out, MANIFEST_NAME), "w") as fh:
        json.dump(old, fh)
    with pytest.raises(ValueError, match="Refusing to resume: manifest has no lineage"):
        run_checkpointed(spark, df, out, n_buckets=2)

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
    run = run_checkpointed(spark, df, out, n_buckets=2)
    lineage = _manifest(out)["lineage"]
    assert lineage == run.lineage
    assert sorted(lineage) == [str(b) for b in run.done] == ["0", "1"]
    assert sum(row["n_docs"] for row in lineage.values()) == 30
    # the observed per-bucket rows add up to a rollup over the output
    totals = lineage_metrics(read_checkpointed(spark, out)).first()
    for k in ("n_docs", "n_spans", "text_bytes_out", "n_media_spans"):
        assert sum(row[k] for row in lineage.values()) == totals[k], k


def test_quarantine_written_on_keep(spark, tmp_path, poison_df):
    """on_error='keep' routes documents with poison spans to an explicit
    quarantine table per bucket and records the policy in the manifest
    (resume under a different policy refuses)."""
    df = poison_df
    out = str(tmp_path / "out")
    run = run_checkpointed(spark, df, out, n_buckets=2, on_error="keep")
    assert sorted(run.done) == [0, 1]

    # only the poison document's bucket has a quarantine directory
    lineage = _manifest(out)["lineage"]
    assert sum(row["n_errors"] for row in lineage.values()) == 1
    assert os.listdir(os.path.join(out, "_quarantine")) == [
        f"bucket={b}" for b, row in lineage.items() if row["n_errors"]
    ]
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
    # policy drift refused on resume
    with pytest.raises(ValueError, match="on_error"):
        run_checkpointed(spark, df, out, n_buckets=2, on_error="null")


@pytest.mark.parametrize("nested", [False, True], ids=["exploded", "nested"])
def test_cli_keep_quarantines_poison_doc(spark, tmp_path, poison_df, nested,
                                        capsys):
    """Every CLI plan flags a kept poison span: exactly one quarantined
    document and one error in the manifest lineage and on stdout."""
    from html_sanitizer_spark.pipeline.cli import main

    in_dir = str(tmp_path / "in")
    poison_df.write.parquet(in_dir)
    out = str(tmp_path / "out")
    assert main(["--input", in_dir, "--output", out, "--buckets", "2",
                 "--salt", "2", "--on-error", "keep",
                 *(["--nested"] if nested else [])]) == 0
    q = spark.read.parquet(os.path.join(out, "_quarantine", "bucket=*"))
    assert [(r["doc_id"], r["n_span_errors"]) for r in q.collect()] == [("d3", 1)]
    lineage = _manifest(out)["lineage"].values()
    assert sum(row["n_errors"] for row in lineage) == 1
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["n_errors"] == 1 and summary["n_docs"] == 8


def test_changed_input_refused(spark, tmp_path, capsys):
    """A rerun into a finished --output with another input refuses instead
    of reporting the old input's output as done, and so does a manifest
    that records no input."""
    from html_sanitizer_spark.pipeline.cli import main

    in_a, in_b = str(tmp_path / "a"), str(tmp_path / "b")
    synth_spans_df(spark, 20, seed=1, mega_every=0).write.parquet(in_a)
    synth_spans_df(spark, 50, seed=2, mega_every=0).write.parquet(in_b)
    out = str(tmp_path / "out")
    flags = ["--output", out, "--buckets", "2", "--salt", "2"]
    assert main(["--input", in_a, *flags]) == 0
    with pytest.raises(ValueError, match="Refusing to resume: manifest input"):
        main(["--input", in_b, *flags])
    assert main(["--input", in_a, *flags]) == 0  # same input: a no-op

    old = _manifest(out)
    del old["input"]
    with open(os.path.join(out, MANIFEST_NAME), "w") as fh:
        json.dump(old, fh)
    with pytest.raises(ValueError, match="Refusing to resume: manifest input"):
        main(["--input", in_a, *flags])


def test_changed_input_refused_with_staged_copy(spark, tmp_path, monkeypatch):
    """A crash after staging and before the first commit leaves a staged
    copy and no manifest: a resume over another input refuses instead of
    sanitizing the stale copy."""
    a = synth_spans_df(spark, 20, seed=1, mega_every=0)
    b = synth_spans_df(spark, 50, seed=2, mega_every=0)
    out = str(tmp_path / "out")
    _crash_after_commits(monkeypatch, 0, next_bucket_written=True)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, a, out, n_buckets=2)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(out, MANIFEST_NAME))
    with pytest.raises(ValueError, match="Refusing to resume: staged input"):
        run_checkpointed(spark, b, out, n_buckets=2)
    run = run_checkpointed(spark, a, out, n_buckets=2)
    assert run.done == [0, 1]
    assert read_checkpointed(spark, out).count() == 20


def test_rebuilt_in_memory_input_refused(spark, tmp_path, monkeypatch):
    """A frame that reads no files is identified by its plan's
    ``semanticHash``, and a ``createDataFrame`` frame rebuilt over the
    same rows hashes differently: a resume after the rebuild refuses
    (it never mixes inputs) and leaves the committed bucket untouched."""
    rows = synth_spans_df(spark, 20, seed=1, mega_every=0).collect()
    out = str(tmp_path / "out")
    _crash_after_commits(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, spark.createDataFrame(rows, DOC_SCHEMA), out,
                         n_buckets=2)
    monkeypatch.undo()
    manifest = _manifest(out)
    (done,) = manifest["done"]
    bucket_dir = os.path.join(out, f"bucket={done}")

    def snapshot():
        return {
            name: open(os.path.join(bucket_dir, name), "rb").read()
            for name in os.listdir(bucket_dir)
        }

    committed = snapshot()
    with pytest.raises(ValueError, match="Refusing to resume"):
        run_checkpointed(spark, spark.createDataFrame(rows, DOC_SCHEMA), out,
                         n_buckets=2)
    assert _manifest(out) == manifest
    assert snapshot() == committed
