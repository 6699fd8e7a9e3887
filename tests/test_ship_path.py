"""Ship-path smoke test: the north_rule names `spark-submit --py-files` as
the deployment vehicle — run the real thing end to end: build the zip,
submit the CLI driver from a NEUTRAL cwd (so all imports resolve from the
zip, not the repo checkout), and check output + manifest + lineage."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(spark, tmp_path):
    from html_sanitizer_spark.pipeline.synth import synth_spans_df

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    synth_spans_df(spark, 30, seed=51, mega_every=0).write.parquet(in_dir)

    zip_path = str(tmp_path / "hss.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "build_pyfiles.py"),
         zip_path],
        check=True, capture_output=True,
    )

    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--py-files", zip_path,
         os.path.join(REPO, "html_sanitizer_spark", "pipeline", "cli.py"),
         "--input", in_dir, "--output", out_dir,
         "--buckets", "2", "--salt", "4"],
        capture_output=True, text=True, env=env, timeout=420,
        cwd=str(tmp_path),  # neutral cwd: imports must come from the zip
    )
    assert r.returncode == 0, (r.stdout[-1000:], r.stderr[-3000:])

    summary = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert summary["buckets_done"] == [0, 1]
    assert summary["n_docs"] == 30 and summary["n_errors"] == 0
    with open(os.path.join(out_dir, "_sanitize_manifest.json")) as fh:
        lineage = json.load(fh)["lineage"]
    assert sorted(lineage) == ["0", "1"]
    assert sum(row["n_docs"] for row in lineage.values()) == 30
    got = spark.read.parquet(os.path.join(out_dir, "bucket=*"))
    assert got.count() == 30


def test_cli_input_path_with_space_and_percent(spark, tmp_path):
    """``inputFiles()`` percent-encodes a space (and a '%'): the input
    identity must decode it to find the files. The run completes, and its
    rerun into the same output is a no-op."""
    from html_sanitizer_spark.pipeline.cli import main
    from html_sanitizer_spark.pipeline.synth import synth_spans_df

    in_dir = str(tmp_path / "my docs%1")
    synth_spans_df(spark, 10, seed=1, mega_every=0).write.parquet(in_dir)
    out = str(tmp_path / "out")
    manifest = os.path.join(out, "_sanitize_manifest.json")

    def state():
        files = sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, names in os.walk(out) for f in names
        )
        with open(manifest) as fh:
            return json.load(fh), files

    assert main(["--input", in_dir, "--output", out]) == 0
    first = state()
    assert sum(row["n_docs"] for row in first[0]["lineage"].values()) == 10
    assert main(["--input", in_dir, "--output", out]) == 0
    assert state() == first


def test_cli_json_and_csv_sources(spark, tmp_path):
    """r05 source formats: the CLI reads schema-enforced JSON span docs
    and flat doc_id,text CSV fragments (wrapped into single-span docs —
    the reference CLI's one-fragment-per-row analog), producing sanitized
    output through the same checkpointed path. Runs main() in-process
    (the spark-submit vehicle itself is covered above)."""
    from html_sanitizer_spark.pipeline.cli import main, read_input

    # JSON: full span shape, one doc per line
    j_in = tmp_path / "jin"
    j_in.mkdir()
    (j_in / "docs.json").write_text(
        '{"doc_id": "j1", "spans": [{"kind": "text", "text": "<p style=x>Hi '
        '<b>there</b></p>", "media_ref": "", "offset": 0}, {"kind": "image", '
        '"text": "", "media_ref": "m://1", "offset": 1}]}\n'
    )
    j_out = str(tmp_path / "jout")
    assert main(["--input", str(j_in), "--format", "json",
                 "--output", j_out, "--buckets", "2", "--salt", "2"]) == 0
    rows = {r["doc_id"]: r["spans"]
            for r in spark.read.parquet(f"{j_out}/bucket=*").collect()}
    assert rows["j1"][0]["text"] == "<p>Hi <strong>there</strong></p>"
    assert rows["j1"][1]["media_ref"] == "m://1"  # media untouched

    # CSV: flat fragments
    c_in = tmp_path / "cin"
    c_in.mkdir()
    (c_in / "frags.csv").write_text(
        'doc_id,text\nc1,"<script>evil()</script><p>ok</p>"\nc2,plain\n'
    )
    c_out = str(tmp_path / "cout")
    assert main(["--input", str(c_in), "--format", "csv",
                 "--output", c_out, "--buckets", "2", "--salt", "2"]) == 0
    got = {r["doc_id"]: r["spans"][0]["text"]
           for r in spark.read.parquet(f"{c_out}/bucket=*").collect()}
    assert got == {"c1": "<p>ok</p>", "c2": "plain"}

    # the reader contract itself: csv wraps into the DOC_SCHEMA shape
    df = read_input(spark, str(c_in), "csv")
    assert df.columns == ["doc_id", "spans"]
    assert df.schema["spans"].dataType.elementType.names == [
        "kind", "text", "media_ref", "offset"
    ]

    # ADVICE r05 #3: a quoted field with EMBEDDED NEWLINES and escaped
    # quotes (common in HTML fragments) must stay one record — without
    # multiLine the row is split and silently corrupts.
    m_in = tmp_path / "min"
    m_in.mkdir()
    (m_in / "frags.csv").write_text(
        'doc_id,text\n'
        'm1,"<p>line one\nline two</p>"\n'
        'm2,"says ""hi""\nand <b>bye</b>"\n'
    )
    mrows = {r["doc_id"]: r["spans"][0]["text"]
             for r in read_input(spark, str(m_in), "csv").collect()}
    assert mrows == {
        "m1": "<p>line one\nline two</p>",
        "m2": 'says "hi"\nand <b>bye</b>',
    }


_PAGE = ('<nav><a href=/>Home</a></nav><p>real article body</p>'
         '<ul><li><a href=/a>aaa</a></li><li><a href=/b>bbb</a></li></ul>'
         '<footer>c 2026</footer>')


@pytest.mark.parametrize(
    "flags",
    [[], ["--nested"], ["--mode", "extract"], ["--buckets", "1"]],
    ids=["exploded", "nested", "extract", "one-bucket"],
)
def test_cli_smoke_every_mode(spark, tmp_path, flags):
    """Every CLI mode writes through the checkpointed path: manifest,
    lineage and the expected spans. --mode extract is the north rule's
    main-content extraction pipeline — boilerplate (nav/footer,
    link-dense blocks) stripped from text spans; media spans untouched
    and span order preserved in every mode."""
    from html_sanitizer_spark import sanitize
    from html_sanitizer_spark.pipeline.checkpoint import read_checkpointed
    from html_sanitizer_spark.pipeline.cli import main

    e_in = tmp_path / "ein"
    e_in.mkdir()
    (e_in / "docs.json").write_text(json.dumps({"doc_id": "e1", "spans": [
        {"kind": "text", "text": _PAGE, "media_ref": "", "offset": 0},
        {"kind": "image", "text": "", "media_ref": "m://e", "offset": 1},
    ]}) + "\n")
    e_out = str(tmp_path / "eout")
    assert main(["--input", str(e_in), "--format", "json", "--output", e_out,
                 "--buckets", "2", "--salt", "2", *flags]) == 0
    with open(os.path.join(e_out, "_sanitize_manifest.json")) as fh:
        manifest = json.load(fh)
    assert sorted(manifest["lineage"]) == [str(b) for b in manifest["done"]]
    assert sum(row["n_docs"] for row in manifest["lineage"].values()) == 1
    rows = {r["doc_id"]: r["spans"]
            for r in read_checkpointed(spark, e_out).collect()}
    want = "real article body" if "extract" in flags else sanitize(_PAGE)
    assert rows["e1"][0]["text"] == want
    assert rows["e1"][1]["media_ref"] == "m://e"
    assert [s["offset"] for s in rows["e1"]] == [0, 1]


@pytest.mark.parametrize("flag", [
    ["--mode", "extract", "--on-error", "keep"],
    ["--mode", "extract", "--config", "nofollow"],
    ["--mode", "extract", "--memoize", "64"],
    ["--mode", "extract", "--nested"],
    ["--buckets", "0"], ["--buckets", "-1"], ["--salt", "0"], ["--salt", "-1"],
], ids=["on-error", "config", "memoize", "nested", "buckets-0", "buckets-neg",
        "salt-0", "salt-neg"])
def test_cli_extract_rejects_poison_policy(spark, tmp_path, flag):
    """Flags the CLI cannot honour are errors, not silently ignored:
    extraction has no poison policy, config, memo or nested plan, a run
    needs at least one bucket (fewer would write no data, lineage or
    manifest and still exit 0), and a salt of 0 would run unsalted (a
    mega-document on one task) while a negative one fails inside Spark,
    after the input is staged. The input is a real one-document table,
    so only the flag can make the run fail."""
    from html_sanitizer_spark.pipeline.cli import main
    from html_sanitizer_spark.pipeline.synth import synth_spans_df

    in_dir = str(tmp_path / "in")
    synth_spans_df(spark, 1, seed=3, mega_every=0).write.parquet(in_dir)
    with pytest.raises(SystemExit):
        main(["--input", in_dir, "--output", str(tmp_path / "o"), *flag])
