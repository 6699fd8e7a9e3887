"""Distributed job driver, runnable directly or via spark-submit:

    spark-submit --py-files engine.zip -m ...     (cluster)
    python -m html_sanitizer_spark.pipeline.cli \
        --input /data/spans --output /data/clean \
        --config default [--buckets N] [--salt N] [--nested] [--mode extract]

Reads a (doc_id, spans) parquet/json/csv input, sanitizes (or extracts the
main content of) text spans, and writes every mode through
``checkpoint.run_checkpointed``: docs (+ quarantine for buckets with errors
under a non-raise --on-error) + an atomic resume manifest that carries each
bucket's lineage. Rerunning the same command into the same --output resumes;
the final JSON line reports the lineage totals. ``scripts/build_pyfiles.py``
produces the --py-files zip.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# absolute imports: spark-submit executes this file as a top-level script
# with the --py-files zip on PYTHONPATH (also works under python -m)
from html_sanitizer_spark.configs import settings_for
from html_sanitizer_spark.pipeline.checkpoint import run_checkpointed
from html_sanitizer_spark.pipeline.session import get_spark
from html_sanitizer_spark.pipeline.synth import DOC_SCHEMA


def read_input(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """Source formats (r05): parquet and json carry the full
    (doc_id, spans) shape (json = one doc object per line, schema
    enforced — no sampling-based inference job); csv is the FLAT
    fragment shape ``doc_id,text`` (header row) wrapped into
    single-text-span documents — the distributed analog of the
    reference CLI's one-fragment-per-file batch mode
    (``__main__.py:8-13``)."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        return spark.read.schema(DOC_SCHEMA).json(path)
    # multiLine + escape: HTML fragments routinely contain embedded
    # newlines and quotes; without multiLine a quoted field spanning
    # lines is split across records and silently corrupts rows
    # (ADVICE r05 #3). multiLine=True trades file-splittability for
    # correctness — acceptable for the CLI's ad-hoc fragment batches.
    flat = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(path)
    )
    return flat.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="html-sanitizer-spark")
    ap.add_argument("--input", required=True,
                    help="input dir of (doc_id, spans) docs (see --format)")
    ap.add_argument("--format", choices=("parquet", "json", "csv"),
                    default="parquet",
                    help="parquet/json = full span-document shape (json: "
                         "one doc per line); csv = flat doc_id,text "
                         "fragments wrapped into single-span docs")
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", default="default")
    ap.add_argument("--buckets", type=int,
                    help="doc_id-hash checkpoint buckets (resume granularity;"
                         " default: from the input size, or the resumed run's)"
                         "; 1 reads the input directly, without a staged copy")
    ap.add_argument("--salt", type=int,
                    help="salt buckets for the exploded plan's shuffle"
                         " (default: the session's default parallelism)")
    ap.add_argument("--nested", action="store_true",
                    help="sanitize mode: one pass per whole document, no"
                         " reassembly shuffles (for tame doc sizes; the"
                         " default exploded plan spreads mega-docs)")
    ap.add_argument("--on-error", choices=("raise", "keep", "null"),
                    default="raise",
                    help="sanitize mode: poison-span policy; keep/null count"
                         " errored spans in the manifest lineage and stdout"
                         " n_errors and write their documents to"
                         " <output>/_quarantine/bucket=<k> (buckets with"
                         " errors only)")
    ap.add_argument("--memoize", type=int, default=0,
                    help="per-worker sanitize output cache size (exact; for"
                         " boilerplate-heavy corpora)")
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--mode", choices=("sanitize", "extract"),
                    default="sanitize",
                    help="sanitize = allowlist-rewrite text spans (default);"
                         " extract = main-content extraction (boilerplate"
                         " strip via DOM heuristics, engine/extract.py) on"
                         " the same interleaved-span topology; both write"
                         " the same checkpointed layout")
    ap.add_argument("--max-link-density", type=float, default=0.5,
                    help="extract mode: atomic-block link-density keep bar")
    args = ap.parse_args(argv)
    for flag in ("buckets", "salt"):
        if getattr(args, flag) is not None and getattr(args, flag) < 1:
            ap.error(f"--{flag} must be at least 1")
    if args.mode == "extract":
        # sanitize-only flags are errors here, not silently ignored
        for flag in ("config", "on_error", "memoize", "nested"):
            if getattr(args, flag) != ap.get_default(flag):
                ap.error(f"--mode extract does not take --{flag.replace('_', '-')}")
        plan = {"max_link_density": args.max_link_density}
    else:
        plan = {"settings": settings_for(args.config),  # fail fast on bad config
                "explode": not args.nested, "on_error": args.on_error,
                "memoize": args.memoize}

    active = SparkSession.getActiveSession()
    spark = active or get_spark("sanitize-job", parallelism=args.parallelism)
    try:
        run = run_checkpointed(
            spark, read_input(spark, args.input, args.format), args.output,
            n_buckets=args.buckets, mode=args.mode, salt_buckets=args.salt,
            **plan,
        )
    finally:
        if active is None:
            spark.stop()
    totals = {k: sum(row[k] for row in run.lineage.values())
              for k in ("n_docs", "n_spans", "text_bytes_out", "n_errors")}
    print(json.dumps({"input": args.input, "output": args.output,
                      "config": args.config, "mode": args.mode,
                      "buckets_done": run.done, **totals}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
