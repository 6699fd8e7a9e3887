#!/usr/bin/env python
"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ...}

--scaling mode: run the sanitize throughput job at two parallelism levels
(local[8] vs local[32] by default) in separate subprocesses (fresh JVMs, so
neither leg inherits the other's warmed state) and report throughput at
both plus scaling efficiency = (T_high/T_low)/(high/low). This is the
sandbox evidence for the north_rule's N->4N >= 0.8 criterion (no real
cluster here; see BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Headline queries: the flagship pipeline both physical plans + the
# shuffle/window/join-heavy operators. sanitize_docs_nested measures the
# mapInArrow nested path, and _memo measures the per-worker output cache
# separately (off in the headline runs so they time the engine, not corpus
# redundancy).
_HEADLINE = [
    "sanitize_docs_exploded",
    "sanitize_docs_nested",
    "sanitize_docs_exploded_memo",
    "dedup_minhash_pairs",
    "ann_cosine_topk",
    "embedding_neardup",
    "quality_score",
    "winnow_fingerprint",
    "merge_segments",
    "span_roundtrip",
]


def _sanitize_workload(spark, sf_dir: str, explode: bool, memoize: int = 0):
    from html_sanitizer_spark.pipeline.job import sanitize_spans
    from html_sanitizer_spark.queries import spans_from_documents

    # noop-sink forcing: materializes every sanitized span without a
    # single-partition aggregation tail (a driver-side sum would serialize
    # the whole output through one task and dominate the measurement)
    return sanitize_spans(
        spark, spans_from_documents(spark, sf_dir), explode=explode,
        salt_buckets=CPUS, memoize=memoize,
    )


_SANITIZE_VARIANTS = {
    "sanitize_docs_exploded": dict(explode=True),
    "sanitize_docs_nested": dict(explode=False),
    "sanitize_docs_exploded_memo": dict(explode=True, memoize=50_000),
}


def _prev_bench() -> dict | None:
    """Latest BENCH_r{N}.json next to this script, for per-query ratios —
    regressions become mechanically detectable round over round."""
    import glob
    import re

    best_n, best = -1, None
    for path in glob.glob(os.path.join(os.path.dirname(__file__) or ".",
                                       "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        parsed = data.get("parsed", data)
        if isinstance(parsed, dict) and "queries" in parsed and int(m.group(1)) > best_n:
            best_n, best = int(m.group(1)), parsed
    return best


def run_benchmarks(sf_dir: str, cpus: int) -> dict:
    from html_sanitizer_spark.pipeline.session import get_spark
    from html_sanitizer_spark.queries import spark_queries

    spark = get_spark("bench", parallelism=cpus, shuffle_partitions=cpus)
    qmap = spark_queries()
    timings: dict[str, float] = {}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # Warm-up: spin up python UDF workers + whole-stage codegen once, so the
    # per-query timings measure steady-state work rather than JVM cold start
    # (the 100TB regime has no cold start per query).
    _sanitize_workload(spark, sf_dir, explode=True).write.format("noop").mode(
        "overwrite").save()

    # Best-of-2 per query, measured as two INTERLEAVED full passes
    # (VERDICT r02 #5): single-shot timings carry run-order/cold-path noise
    # (first-touch codegen, shuffle-file page cache), and back-to-back
    # repeats of one query land both samples inside the same co-tenant
    # throttle window on this shared host; interleaving the passes puts a
    # given throttle window on DIFFERENT queries in each pass, so the
    # per-query min is the clean steady-state number a 100TB job lives in.
    def _run_one(name):
        t0 = time.perf_counter()
        if name in _SANITIZE_VARIANTS:
            _sanitize_workload(
                spark, sf_dir, **_SANITIZE_VARIANTS[name]
            ).write.format("noop").mode("overwrite").save()
        else:
            qmap[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
        return time.perf_counter() - t0

    pass1: dict[str, float] = {}
    for _pass in range(2):
        for name in _HEADLINE:
            dt = _run_one(name)
            if _pass == 0:
                pass1[name] = dt
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    timings = {name: round(dt, 3) for name, dt in timings.items()}

    total = round(sum(timings.values()), 3)
    # single-pass total alongside the best-of-2: cross-round ratios against
    # pre-r03 numbers (which were single-shot) should use this figure so
    # the comparison is like-for-like (ADVICE r03)
    single_pass_total = round(sum(pass1.values()), 3)
    sanitize_sec = timings["sanitize_docs_exploded"]
    result = {
        "metric": "headline query wall time (sanitize pipeline + dedup/ann/text ops)",
        "value": total,
        "single_pass_total": single_pass_total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / sanitize_sec, 1) if sanitize_sec else None,
    }
    prev = _prev_bench()
    if prev:
        result["ratios_vs_prev"] = {
            q: round(timings[q] / prev["queries"][q], 2)
            for q in timings
            if prev["queries"].get(q)
        }
    spark.stop()
    return result


SCALING_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", "60000"))
SCALING_REPEAT = int(os.environ.get("SPARK_GRAFT_SCALING_REPEAT", "40"))


def _one_shot_scaling(sf_dir: str, cpus: int, executors: int | None = None,
                      ex_cores: int = 2) -> None:
    """Subprocess leg: time the salted sanitize pipeline at one parallelism
    level. The synthetic corpus (60k docs incl. mega-docs) is materialized
    to parquet first so the measured job is the real topology — storage
    scan -> explode -> salted shuffle -> Arrow UDF -> two-phase reassembly —
    with no in-line generation cost. Best-of-3 to damp shared-host noise;
    the sanitize text forced via a length-sum so the UDF can't be pruned.

    ``executors=N`` runs the leg on ``local-cluster[N,ex_cores,2048]`` — N
    real executor JVMs — instead of local[cpus] threads: the faithful
    N->4N EXECUTOR form of the north rule's criterion
    (--scaling-executors). ``ex_cores=1`` keeps even an 8-executor high
    leg inside this box's memory-bus headroom region (<=8 of 32 cores)."""
    import tempfile

    from pyspark.sql import functions as F

    from html_sanitizer_spark.pipeline.job import sanitize_spans
    from html_sanitizer_spark.pipeline.session import get_spark
    from html_sanitizer_spark.pipeline.synth import synth_spans_df

    if executors is not None:
        # real executor JVMs don't inherit the driver's sys.path: ship the
        # package the same way spark-submit --py-files does
        import subprocess as sp

        zip_path = os.path.join(tempfile.mkdtemp(prefix="pyfiles-"), "hss.zip")
        sp.run([sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "scripts", "build_pyfiles.py"), zip_path],
               check=True, capture_output=True)
        cpus = executors * ex_cores
        spark = get_spark(f"scale-ex{executors}", executors=executors,
                          executor_cores=ex_cores, shuffle_partitions=cpus,
                          extra_conf={"spark.submit.pyFiles": zip_path})
    else:
        spark = get_spark(f"scale-{cpus}", parallelism=cpus, shuffle_partitions=cpus)
    tmp = tempfile.mkdtemp(prefix=f"scale{cpus}-")
    synth_spans_df(spark, SCALING_DOCS, seed=42, mega_every=10_000,
                   partitions=cpus * 4, text_repeat=SCALING_REPEAT
                   ).write.mode("overwrite").parquet(tmp)
    df = spark.read.parquet(tmp)

    n_docs = df.count()

    def run():
        # noop sink: forces the full sanitize+reassembly without funnelling
        # the output through a single-partition aggregation
        out = sanitize_spans(spark, df, explode=True, salt_buckets=cpus * 4)
        out.write.format("noop").mode("overwrite").save()
        return n_docs

    # warm-up on a small slice: spins up codegen + python workers without
    # paying a full corpus pass
    warm = sanitize_spans(spark, df.limit(500), explode=True, salt_buckets=cpus)
    warm.select(F.sum(F.size("spans"))).collect()
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        run()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    leg = {"cpus": cpus, "sec": round(best, 3), "docs": n_docs,
           "docs_per_sec": round(n_docs / best, 1)}
    if executors is not None:
        leg["executors"] = executors
    print(json.dumps(leg))
    spark.stop()


_CONTROL_TEXT = (
    "<p>Hello <b>world</b> this is a fragment with "
    "<a href='https://x.org/a'>a link</a> and some more text to chew on.</p>"
) * 3


def _control_work(n: int) -> float:
    """One control worker: sanitize a fixed fragment n times, pure Python."""
    from html_sanitizer_spark.engine.core import sanitize
    from html_sanitizer_spark.engine.settings import Settings

    s = Settings()
    t0 = time.perf_counter()
    for _ in range(n):
        sanitize(_CONTROL_TEXT, s)
    return time.perf_counter() - t0


def _cpu_control(low: int, high: int, per_proc: int = 3000,
                 rounds: int = 3) -> dict:
    """Embarrassingly-parallel CPU control: the pure-Python sanitize kernel
    under multiprocessing — NO Spark, NO shuffles, NO coordination, so its
    low->high efficiency is the HOST's raw CPU-scaling ceiling under the
    co-tenant load of the same minutes the pipeline legs ran in. A
    virtualized shared box does not hand out 4x cycles from 4->16 vCPUs
    (hypervisor scheduling + frequency behavior), and no pipeline can scale
    better than the cycles it is given; pipeline efficiency is therefore
    also reported normalized to this ceiling. Interleaved best-of like the
    pipeline legs."""
    import multiprocessing as mp

    best: dict[int, float] = {}
    for _ in range(rounds):
        for procs in (low, high):
            with mp.Pool(procs) as pool:
                t0 = time.perf_counter()
                pool.map(_control_work, [per_proc] * procs)
                rate = procs * per_proc / (time.perf_counter() - t0)
            if procs not in best or rate > best[procs]:
                best[procs] = rate
    eff = round((best[high] / best[low]) / (high / low), 3)
    return {
        "what": "pure-Python sanitize kernel via multiprocessing.Pool — "
                "no Spark; measures the host's raw low->high CPU scaling "
                "under current co-tenant load",
        "low_docs_per_sec": round(best[low], 1),
        "high_docs_per_sec": round(best[high], 1),
        "efficiency": eff,
    }


def run_scaling(sf_dir: str, low: int, high: int, rounds: int = 2) -> dict:
    """Interleave low/high legs across rounds and keep the best per level:
    the sandbox host is shared, so a single leg can be throttled by
    co-tenants; interleaving samples both levels under comparable load.
    A no-Spark CPU control run in the same minutes separates host throttle
    from pipeline serial fraction (see _cpu_control)."""
    legs: dict[int, dict] = {}
    for _ in range(rounds):
        for cpus in (low, high):
            out = subprocess.run(
                [sys.executable, __file__, "--one-shot-scaling", "--cpus",
                 str(cpus), "--sf-dir", sf_dir],
                capture_output=True, text=True, check=True,
            )
            leg = json.loads(out.stdout.strip().splitlines()[-1])
            if cpus not in legs or leg["sec"] < legs[cpus]["sec"]:
                legs[cpus] = leg
    t_low, t_high = legs[low]["sec"], legs[high]["sec"]
    efficiency = round((t_low / t_high) / (high / low), 3)
    control = _cpu_control(low, high)
    return {
        "workload": "sanitize_docs_exploded",
        "sf": sf_dir,
        "low": legs[low],
        "high": legs[high],
        "speedup": round(t_low / t_high, 3),
        "ideal_speedup": high / low,
        "scaling_efficiency": efficiency,
        "cpu_control": control,
        "normalized_efficiency": round(efficiency / control["efficiency"], 3)
        if control["efficiency"] else None,
        "criterion": "efficiency >= 0.8 between N and 4N parallelism "
                     "(sandbox proxy for N->4N executors); raw AND "
                     "normalized to the same-host raw-CPU control ceiling "
                     "are both reported (see BASELINE.md)",
    }


def run_scaling_executors(sf_dir: str, low_ex: int, high_ex: int,
                          rounds: int = 2, ex_cores: int = 2) -> dict:
    """The north rule's criterion in its LITERAL form: the same job at N
    and 4N EXECUTORS — each a real separate JVM (own heap/GC/Python
    workers) under local-cluster[N,2,2048] — rather than N vs 4N threads
    inside one JVM. Interleaved best-of per level + the same same-minutes
    pure-CPU control as run_scaling, normalized at the matching core
    counts (2 cores per executor)."""
    legs: dict[int, dict] = {}
    for _ in range(rounds):
        for ex in (low_ex, high_ex):
            out = subprocess.run(
                [sys.executable, __file__, "--one-shot-scaling",
                 "--executors", str(ex), "--ex-cores", str(ex_cores),
                 "--sf-dir", sf_dir],
                capture_output=True, text=True, check=True,
            )
            leg = json.loads(out.stdout.strip().splitlines()[-1])
            if ex not in legs or leg["sec"] < legs[ex]["sec"]:
                legs[ex] = leg
    t_low, t_high = legs[low_ex]["sec"], legs[high_ex]["sec"]
    efficiency = round((t_low / t_high) / (high_ex / low_ex), 3)
    control = _cpu_control(low_ex * ex_cores, high_ex * ex_cores)
    return {
        "workload": "sanitize_docs_exploded",
        "mode": f"local-cluster multi-executor JVMs ({ex_cores} core(s), 2 GB each)",
        "sf": sf_dir,
        "low": legs[low_ex],
        "high": legs[high_ex],
        "speedup": round(t_low / t_high, 3),
        "ideal_speedup": high_ex / low_ex,
        "scaling_efficiency": efficiency,
        "cpu_control": control,
        "normalized_efficiency": round(efficiency / control["efficiency"], 3)
        if control["efficiency"] else None,
        "criterion": "throughput scaling efficiency >= 0.8 between N and 4N "
                     "EXECUTORS (separate JVMs via local-cluster — the "
                     "literal north-rule form)",
    }


def run_big(cpus: int, n_docs: int) -> dict:
    """Sustained-throughput leg at a larger synthetic corpus (the sf
    tables top out at 5k docs): materialize n_docs (Zipf-skewed spans incl.
    mega-docs) to parquet, run the full exploded pipeline at local[cpus],
    report docs/sec. Evidence that throughput holds as the corpus grows ~4x
    past the scaling bench's 60k."""
    import tempfile

    from html_sanitizer_spark.pipeline.job import sanitize_spans
    from html_sanitizer_spark.pipeline.session import get_spark
    from html_sanitizer_spark.pipeline.synth import synth_spans_df

    spark = get_spark(f"big-{cpus}", parallelism=cpus, shuffle_partitions=cpus)
    tmp = tempfile.mkdtemp(prefix=f"big{cpus}-")
    synth_spans_df(spark, n_docs, seed=42, mega_every=10_000,
                   partitions=cpus * 4, text_repeat=SCALING_REPEAT
                   ).write.mode("overwrite").parquet(tmp)
    df = spark.read.parquet(tmp)
    n = df.count()
    # warm-up slice
    sanitize_spans(spark, df.limit(500), explode=True,
                   salt_buckets=cpus).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    sanitize_spans(spark, df, explode=True, salt_buckets=cpus * 4).write.format(
        "noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.stop()
    return {"workload": "sanitize_docs_exploded", "docs": n, "cpus": cpus,
            "sec": round(dt, 3), "docs_per_sec": round(n / dt, 1)}


def run_big_dedup(cpus: int, n_docs: int) -> dict:
    """End-to-end dedup-chain throughput at 10x the sf0.1 documents table:
    materialize a synthetic corpus with controlled near-dup groups, run the
    FULL detect -> verify -> cluster -> apply chain (q_dedup_apply pulls the
    whole pipeline), report docs/sec plus the chain's own outputs as sanity
    (clusters found, docs removed). Evidence that the r03 dedup tail
    (candidates-only verify, semi-join shingle pruning, no forced
    broadcasts, checkpointed CC) holds as the corpus grows."""
    import tempfile

    from html_sanitizer_spark.pipeline.session import get_spark
    from html_sanitizer_spark.pipeline.synth import synth_documents_df
    from html_sanitizer_spark.queries import (
        dedup_verify_cache_scope,
        q_dedup_apply,
    )

    # the pair-verification join is the memory-heavy stage: size the heap
    # and the shuffle like a real executor would be sized for it (the
    # default 8g/32-thread split leaves ~256MB per task — too little for
    # the intersection join's aggregate state at 50k+ docs)
    spark = get_spark(
        f"dedup-{cpus}", parallelism=cpus, shuffle_partitions=cpus * 2,
        extra_conf={"spark.driver.memory": "24g"},
    )
    tmp = tempfile.mkdtemp(prefix=f"dedup{cpus}-")
    synth_documents_df(spark, n_docs, seed=42, partitions=cpus * 4
                       ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    t0 = time.perf_counter()
    with dedup_verify_cache_scope():
        apply_row = q_dedup_apply(spark, tmp).collect()[0]
    dt = time.perf_counter() - t0
    spark.stop()
    return {
        "workload": "dedup detect->verify->cluster->apply",
        "docs": n_docs,
        "cpus": cpus,
        "sec": round(dt, 3),
        "docs_per_sec": round(n_docs / dt, 1),
        "n_removed": apply_row["n_removed"],
        "n_survivors": apply_row["n_survivors"],
    }


def write_report_preserving(path: str, report: dict) -> dict:
    """Write ``report`` to ``path``, MERGE-PRESERVING any top-level keys
    already in the file that the new report doesn't produce (VERDICT r05
    'What's wrong #2'): `--scaling` runs must not clobber disclosure
    blocks like ``attempts_r05`` / ``protocol_conclusion_r05`` that the
    scaling-evidence protocol depends on. Keys the new report DOES
    produce are overwritten (fresh run wins); unknown/foreign keys
    round-trip untouched. Returns the merged dict actually written."""
    merged = {}
    try:
        with open(path) as fh:
            prior = json.load(fh)
        if isinstance(prior, dict):
            merged.update(prior)
    except (OSError, ValueError):
        pass
    merged.update(report)
    with open(path, "w") as fh:
        json.dump(merged, fh, indent=1)
    return merged


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--big", action="store_true",
                    help="sustained-throughput leg on a larger synth corpus")
    ap.add_argument("--big-docs", type=int, default=240_000)
    ap.add_argument("--big-dedup", action="store_true",
                    help="full dedup-chain throughput on a synthetic "
                         "near-dup corpus")
    ap.add_argument("--dedup-docs", type=int, default=20_000)
    ap.add_argument("--one-shot-scaling", action="store_true")
    ap.add_argument("--scaling-executors", action="store_true",
                    help="N vs 4N real executor JVMs via local-cluster")
    ap.add_argument("--executors", type=int, default=None,
                    help="one-shot leg on local-cluster[N,2,2048]")
    ap.add_argument("--low-ex", type=int, default=2)
    ap.add_argument("--high-ex", type=int, default=8)
    ap.add_argument("--ex-cores", type=int, default=2,
                    help="cores per executor JVM in the scaling legs")
    ap.add_argument("--cpus", type=int, default=CPUS)
    ap.add_argument("--sf-dir", default=SF_DIR)
    # 4 vs 16: a 4x step inside this host's near-linear region — the box
    # advertises 32 hardware threads but sustained multi-process throughput
    # saturates ~x17 (measured, see BASELINE.md), so 8->32 would measure the
    # host's oversubscription, not the pipeline's scalability.
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    args = ap.parse_args()

    if args.one_shot_scaling:
        _one_shot_scaling(args.sf_dir, args.cpus, executors=args.executors,
                          ex_cores=args.ex_cores)
    elif args.scaling_executors:
        report = run_scaling_executors(args.sf_dir, args.low_ex,
                                       args.high_ex, ex_cores=args.ex_cores)
        write_report_preserving("BENCH_SCALING_EXECUTORS.json", report)
        print(json.dumps(report))
    elif args.big_dedup:
        report = run_big_dedup(args.cpus, args.dedup_docs)
        write_report_preserving("BENCH_DEDUP.json", report)
        print(json.dumps(report))
    elif args.big:
        report = run_big(args.cpus, args.big_docs)
        write_report_preserving("BENCH_BIG.json", report)
        print(json.dumps(report))
    elif args.scaling:
        report = run_scaling(args.sf_dir, args.low, args.high)
        write_report_preserving("BENCH_SCALING.json", report)
        print(json.dumps(report))
    else:
        print(json.dumps(run_benchmarks(args.sf_dir, args.cpus)))
