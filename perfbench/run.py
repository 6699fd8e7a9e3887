"""Sanitize-pipeline benchmark.

    python3 perfbench/run.py --workload flat_plaintext --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout. One Python process starts Spark on
``local[n]`` (n = CPU-affinity count, shuffle partitions n) through the
public entry points users call (``pipeline.session.get_spark``,
``pipeline.job.sanitize_spans``, ``pipeline.cli.main``), generates the
workload's input from ``--seed`` and writes it to parquet before any timing,
then times full passes over it for ``--seconds`` (a closed loop: the next
pass starts when the previous one ends; at least 3 passes; medians are
reported) and checks the outputs outside the timed passes.

Workloads:
  flat_plaintext     sanitize_spans(explode=False) (the CLI --nested plan)
                     -> noop sink; tame documents, ~80 % markup-free and
                     mostly unique fragments.
  checkpointed_write pipeline.cli.main checkpointed path into a fresh output
                     directory per pass; Zipf span counts, mega-documents,
                     markup-heavy and highly duplicated fragments.
  skewed_markup      sanitize_spans defaults (exploded plan, auto salt) ->
                     noop sink; checkpointed_write's shape, larger. Not in
                     BENCHMARK.json (every listed workload's runs must fit
                     one time budget); run it by hand.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
passes untraced and traced, then prefix plans of each layer, and prints the
per-layer metrics. Spans of the traced run are written to
``.perfbench_work/traces/``. The last stdout line is the result object; the
line before it holds run details (cpus, input properties, host fingerprint,
per-pass times, failure ratio, peak RSS, CPU per document).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("skewed_markup", "flat_plaintext", "checkpointed_write")
SETUPS = 3
MIN_PASSES = 3
SAMPLE_DOCS = 40


def _prepare_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and the workers write inside the
    checkout, and let the Python workers import the package from it."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))


def _stop_spark(spark) -> None:
    """Stop Spark and its JVM, then wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    from probes import live_descendants

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while rest := live_descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in rest:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.1)


class Bench:
    def __init__(self, args, run_dir: Path):
        from probes import Tracer

        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.pass_errors: list[str] = []
        # sanitize_spans' "auto" salt on this host
        self.salt = 4 * self.cpus
        # checkpointed_write passes --buckets 2 --salt n to the CLI: its
        # defaults (16 buckets, salt 64) run 1024 Python tasks per pass,
        # about 75 s on 4 CPUs, more than one run can afford
        self.ckpt_buckets = 2
        self.ckpt_salt = self.cpus

    # -- set-up ---------------------------------------------------------
    def _get_spark(self):
        from html_sanitizer_spark.pipeline.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData",
        }
        spark = get_spark("perfbench", parallelism=self.cpus,
                          shuffle_partitions=self.cpus, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    @staticmethod
    def _warmup(spark) -> None:
        """A small pass over the golden documents: starts codegen and the
        Python workers. The nested plan runs one task per core, so this
        costs start-up, not per-task overhead; the workload's own plan is
        warmed by the untimed check pass."""
        from html_sanitizer_spark.pipeline.job import sanitize_spans
        from html_sanitizer_spark.pipeline.synth import golden_spans_df
        from layers import noop

        noop(sanitize_spans(spark, golden_spans_df(spark), explode=False))

    def setup(self) -> list[tuple[float, float]]:
        """Set up ``SETUPS`` times (the first launches the JVM; the others
        restart the Spark context and its Python workers in it)."""
        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("session.get_spark"):
                t0 = time.perf_counter()
                self.spark = self._get_spark()
                t1 = time.perf_counter()
            with self.tracer.span("session.warmup"):
                self._warmup(self.spark)
                t2 = time.perf_counter()
            times.append((t1 - t0, t2 - t1))
        return times

    # -- input ----------------------------------------------------------
    def make_input(self) -> None:
        import workloads
        from check import golden_cases
        from html_sanitizer_spark.pipeline.synth import golden_spans_df

        synthetic = workloads.generate(self.workload, self.args.seed)
        golden = [r.asDict(recursive=True) for r in golden_spans_df(self.spark).collect()]
        self.golden_cases = golden_cases()
        self.docs = synthetic + golden
        self.synthetic = synthetic
        self.props = workloads.properties(self.docs)
        self.props["golden_docs"] = len(golden)
        self.input_dir = str(self.run_dir / "input")
        self.input_bytes = workloads.write_parquet(self.docs, self.input_dir, self.cpus)
        self.df = self.spark.read.parquet(self.input_dir)
        self.props["input_partitions"] = self.df.rdd.getNumPartitions()
        self.n_docs = len(self.docs)

    # -- passes ---------------------------------------------------------
    def full_pass(self, sink: str | None = None) -> str | None:
        """One pass of the workload's user-facing path. Returns the output
        location when it writes one."""
        from html_sanitizer_spark.pipeline.job import sanitize_spans

        if self.workload == "checkpointed_write":
            from html_sanitizer_spark.pipeline import cli

            # a fresh directory every pass: a reused one would resume and
            # skip every committed bucket
            out = sink or tempfile.mkdtemp(prefix="ckpt-", dir=self.run_dir)
            argv =["--input", self.input_dir, "--output", out,
                    "--buckets", str(self.ckpt_buckets), "--salt", str(self.ckpt_salt)]
            with contextlib.redirect_stdout(io.StringIO()) as buf:
                cli.main(argv)
            done = json.loads(buf.getvalue().strip().splitlines()[-1])["buckets_done"]
            if done != list(range(self.ckpt_buckets)):
                raise RuntimeError(f"checkpointed run committed buckets {done}")
            return out
        out = sanitize_spans(self.spark, self.df,
                             explode=self.workload != "flat_plaintext")
        if sink is None:
            out.write.format("noop").mode("overwrite").save()
        else:
            out.write.mode("overwrite").parquet(sink)
        return sink

    def run_pass(self, name: str, one_pass=None, keep: bool = False) -> float:
        """Time one pass. A pass that raises counts all its documents as
        failed. Its output directory, if any, is removed afterwards
        (untimed) unless ``keep``."""
        self.attempted += self.n_docs
        out = None
        with self.tracer.span(name):
            t = time.perf_counter()
            try:
                out = (one_pass or self.full_pass)()
            except Exception:
                self.failed += self.n_docs
                self.pass_errors.append(traceback.format_exc())
                print(self.pass_errors[-1], file=sys.stderr)
            elapsed = time.perf_counter() - t
        if out is not None and not keep:
            shutil.rmtree(out, ignore_errors=True)
        return elapsed

    def timed_loop(self, name: str, one_pass=None) -> list[float]:
        """Closed loop of passes for ``--seconds`` (at least ``MIN_PASSES``);
        returns each pass's wall time."""
        times = []
        start = time.perf_counter()
        while len(times) < MIN_PASSES or time.perf_counter() - start < self.args.seconds:
            times.append(self.run_pass(name, one_pass))
            if len(self.pass_errors) >= 3:
                break
        return times

    # -- output check ---------------------------------------------------
    def check(self) -> set[str]:
        """Untimed pass whose output is kept, then the three checks."""
        import check
        from html_sanitizer_spark.pipeline.checkpoint import read_checkpointed

        sink = str(self.run_dir / "check-out")
        self.run_pass("check.pass", lambda: self.full_pass(sink), keep=True)
        if self.pass_errors:
            return set()
        if self.workload == "checkpointed_write":
            out = read_checkpointed(self.spark, sink)
        else:
            out = self.spark.read.parquet(sink)
        with self.tracer.span("check.verify"):
            bad = check.structural(self.df, out)
            bad |= check.texts(self.synthetic, out, self.golden_cases,
                               self.args.seed, SAMPLE_DOCS)
        self.failed += len(bad)
        return bad


def end_to_end(bench: Bench, setups, times) -> dict:
    job_s = statistics.median(times)
    return {
        "setup_s": (statistics.median(g + w for g, w in setups), "s"),
        "job_s": (job_s, "s"),
        "docs_per_s": (bench.n_docs / job_s, "docs/s"),
        "text_mb_per_s": (bench.props["text_bytes"] / 1e6 / job_s, "MB/s"),
    }


def per_layer(bench: Bench, setups, untraced: list[float]) -> dict:
    """The traced half of a ``--trace 1`` run."""
    import layers
    from probes import CheckpointPoller, dir_bytes
    import workloads

    spark, df, tr = bench.spark, bench.df, bench.tracer
    nested = bench.workload == "flat_plaintext"
    ckpt = bench.workload == "checkpointed_write"
    polls = []

    def polled_ckpt_pass():
        """The CLI pass, with its output directory polled from outside."""
        out = tempfile.mkdtemp(prefix="ckpt-", dir=bench.run_dir)
        with CheckpointPoller(out) as poller:
            bench.full_pass(out)
        poller.bytes_after = dir_bytes(out)
        with open(os.path.join(out, "_sanitize_manifest.json")) as fh:
            poller.commits = len(json.load(fh)["done"])
        polls.append(poller)
        return out

    traced = bench.timed_loop("job.pass", polled_ckpt_pass if ckpt else None)

    def timed(name, make, reps=2):
        for _ in range(reps):
            with tr.span(name):
                layers.noop(make())
        return statistics.median(tr.durations(name))

    m = {}
    m["udfs.stage_s"] = timed("udfs.stage", lambda: layers.udf_stage(df, nested))
    if nested:
        m["job.salt_shuffle_s"] = m["job.reassembly_s"] = 0.0
        full = statistics.median(traced)
        stats_plan = lambda: layers.udf_stage(df, True)  # noqa: E731
    else:
        from html_sanitizer_spark.pipeline.job import sanitize_spans

        salt = bench.ckpt_salt if ckpt else bench.salt
        m["job.salt_shuffle_s"] = timed("job.salt_shuffle",
                                        lambda: layers.salt_shuffle(df, salt))
        prefix = timed("job.sanitize_prefix", lambda: layers.sanitize_prefix(df, salt))
        stats_plan = lambda: sanitize_spans(spark, df, salt_buckets=salt)  # noqa: E731
        full = (timed("job.full", stats_plan) if ckpt else statistics.median(traced))
        m["job.reassembly_s"] = full - prefix
    with tr.span("job.executed_stats"):
        m.update(layers.executed_stats(spark, stats_plan(), "perfbench-stats"))
    with tr.span("engine.sample"):
        eng = layers.engine_sample(workloads.text_fragments(bench.docs), bench.args.seed)
    core_s = eng.pop("core_s")
    m.update(eng)
    m["engine.plain_share"] = bench.props["markup_free_share"]
    m["engine.dup_share"] = bench.props["dup_fragment_share"]
    m["udfs.overhead_share"] = 1 - core_s / (m["udfs.stage_s"] * bench.cpus)

    if ckpt:
        gaps = [g for p in polls for g in p.bucket_gaps()]
        m["checkpoint.staging_s"] = statistics.median(p.staging_s for p in polls)
        m["checkpoint.bucket_s_p50"] = statistics.median(gaps)
        m["checkpoint.bucket_s_max"] = max(gaps)
        m["checkpoint.manifest_commits"] = polls[-1].commits
        m["checkpoint.write_amp"] = statistics.median(
            (p.staging_bytes + p.bytes_after) / bench.input_bytes for p in polls)
    else:
        for k in ("staging_s", "bucket_s_p50", "bucket_s_max",
                  "manifest_commits", "write_amp"):
            m[f"checkpoint.{k}"] = 0.0
    m["session.get_spark_s"] = statistics.median(g for g, _ in setups)
    m["session.warmup_s"] = statistics.median(w for _, w in setups)
    m["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if "_us_" in name:
        return "us"
    if name.endswith("_mb"):
        return "MB"
    if name in ("job.exchanges", "checkpoint.manifest_commits"):
        return "count"
    return "ratio"


def run(args) -> int:
    run_dir = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)

    from probes import TreeSampler, host_fingerprint, steal_share

    host_start = host_fingerprint()
    bench = Bench(args, run_dir)
    phases = {}
    t = time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = now - t
        t = now

    try:
        setups = bench.setup()
        phase("setup")
        bench.make_input()
        phase("input")
        bad = bench.check()
        # the JIT keeps warming for a few passes after the check pass; one
        # more untimed pass flattens that trend in the timed median
        bench.run_pass("job.warm")
        phase("check")
        bench.tracer.enabled = False
        with TreeSampler() as sampler:
            times = bench.timed_loop("job.pass")
        bench.tracer.enabled = bool(args.trace)
        phase("timed")
        if args.trace:
            metrics = per_layer(bench, setups, times)
        else:
            metrics = end_to_end(bench, setups, times)
        phase("layers")
    finally:
        _stop_spark(bench.spark)
        bench.spark = None
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("stop")
    host_end = host_fingerprint()

    info = {
        "workload": args.workload, "seed": args.seed, "cpus": bench.cpus,
        "trace": args.trace, "run_id": bench.tracer.run_id, "input": bench.props,
        "setups_s": setups, "pass_s": times, "phases_s": phases,
        # reported, not gated: failed_ratio is 0 on a correct tree (the
        # result's failed/attempted carry it); peak RSS (JVM heap growth)
        # and CPU time (JIT/GC threads, host contention) spread across
        # seeds by more than the largest bound the benchmark may set
        "failed_ratio": {"value": bench.failed / bench.attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": sampler.peak_rss_mb, "unit": "MB"},
        "cpu_ms_per_doc": {"value": sampler.cpu_used * 1000 / (bench.n_docs * len(times)),
                           "unit": "ms"},
        "failed_docs_sample": sorted(bad)[:20], "pass_errors": len(bench.pass_errors),
        "host": {"start": host_start, "end": host_end,
                 "steal_share": steal_share(host_start, host_end)},
    }
    if args.trace:
        trace_file = ROOT / ".perfbench_work" / "traces" / (
            f"{args.workload}-{args.seed}-{bench.tracer.run_id}.json")
        bench.tracer.dump(str(trace_file))
        info["trace_file"] = str(trace_file.relative_to(ROOT))
    print(json.dumps({"perfbench": info}))
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "html_sanitizer_spark" / "__init__.py").is_file():
        print(f"perfbench: no html_sanitizer_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
