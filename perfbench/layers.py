"""Per-layer measurements for the traced run. Every figure is taken from
outside the program: prefix plans built from the pipeline's own public
functions, in-process timing of the engine, Spark's status store and the
executed plan."""

from __future__ import annotations

import random
import re
import statistics
import time

from pyspark.sql import DataFrame

from html_sanitizer_spark import sanitize
from html_sanitizer_spark.engine.parser import parse_fragment
from html_sanitizer_spark.functions.udfs import sanitize_spans_arrow
from html_sanitizer_spark.pipeline.job import explode_spans, sanitize_exploded

from workloads import is_markup_free


def pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _time_each(fn, items) -> list[float]:
    out = []
    for x in items:
        t = time.perf_counter_ns()
        fn(x)
        out.append((time.perf_counter_ns() - t) / 1000)
    return out


def engine_sample(frags: list[str], seed: int, n: int = 1500) -> dict:
    """``sanitize`` and ``parse_fragment`` timed in this process over a seeded
    sample of the input's markup and markup-free fragments (µs each)."""
    markup = [f for f in frags if not is_markup_free(f)]
    plain = [f for f in frags if is_markup_free(f)]
    rng = random.Random(f"engine:{seed}")
    m_sample = rng.sample(markup, min(n, len(markup)))
    p_sample = rng.sample(plain, min(n, len(plain)))
    _time_each(sanitize, m_sample[:50] + p_sample[:50])  # warm regex caches
    tree = _time_each(sanitize, m_sample)
    parser = _time_each(lambda f: parse_fragment("<div>%s</div>" % f), m_sample)
    plain_us = _time_each(sanitize, p_sample) if p_sample else [0.0]
    core_s = (len(markup) * statistics.fmean(tree)
              + len(plain) * statistics.fmean(plain_us)) / 1e6
    return {
        "engine.tree_us_per_frag_p50": pct(tree, 0.5),
        "engine.tree_us_per_frag_p99": pct(tree, 0.99),
        "engine.plain_us_per_frag_p50": pct(plain_us, 0.5),
        "engine.parser_us_per_frag_p50": pct(parser, 0.5),
        "core_s": core_s,
    }


def udf_stage(df: DataFrame, nested: bool) -> DataFrame:
    """The Arrow hop alone: explode -> sanitize_exploded unsalted, or the
    nested mapInArrow plan."""
    return sanitize_spans_arrow(df) if nested else sanitize_exploded(explode_spans(df))


def salt_shuffle(df: DataFrame, salt: int) -> DataFrame:
    """Explode + the salt repartition only: the sanitized column is dropped,
    so the optimizer prunes the UDF and only the exchange remains."""
    out = sanitize_exploded(explode_spans(df), salt_buckets=salt).select(
        "doc_id", "pos", "_chunk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "ArrowEvalPython" in plan or "Exchange" not in plan:
        raise RuntimeError(f"salt-shuffle prefix plan is not shuffle-only:\n{plan}")
    return out


def sanitize_prefix(df: DataFrame, salt: int) -> DataFrame:
    """Explode -> salted sanitize stage, no reassembly."""
    return sanitize_exploded(explode_spans(df), salt_buckets=salt)


def executed_stats(spark, out: DataFrame, group: str) -> dict:
    """Run ``out`` once under a job group, then read the final adaptive plan
    and the status store: Exchange nodes executed, shuffle bytes written,
    and max/median task time of the stage with the most executor time
    (the Python sanitize stage)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        qe = out._jdf.queryExecution()
        qe.executedPlan().execute().count()
        final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = [store.lastStageAttempt(s)
              for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    heavy = max(stages, key=lambda s: s.executorRunTime())
    tasks = store.taskList(heavy.stageId(), heavy.attemptId(), 1 << 20)
    durs = [tasks.apply(i).duration().get() for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()]
    return {
        "job.exchanges": len(re.findall(r"\w*Exchange\b", final)),
        "job.shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / 1e6,
        "job.task_skew": max(durs) / statistics.median(durs),
    }
