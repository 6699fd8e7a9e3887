"""Physical-plan quality gates: the properties that make the topology hold
at 100TB — predicate pushdown reaching the scan, column pruning, broadcast
joins for small sides, the salted Exchange feeding the Python stage, and
whole-stage codegen on the JVM-side operators."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from html_sanitizer_spark.pipeline.job import explode_spans, sanitize_exploded
from html_sanitizer_spark.queries import q_ann_cosine_topk, spans_from_documents

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("n_chars") > 100
    ).select("doc_id", "n_chars")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in plan, plan


def test_column_pruning(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    plan = _plan(df)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-partitioned layout (the 100 TB norm: date/lang/source
    partitions) must prune at PLANNING time: a lang= filter shows up in
    PartitionFilters and the scan touches ONLY that partition's files —
    the difference between reading 1/5th and reading everything."""
    out = str(tmp_path / "part_docs")
    spark.read.parquet(f"{SF}/documents.parquet").write.partitionBy(
        "lang"
    ).mode("overwrite").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "de").select(
        "doc_id", "n_chars"
    )
    plan = _plan(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    # the equality literal must be IN the partition filter (planning-time
    # pruning), not just a post-scan Filter node; inputFiles() can't show
    # this — it lists the relation's files before pruning
    assert "lang" in pf and "de" in pf, plan
    assert "PushedFilters" in plan, plan
    # and the pruned read really is the de slice
    n_de = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang") == "de")
        .count()
    )
    assert df.count() == n_de > 0


def test_small_side_broadcast(spark):
    """J2-style verification join: the tiny golden side must broadcast."""
    big = spark.read.parquet(f"{SF}/documents.parquet")
    small = spark.createDataFrame(
        [(i, f"expected{i}") for i in range(20)], ["doc_id", "expected"]
    )
    joined = big.join(F.broadcast(small), "doc_id")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan, plan


def test_ann_query_small_side_by_closure(spark):
    """r08: the 5-vector query side ships by closure (bounded 5-row
    collect, the ann_ivf centroid-literal pattern) into ONE numpy
    mapInArrow scoring hop — no per-pair join node at all, so no
    broadcast is needed and none may silently grow into a shuffle join.
    The window stays the per-query top-k only."""
    plan = _plan(q_ann_cosine_topk(spark, SF))
    assert "InArrow" in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_salted_exchange_feeds_python_stage(spark):
    """The Arrow UDF must run AFTER the salted repartition so mega-document
    spans spread across tasks before hitting Python. Since r08 the salt key
    is (doc_id, _chunk = pos div 256) — still mega-doc-defusing (a doc's
    chunks spread over all buckets, <=256 spans per doc per task) AND
    aligned with the reassembly's phase-1 group key so that groupBy needs
    no exchange of its own (see test_reassembly_phase1_reuses_salt_exchange)."""
    df = spans_from_documents(spark, SF)
    clean = sanitize_exploded(explode_spans(df), None, salt_buckets=16)
    plan = _plan(clean)
    arrow_at = plan.index("ArrowEvalPython")
    exch_at = plan.index("REPARTITION_BY_NUM")
    # tree prints parents first: the Exchange (child) appears after the
    # ArrowEvalPython line, and the repartition key is the chunk salt
    assert exch_at > arrow_at, plan
    assert "hashpartitioning(doc_id" in plan and "_chunk" in plan, plan


@pytest.mark.parametrize("plan, salt", [
    ("sanitize_spans", 16), ("extract_spans", 16),
    ("sanitize_spans", None), ("extract_spans", None),
], ids=["sanitize_spans", "extract_spans",
        "sanitize_spans-no-salt", "extract_spans-no-salt"])
def test_exploded_pipeline_exchange_budget(spark, plan, salt):
    """r08 exchange-budget gate (guide §2.4): the full exploded pipeline
    is exactly THREE hash exchanges — chunk salt, phase-1 (doc_id, _chunk)
    collect, per-doc merge — and the salt keys EQUAL the phase-1 group
    keys. Spark 4.1's EvalPythonExec drops outputPartitioning (verified
    with a minimal repro, OPTIMIZATION_r08.md), so the phase-1 exchange
    cannot be elided while the Arrow UDF sits between salt and reassembly;
    if that ever changes upstream, this count drops to 2 for free because
    the keys already line up. A 4th exchange appearing means a regression
    (e.g. someone re-keyed the salt away from the reassembly chunks).
    extract_spans runs on the same topology and shares the budget. With no
    salt given, the salt exchange has one partition per task slot."""
    from html_sanitizer_spark.pipeline import job

    df = spans_from_documents(spark, SF)
    if plan == "sanitize_spans":
        out = job.sanitize_spans(spark, df, explode=True, salt_buckets=salt)
    else:
        out = job.extract_spans(spark, df, salt_buckets=salt)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    # the salt exchange and the phase-1 aggregate share the same key pair
    want = salt or spark.sparkContext.defaultParallelism
    assert re.search(r"hashpartitioning\(doc_id#\d+, _chunk#\d+L?, "
                     rf"{want}\), REPARTITION_BY_NUM", plan), plan


def test_wholestage_codegen_on_jvm_operators(spark):
    df = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy("lang")
        .agg(F.sum("n_chars").alias("s"))
    )
    # AQE wraps the plan and defers codegen; disable it for this check so
    # the codegen explain mode compiles the subtrees eagerly
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .groupBy("lang")
            .agg(F.sum("n_chars").alias("s"))
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        s = df2._jdf.queryExecution().explainString(mode)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in s and "*(1)" in s, s.splitlines()[:5]
    assert "Found 0" not in s


def test_ivf_assignment_is_map_side(spark):
    """IVF nearest-centroid assignment must be a map-side array_max over
    centroid literals — no per-row window, no corpus x n_cells shuffle
    (VERDICT r01 'What's wrong' #3). Only the final per-QUERY top-k may
    use a window."""
    from html_sanitizer_spark.queries import q_ann_ivf

    plan = _plan(q_ann_ivf(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    window_lines = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith(("Window [", "+- Window ["))
        or "- Window [" in ln
    ]
    assert len(window_lines) == 1, window_lines
    assert "qid" in window_lines[0]  # the final top-k, keyed by query


def test_anti_join_resume_shape(spark):
    """J3: resume as a left-anti join against the committed-manifest set."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    done = spark.createDataFrame([(0,), (1,)], ["bucket"])
    bucketed = docs.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(8)))
    remaining = bucketed.join(F.broadcast(done), "bucket", "left_anti")
    plan = _plan(remaining)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    n_all = bucketed.count()
    n_remaining = remaining.count()
    n_done = bucketed.join(F.broadcast(done), "bucket", "left_semi").count()
    assert n_remaining + n_done == n_all


def test_pii_scrub_is_pure_jvm_map(spark):
    """Text ops that CAN be pure expressions must stay JVM-side: no
    exchange, no Python evaluation, single whole-stage-codegen'able map."""
    from html_sanitizer_spark.queries import q_pii_scrub

    plan = _plan(q_pii_scrub(spark, SF))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def _no_hint_plan(spark, build):
    """Plan with AQE + size-based broadcast disabled: any BroadcastExchange
    left can only come from an explicit F.broadcast hint. The cache is
    cleared first — an InMemoryRelation captured by an EARLIER test under
    the default conf embeds that run's (legitimately size-based) broadcast
    decisions into this plan and would false-positive the gate."""
    spark.catalog.clearCache()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _plan(build())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_dedup_tail_never_forces_per_document_broadcasts(spark):
    """VERDICT r02 #2: the dedup tail joins per-DOCUMENT-sized tables
    (shingle sizes, the removal set) — O(corpus) at web scale. No static
    broadcast hint may survive; AQE alone decides at runtime."""
    from html_sanitizer_spark.queries import (
        _neardup_labels,
        q_dedup_verified,
        q_ngram_jaccard,
    )

    assert "BroadcastExchange" not in _no_hint_plan(
        spark, lambda: q_dedup_verified(spark, SF)
    )
    assert "BroadcastExchange" not in _no_hint_plan(
        spark, lambda: q_ngram_jaccard(spark, SF)
    )

    # decontaminate joins the O(eval-corpus) shingle set: AQE-only too
    from html_sanitizer_spark.queries import q_decontaminate

    assert "BroadcastExchange" not in _no_hint_plan(
        spark, lambda: q_decontaminate(spark, SF)
    )

    # dedup_apply shape (VERDICT r06 #5 fused form): ONE left join of the
    # corpus against the removal set feeding ONE aggregate — all four
    # outputs from a single corpus scan
    def apply_shape():
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], ["doc_a", "doc_b"]
        )
        removed = (
            _neardup_labels(spark, SF, pairs=pairs)
            .filter(F.col("doc") != F.col("root"))
            .select(F.col("doc").alias("doc_id"), F.lit(1).alias("_rm"))
        )
        return docs.join(removed, "doc_id", "left").agg(
            F.count(F.lit(1)).alias("n_input"),
            F.count("_rm").alias("n_removed"),
            F.sum(F.when(F.col("_rm").isNull(), 1).otherwise(0)).alias(
                "n_survivors"
            ),
            F.sum(F.when(F.col("_rm").isNull(), F.col("n_chars"))).alias(
                "survivor_chars"
            ),
        )

    apply_plan = _no_hint_plan(spark, apply_shape)
    assert "BroadcastExchange" not in apply_plan
    # single-pass gate: the documents table is scanned exactly once (the
    # pre-fusion form scanned it twice and cross-joined three 1-row frames)
    assert apply_plan.count("documents.parquet") == 1, apply_plan


def test_no_rdd_conversion_in_query_build(spark, monkeypatch):
    """VERDICT r02 #8: building any registry query must not convert a
    DataFrame to an RDD (the old _spread probe did, forcing a plan
    conversion per query build)."""
    from pyspark.sql import DataFrame

    from html_sanitizer_spark.queries import spark_queries

    def boom(self):
        raise AssertionError("DataFrame.rdd used in a query build path")

    monkeypatch.setattr(DataFrame, "rdd", property(boom))
    for name, fn in spark_queries().items():
        df = fn(spark, SF)
        assert df.columns, name


def test_verified_dedup_prunes_shingles_to_pair_members(spark):
    """q_dedup_verified must semi-join the shingle table down to candidate
    -pair members before the intersection join (at 100TB the candidate set
    is a small corpus fraction; shingling everything is the scale bug)."""
    from html_sanitizer_spark.queries import q_dedup_verified

    plan = _plan(q_dedup_verified(spark, SF))
    assert "LeftSemi" in plan, plan


def test_seq_packing_shard_count_scales_with_cluster(spark):
    """VERDICT r03 #1: the packing shard key must scale with the cluster —
    production default = defaultParallelism, no hard-coded shard literal
    in the production entry points (8 survives only in the registry demo
    lambdas that the deterministic oracle needs)."""
    import inspect

    from html_sanitizer_spark import queries as Q

    assert "defaultParallelism" in inspect.getsource(Q._packing_cumsums)
    for fn in (Q.q_seq_packing, Q.q_seq_packing_output):
        src = inspect.getsource(fn)
        assert "F.lit(8)" not in src and "% 8" not in src, fn.__name__
        assert inspect.signature(fn).parameters["n_shards"].default is None

    dp = spark.sparkContext.defaultParallelism
    got = (
        Q.q_seq_packing(spark, SF).select("shard").distinct().count()
    )
    assert got == dp  # 500 docs at sf0.001 >> dp: every residue occupied


def test_seq_packing_output_emits_real_sequences(spark):
    """q_seq_packing_output emits the packed artifact: fixed-length token
    rows (only each shard's final sequence may be short), whose packed_text
    token count equals n_tok and whose composition lists n_docs slices."""
    from html_sanitizer_spark import queries as Q
    from pyspark.sql import functions as F

    out = Q.q_seq_packing_output(spark, SF, seq_len=128, n_shards=4).cache()
    rows = out.collect()
    assert rows
    last_seq = {
        r["shard"]: r["seq_in_shard"]
        for r in out.groupBy("shard")
        .agg(F.max("seq_in_shard").alias("seq_in_shard"))
        .collect()
    }
    for r in rows:
        assert len(r["packed_text"].split(" ")) == r["n_tok"]
        assert len(r["composition"].split("|")) == r["n_docs"]
        if r["seq_in_shard"] != last_seq[r["shard"]]:
            assert r["n_tok"] == 128, r
        else:
            assert 1 <= r["n_tok"] <= 128
    # token conservation: packed token total == corpus token total
    total = sum(r["n_tok"] for r in rows)
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0")
    expect = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).collect()[0]["n"]
    assert total == expect
    out.unpersist()


def test_url_dedup_single_window_exchange_no_sort_or_cartesian(spark):
    """url_dedup's 100TB claim: all map-side except ONE hash exchange on
    the canonical URL feeding the first-occurrence window; no global Sort
    (the window's sort is partition-local under hashpartitioning) and no
    cartesian/nested-loop join anywhere."""
    from html_sanitizer_spark.queries import q_url_dedup

    plan = _plan(q_url_dedup(spark, SF))
    assert plan.count("Exchange hashpartitioning(canon_url") == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    # the only Sort is the window's partition-local one (global=false)
    import re

    for m in re.finditer(r"Sort \[.*?\], (true|false)", plan):
        assert m.group(1) == "false", plan


def test_domain_quality_filter_no_window_over_docs(spark):
    """domain_quality_filter's 100TB claim: the threshold comes from an
    aggregate over the SMALL host-stats frame, never a Window over the
    docs; no global Sort; no forced broadcast hints (cross join of the
    1-row threshold is a BroadcastNestedLoop by necessity and stays)."""
    from html_sanitizer_spark.queries import q_domain_quality_filter

    plan = _plan(q_domain_quality_filter(spark, SF))
    assert "Window" not in plan, plan
    import re

    assert not re.search(r"Sort \[.*?\], true", plan), plan


def test_oov_filter_vocab_head_is_take_ordered(spark):
    """oov_quality_filter's 100TB claim: the vocabulary head is a
    TakeOrderedAndProject (bounded top-k), never a global Sort of the
    vocabulary."""
    from html_sanitizer_spark.queries import q_oov_quality_filter

    plan = _plan(q_oov_quality_filter(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    import re

    assert not re.search(r"Sort \[.*?\], true", plan), plan


def test_incremental_dedup_prunes_corpus_scan_to_digest_inputs(spark):
    """dedup_incremental's 100TB claim: the corpus side of the probe join
    reads only what the digest needs (text), never the full row — column
    pruning reaches the scan — and there is no cartesian join."""
    from html_sanitizer_spark.queries import q_dedup_incremental

    plan = _plan(q_dedup_incremental(spark, SF))
    assert "CartesianProduct" not in plan, plan
    # every parquet scan in this plan projects at most (doc_id, text):
    # lang/source/n_chars never appear in any ReadSchema
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema = chunk.splitlines()[0]
        assert "lang" not in schema and "source" not in schema, plan


def test_lm_bigram_score_plan_shape(spark):
    """The n-gram-LM scorer's 100TB claims: no cartesian product (the
    1-row vocab frame joins as a broadcast nested loop over ONE row), no
    global sort, and the bigram stream is built map-side (no window
    function anywhere in the plan)."""
    from html_sanitizer_spark.queries import q_lm_bigram_score

    plan = _plan(q_lm_bigram_score(spark, SF))
    assert "CartesianProduct" not in plan, plan
    import re

    assert not re.search(r"Sort \[.*?\], true", plan), plan
    assert "Window" not in plan, plan


def test_lm_bigram_score_join_census_skew_proof(spark):
    """Skew-proofing contract (VERDICT r05 what's wrong #3): the
    corpus-sized bigram stream participates in exactly ONE equi-join,
    keyed on the full (w1, w2) pair — the Zipf hot-head-word partition
    (all bigrams with w1='the' in one task) is structurally impossible.
    Census: exactly two equi-joins total — the vocabulary-sized
    c2-with-c1 fold on [w1] and the stream-with-score-table probe on
    [w1, w2]; since the two-key join is the only join the stream can
    appear under, counting keys attributes it."""
    import re

    from html_sanitizer_spark.queries import q_lm_bigram_score

    plan = _plan(q_lm_bigram_score(spark, SF))
    joins = re.findall(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
        r"(?:\w*)? \[([^\]]*)\], \[([^\]]*)\],",
        plan,
    )
    assert len(joins) == 2, plan
    key_counts = sorted(len(left.split(",")) for _, left, _ in joins)
    assert key_counts == [1, 2], (joins, plan)


def test_dsir_score_join_is_broadcast(spark):
    """The DSIR score table is n_buckets rows by construction (a constant
    of the operator, not the corpus), so the corpus feature stream must
    join it as a BroadcastHashJoin — the only corpus-sized shuffle in the
    operator is the final per-doc aggregation. No window, no global
    sort."""
    import re

    from html_sanitizer_spark.queries import q_dsir_importance

    plan = _plan(q_dsir_importance(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan


def test_paragraph_dedup_single_window_pass(spark):
    """Both window functions (first-occurrence row_number, per-hash freq)
    share one spec, so the plan carries exactly ONE Exchange on the
    paragraph hash, ONE Sort, and ONE fused Window node — a second
    Window pass over every hash partition would double the operator's
    memory traffic at 100 TB for no semantic gain."""
    import re

    from html_sanitizer_spark.queries import q_paragraph_dedup

    plan = _plan(q_paragraph_dedup(spark, SF))
    assert len(re.findall(r"hashpartitioning\(ph", plan)) == 1, plan
    assert plan.count("Window ") == 1, plan
    assert len(re.findall(r"\bSort \[", plan)) == 1, plan


def test_mixture_weights_plan_shape(spark):
    """The mix planner touches nothing corpus-sized past the first
    map-side partial aggregation: the only scan projects (lang, n_chars)
    and there is no window or global sort."""
    from html_sanitizer_spark.queries import q_mixture_weights

    plan = _plan(q_mixture_weights(spark, SF))
    import re

    assert not re.search(r"Sort \[.*?\], true", plan), plan
    assert "Window" not in plan, plan
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema = chunk.splitlines()[0]
        assert "text" not in schema, plan


def test_extraction_ops_single_python_hop_no_shuffle(spark):
    """main_content and pdf_extract claim 'pure map, zero shuffles':
    no hash/range repartitioning anywhere (the only allowed Exchange is
    _spread's round-robin small-file fan-out, which disappears on real
    multi-split inputs) and exactly ONE Arrow-batched Python stage —
    build+extract fused into a single hop, no per-stage Python bounces."""
    from html_sanitizer_spark.queries import q_main_content, q_pdf_extract

    for q in (q_main_content, q_pdf_extract):
        plan = _plan(q(spark, SF))
        low = plan.lower()
        assert "hashpartitioning" not in low, plan
        assert "rangepartitioning" not in low, plan
        n_py = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        assert n_py == 1, plan


def test_line_dedup_no_cartesian_hash_exchanges_only(spark):
    """line_dedup's joins must stay key-hashed (digest / doc_id): no
    cartesian or nested-loop fallback, no range partitioning (doc-local
    array_sort does the ordering, never a global sort), and the document-
    frequency aggregation keeps its map-side partial (two HashAggregates
    around the ph Exchange)."""
    from html_sanitizer_spark.queries import q_line_dedup

    plan = _plan(q_line_dedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_simhash_neardup_map_side_pairs_no_self_join(spark):
    """simhash_neardup's 100TB claim: candidate pairs are expanded
    MAP-SIDE from capped band buckets (the minhash-pairs topology), never
    a band-key self-join — so no cartesian/nested-loop fallback anywhere,
    no range partitioning / global sort, the bucket cap is in the plan,
    and (r08) the sketch itself is ONE mapInArrow kernel hop — the former
    token-level explode + 64-column vote aggregate and its keyed exchange
    are gone from the plan entirely."""
    import re

    from html_sanitizer_spark.queries import q_simhash_neardup

    plan = _plan(q_simhash_neardup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan
    # the oversized-bucket skew guard must survive into the physical plan
    assert re.search(r"size\(docs#\d+[^)]*\) <= 100", plan), plan
    assert plan.count("HashAggregate") >= 2, plan
    # r08 sketch kernel: one Arrow hop, no token explode feeding it
    assert plan.count("MapInArrow") >= 1, plan
    assert "explode(split(" not in plan, plan


def test_simhash64_pure_map_kernel(spark):
    """r08: simhash64 is a pure map — scan -> spread -> ONE mapInArrow
    kernel. No keyed exchange, no explode, no aggregate anywhere (the
    vote pipeline lives inside the kernel; plans/r08/simhash64_after)."""
    from html_sanitizer_spark.queries import q_simhash

    plan = _plan(q_simhash(spark, SF))
    assert plan.count("MapInArrow") >= 1, plan
    assert "hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Generate" not in plan, plan


def test_substring_dedup_hash_exchanges_only(spark):
    """substring_dedup mirrors the line_dedup contract: digest/doc_id
    hash joins only, no cartesian or nested-loop fallback, no range
    partitioning (nothing is globally sorted), and the window-digest
    document-frequency aggregation keeps its map-side partial."""
    from html_sanitizer_spark.queries import q_substring_dedup

    plan = _plan(q_substring_dedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_tfidf_topk_doc_local_sort_single_scalar_cross(spark):
    """tfidf_topk's 100TB claim: the only non-hash join is the 1-row
    scalar N broadcast (BroadcastNestedLoop by necessity, same contract
    as domain_quality_filter's threshold); the top-k window sorts
    partition-locally under hashpartitioning(doc_id) — never a global
    Sort or range partitioning."""
    import re

    from html_sanitizer_spark.queries import q_tfidf_topk

    plan = _plan(q_tfidf_topk(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_bpe_encode_corpus_join_no_word_shuffle_agg_partials(spark):
    """bpe_encode's 100TB claim: merge application is vocabulary-sized,
    and the corpus word stream never keys a shuffle by word — the vocab
    join broadcasts (AQE at runtime; under the no-hint contract the plan
    must at least avoid cartesian/nested-loop fallback and range
    partitioning), with map-side partials on the per-doc rollup."""
    from html_sanitizer_spark.queries import q_bpe_encode

    plan = _plan(q_bpe_encode(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_link_pagerank_node_keyed_hash_joins_scalar_crosses_only(spark):
    """link_pagerank's 100TB claim: every corpus-sized join is hash-keyed
    on node ids; the only nested-loop joins are the 1-row scalar
    crossJoins (the sc/dangling-mass frames — the bounded-scalar
    contract); no cartesian product, no range partitioning / global
    sort, and the per-iteration contribution aggregation keeps map-side
    partials."""
    import re

    from html_sanitizer_spark.queries import q_link_pagerank

    plan = _plan(q_link_pagerank(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan
    assert plan.count("HashAggregate") >= 2, plan
    # the dangling-mass anti-join must be present each iteration
    assert plan.count("LeftAnti") >= 3, plan


def test_semantic_dedup_map_side_assignment_hash_joins_only(spark):
    """semantic_dedup's 100TB claim: cluster assignment is a map-side
    argmin over K centroid LITERALS (zero shuffle — no join against a
    centroid frame anywhere), so the plan has no cartesian or
    nested-loop join at all; the prune self-join and the size/removal
    joins are hash-keyed (cluster / vec_id); no range partitioning or
    global sort; the Lloyd-update aggregation ran EAGERLY during plan
    construction (bounded driver collect), so the returned plan only
    contains the final assign+prune stages with map-side partials."""
    import re

    from html_sanitizer_spark.queries import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan
    assert plan.count("HashAggregate") >= 2, plan
    # centroids must be literals, not a joined frame: the only joins are
    # the cluster-blocked prune, the broadcast size join, and the
    # left-outer removal join
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 3, plan


def test_c4_filters_single_map_no_python_no_keyed_exchange(spark):
    """c4_filters' 100TB claim: the whole battery is ONE map-side
    projection — no joins, no aggregation shuffle, no Python evaluation.
    The only allowed exchange is _spread's round-robin fan-out of the
    single-split test parquet (skipped on real multi-split inputs); any
    hash/range partitioning would mean a stage the operator must not
    have."""
    from html_sanitizer_spark.queries import q_c4_filters

    plan = _plan(q_c4_filters(spark, SF))
    assert "Python" not in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_host_cap_sample_salted_two_phase_topk(spark):
    """host_cap_sample's 100TB claim: the hot-host sort never lands on
    one task — the plan must contain BOTH window stages (the salted
    (host, s) local top-K exchange and the bounded host-global one), a
    broadcast for the host-count join, and no range partitioning /
    global sort / cartesian fallback."""
    import re

    from html_sanitizer_spark.queries import q_host_cap_sample

    plan = _plan(q_host_cap_sample(spark, SF))
    assert re.search(r"hashpartitioning\(host#\d+, s#", plan), plan
    assert re.search(r"hashpartitioning\(host#\d+, \d+\)", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert not re.search(r"Sort \[.*?\], true", plan), plan


def test_bloom_prefilter_bit_or_partials_idx_keyed_joins(spark):
    """bloom_prefilter's 100TB claim: the bit-array build keeps its
    map-side bit_or partial (two HashAggregates around the idx
    exchange, no DISTINCT pass on digests), the probe joins on idx /
    digest / doc_id hash keys only (broadcast at demo size; the idx
    keying co-partitions at scale), and nothing forces a cartesian,
    nested-loop, or range partitioning."""
    from html_sanitizer_spark.queries import q_bloom_prefilter

    plan = _plan(q_bloom_prefilter(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Python" not in plan, plan


def test_cms_token_counts_partial_agg_no_global_sort(spark):
    """cms_token_counts' 100TB claim: the sketch build keeps its map-side
    partial (every partition shrinks to <= d*w rows before the (r, c)
    exchange), the audit's top-k is TakeOrderedAndProject (never a global
    Sort), and the sketch probe join stays hash/broadcast — no cartesian,
    nested-loop, or range partitioning anywhere."""
    from html_sanitizer_spark.queries import q_cms_token_counts

    plan = _plan(q_cms_token_counts(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "Python" not in plan, plan


def test_hll_cardinality_register_partials_only(spark):
    """hll_cardinality's 100TB claim: the only corpus-sized stage is the
    64-register max groupBy with its map-side partial (two
    HashAggregates around one exchange); everything downstream is
    64-row arithmetic plus the 1-row audit crossJoin (the bounded-scalar
    contract) — no range partitioning, no Python, no cartesian beyond
    that scalar."""
    from html_sanitizer_spark.queries import q_hll_cardinality

    plan = _plan(q_hll_cardinality(spark, SF))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Python" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_doc_chunking_zero_keyed_shuffles(spark):
    """doc_chunking's 100TB claim: pure map — no joins, no keyed
    exchange, no Python; only _spread's round-robin fan-out of the
    single-split test input is allowed."""
    from html_sanitizer_spark.queries import q_doc_chunking

    plan = _plan(q_doc_chunking(spark, SF))
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan


def test_classifier_quality_map_side_scoring_no_token_join(spark):
    """classifier_quality's 100TB claim: weight lookup is a map-side
    expression, never a join of the corpus token stream against a
    weight table (the Zipf-hot-token shuffle the docstring warns
    about) — so no joins at all, one per-doc aggregation with its
    map-side partial, no Python, no range partitioning."""
    from html_sanitizer_spark.queries import q_classifier_quality

    plan = _plan(q_classifier_quality(spark, SF))
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("HashAggregate") >= 2, plan


def test_jl_projection_zero_shuffle_map(spark):
    """jl_projection's 100TB claim: the 16 plane dots are expressions
    against literal arrays — pure map, no joins, no keyed exchange, no
    Python; only the scan fan-out exchange is permitted."""
    from html_sanitizer_spark.queries import q_jl_projection

    plan = _plan(q_jl_projection(spark, SF))
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan


def test_r07_ops_plan_shapes(spark):
    """r07 operators keep the repo's shuffle discipline: quality_tiers
    assigns tiers MAP-SIDE (the histogram fold is a separate bounded
    driver job at build time — the returned plan has zero exchanges);
    gopher_filters is one map projection; train_shuffle's window is
    shard-partitioned (one hash exchange, NEVER a range/global sort);
    warc_extract is one mapInPandas hop."""
    from html_sanitizer_spark.queries import (
        q_gopher_filters,
        q_quality_tiers,
        q_train_shuffle,
        q_warc_extract,
    )

    plan = _plan(q_quality_tiers(spark, SF))
    # r08: the _spread round-robin fan-out is permitted (single-row-group
    # sf scans serialize the feature pass otherwise); still no KEYED
    # exchange — tier assignment itself stays a map-side CASE.
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan

    plan = _plan(q_gopher_filters(spark, SF))
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan  # _spread fan-out only

    plan = _plan(q_train_shuffle(spark, SF, n_shards=16))
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.lower().count("hashpartitioning") >= 1, plan
    assert plan.count("Exchange") == 1, plan

    plan = _plan(q_warc_extract(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan  # _spread fan-out only

    from html_sanitizer_spark.queries import q_wet_pipeline

    plan = _plan(q_wet_pipeline(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan  # _spread fan-out only

    # the two rollup reports: map-side derivation + ONE keyed groupBy
    # over a tiny domain (source / length-bucket), partial-agg first
    from html_sanitizer_spark.queries import (
        q_source_quality_report,
        q_token_budget_report,
    )

    for fn in (q_source_quality_report, q_token_budget_report):
        plan = _plan(fn(spark, SF))
        assert "rangepartitioning" not in plan.lower(), plan
        # exactly ONE keyed exchange (the tiny-domain groupBy); r08 allows
        # the additional _spread round-robin fan-out on the scan side
        assert plan.lower().count("exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange") <= 2, plan
        assert "partial" in plan.lower(), plan  # map-side combine present

    # cosine_threshold_report: the blocked join embedding_neardup already
    # pays plus ONE tiny-domain groupBy — never a range/global sort
    from html_sanitizer_spark.queries import q_cosine_threshold_report

    plan = _plan(q_cosine_threshold_report(spark, SF))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "partial" in plan.lower(), plan

    # hits_scores: node-keyed hash joins + groupBys, never a global sort,
    # no corpus-sized broadcast forced by hint
    from html_sanitizer_spark.queries import q_hits_scores

    plan = _plan(q_hits_scores(spark, SF))
    assert "rangepartitioning" not in plan.lower(), plan
    assert "partial" in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan  # 1-row crossJoins only
    # r08 (VERDICT r07 #6): the edge derivation must be ENFORCED as
    # computed-once — the 2k power-iteration references read the lazily
    # localCheckpointed edge RDD, not 2k copies of the
    # crossJoin+explode+distinct subtree
    assert "ExistingRDD" in plan, plan

    # anchor_texts: one Arrow hop + a href-keyed rollup, no sorts
    from html_sanitizer_spark.queries import q_anchor_texts

    plan = _plan(q_anchor_texts(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "partial" in plan.lower(), plan

    # robots_meta_filter: one Arrow hop, zero keyed shuffles
    from html_sanitizer_spark.queries import q_robots_meta_filter

    plan = _plan(q_robots_meta_filter(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert plan.count("Exchange") <= 1, plan  # _spread fan-out only

    # crawl_curation_pipeline: the real robots Arrow hop + doc-keyed
    # equi joins, never a range/global sort or cartesian product
    from html_sanitizer_spark.queries import q_crawl_curation_pipeline

    plan = _plan(q_crawl_curation_pipeline(spark, SF))
    assert "MapInPandas" in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert "CartesianProduct" not in plan, plan


def test_r07_ops_prune_their_scans(spark):
    """Column pruning reaches the parquet scan: token_budget_report reads
    ONLY text; quality_tiers needs doc_id/text/n_chars but must NOT drag
    source (carried by the shared _quality_scored frame, pruned by
    Catalyst through the final projection) or lang through the scan."""
    from html_sanitizer_spark.queries import (
        q_quality_tiers,
        q_token_budget_report,
    )

    plan = _plan(q_token_budget_report(spark, SF))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read, plan
    for col in ("doc_id", "source", "lang", "n_chars"):
        assert col not in read, (col, read)

    plan = _plan(q_quality_tiers(spark, SF))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("source", "lang"):
        assert col not in read, (col, read)


def test_train_shuffle_shards_scale_with_cluster(spark):
    """The seq_packing convention: no hard-coded shard literal in the
    production path — bare q_train_shuffle defaults n_shards to
    defaultParallelism; 16 survives only in the registry demo lambda."""
    import inspect

    from html_sanitizer_spark import queries as Q

    assert (
        inspect.signature(Q.q_train_shuffle).parameters["n_shards"].default
        is None
    )
    dp = spark.sparkContext.defaultParallelism
    got = Q.q_train_shuffle(spark, SF).select("shard").distinct().count()
    assert got == dp  # 500 docs at sf0.001 >> dp: every residue occupied


def test_bounded_collect_enforces_declared_bound(spark):
    """The bounded-collect contract is one enforced invariant, not five
    docstring promises (VERDICT r06 #4): overflow raises, naming the
    site; within-bound returns the rows unchanged."""
    import pytest

    from html_sanitizer_spark.functions.bounded import bounded_collect

    df = spark.range(5)
    assert len(bounded_collect(df, 5, "probe")) == 5
    with pytest.raises(RuntimeError, match="probe returned 5 rows"):
        bounded_collect(df, 4, "probe")


def test_every_package_collect_goes_through_bounded_collect():
    """AST gate: no bare ``.collect()`` call anywhere in the package —
    every driver-side materialization must declare its bound via
    bounded_collect (functions/bounded.py itself is the one allowed
    site). Docstrings/comments don't count; real call sites do."""
    import ast
    import pathlib

    pkg = pathlib.Path("html_sanitizer_spark")
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "bounded.py":
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "collect"
            ):
                offenders.append(f"{path}:{node.lineno}")
    assert offenders == [], (
        "bare .collect() outside bounded_collect: " + ", ".join(offenders)
    )
