"""Vectorized sanitize UDFs (the only JVM->Python hop in the pipeline).

Design (SURVEY.md §2.10, §4.1): the whole tree engine is fused into ONE
Arrow-batched hop per plan so each row crosses the Arrow boundary exactly
once. Batches arrive as Arrow arrays; the per-value work (parse, walk,
serialize) runs in a tight loop over the batch, amortizing settings/regex
setup which lives in module/executor scope. Per-row Python UDFs are never
used (north_rule requirement).

One kernel, one shape per plan: ``_make_text_kernel`` sanitizes a single
fragment and owns the memo and the poison policy; every UDF below calls it.
- ``make_sanitize_udf``    — scalar pandas UDF over a text column, for the
  exploded span plan (Catalyst sees a deterministic expression).
- ``sanitize_spans_arrow`` — ``mapInArrow`` over whole (doc_id, spans)
  documents, for the nested zero-extra-shuffle plan: sanitizes text-kind
  spans inside the array, passes media spans through byte-identical,
  preserving order trivially.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..configs import fingerprint, settings_for
from ..engine.core import sanitize

__all__ = [
    "make_sanitize_udf",
    "sanitize_spans_arrow",
    "SPAN_TYPE",
    "SPANS_TYPE",
    "SAFE_RESULT_TYPE",
]

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_TYPE)

# on_error != "raise" result: sanitized text + explicit error flag, so a
# poison row is visible downstream (quarantine / lineage counters) instead
# of silently emitting unsanitized bytes (ADVICE r01).
SAFE_RESULT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("err", T.BooleanType()),
    ]
)


def make_sanitize_udf(settings=None, memoize: int = 0, on_error: str = "raise"):
    """Scalar pandas UDF: sanitize a batch of HTML fragments.

    ``settings`` may be a Settings instance or a registered config name;
    it is captured in the closure and shipped once per executor (the
    broadcast-by-closure pattern, SURVEY.md §1.2).

    ``memoize``: when > 0, keep a per-worker bounded memo of
    input-fragment -> output. Real web corpora repeat boilerplate spans
    (nav bars, footers, templates) at enormous rates, and ``sanitize`` is a
    pure function, so this is a deterministic cache, not an approximation.
    Off by default so benchmarks measure the engine, not the corpus's
    redundancy.

    ``on_error``: poison-document policy for 100TB runs, where one
    pathological fragment must not kill a 10^6-task job. Non-"raise" modes
    return struct<text, err> so the failure is an explicit flag, never a
    silent pass-through of unsanitized bytes:
      - "raise" (default): propagate — correctness runs want loud failures;
      - "keep":  pass the offending fragment through unsanitized with
        err=true (route to quarantine / count in lineage downstream);
      - "null":  null the text with err=true (drops the content, keeps the
        span slot).
    """
    kernel = _make_text_kernel(settings, memoize, on_error)
    safe = on_error != "raise"

    @F.pandas_udf(SAFE_RESULT_TYPE if safe else T.StringType())
    def sanitize_batch(texts: pd.Series) -> pd.Series:  # DataFrame if safe
        res = [(None, False) if t is None else kernel(t) for t in texts]
        text = pd.Series([r[0] for r in res], dtype="object")
        if not safe:
            return text
        return pd.DataFrame({"text": text, "err": [r[1] for r in res]})

    return sanitize_batch


# per-python-worker memo store, keyed by (config fingerprint, memoize, policy):
# equal configs share one cache, different configs never collide. The policy
# is part of the key because cached VALUES differ by policy ("keep" caches
# the original fragment for poison inputs, "null" caches None)
_worker_memo: dict = {}
_WORKER_MEMO_MAX_CONFIGS = 8


def _worker_cache(memo_key: tuple) -> dict:
    """Executor-side cache lookup with stale-config eviction: a long-lived
    reused worker that has seen many distinct configs drops old caches
    rather than accumulating them (ADVICE r02). Eviction is per-entry LRU
    (ADVICE r03): on overflow, only the least-recently-used config's cache
    is dropped — configs still actively in use on a mixed-config worker
    keep their warm caches instead of cold-restarting wholesale. Dicts
    preserve insertion order, so moving a key to the end on every hit makes
    the first key the LRU victim."""
    cache = _worker_memo.get(memo_key)
    if cache is None:
        if len(_worker_memo) >= _WORKER_MEMO_MAX_CONFIGS:
            _worker_memo.pop(next(iter(_worker_memo)))
        cache = _worker_memo[memo_key] = {}
    else:
        # refresh recency: re-insert at the end of the order
        _worker_memo.pop(memo_key)
        _worker_memo[memo_key] = cache
    return cache


def _make_text_kernel(settings, memoize: int, on_error: str):
    """Per-fragment sanitize kernel shared by both UDF shapes (exploded
    scalar, nested arrow): the one place that validates ``on_error`` and
    implements the memo (per-worker bounded cache keyed by a deterministic
    config+policy fingerprint, ADVICE r02) and the poison policy (keep/null
    with an explicit error flag, never a silent pass-through). Returns
    (clean_text, err). Poison results ARE memoized — sanitize is pure, so
    a fragment that raised once raises every time; caching the fallback
    skips re-raising on repeats."""
    if on_error not in ("raise", "keep", "null"):
        raise ValueError(f"on_error must be raise|keep|null, got {on_error!r}")
    settings_obj = settings_for(settings)
    keep = on_error == "keep"
    memo_key = (
        (fingerprint(settings_obj), memoize, on_error) if memoize > 0 else None
    )

    def run(text: str):
        cache = _worker_cache(memo_key) if memo_key is not None else None
        if cache is not None:
            hit = cache.get(text)
            if hit is not None:
                return hit
        try:
            result = (sanitize(text, settings_obj), False)
        except Exception:
            if on_error == "raise":
                raise
            result = (text if keep else None, True)
        if cache is not None:
            if len(cache) >= memoize:
                cache.clear()  # cheap wholesale eviction (per-config cache)
            cache[text] = result
        return result

    return run


def sanitize_spans_arrow(
    df, settings=None, memoize: int = 0, on_error: str = "raise",
):
    """Nested zero-extra-shuffle path via ``mapInArrow`` (SURVEY.md §2.10):
    operates on pyarrow RecordBatches directly — the flattened struct
    children are rebuilt column-wise (only the ``text`` child is touched),
    with no per-row dict conversion.

    ``memoize``/``on_error`` mirror make_sanitize_udf (VERDICT r03 #8):
    keep/null are applied per span, and a non-"raise" policy appends an
    ``n_span_errors`` int column — the per-document poison count, computed
    from the list offsets — the same column the exploded plan's
    reassembly carries (filter n_span_errors > 0 → quarantine table).
    """
    import pyarrow as pa

    kernel = _make_text_kernel(settings, memoize, on_error)
    with_errors = on_error != "raise"
    schema = df.schema
    if with_errors:
        schema = T.StructType(
            schema.fields + [T.StructField("n_span_errors", T.IntegerType())]
        )

    def fix_batches(batches):
        for batch in batches:
            names = batch.schema.names
            idx = names.index("spans")
            lst = batch.column(idx)
            if isinstance(lst, pa.ChunkedArray):  # defensive; batches are flat
                lst = lst.combine_chunks()
            values = lst.values  # flattened StructArray (absolute offsets)
            kinds = values.field("kind")
            texts = values.field("text")
            new_text = []
            elem_err = []
            for k, t in zip(kinds.to_pylist(), texts.to_pylist()):
                if k == "text" and t is not None:
                    clean, err = kernel(t)
                else:
                    clean, err = t, False
                new_text.append(clean)
                elem_err.append(err)
            # carry the element-level validity through the rebuild: without
            # the mask a null span element would come back as a non-null
            # struct of null fields (ADVICE r02), diverging from the input
            # and from the exploded path
            elem_mask = (
                pa.compute.is_null(values) if values.null_count else None
            )
            new_values = pa.StructArray.from_arrays(
                [
                    values.field("kind"),
                    pa.array(new_text, pa.string()),
                    values.field("media_ref"),
                    values.field("offset"),
                ],
                names=["kind", "text", "media_ref", "offset"],
                mask=elem_mask,
            )
            null_mask = lst.is_null() if lst.null_count else None
            new_list = pa.ListArray.from_arrays(
                lst.offsets, new_values, mask=null_mask
            )
            arrays = [
                new_list if i == idx else batch.column(i)
                for i in range(batch.num_columns)
            ]
            out_names = list(names)
            if with_errors:
                # per-document poison count from the list offsets: row i
                # owns flattened elements [off[i], off[i+1])
                prefix = [0]
                for e in elem_err:
                    prefix.append(prefix[-1] + int(e))
                offs = lst.offsets.to_pylist()
                valid = lst.is_valid().to_pylist()
                counts = [
                    prefix[offs[i + 1]] - prefix[offs[i]] if valid[i] else None
                    for i in range(len(lst))
                ]
                arrays.append(pa.array(counts, pa.int32()))
                out_names.append("n_span_errors")
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return df.mapInArrow(fix_batches, schema)


# main-content extraction result: kept-block text + block accounting, so
# lineage can report extraction yield (blocks kept vs boilerplate dropped)
# without a second pass over the corpus.
EXTRACT_RESULT_TYPE = T.StructType(
    [
        T.StructField("main_text", T.StringType()),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("n_dropped", T.IntegerType()),
    ]
)


def make_extract_udf(max_link_density: float = 0.5):
    """Scalar pandas UDF: main-content extraction (boilerplate strip via
    DOM heuristics — engine/extract.py) over a batch of HTML fragments.
    Returns struct<main_text, n_kept, n_dropped> (kept blocks joined by
    newlines); null in, null out.
    Thresholds are captured in the closure (broadcast-by-closure, same
    pattern as make_sanitize_udf)."""
    from ..engine.extract import extract_main_blocks

    @F.pandas_udf(EXTRACT_RESULT_TYPE)
    def extract_batch(html: pd.Series) -> pd.DataFrame:
        texts: list = []
        kept_n: list = []
        drop_n: list = []
        for h in html:
            if h is None:
                texts.append(None)
                kept_n.append(None)
                drop_n.append(None)
                continue
            kept, dropped = extract_main_blocks(
                h, max_link_density=max_link_density
            )
            texts.append("\n".join(kept))
            kept_n.append(len(kept))
            drop_n.append(dropped)
        return pd.DataFrame(
            {"main_text": texts, "n_kept": kept_n, "n_dropped": drop_n}
        )

    return extract_batch
