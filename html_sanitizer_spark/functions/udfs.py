"""Vectorized sanitize UDFs (the only JVM->Python hop in the pipeline).

Design (SURVEY.md §2.10, §4.1): the whole tree engine is fused into ONE
Arrow-batched hop per plan so each row crosses the Arrow boundary exactly
once. Per-row Python UDFs are never used (north_rule requirement).

One Arrow batch kernel, ``_make_batch_kernel``: a string array plus an
apply mask in, the new strings and the error positions out. It marks the
spans ``sanitize`` returns unchanged (printable ASCII with no ``<``, ``>``,
``&`` or double space) with ``pyarrow.compute``, so only the other spans
become Python strings; those run ``_make_text_kernel``, which sanitizes
one fragment and owns the memo and the poison policy. Both UDF shapes call
the batch kernel:
- ``make_sanitize_udf``    — scalar Arrow UDF over a text column, for the
  exploded span plan (Catalyst sees a deterministic expression).
- ``sanitize_spans_arrow`` — ``mapInArrow`` over whole (doc_id, spans)
  documents, for the nested zero-extra-shuffle plan: sanitizes text-kind
  spans inside the array, passes media spans through byte-identical,
  preserving order trivially.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
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
    """Scalar Arrow UDF: sanitize a batch of HTML fragments.

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
    kernel = _make_batch_kernel(settings, memoize, on_error)
    safe = on_error != "raise"

    @F.arrow_udf(SAFE_RESULT_TYPE if safe else T.StringType())
    def sanitize_batch(texts: pa.Array) -> pa.Array:
        text, errors = kernel(texts)
        if not safe:
            return text
        err = np.zeros(len(texts), dtype=bool)
        err[errors] = True
        return pa.StructArray.from_arrays([text, pa.array(err)],
                                          names=["text", "err"])

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
    """Per-fragment sanitize kernel behind ``_make_batch_kernel``, for the
    spans it sends to Python: the one place that validates ``on_error`` and
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


def _clean_mask(texts):
    """True where ``sanitize`` returns the text unchanged under any settings
    without autolink (null where the text is null): printable ASCII (which
    rejects every byte >= 0x80, so it implies ASCII) with no ``<``, ``>``
    or ``&`` and no double space. The identity is argued beside the
    engine's markup-free fast path (engine/core.py, ``sanitize``)."""
    return pc.and_not(pc.ascii_is_printable(texts),
                      pc.match_substring_regex(texts, "[<>&]|  "))


def _make_batch_kernel(settings, memoize: int, on_error: str):
    """The Arrow batch kernel both UDF shapes call:
    ``run(texts, apply=None) -> (new_texts, error_positions)``.

    ``texts`` is a string array and ``apply`` an optional boolean mask of
    the same length (null counts as false); null texts and unapplied
    positions come back unchanged. Of the rest, the spans ``sanitize``
    returns unchanged are marked in Arrow (``_clean_mask``); like the
    engine's fast path, the mark is off when ``settings.autolink`` is True
    or a dict. Only the remaining spans become Python strings and run
    ``_make_text_kernel`` (memo and poison policy included); their results
    are scattered back with ``replace_with_mask``. ``error_positions`` are
    the ascending indices of spans whose sanitize raised under a non-raise
    ``on_error``."""
    kernel = _make_text_kernel(settings, memoize, on_error)
    autolink = settings_for(settings).autolink
    mark_clean = autolink is not True and not isinstance(autolink, dict)

    def run(texts, apply=None):
        todo = texts.is_valid()
        if apply is not None:
            todo = pc.and_(todo, pc.fill_null(apply, False))
        if mark_clean:
            todo = pc.and_not(todo, pc.fill_null(_clean_mask(texts), False))
        idx = pc.indices_nonzero(todo)
        if not len(idx):
            return texts, []
        results = [kernel(t) for t in texts.take(idx).to_pylist()]
        new = pa.array([r[0] for r in results], texts.type)
        errors = [i for i, r in zip(idx.to_pylist(), results) if r[1]]
        return pc.replace_with_mask(texts, todo, new), errors

    return run


def sanitize_spans_arrow(
    df, settings=None, memoize: int = 0, on_error: str = "raise",
):
    """Nested zero-extra-shuffle path via ``mapInArrow`` (SURVEY.md §2.10):
    operates on pyarrow RecordBatches directly — the flattened ``text``
    child of every document's spans goes through the batch kernel in one
    call, with ``apply = kind == 'text'``, and the struct and list are
    rebuilt around it with no per-row conversion.

    ``memoize``/``on_error`` mirror make_sanitize_udf (VERDICT r03 #8):
    keep/null are applied per span, and a non-"raise" policy appends an
    ``n_span_errors`` int column — the per-document poison count, computed
    from the error positions and the list offsets — the same column the
    exploded plan's reassembly carries (filter n_span_errors > 0 →
    quarantine table).
    """
    kernel = _make_batch_kernel(settings, memoize, on_error)
    with_errors = on_error != "raise"
    schema = df.schema
    if with_errors:
        schema = T.StructType(
            schema.fields + [T.StructField("n_span_errors", T.IntegerType())]
        )

    def fix_batches(batches):
        for batch in batches:
            yield _sanitize_documents(batch, kernel, with_errors)

    return df.mapInArrow(fix_batches, schema)


def _sanitize_documents(batch, kernel, with_errors: bool):
    """One (doc_id, spans) RecordBatch through the batch ``kernel``
    (``_make_batch_kernel``), for ``sanitize_spans_arrow``."""
    idx = batch.schema.get_field_index("spans")
    lst = batch.column(idx)
    # this batch's spans only: a sliced list's ``values`` holds its
    # parent's spans too, so rebase the offsets onto its own range
    start = lst.offsets[0]
    offsets = pc.subtract(lst.offsets, start)
    values = lst.values.slice(start.as_py(), offsets[-1].as_py())
    valid = values.is_valid()
    apply = pc.and_(pc.equal(values.field("kind"), "text"), valid)
    text, errors = kernel(values.field("text"), apply)
    # carry the element-level validity through the rebuild: without the
    # mask a null span element would come back as a non-null struct of
    # null fields (ADVICE r02), diverging from the input and from the
    # exploded path
    new_values = pa.StructArray.from_arrays(
        [values.field("kind"), text, values.field("media_ref"),
         values.field("offset")],
        names=["kind", "text", "media_ref", "offset"],
        mask=pc.invert(valid) if values.null_count else None,
    )
    arrays = batch.columns
    arrays[idx] = type(lst).from_arrays(
        offsets, new_values, mask=lst.is_null() if lst.null_count else None)
    names = batch.schema.names
    if with_errors:
        # row i owns the spans [offsets[i], offsets[i+1])
        bounds = np.searchsorted(errors, offsets.to_numpy())
        arrays.append(pa.array(
            np.diff(bounds), pa.int32(),
            mask=lst.is_null().to_numpy(zero_copy_only=False),
        ))
        names = names + ["n_span_errors"]
    return pa.RecordBatch.from_arrays(arrays, names=names)


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
