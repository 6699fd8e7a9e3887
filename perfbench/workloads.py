"""Seeded input generators for the sanitize-pipeline benchmark.

Every workload is a (doc_id, spans) table in the ``pipeline.synth.DOC_SCHEMA``
shape, generated in the benchmark process from ``--seed`` alone and written
to parquet before anything is timed. Span-count multisets are fixed per
workload (the seed permutes them and picks the content), so the amount of
work barely moves between seeds and run-to-run spread reflects the system,
not the input size.

Each input also carries the default-config golden documents
(``pipeline.synth.golden_spans_df``) so every run checks known outputs.
"""

from __future__ import annotations

import os
import random
import re
import unicodedata
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from html_sanitizer_spark.pipeline.synth import _FRAGMENTS, _WORDS

SPAN_ARROW = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
DOC_ARROW = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_ARROW))])

# the engine's fast-path test (engine.core: no '<', '>' or '&' after NFKC)
_MARKUP = re.compile(r"[<>&]")


@dataclass(frozen=True)
class Shape:
    """Size knobs of one workload. ``mega_docs`` documents get span counts
    evenly spaced over [2000, 10000]; the rest follow the workload's
    span-count quantile function."""

    n_docs: int
    mega_docs: int
    media_share: float


SKEWED = Shape(n_docs=4000, mega_docs=4, media_share=0.3)
FLAT = Shape(n_docs=25000, mega_docs=0, media_share=0.1)
CHECKPOINTED = Shape(n_docs=1500, mega_docs=2, media_share=0.3)


def _zipf_spans(u: float) -> int:
    # pipeline.synth's power law (s~1.3), clipped to 1..40
    return min(40, max(1, int(u ** -0.77)))


def _flat_spans(u: float) -> int:
    # quadratic tail: 1..24 spans, mean ~9
    return min(40, 1 + int(u * u * 24))


def _span_counts(rng: random.Random, shape: Shape, per_quantile) -> list[int]:
    """Stratified quantiles: the same multiset for every seed, permuted.
    Mega-documents sit at fixed, evenly spaced positions, so which
    checkpoint bucket and input file each lands in does not vary by seed."""
    n_normal = shape.n_docs - shape.mega_docs
    counts = [per_quantile((j + 0.5) / n_normal) for j in range(n_normal)]
    rng.shuffle(counts)
    step = 8000 / max(shape.mega_docs - 1, 1)
    for k in range(shape.mega_docs):
        counts.insert(round((k + 0.5) * shape.n_docs / shape.mega_docs),
                      2000 + round(k * step))
    return counts


def _media_span(rng: random.Random) -> tuple[str, str, str]:
    h = rng.getrandbits(64)
    kind = ("image", "video", "audio")[h % 3]
    text = "" if h % 4 else f"caption {h % 997}"
    return kind, text, f"media://{h:016x}"


def _markup_fragment(rng: random.Random) -> str:
    return rng.choice(_FRAGMENTS).format(w=rng.choice(_WORDS), w2=rng.choice(_WORDS))


def _make_plain_fragment(vocab: list[str]):
    templates = ("<p>{}</p>", "<b>{}</b> and more", "{} &amp; co", "<em>{}</em>")

    def frag(rng: random.Random) -> str:
        words = " ".join(rng.choices(vocab, k=rng.randint(3, 12)))
        if rng.random() < 0.2:
            return rng.choice(templates).format(words)
        return words

    return frag


def _docs(rng, shape, per_quantile, text_fragment, prefix):
    docs = []
    for i, n_spans in enumerate(_span_counts(rng, shape, per_quantile)):
        spans, offset = [], 0
        for _ in range(n_spans):
            if rng.random() < shape.media_share:
                kind, text, ref = _media_span(rng)
            else:
                kind, text, ref = "text", text_fragment(rng), ""
            spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": offset})
            offset += len(text) + 1
        docs.append({"doc_id": f"{prefix}{i:08d}", "spans": spans})
    return docs


def generate(workload: str, seed: int) -> list[dict]:
    """The workload's synthetic documents (golden documents not included)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "flat_plaintext":
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = ["".join(rng.choices(letters, k=rng.randint(3, 9)))
                 for _ in range(50_000)]
        return _docs(rng, FLAT, _flat_spans, _make_plain_fragment(vocab), "flat")
    shape = SKEWED if workload == "skewed_markup" else CHECKPOINTED
    return _docs(rng, shape, _zipf_spans, _markup_fragment, "skew")


def write_parquet(docs: list[dict], out_dir: str, n_files: int) -> int:
    """Write ``docs`` as ``n_files`` parquet files; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(docs) // n_files)
    total = 0
    for k in range(n_files):
        part = docs[k * per:(k + 1) * per]
        if not part:
            continue
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(_table(part), path)
        total += os.path.getsize(path)
    return total


def _table(docs: list[dict]) -> pa.Table:
    """Column-wise build (much faster than ``Table.from_pylist`` on structs)."""
    spans = [s for d in docs for s in d["spans"]]
    offsets = [0]
    for d in docs:
        offsets.append(offsets[-1] + len(d["spans"]))
    values = pa.StructArray.from_arrays(
        [pa.array([s[f] for s in spans], SPAN_ARROW.field(f).type)
         for f in ("kind", "text", "media_ref", "offset")],
        fields=list(SPAN_ARROW),
    )
    return pa.Table.from_arrays(
        [pa.array([d["doc_id"] for d in docs], pa.string()),
         pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), values)],
        schema=DOC_ARROW,
    )


def text_fragments(docs: list[dict]) -> list[str]:
    return [s["text"] for d in docs for s in d["spans"]
            if s is not None and s["kind"] == "text" and s["text"] is not None]


def is_markup_free(text: str) -> bool:
    return not _MARKUP.search(unicodedata.normalize("NFKC", text))


def properties(docs: list[dict]) -> dict:
    """Measured input properties, so cache and fast-path claims can cite
    the share of input they can help."""
    frags = text_fragments(docs)
    n_spans = sum(len(d["spans"]) for d in docs)
    return {
        "docs": len(docs),
        "text_spans": len(frags),
        "media_spans": n_spans - len(frags),
        "max_spans_per_doc": max(len(d["spans"]) for d in docs),
        "markup_free_share": sum(map(is_markup_free, frags)) / len(frags),
        "dup_fragment_share": 1 - len(set(frags)) / len(frags),
        "text_bytes": sum(len(t.encode()) for t in frags),
    }
