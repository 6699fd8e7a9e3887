"""Native-code fingerprint kernels for the md5-gram operators (r08).

Why these exist (optimization guide §4.2): the winnowing and MinHash
operators hash EVERY character position of every document (one md5 per
3-/5-gram). Expressed as Catalyst ``transform(...)`` chains they are
higher-order functions, which Spark evaluates INTERPRETED, one closure
call per array element — measured at 2.4-12 µs per gram on this host
(q_winnow_fingerprint spent 4.6 of its 6.0 s in the rolling-min
``slice``+``array_min`` transform alone at sf1.0; plans/r08/*_before.txt).
The same per-gram work in native code — hashlib's C md5 plus numpy byte-
string comparisons over one Arrow batch — runs at ~0.8-1.2 µs per gram,
an order of magnitude less CPU for identical output.

Shape contract (unchanged from the expression versions):
- ONE ``mapInArrow`` hop per operator, fed by an explicit
  ``select(doc_id, text)`` so column pruning reaches the scan (§4.1);
- zero shuffles introduced; the kernels are pure per-row maps;
- deterministic md5 output — the DuckDB oracles are untouched and the
  parity gate (tests/test_oracle_parity.py) replays both operators
  value-for-value.

Byte-order note: md5 hex strings compare lexicographically exactly like
the raw 16-byte digests (hex is a monotone byte-wise encoding), so the
winnowing rolling min runs on ``digest()`` bytes (cheaper than hexdigest)
while MinHash signature windows — 8-hex-char substrings at offsets 3j —
slice the hexlified buffer, matching ``substring(md5_hex, 3j+1, 8)``.
Spark's ``substring``/python slicing both count code points; grams are
encoded per-gram when a document is non-ASCII so the hashed bytes equal
``md5(substring(text, i, k))`` on any input.
"""

from __future__ import annotations

import binascii
from hashlib import md5 as _md5

__all__ = [
    "winnow_counts", "minhash_bands", "simhash64_batch",
    "winnow_count_py", "minhash_bands_py", "simhash64_py",
]


def _gram_digests(text: str, k: int) -> bytes:
    """Concatenated 16-byte md5 digests of every k-gram of ``text``
    (positions 1..max(len-k+1, 1), matching the expression form's
    ``sequence(1, greatest(length(text)-(k-1), 1))``)."""
    n = len(text) - (k - 1)
    if n < 1:
        n = 1
    if text.isascii():
        b = text.encode()
        return b"".join(_md5(b[i:i + k]).digest() for i in range(n))
    return b"".join(_md5(text[i:i + k].encode()).digest() for i in range(n))


def winnow_count_py(text: str) -> int:
    """Distinct winnowing fingerprints of one document: md5 per 5-gram,
    min per 5-wide rolling window (4 preceding + current), count distinct.
    Pure function; the Spark operator wraps it batch-wise."""
    import numpy as np

    buf = _gram_digests(text, 5)
    a = np.frombuffer(buf, dtype="S16")
    n = len(a)
    m = a
    for k in (1, 2, 3, 4):
        if k >= n:
            break
        # shifted-by-k with the leading positions clamped to element 0:
        # min over duplicated in-window elements == min over the window
        sh = np.concatenate([a[:1].repeat(k), a[:-k]])
        m = np.where(sh < m, sh, m)
    return len(np.unique(m))


def winnow_counts(texts: list) -> list:
    return [winnow_count_py(t) for t in texts]


def minhash_bands_py(text: str):
    """(band0..band3) MinHash LSH band keys of one document — identical to
    the oracle pipeline: md5 per 3-gram, 8 signatures = min over grams of
    the 8-hex-char windows at hex offsets 3j, bands = md5(sig2b||sig2b+1).
    """
    import numpy as np

    digs = _gram_digests(text, 3)
    hexbuf = binascii.hexlify(digs)
    n = len(digs) // 16
    arr = np.frombuffer(hexbuf, dtype="S1").reshape(n, 32)
    # min() over a python list of bytes is the cheapest exact min here
    # (np.sort pays O(n log n); ndarray.min lacks flexible-dtype support)
    sigs = [
        min(arr[:, 3 * j:3 * j + 8].copy().view("S8").ravel().tolist())
        for j in range(8)
    ]
    return tuple(
        _md5(sigs[2 * b] + sigs[2 * b + 1]).hexdigest() for b in range(4)
    )


def minhash_bands(texts: list):
    """Columnar band lists for a batch: ([band0...], ..., [band3...])."""
    cols = ([], [], [], [])
    for t in texts:
        bands = minhash_bands_py(t)
        for c, v in zip(cols, bands):
            c.append(v)
    return cols


def _simhash_token_digests(texts: list):
    """Per-doc whitespace tokens -> concatenated md5 digests + counts.

    Tokenization matches ``split(text, ' +')`` + ``tok <> ''`` exactly:
    splitting on runs of ASCII spaces and dropping empties is the same
    token multiset as ``[t for t in s.split(' ') if t]`` (leading/trailing
    empties and the empties a run produces are all filtered). NULL text
    yields no tokens (explode of the null array emits no rows)."""
    kept, counts, bufs = [], [], []
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = [x for x in t.split(" ") if x]
        if not toks:
            continue
        kept.append(i)
        counts.append(len(toks))
        bufs.append(b"".join(_md5(x.encode()).digest() for x in toks))
    return kept, counts, b"".join(bufs)


def simhash64_batch(texts: list):
    """(kept_row_indices, [simhash ...]) for a batch of document texts —
    bit-identical to the expression pipeline in queries._simhash_of_texts'
    docstring: bit b of the hash reads bit (b % 4) of hex nibble (b // 4)
    of md5(token); per-bit votes are +/-1 per token; sign > 0 sets the
    bit (bit 63 contributing INT64_MIN via two's complement). Docs with
    no tokens produce no output row, matching the groupBy-over-exploded-
    tokens form where such docs never reach the aggregate."""
    import numpy as np

    kept, counts, buf = _simhash_token_digests(texts)
    if not kept:
        return [], []
    # first 16 hex nibbles == first 8 digest bytes; nibble 2j is the high
    # half of byte j, nibble 2j+1 the low half
    by = np.frombuffer(buf, dtype=np.uint8).reshape(-1, 16)[:, :8]
    nib = np.empty((by.shape[0], 16), dtype=np.uint8)
    nib[:, 0::2] = by >> 4
    nib[:, 1::2] = by & 15
    # bit b = (nib[b // 4] >> (b % 4)) & 1 -> nibble-major, shift-minor
    bits = (
        (nib[:, :, None] >> np.arange(4, dtype=np.uint8)[None, None, :]) & 1
    ).reshape(-1, 64)
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    # +1/-1 votes per bit = 2 * (set bits) - (tokens in the doc); summing
    # the uint8 bits directly skips a (tokens, 64) int64 intermediate
    sums = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
    votes = 2 * sums - counts[:, None]
    sel = (votes > 0).astype(np.uint64)
    sims = (sel << np.arange(64, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64
    ).view(np.int64)
    return kept, sims.tolist()


def simhash64_py(text: str) -> int | None:
    """Single-document SimHash-64 (test/reference entry point)."""
    _, sims = simhash64_batch([text])
    return sims[0] if sims else None
