"""The bounded-collect contract, enforced.

Several operators legitimately pull a DRIVER-SIDE scalar or tiny row set
out of a distributed frame — the CC convergence probe (1 aggregate row),
the BPE top-pair pick (limit 1), the k-means / IVF centroid sets (<= K
rows). Each used to promise its bound in a docstring; this helper turns
those promises into ONE enforced invariant (VERDICT r06 #4): every such
site declares its bound at the call, and a result that exceeds it raises
instead of silently shipping an unbounded payload to the driver.

The bounds here are structural (limits, aggregates, K-row group-bys over
a K-value domain), so the raise is a tripwire for future edits that
loosen a plan — not a runtime cost: the collect itself is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["bounded_collect"]


def bounded_collect(df: DataFrame, max_rows: int, what: str) -> list:
    """Collect ``df`` to the driver, raising if it exceeds ``max_rows``.

    ``what`` names the contract site in the error (e.g. "CC convergence
    probe"). A full ``collect()`` is deliberate: every call site's plan
    is already bounded (limit / 1-row aggregate / K-domain group-by), and
    a ``take(max_rows)`` would silently truncate the very overflow this
    guard exists to expose.
    """
    rows = df.collect()
    if len(rows) > max_rows:
        raise RuntimeError(
            f"bounded-collect contract violated: {what} returned "
            f"{len(rows)} rows, declared bound {max_rows}. The plan "
            "feeding this driver-side scalar is no longer bounded — fix "
            "the plan, do not raise the bound."
        )
    return rows
