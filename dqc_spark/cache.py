"""Registry for persisted intermediate frames.

Several operators (minhash/simhash signature frames, LSH band explodes,
the curate pipeline's annotated frame) MUST persist an intermediate —
it feeds multiple consumers and would otherwise recompute its Python
stage per consumer (3-4x measured).  But a library call can't know when
its caller is done consuming the result, so it can't unpersist safely
itself; un-released intermediates then accumulate cached blocks across
repeated calls (round-1 ADVICE).

Pattern: operators route every internal ``persist()`` through
``track()``; callers that invoke dedup/pipeline operators
repeatedly (benchmarks, services, notebooks) call ``release_all()``
once the results of a batch are materialized.  ``release_all`` is a
no-op on frames the caller itself unpersisted, and safe to call at any
time — the worst case is recomputation of a frame that gets consumed
again later.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and remember it for a later ``release_all()``."""
    df.persist()
    _TRACKED.append(df)
    return df


def release_all() -> int:
    """Unpersist every tracked intermediate; returns how many."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing left to free
    return n
