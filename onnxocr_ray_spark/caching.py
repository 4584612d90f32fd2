"""Bounded persist lifecycle for a long-lived session.

An operator may materialize an intermediate once and reuse it across
join branches (the bigram table of the text statistics). A bare
``.persist()`` with no owner leaks in a long-lived session: the driver
runs all ~59 registry queries through ONE SparkSession, so unbounded
caches accumulate until executor storage memory is exhausted.

The contract here: ``scoped_persist`` registers every persisted handle,
and ``release_persisted`` (called automatically at the start of every
registry query by ``registry.register``) unpersists everything
registered earlier. Queries run sequentially through the driver/bench,
so at any moment at most one query's caches are live.
"""

from __future__ import annotations

from typing import List

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LIVE: List[DataFrame] = []


def scoped_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register the handle for later bulk release."""
    df.persist(level)
    _LIVE.append(df)
    return df


def release_persisted() -> int:
    """Unpersist every handle registered by earlier queries. Returns the
    number of handles released. Safe to call at any time: Spark recomputes
    an unpersisted DataFrame if someone still holds a lazy reference."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            # handle from a stopped SparkSession: its cache died with the
            # session, nothing to release
            pass
    return n
