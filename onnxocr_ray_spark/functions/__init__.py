"""Portable Column helpers.

Every helper here has a documented ANSI-SQL equivalent that DuckDB
evaluates to the SAME values (the driver's correctness gate runs both) —
so hashes use md5 over explicit string encodings, mins over hex strings
are lexicographic in both engines, and float expressions are arranged to
round identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_md5(col: Column) -> Column:
    """md5 hex of a string column; equals DuckDB ``md5(col)``."""
    return F.md5(col.cast("binary"))


def words_of(text: Column) -> Column:
    """Whitespace-token list; equals DuckDB ``string_split(x, ' ')``
    (both keep empty tokens on repeated spaces)."""
    return F.split(text, " ")


def shingles_of(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles in document order.

    DuckDB equivalent:
      [array_to_string(w[i:i+{n-1}], ' ') for i in range(1, len(w) - {n-2})]
    (1-based, end-inclusive slices). Documents with < n words yield [].
    """
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, computed as
    dot/(sqrt(na)*sqrt(nb)) with left-to-right double accumulation —
    byte-matching DuckDB's
      list_sum(list_transform(...)) / (sqrt(..)*sqrt(..))
    when elements are cast to double on both sides.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(b, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


def count_occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via the replace-length identity —
    identical semantics in Spark and DuckDB:
      (length(x) - length(replace(x, needle, ''))) / length(needle)
    """
    n = len(needle)
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))) / n
    ).cast("int")
