"""One Arrow crossing for the per-row Python kernels.

Outside the extractor (whose html stages share
``operators/extract.py::_map_html``), the package's Python work runs one
document at a time: shingle, sign, hash grams, synthesize or parse a
payload. ``map_rows`` is that crossing for all of them: one narrow
``mapInArrow`` (no shuffle) that hands a per-row function plain Python
values and builds each output batch column by column.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Callable, Iterable, Iterator, Sequence, Union

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_rows(
    df: DataFrame,
    inputs: Sequence[str],
    kernel: Callable[[], Callable[..., Iterable[tuple]]],
    schema: Union[str, T.StructType],
    carry: Sequence[str] = (),
) -> DataFrame:
    """``df`` -> the rows a per-row function makes of each input row.

    ``kernel()`` runs once per task and returns ``f``, so per-task state
    (a memo) lives in its closure. ``f(*values)`` gets one row's
    ``inputs`` values (NULL as None) and returns an iterable of output
    tuples: a row gives 0, 1 or n output rows. ``schema`` is the output
    schema. Its ``carry`` fields are the input row's own values,
    repeated onto each output row with one Arrow ``take`` per batch; its
    other fields, in schema order, are the values of ``f``'s tuples
    (a naive datetime among them is taken as UTC).
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_schema = to_arrow_schema(schema)
    made = [f.type for f in out_schema if f.name not in carry]
    # the df's own column order, so an already-narrow frame gets no Project
    cols = [c for c in df.columns if c in inputs or c in carry]
    at_in = [cols.index(c) for c in inputs]
    at_carry = {c: cols.index(c) for c in carry}

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        f = kernel()
        for rb in batches:
            rows, counts = [], []
            for vals in zip(*(rb.column(i).to_pylist() for i in at_in)):
                n0 = len(rows)
                rows.extend(f(*vals))
                counts.append(len(rows) - n0)
            src = pa.array(np.repeat(np.arange(rb.num_rows), counts))
            out = iter([
                pa.array(list(map(itemgetter(k), rows)), type=t)
                for k, t in enumerate(made)
            ])
            arrays = []
            for field in out_schema:
                if field.name in carry:
                    arr = rb.column(at_carry[field.name]).take(src)
                    arrays.append(arr if arr.type == field.type else arr.cast(field.type))
                else:
                    arrays.append(next(out))
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return df.select(*cols).mapInArrow(gen, schema=schema)
