"""One blocked-pair kernel for the near-dup operators.

``blocked_pairs`` pairs up the rows sharing a block key (an LSH or
SimHash bucket, an n-gram length block, an embedding cluster) with one
hash shuffle on the key and one ``mapInArrow``. Per partition it sorts
the rows into blocks, walks each block's upper triangle (or with tile
degree G > 1 the tile-i x tile-j rectangle) in windows of at most
``PAIR_CAP`` candidate pairs, lets the query's scorer keep and score each
window's pairs, applies the min-band rule and yields Arrow batches of at
most ``OUT_ROWS`` rows as they fill: a hot block costs time, never an
m x m allocation.

A scorer is ``scorer(tbl, cap) -> block_fn`` over the sorted partition
``tbl``; ``block_fn(blk)`` returns ``chunk(lo, hi, c0, c1) -> (a, b,
cols)``, the kept pairs of window rows [lo, hi) x cols [c0, c1) as
side-A / side-B doc indices (only ``b > a`` on a triangle) and the
schema's columns after the two ids. Scores leave raw: the JVM does the
exact (HALF_UP) rounding.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Most candidate pairs in one window, and most elements in one dense
# matrix a scorer builds. Read when a query is built, so a test can
# lower it to force the sparse paths.
PAIR_CAP = 1 << 22
OUT_ROWS = 1 << 20


@dataclass
class Block:
    """One block of the sorted partition; docs are numbered per side in
    id order, and a triangle has one side (``b is a``)."""

    rows: slice        # the block's rows in the sorted table
    a: np.ndarray      # first row of each side-A doc
    b: np.ndarray      # first row of each side-B doc
    doc: np.ndarray    # per row: its doc's index on its side
    in_b: np.ndarray   # per row: on side B
    tri: bool


def column(tbl: pa.Table, name: str) -> pa.Array:
    return tbl.column(name).combine_chunks()


def upper(a: np.ndarray, b: np.ndarray, tri: bool):
    """The pairs of a window that a triangle owns (b > a)."""
    if not tri:
        return a, b
    keep = b > a
    return a[keep], b[keep]


def grid(lo: int, hi: int, c0: int, c1: int, tri: bool):
    """Every pair a window owns."""
    return upper(np.repeat(np.arange(lo, hi), c1 - c0), np.tile(np.arange(c0, c1), hi - lo), tri)


def _windows(ma: int, mb: int, tri: bool, cap: int):
    """Windows of at most ``cap`` cells over rows [0, ma) x cols [0, mb),
    on a triangle only over the cols above each row."""
    lo = 0
    while lo < ma:
        c0 = lo + 1 if tri else 0
        hi = min(ma, lo + max(1, cap // max(mb - c0, 1)))
        for c in range(c0, mb, cap):
            yield lo, hi, c, min(c + cap, mb)
        lo = hi


class _Out:
    """Pair rows gathered into Arrow batches of at most ``OUT_ROWS`` rows,
    yielded once ``OUT_ROWS`` rows are pending."""

    def __init__(self, schema: pa.Schema):
        self.schema, self.parts, self.n = schema, [], 0

    def add(self, cols: list):
        self.parts.append(cols)
        self.n += len(cols[0])
        if self.n >= OUT_ROWS:
            yield from self.flush()

    def flush(self):
        cols, n = [np.concatenate(c) for c in zip(*self.parts)], self.n
        self.parts, self.n = [], 0
        for k in range(0, n, OUT_ROWS):
            arrays = [pa.array(c[k:k + OUT_ROWS], type=f.type) for c, f in zip(cols, self.schema)]
            yield pa.RecordBatch.from_arrays(arrays, schema=self.schema)


def pair_kernel(schema: T.StructType, key: Sequence[str], scorer: Callable, *,
                id_col: str = "doc_id", tiled: bool = False,
                min_band: Optional[Callable] = None):
    """The per-partition function of ``blocked_pairs``. ``schema`` is the
    lower id, the higher id, then the scorer's columns. ``min_band(tbl)``
    gives each row's (n, bands) band codes: a pair in a block of band
    ``band_idx`` is kept only when its docs differ in every earlier band,
    so it comes out of exactly one bucket. With ``tiled``, rows carry
    ``grp``, ``ti`` and ``tj``, and a block with ``ti != tj`` pairs its
    tile-i docs with its tile-j docs only."""
    from pyspark.sql.pandas.types import to_arrow_schema

    cap, arrow_schema = PAIR_CAP, to_arrow_schema(schema)

    def gen(batches):
        batches = list(batches)
        n = sum(b.num_rows for b in batches)
        if not n:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        ids = column(tbl, id_col).to_numpy()
        in_b = np.zeros(n, dtype=bool) if not tiled else (
            column(tbl, "grp").to_numpy() != column(tbl, "ti").to_numpy())
        keys = []
        for k in key:
            col = column(tbl, k)
            if not pa.types.is_integer(col.type):
                col = col.dictionary_encode().indices
            keys.append(col.to_numpy())
        order = np.lexsort((ids, in_b, *keys[::-1]))
        tbl, ids, in_b = tbl.take(order), ids[order], in_b[order]
        keys = [k[order] for k in keys]
        new_blk = np.r_[True, np.any([k[1:] != k[:-1] for k in keys], axis=0)]
        new_doc = new_blk.copy()
        new_doc[1:] |= (ids[1:] != ids[:-1]) | (in_b[1:] != in_b[:-1])
        doc_row, doc_no = np.flatnonzero(new_doc), np.cumsum(new_doc) - 1
        starts = np.flatnonzero(new_blk)
        ends, d0 = np.r_[starts[1:], n], doc_no[starts]
        n_a = np.add.reduceat((new_doc & ~in_b).astype(np.int64), starts)
        d_b = d0 + n_a
        n_b = np.r_[d0[1:], len(doc_row)] - d_b
        cross = np.zeros(len(starts), dtype=bool) if not tiled else (
            column(tbl, "ti").to_numpy() != column(tbl, "tj").to_numpy())[starts]
        live = np.flatnonzero(np.where(cross, (n_a > 0) & (n_b > 0), n_a > 1))
        if not len(live):
            return

        block_fn = scorer(tbl, cap)
        bands = min_band(tbl) if min_band else None
        band_idx = column(tbl, "band_idx").to_numpy() if min_band else None
        out = _Out(arrow_schema)
        for i in live:
            rows, tri = slice(starts[i], ends[i]), not cross[i]
            a = doc_row[d0[i]:d_b[i]]
            b = a if tri else doc_row[d_b[i]:d_b[i] + n_b[i]]
            doc = doc_no[rows] - np.where(in_b[rows], d_b[i], d0[i])
            chunk = block_fn(Block(rows, a, b, doc, in_b[rows], tri))
            bi = int(band_idx[starts[i]]) if min_band else 0
            for lo, hi, c0, c1 in _windows(len(a), len(b), tri, cap):
                ka, kb, vals = chunk(lo, hi, c0, c1)
                if bi:
                    keep = (bands[a[ka], :bi] != bands[b[kb], :bi]).all(axis=1)
                    ka, kb, vals = ka[keep], kb[keep], [v[keep] for v in vals]
                if len(ka):
                    id_a, id_b = ids[a[ka]], ids[b[kb]]
                    if not tri:
                        id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
                    yield from out.add([id_a, id_b, *vals])
        yield from out.flush()

    return gen


def blocked_pairs(frame: DataFrame, key: Sequence[str], schema: str,
                  scorer: Callable, *, id_col: str = "doc_id", tiles: int = 1,
                  min_band: Optional[Callable] = None) -> DataFrame:
    """Pairs of ``frame`` rows sharing ``key``, scored per block into the
    DDL ``schema``. With G = ``tiles`` > 1 each doc gets a hash group
    ``grp`` and joins the G tiles (ti <= tj) its group takes part in; a
    pair then meets in exactly one tile, and a hot block's work splits
    over G(G+1)/2 tasks. The shuffle has ``spark.sql.shuffle.partitions``
    x G^2 partitions, set explicitly: AQE would coalesce it by input size
    and stack blocks whose real work is quadratic onto one task."""
    # a NULL key equals no key (SQL equality): such rows pair with nothing
    frame, key = frame.dropna(subset=list(key)), list(key)
    if tiles > 1:
        tile = F.transform(
            F.sequence(F.lit(0), F.lit(tiles - 1)),
            lambda t: F.struct(F.least("grp", t).alias("ti"), F.greatest("grp", t).alias("tj")),
        )
        frame = (
            frame.withColumn("grp", F.pmod(F.xxhash64(id_col), F.lit(tiles)).cast("int"))
            .withColumn("tile", F.explode(tile))
            .select(*frame.columns, "grp", "tile.ti", "tile.tj")
        )
        key += ["ti", "tj"]
    schema = T.StructType.fromDDL(schema)
    gen = pair_kernel(schema, key, scorer, id_col=id_col, tiled=tiles > 1, min_band=min_band)
    n_parts = int(frame.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return frame.repartition(n_parts * tiles * tiles, *key).mapInArrow(gen, schema=schema)


def set_overlap(elems: str, out: Callable) -> Callable:
    """Scorer: the number of elements each pair of a block's docs shares,
    for pairs that share any. ``elems`` is a list column (a doc's
    elements on its row) or a scalar one (a row per doc and element); a
    doc's elements are distinct, so its size is its element count.
    ``out(sz_a, sz_b, c) -> (keep or None, cols)`` makes the output.

    When the block's doc x element membership matrices fit in the cap,
    a window's counts are one float32 matmul (exact below 2^24).
    Otherwise they are a ``bincount`` over the window's cells, fed the
    window's co-occurring doc pairs in pieces of at most ``cap``."""

    def part(tbl: pa.Table, cap: int):
        col = column(tbl, elems)
        if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            offs = col.offsets.to_numpy().astype(np.int64)
            offs -= offs[0]
            col = col.flatten()
        else:
            offs = np.arange(len(col) + 1)
        codes = col.dictionary_encode().indices.to_numpy()

        def block(blk: Block):
            r0, r1 = blk.rows.start, blk.rows.stop
            row = np.repeat(np.arange(r1 - r0), np.diff(offs[r0:r1 + 1]))
            doc, in_b = blk.doc[row], blk.in_b[row]
            uniq, elem = np.unique(codes[offs[r0]:offs[r1]], return_inverse=True)
            ma, mb, v = len(blk.a), len(blk.b), len(uniq)
            on_a = ~in_b
            on_b = on_a if blk.tri else in_b
            sz_a = np.bincount(doc[on_a], minlength=ma)
            sz_b = np.bincount(doc[on_b], minlength=mb)

            def result(ka, kb, c):
                keep, cols = out(sz_a[ka], sz_b[kb], c)
                if keep is None:
                    return ka, kb, cols
                return ka[keep], kb[keep], [x[keep] for x in cols]

            if max(ma, mb) * v <= cap:
                A = np.zeros((ma, v), dtype=np.float32)
                A[doc[on_a], elem[on_a]] = 1.0
                B = A
                if not blk.tri:
                    B = np.zeros((mb, v), dtype=np.float32)
                    B[doc[on_b], elem[on_b]] = 1.0

                def chunk(lo, hi, c0, c1):
                    C = A[lo:hi] @ B[c0:c1].T
                    ka, kb = np.nonzero(C)
                    ka, kb = upper(ka + lo, kb + c0, blk.tri)
                    return result(ka, kb, C[ka - lo, kb - c0].astype(np.int64))

                return chunk

            # side-A entries are in doc order (rows are sorted by doc
            # within a side); side-B entries get sorted by (element, doc)
            ea_doc, ea_key = doc[on_a], elem[on_a].astype(np.int64) * mb
            a_first = np.searchsorted(ea_doc, np.arange(ma + 1))
            b_key = elem[on_b].astype(np.int64) * mb + doc[on_b]
            o = np.argsort(b_key, kind="stable")
            b_key, eb_doc = b_key[o], doc[on_b][o]

            def chunk(lo, hi, c0, c1):
                d = ea_doc[a_first[lo]:a_first[hi]]
                e = ea_key[a_first[lo]:a_first[hi]]
                p0 = np.searchsorted(b_key, e + (np.maximum(d + 1, c0) if blk.tri else c0))
                reps = np.maximum(np.searchsorted(b_key, e + c1) - p0, 0)
                ends, w = np.cumsum(reps), c1 - c0
                bins = np.zeros((hi - lo) * w, dtype=np.int64)
                s = 0
                while s < len(reps):
                    base = ends[s] - reps[s]
                    t = max(s + 1, int(np.searchsorted(ends, base + cap, side="right")))
                    k = np.repeat(np.arange(s, t), reps[s:t])
                    pos = p0[k] + np.arange(ends[t - 1] - base) - (ends[k] - reps[k] - base)
                    bins += np.bincount((d[k] - lo) * w + (eb_doc[pos] - c0), minlength=len(bins))
                    s = t
                cell = np.flatnonzero(bins)
                return result(cell // w + lo, cell % w + c0, bins[cell])

            return chunk

        return block

    return part
