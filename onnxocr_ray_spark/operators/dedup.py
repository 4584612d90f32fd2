"""Corpus deduplication operators (training-data pipeline extension set).

Five dedup families over ``documents``, each Spark-first with a DuckDB
oracle:

- exact (hash-groupBy)
- MinHash + LSH (shingle -> k signatures -> banded buckets -> per-bucket
  pairs -> exact-Jaccard verification)
- SimHash (token-hash bit-vote signature)
- n-gram Jaccard with blocking
- embedding-cosine near-dup (see also similarity.py)

Scale notes: the pair queries run the blocked-pair kernel of pairs.py
(one shuffle on the bucket or block key); the oracles use the naive
OR-join or self-join, which is only feasible at oracle scale.
All hashes are md5-over-strings so both engines agree bit-for-bit
(functions/__init__.py).
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onnxocr_ray_spark.functions import portable_md5, shingles_of, words_of
from onnxocr_ray_spark.operators.pairs import blocked_pairs, column, grid, set_overlap
from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.sources.tables import load_table, spread_scan

MINHASH_K = 8          # signatures
LSH_BANDS = 4          # bands of 2 signatures each
SHINGLE_N = 2          # word bigrams
# 64-bit signature (the standard width: Manku et al., WWW'07): at corpus
# scale a 16-bit signature has only 65,536 distinct values and each
# 4-bit band only 16 — the banded join degenerates to all-pairs/16. With
# 4x16-bit bands the band key space is 4x65,536 and band collisions are
# genuine near-dup candidates.
SIMHASH_BITS = 64

# two bits per md5 hex char: char value's bit0 (odd digits) and bit1
_ODD_HEX = ["1", "3", "5", "7", "9", "b", "d", "f"]
_B2_HEX = ["2", "3", "6", "7", "a", "b", "e", "f"]


# --- exact dedup ---

@register(
    "dedup_exact",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="training-data op: exact dedup via content-hash groupBy (canonical = min doc_id)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", portable_md5(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_keep",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT doc_id FROM (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    ) WHERE doc_id = keeper
    """,
    doc="training-data op: exact-dedup survivor set (keep canonical per content hash)",
)
def dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(portable_md5(F.col("text")))
    return (
        docs.select("doc_id", F.min("doc_id").over(w).alias("keeper"))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id")
    )


# --- shared shingle/signature scaffolding ---
#
# Two implementations with identical output:
#   _shingles_expr — pure Column expressions (the JVM reference semantics
#                    the Python mirrors are tested against)
#   _shingled      — Arrow-batched mapInPandas. MEASURED 20-40x faster at
#                    sf0.1: Catalyst evaluates nested lambda transforms
#                    (slice/concat/md5 per shingle) interpreted, ~7 ms per
#                    document; hashlib.md5 over the same strings yields
#                    bit-identical hex at ~micro-seconds per shingle.
# The DuckDB oracle pins both to the same rows.


def _shingles_expr(text: Column) -> Column:
    return shingles_of(words_of(F.lower(F.trim(text))), SHINGLE_N)


def _py_shingles(text: str) -> list:
    """Bit-identical Python mirror of string_split(lower(trim(text, ' ')), ' ')
    + word bigrams: trim is SPACE-only (Spark trim semantics), split keeps
    empty tokens."""
    words = (text or "").strip(" ").lower().split(" ")
    if len(words) < SHINGLE_N:
        return []
    return [" ".join(words[i:i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)]


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", "text"
        )
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("shingles", T.ArrayType(T.StringType())),
        ]
    )

    def gen(batches):
        for pdf in batches:
            sh = [_py_shingles(t) for t in pdf["text"]]
            keep = [i for i, s in enumerate(sh) if s]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values[keep],
                    "lang": pdf["lang"].values[keep],
                    "n_chars": pdf["n_chars"].values[keep],
                    "shingles": [sh[i] for i in keep],
                }
            )

    return docs.mapInPandas(gen, schema=schema)


# cap on the per-task shingle->digest memo: at real-corpus scale the
# distinct-shingle count is unbounded, so the memo stops inserting (and
# keeps computing directly) past this many entries — bounded memory,
# same output (r6 optimization, guide §4.5)
_MEMO_CAP = 1 << 20


def _signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles, bands) — MinHash signatures + LSH band hashes,
    computed Python-side in one Arrow pass (see speed note above).

    r6 kernel (same bits, ~7x less CPU — OPTIMIZATION_r06.md):

    - ``shingles`` is emitted DEDUPLICATED (first-occurrence order). The
      only consumer of the column is the exact-Jaccard verify, which is
      set-semantics on both engines (Spark ``array_intersect``/``size``;
      the oracle applies ``list_distinct`` explicitly), and the MinHash
      min is unaffected by duplicates — so signatures, bands and the
      final rows are bit-identical while the persisted/shuffled arrays
      shrink ~25% and each shingle hashes once per doc.
    - one md5 STATE per seed pre-fed with the ``"<seed>|"`` prefix;
      per shingle the state is ``.copy()``-ed and fed the shingle bytes
      (incremental hashing: identical digest to ``md5(f"{seed}|{x}")``).
    - mins are taken over 16-byte digests, hex-encoded once per
      signature: hex is byte-order-preserving (``0..9a..f`` is ASCII-
      and value-ordered), so min-over-digests == min-over-hex.
    - a per-task memo (capped, see ``_MEMO_CAP``) reuses digests of
      shingles repeated across documents — boilerplate-heavy corpora
      hash each distinct shingle once per task instead of once per
      occurrence.
    """
    import hashlib

    import pandas as pd

    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("shingles", T.ArrayType(T.StringType())),
            T.StructField("bands", T.ArrayType(T.StringType())),
        ]
    )

    def gen(batches):
        md5 = lambda s: hashlib.md5(s.encode("utf-8")).hexdigest()
        prefixes = [
            hashlib.md5(f"{seed}|".encode("utf-8")) for seed in range(MINHASH_K)
        ]
        memo: dict = {}
        for pdf in batches:
            out_id, out_sh, out_bands = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(text)
                if not sh:
                    continue
                uniq = list(dict.fromkeys(sh))
                digs = []
                for s in uniq:
                    d = memo.get(s)
                    if d is None:
                        sb = s.encode("utf-8")
                        d = []
                        for p in prefixes:
                            h = p.copy()
                            h.update(sb)
                            d.append(h.digest())
                        if len(memo) < _MEMO_CAP:
                            memo[s] = d
                    digs.append(d)
                sigs = [m.hex() for m in map(min, zip(*digs))]
                bands = [
                    md5(sigs[2 * b] + sigs[2 * b + 1]) for b in range(LSH_BANDS)
                ]
                out_id.append(int(doc_id))
                out_sh.append(uniq)
                out_bands.append(bands)
            yield pd.DataFrame(
                {"doc_id": out_id, "shingles": out_sh, "bands": out_bands}
            )

    return docs.mapInPandas(gen, schema=schema)


# DuckDB's lower() differs from Spark's (and Python's, which the kernels
# use) on two inputs: it maps a final capital sigma to σ ('ΟΔΟΣ' ->
# 'οδοσ', not 'οδος') and drops the combining dot of İ. This oracle and
# _SIMHASH_SQL are authoritative only on text without those two
# characters; tests/test_properties.py pins the Python mirrors to Spark.
_SH_SQL = """
      SELECT doc_id, lang, n_chars,
             [array_to_string((string_split(lower(trim(text, ' ')), ' '))[i:i+1], ' ')
              for i in range(1, len(string_split(lower(trim(text, ' ')), ' ')))] AS shingles
      FROM documents
      WHERE len(string_split(lower(trim(text, ' ')), ' ')) >= 2
"""

_SIG_COLS_SQL = ", ".join(
    f"list_min(list_transform(shingles, x -> md5('{s}|' || x))) AS sig{s}"
    for s in range(MINHASH_K)
)

_BAND_COLS_SQL = ", ".join(
    f"md5(sig{2 * b} || sig{2 * b + 1}) AS band{b}" for b in range(LSH_BANDS)
)

_BAND_OR_SQL = " OR ".join(f"a.band{b} = b.band{b}" for b in range(LSH_BANDS))


# --- MinHash + LSH ---


def _lsh_bands(tbl):
    """Min-band codes: each row's doc's band hashes."""
    bands = column(tbl, "bands").flatten().dictionary_encode().indices.to_numpy()
    return bands.reshape(-1, LSH_BANDS)


_LSH_SCORER = set_overlap("shingles", lambda sa, sb, c: (None, [sa, sb, c]))


def _lsh_bucket_pair_counts(ex: DataFrame) -> DataFrame:
    """Exact shared-shingle counts (id_a, id_b, sz_a, sz_b, c), id_a <
    id_b, for every distinct LSH candidate pair: the blocked-pair kernel
    over BUCKETS ``(band_idx, band_hash)`` with the set-overlap scorer.
    The min-band rule emits each pair only in the first band where its
    docs collide — the pair set of a global ``distinct``, with no
    exchange. The caller rounds the Jaccard in the JVM, as the oracle
    does."""
    return blocked_pairs(ex, ["band_idx", "band_hash"],
                         "id_a long, id_b long, sz_a int, sz_b int, c long", _LSH_SCORER,
                         min_band=_lsh_bands)


@register(
    "dedup_minhash_lsh",
    sql=f"""
    WITH sh AS ({_SH_SQL}),
    sigs AS (
      SELECT doc_id, shingles, {_SIG_COLS_SQL} FROM sh
    ),
    banded AS (
      SELECT doc_id, shingles, {_BAND_COLS_SQL} FROM sigs
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.doc_id < b.doc_id AND ({_BAND_OR_SQL})
    )
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    """,
    doc="training-data op: MinHash+LSH near-dup candidates (k=8 sigs, 4 bands) with exact-Jaccard verify; Spark plan = explode bands + per-bucket pair kernel (scales), oracle = OR-join",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one bucket-keyed shuffle (each signed row replicated to its
    # LSH_BANDS buckets, shingle array attached once) into the bucket
    # kernel; set Jaccard over distinct shingles, |A∪B| by
    # inclusion-exclusion (OPTIMIZATION_r06.md has the plan it replaced)
    sh = _signed(spark, sf_dir)
    ex = sh.select(
        "doc_id",
        "shingles",
        "bands",
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    counts = _lsh_bucket_pair_counts(ex)
    return counts.select(
        "id_a",
        "id_b",
        F.round(
            F.col("c").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("c")),
            6,
        ).alias("jaccard"),
    )


# --- SimHash ---


def _vote_row(w: str):
    """The ±1 votes one word casts: bit0 of each of its md5 hex chars
    1..32, then bit1 — its exact contribution to ``_SIMHASH_SQL``."""
    codes = np.frombuffer(
        hashlib.md5(w.encode("utf-8")).hexdigest().encode("ascii"), dtype=np.uint8
    )
    vals = np.where(codes >= 97, codes - 87, codes - 48)
    return np.concatenate([vals & 1, (vals >> 1) & 1]).astype(np.int32) * 2 - 1


def simhash_of(text, memo: Optional[dict] = None) -> str:
    """64-bit SimHash, bit-identical to the DuckDB ``_SIMHASH_SQL``
    (pinned by tests); the batch ``dedup_simhash`` and the streaming
    near-dup operator both sign with it. ``memo`` keeps each word's vote
    row across calls (capped like ``_MEMO_CAP``), so a task md5-hashes
    each distinct word once instead of once per document (measured
    10.3 s -> <1 s of serial kernel CPU at sf1.0). The integer vote sums
    do not depend on word order."""
    # mirror of list_distinct(list_filter(string_split(lower(trim(...)))))
    words = set(filter(None, (text or "").strip(" ").lower().split(" ")))
    if not words:
        return "0" * SIMHASH_BITS
    memo = {} if memo is None else memo
    votes = np.zeros(SIMHASH_BITS, dtype=np.int32)
    for w in words:
        r = memo.get(w)
        if r is None:
            r = _vote_row(w)
            if len(memo) < _MEMO_CAP:
                memo[w] = r
        votes += r
    return np.where(votes > 0, ord("1"), ord("0")).astype(np.uint8).tobytes().decode("ascii")


_ODD_IN = ",".join(f"'{c}'" for c in _ODD_HEX)
_B2_IN = ",".join(f"'{c}'" for c in _B2_HEX)

# bits 1..32 = parity (bit0) of hex chars 1..32; bits 33..64 = bit1 of
# hex chars 1..32 — 64 independent bits from ONE md5 per token, portable
# to DuckDB verbatim (lower() aside: see the note above _SH_SQL)
_SIMHASH_SQL = f"""
    SELECT doc_id,
           array_to_string(
             [CASE WHEN list_sum([CASE WHEN substr(h, j, 1) IN ({_ODD_IN})
                                       THEN 1 ELSE -1 END for h in hashes]) > 0
                   THEN '1' ELSE '0' END for j in range(1, 33)],
             '')
           || array_to_string(
             [CASE WHEN list_sum([CASE WHEN substr(h, j, 1) IN ({_B2_IN})
                                       THEN 1 ELSE -1 END for h in hashes]) > 0
                   THEN '1' ELSE '0' END for j in range(1, 33)],
             '') AS simhash
    FROM (
      SELECT doc_id,
             list_transform(
               list_distinct(list_filter(string_split(lower(trim(text, ' ')), ' '), w -> w <> '')),
               w -> md5(w)) AS hashes
      FROM documents
    )
"""


@register(
    "dedup_simhash",
    sql=_SIMHASH_SQL,
    doc="training-data op: 64-bit SimHash signature (2 bit-votes per token-md5 hex char)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched Python path: the Column-expression formulation
    # (64 nested aggregate-lambdas over the token hash list) is evaluated
    # interpreted by Catalyst at ~10x the CPU of hashlib — same
    # fast-path rationale as _signed above; the DuckDB oracle pins the
    # output bit-for-bit.
    import pandas as pd

    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    schema = "doc_id long, simhash string"

    def gen(batches):
        memo: dict = {}
        for pdf in batches:
            sigs = [simhash_of(t, memo) for t in pdf["text"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "simhash": sigs})

    return docs.mapInPandas(gen, schema=schema)


# --- exact n-gram Jaccard with blocking ---

# tile degree G of the in-block pair enumeration (``blocked_pairs``): a
# hot (lang, length-band) block splits over G(G+1)/2 tasks for a Gx
# replication of the skinny exploded stream. G=2 measured best at
# local[32]/sf1.0 (same-window A/B vs G=1: 7.3 vs 11.2 s; G=4 paid more
# replication than it saved).
_NGRAM_TILES = 2
# the query keeps pairs with round(jaccard, 6) >= 0.02, and rounding
# moves a double by < 5e-7, so every surviving pair has raw jaccard >=
# 0.0199995. Filtering on that bound in the kernel (same IEEE double
# division the JVM does) drops ~20% of rows before the arrow->JVM
# conversion while the JVM still applies the exact rounded predicate.
_PRE_MIN = 0.02 - 5e-7


def _ngram_pair_cols(sz_a, sz_b, c):
    s = sz_a + sz_b
    keep = c / (s - c) >= _PRE_MIN
    return keep, [s, c]


def _ngram_block_pair_counts(ex: DataFrame) -> DataFrame:
    """FINAL co-occurrence pair counts (id_a, id_b, s = |A| + |B|, c =
    |A ∩ B|) over the exploded ``(doc_id, lang, blk, sh)`` stream: the
    blocked-pair kernel over BLOCK TILES ``(lang, blk, ti, tj)`` with the
    set-overlap scorer. A doc belongs to one (lang, blk) block and a pair
    meets in one tile, so each task's counts are final — no self-join,
    no pair-keyed exchange, no downstream aggregate."""
    return blocked_pairs(ex, ["lang", "blk"], "id_a long, id_b long, s long, c long",
                         set_overlap("sh", _ngram_pair_cols), tiles=_NGRAM_TILES)


@register(
    "dedup_ngram_jaccard",
    sql=f"""
    WITH sh AS ({_SH_SQL}),
    blocked AS (
      SELECT doc_id, lang, cast(floor(n_chars / 50) AS INT) AS blk,
             list_distinct(shingles) AS s
      FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
    FROM blocked a JOIN blocked b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.02
    """,
    doc="training-data op: exact n-gram Jaccard dedup with (lang, length-band) blocking",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one skinny shuffle of the exploded (doc, shingle) stream keyed by
    # the block tile (OPTIMIZATION_r06.md has the self-join plan it
    # replaced); pairs with an empty intersection never materialize
    ex = _shingled(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 50).cast("int").alias("blk"),
        F.explode(F.array_distinct("shingles")).alias("sh"),
    )
    common = _ngram_block_pair_counts(ex)
    # s = |A|+|B| from the kernel, so |A∪B| = s − c (inclusion-exclusion
    # over the distinct shingle sets) — same double as intersect/union
    return common.select(
        "id_a",
        "id_b",
        F.round(
            F.col("c").cast("double") / (F.col("s") - F.col("c")), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= 0.02)


# --- SimHash candidate pairs: banded Hamming join (completes SimHash as
# an actual dedup, not just a signature) ---

SIMHASH_HAMMING_K = 3   # with 4 bands of 16 bits, banding is EXACT at k=3:
SIMHASH_N_BANDS = 4     # <=3 differing bits leave >=1 band untouched
_BAND_W = SIMHASH_BITS // SIMHASH_N_BANDS

_HAMMING_SQL = "(" + " + ".join(
    f"CASE WHEN substr(a.simhash, {j}, 1) <> substr(b.simhash, {j}, 1) THEN 1 ELSE 0 END"
    for j in range(1, SIMHASH_BITS + 1)
) + ")::BIGINT"


@register(
    "dedup_simhash_pairs",
    sql=f"""
    WITH s AS ({_SIMHASH_SQL})
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, {_HAMMING_SQL} AS hamming
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    ) WHERE hamming <= {SIMHASH_HAMMING_K}
    """,
    doc=(
        "training-data op: SimHash near-dup pairs via banded Hamming join — "
        "4x16-bit bands, pairs per band bucket (pigeonhole-complete at Hamming<=3), "
        "exact popcount verify; oracle uses the all-pairs form at oracle scale"
    ),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Banded plan: explode each signature into its 4 bit-bands; by
    # pigeonhole, any pair within Hamming distance 3 shares at least one
    # exact band, so the banded candidate set is COMPLETE (identical
    # rows to the oracle's all-pairs scan) while never materializing
    # zero-overlap pairs. The biased synthetic vocabulary makes 16-bit
    # band buckets of up to 7.5k docs at sf1.0 (OPTIMIZATION_r06.md).
    sigs = dedup_simhash(spark, sf_dir)
    ex = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash", b * _BAND_W + 1, _BAND_W)
                    for b in range(SIMHASH_N_BANDS)
                ]
            )
        ).alias("band_idx", "band"),
    )
    return _simhash_bucket_pairs(ex)


def _simhash_bands(tbl):
    """(n, 4) uint16 codes of each row's four 16-bit signature bands."""
    sig = column(tbl, "simhash")
    bits = np.frombuffer(
        "".join(sig.to_pylist()).encode("ascii"), dtype=np.uint8
    ).reshape(len(sig), SIMHASH_BITS) - ord("0")
    packed = np.packbits(bits, axis=1)
    return packed[:, 0::2].astype(np.uint16) * 256 + packed[:, 1::2]


def _hamming(tbl, cap):
    """Scorer: pairs within Hamming distance SIMHASH_HAMMING_K, by XOR +
    SWAR popcount over signatures packed to uint64 (any consistent bit
    packing preserves Hamming distance)."""
    from onnxocr_ray_spark.streaming.pipeline import _popcount64

    sig = np.ascontiguousarray(_simhash_bands(tbl)).view(np.uint64).ravel()

    def block(blk):
        sa, sb = sig[blk.a], sig[blk.b]

        def chunk(lo, hi, c0, c1):
            a, b = grid(lo, hi, c0, c1, blk.tri)
            ham = _popcount64(sa[a] ^ sb[b]).astype(np.int64)
            keep = ham <= SIMHASH_HAMMING_K
            return a[keep], b[keep], [ham[keep]]

        return chunk

    return block


def _simhash_bucket_pairs(ex: DataFrame) -> DataFrame:
    """Exact Hamming pairs (<= SIMHASH_HAMMING_K), one per pair: the
    blocked-pair kernel over BUCKETS ``(band_idx, band)``, each row
    carrying the full signature, with the ``_hamming`` scorer and the
    min-band rule. All-integer, so no JVM re-verification."""
    return blocked_pairs(ex, ["band_idx", "band"], "id_a long, id_b long, hamming long",
                         _hamming, min_band=_simhash_bands)


# --- passage-level (C4-style) boilerplate dedup ---
#
# C4 / RefinedWeb remove any line/paragraph that repeats verbatim across
# the corpus (navigation chrome, cookie banners, license footers). The
# synthetic ``documents`` table has no newlines, so the passage unit is
# a non-overlapping 10-word window — the mechanics (global passage
# count -> membership filter -> per-doc retention stats) are identical.

PASSAGE_WORDS = 10
PASSAGE_BOILER_MIN = 3  # a passage seen >= 3 times corpus-wide is boilerplate


@register(
    "dedup_passages",
    priority=12,  # new in r5 -> into the driver's checked window
    sql=f"""
    WITH w AS (
      SELECT doc_id, string_split(trim(text, ' '), ' ') AS ws FROM documents
    ), ch AS (
      SELECT doc_id,
             unnest(range((len(ws) + {PASSAGE_WORDS - 1}) // {PASSAGE_WORDS})) AS i,
             ws
      FROM w
    ), p AS (
      SELECT doc_id,
             array_to_string(
               ws[(i * {PASSAGE_WORDS} + 1):(i * {PASSAGE_WORDS} + {PASSAGE_WORDS})],
               ' '
             ) AS passage
      FROM ch
    ), boiler AS (
      SELECT passage FROM p GROUP BY passage
      HAVING count(*) >= {PASSAGE_BOILER_MIN}
    )
    SELECT p.doc_id,
           count(*) AS n_passages,
           CAST(sum(CASE WHEN b.passage IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN b.passage IS NULL THEN length(p.passage) ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM p LEFT JOIN boiler b ON p.passage = b.passage
    GROUP BY p.doc_id
    """,
    doc=(
        "training-data op: C4-style passage-level boilerplate dedup — "
        "global count of verbatim 10-word passages, passages repeating "
        ">= 3x are boilerplate, per-doc retention stats"
    ),
)
def dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide verbatim-passage removal stats (the C4 boilerplate pass).

    Plan shape (the 100 TB design, machine-asserted in test_plans):

    - the doc stream is exploded to (doc_id, passage) but NEVER shuffles
      on passage: boilerplate membership arrives via a BROADCAST left
      join, not a repartition of the corpus;
    - the only full-width shuffle is the passage count groupBy, which
      map-side partial-aggregates (one row per distinct passage per
      task) before the exchange;
    - the boilerplate set (count >= 3) is a tiny fraction of distinct
      passages — broadcastable far beyond this SF. If it ever outgrew
      the broadcast threshold Spark falls back to a shuffle join; the
      C4 paper's equivalent is a distributed membership table.
    - per-doc stats partial-aggregate to one row per doc before the
      final doc_id exchange.
    """
    # r6: the documents file is a single row group, so without the
    # spread the passage explode + hashing ran on 1-2 cores (measured
    # 8.0 s at sf1.0); a no-op on a many-split production table
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    words = words_of(F.trim(F.col("text")))
    n_chunks = (F.size(words) + (PASSAGE_WORDS - 1)).cast("long") / F.lit(
        PASSAGE_WORDS
    )
    idx = F.sequence(F.lit(0), F.floor(n_chunks).cast("int") - 1)
    chunks = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.slice(words, i * PASSAGE_WORDS + 1, PASSAGE_WORDS)
        ),
    )
    p = docs.select("doc_id", F.explode(chunks).alias("passage"))
    boiler = (
        p.groupBy("passage")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= PASSAGE_BOILER_MIN)
        .select("passage", F.lit(True).alias("is_boiler"))
    )
    kept = F.col("is_boiler").isNull()
    return (
        p.join(F.broadcast(boiler), "passage", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(
                F.when(kept, F.length("passage")).otherwise(F.lit(0))
            ).alias("kept_chars"),
        )
    )


# --- benchmark decontamination (n-gram probe membership) ---
#
# Every production pretraining pipeline runs a decontamination pass:
# flag documents that contain any n-gram from a held-out benchmark
# suite (GPT-3 appendix C uses 13-grams; the Pile / Llama reports use
# the same shape). The probe set here is synthesized deterministically
# from the corpus itself — the first 13-gram of every doc_id % 97 == 13
# document plays the "benchmark" — so both engines build the identical
# set with no external data.

DECON_N = 13            # the GPT-3 / Pile decontamination n-gram width
DECON_SLICE = 97        # benchmark docs: doc_id % 97 == 13
DECON_RESIDUE = 13


@register(
    "decontaminate",
    priority=12,  # new in r5 -> into the driver's checked window
    sql=f"""
    WITH w AS (
      SELECT doc_id, string_split(trim(text, ' '), ' ') AS ws FROM documents
    ), probes AS (
      SELECT DISTINCT
             substr(md5(array_to_string(ws[1:{DECON_N}], ' ')), 1, 16) AS gram_h
      FROM w
      WHERE doc_id % {DECON_SLICE} = {DECON_RESIDUE} AND len(ws) >= {DECON_N}
    ), g AS (
      SELECT doc_id,
             substr(md5(array_to_string(ws[i:i + {DECON_N - 1}], ' ')), 1, 16)
               AS gram_h
      FROM w, unnest(range(1, greatest(len(ws) - {DECON_N - 2}, 1))) AS t(i)
    )
    SELECT g.doc_id,
           count(*) AS n_hits,
           count(DISTINCT g.gram_h) AS n_probe_grams
    FROM g JOIN probes USING (gram_h)
    GROUP BY g.doc_id
    """,
    doc=(
        "training-data op: benchmark decontamination — flag documents "
        "containing any 13-gram of a (synthesized) benchmark probe set "
        "via a broadcast hashed-n-gram join (the GPT-3/Pile decontam "
        "pass)"
    ),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing any 13-gram with the benchmark probe set.

    Returns one row per contaminated document with the total number of
    matching 13-gram occurrences and the number of distinct probe grams
    hit (benchmark docs self-match by construction, so the result is
    never empty).

    Plan shape (the 100 TB design, machine-asserted in test_plans):

    - probes are hashed to 16 hex chars of md5 BEFORE the join — the
      production trick that makes a benchmark suite (millions of
      n-grams) broadcastable as fixed-width keys instead of raw strings;
    - the corpus stream explodes to sliding 13-grams but meets the probe
      set in a BROADCAST inner join, which filters map-side: only actual
      hit rows (a vanishing fraction) ever reach the per-doc count
      exchange. The corpus never shuffles on gram;
    - the probe-set distinct and the per-doc count are the only hash
      exchanges, both partial-aggregated.

    At real scale the probe set comes from the benchmark files instead
    of a corpus slice; the join shape is unchanged. False-positive rate
    of the 64-bit key truncation is ~n^2/2^65 — below one collision per
    corpus at any feasible probe count (and a collision only ever ADDS
    a flagged doc for human review, never drops one).
    """
    docs = load_table(spark, sf_dir, "documents")
    # r6: spread the gram side before the 13-gram explode — the sliding
    # grams (2.1M at sf1.0) were generated on 1-2 scan partitions
    # (measured 16.1 s); the probe side stays on the raw scan (tiny)
    return (
        decon_doc_grams(spread_scan(docs))
        .join(F.broadcast(decon_probes(docs)), "gram_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("gram_h").alias("n_probe_grams"),
        )
    )


def _decon_gram_h(gram):
    """16 hex chars of md5(gram): the fixed-width broadcastable join key."""
    return F.substring(portable_md5(gram), 1, 16)


def decon_probes(docs: DataFrame) -> DataFrame:
    """The synthesized benchmark probe set: the hashed first 13-gram of
    every ``doc_id % 97 == 13`` document (one ``gram_h`` column). At
    real scale this would read the benchmark files instead."""
    words = words_of(F.trim(F.col("text")))
    return (
        docs.filter(
            (F.col("doc_id") % DECON_SLICE == DECON_RESIDUE)
            & (F.size(words) >= DECON_N)
        )
        .select(
            _decon_gram_h(
                F.concat_ws(" ", F.slice(words, 1, DECON_N))
            ).alias("gram_h")
        )
        .distinct()
    )


def decon_doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram_h) for every sliding 13-gram of every document.
    Works identically on a batch or streaming ``docs`` frame (one
    stateless Arrow-batched map, no aggregation).

    r6: the Column formulation (explode of 13-word slice/concat_ws
    transforms + md5 per gram) ran interpreted in Catalyst — the same
    20-40x penalty measured for ``_shingled`` — and dominated both
    ``decontaminate`` and ``dup_gram_fraction``. The kernel mirrors it
    bit-identically: SPACE-only trim, split keeping empty tokens
    (``_py_shingles``'s fuzz-pinned contract, minus the lowercase),
    ``' '.join`` == ``concat_ws``, and the same 16-hex-char md5 prefix.
    """
    import hashlib

    import pandas as pd

    n = DECON_N

    def gen(batches):
        for pdf in batches:
            ids_out, gh_out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = (text or "").strip(" ").split(" ")
                if len(words) < n:
                    continue
                did = int(doc_id)
                for i in range(len(words) - n + 1):
                    gram = " ".join(words[i:i + n])
                    ids_out.append(did)
                    gh_out.append(
                        hashlib.md5(gram.encode("utf-8")).hexdigest()[:16]
                    )
            yield pd.DataFrame({"doc_id": ids_out, "gram_h": gh_out})

    return docs.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id long, gram_h string"
    )


# --- exact-substring duplication fraction ---
#
# Lee et al., "Deduplicating Training Data Makes Language Models
# Better" (ACL'22) measure how much of each document is duplicated
# VERBATIM elsewhere in the corpus via suffix-array exact-substring
# match. The distributed re-expression: a gram occurrence is
# "duplicated" iff the same 13-gram (the decontamination width — one
# shared constant, one shared kernel) appears in at least one OTHER
# document; the per-doc duplicated fraction is then n_dup/n_grams over
# its sliding gram occurrences. Docs above ~20% duplicated-fraction are
# the ones the paper's dedup pass would rewrite.

@register(
    "dup_gram_fraction",
    priority=12,  # new in r5 -> into the driver's checked window
    sql=f"""
    WITH w AS (
      SELECT doc_id, string_split(trim(text, ' '), ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             substr(md5(array_to_string(ws[i:i + {DECON_N - 1}], ' ')), 1, 16)
               AS gram_h
      FROM w, unnest(range(1, greatest(len(ws) - {DECON_N - 2}, 1))) AS t(i)
    ), s AS (
      SELECT gram_h, min(doc_id) AS mn, max(doc_id) AS mx
      FROM g GROUP BY gram_h
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN s.mn <> s.mx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(CAST(sum(CASE WHEN s.mn <> s.mx THEN 1 ELSE 0 END) AS BIGINT)
                * 1000000 // count(*) AS BIGINT) AS dup_ppm
    FROM g JOIN s USING (gram_h)
    GROUP BY g.doc_id
    """,
    doc=(
        "training-data op: exact-substring duplication fraction (Lee et "
        "al. ACL'22) — per-doc ppm of sliding 13-gram occurrences that "
        "appear verbatim in at least one other document; min!=max(doc_id) "
        "per gram replaces countDistinct"
    ),
)
def dup_gram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verbatim-duplication fraction over 13-gram occurrences.

    Plan shape (the 100 TB design, machine-asserted in test_plans):

    - grams are hashed to 16 hex chars (64 bits) BEFORE any exchange, so
      every shuffle moves fixed-width keys, never text;
    - "appears in another doc" is min(doc_id) != max(doc_id) per gram —
      two ALGEBRAIC aggregates that partial-aggregate map-side, where
      countDistinct(doc_id) would carry per-gram doc sets through the
      exchange;
    - the gram table is as large as the corpus, so membership CANNOT
      broadcast (unlike decontaminate's probe set): the join is a
      shuffle join on gram_h, and the shared-gram side arrives at the
      join already hash-partitioned by its own groupBy — Catalyst reuses
      that distribution instead of exchanging it again;
    - self-repeats don't count: a gram occurring five times inside ONE doc
      has mn == mx and contributes zero to n_dup, exactly the
      cross-document semantics of the suffix-array method.

    64-bit key truncation can only merge two distinct grams (~n^2/2^65
    chance), identically in both engines; a merge can only raise a
    doc's dup count, never hide a duplicate.
    """
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    g = decon_doc_grams(docs)
    shared = g.groupBy("gram_h").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    dup = (F.col("mn") != F.col("mx")).cast("long")
    return (
        g.join(shared, "gram_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).alias("n_dup"),
        )
        .select(
            "doc_id", "n_grams", "n_dup",
            F.expr("n_dup * 1000000 DIV n_grams").alias("dup_ppm"),
        )
    )
