"""Multimodal binary-payload plumbing.

Images/audio/video at corpus scale are opaque ``binary`` columns with
typed metadata; the Spark-side contract (schema, partitioning, Arrow
batch shape, UDF signatures) is real and tested, while the actual codec
calls are a deterministic fake decoder (no codec library is a
dependency), so pipelines can be exercised end to end with real
plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onnxocr_ray_spark.functions import portable_md5
from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.rowmap import map_rows
from onnxocr_ray_spark.sources.tables import load_table, spread_scan

# --- payload metadata: pure Column exprs, oracle-checked ---

@register(
    "mm_payload_meta",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           lower(hex((substr(text, 1, 4))::BLOB)) AS magic,
           md5(text) AS payload_hash
    FROM documents
    """,
    doc="multimodal op: opaque binary payload metadata (size, magic bytes, content hash)",
)
def mm_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring(F.col("text"), 1, 4).cast("binary"))).alias("magic"),
        portable_md5(F.col("text")).alias("payload_hash"),
    )


# --- decode / feature-extract plumbing (per-row kernel, deterministic fake) ---

MM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.LongType())),  # ppm weights
        T.StructField("decoder", T.StringType()),
    ]
)


def _decode_image_fake(payload: bytes):
    """Deterministic stand-in: derives a fake (h, w, c) geometry and an
    8-bucket byte histogram from the payload bytes alone. The histogram is
    emitted as parts-per-million integers (floor(count*1e6/total + 0.5)) —
    integer features keep the engine/oracle comparison exact (no float
    formatting ambiguity) and the driver canonicalizer hashable."""
    import math

    n = len(payload)
    w = 16 + (n % 64)
    h = 16 + ((n // 64) % 64)
    hist = [0] * 8
    for by in payload[:4096]:
        hist[by >> 5] += 1
    total = max(sum(hist), 1)
    return h, w, 3, [int(math.floor(v * 1e6 / total + 0.5)) for v in hist]


def _feature_row(payload):
    """One payload -> its MM_FEATURE_SCHEMA values after ``doc_id``."""
    data = bytes(payload) if payload is not None else b""
    h, w, c, feat = _decode_image_fake(data)
    return [(len(data), w, h, c, feat, "fake")]


def mm_decode_features(pages_like: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload column -> typed feature rows, one per-row kernel
    call per payload (the multimodal decode/feature-extract plumbing)."""
    return map_rows(pages_like, [payload_col], lambda: _feature_row,
                    MM_FEATURE_SCHEMA, carry=["doc_id"])


# DuckDB reproduction of the fake decoder's byte histogram, bit-for-bit:
# hex() the payload, keep the HIGH NIBBLE of each byte (first char of each
# hex pair — regexp keeps char 1 of every 2), and count nibble chars per
# bucket (byte>>5 == high_nibble>>1, so hex digits 2k/2k+1 map to bucket k).
_HX = "upper(substr(hex(text::BLOB), 1, 8192))"
_NIB = f"regexp_replace({_HX}, '(.).', '\\1', 'g')"
_BUCKET_CHARS = [("0", "1"), ("2", "3"), ("4", "5"), ("6", "7"),
                 ("8", "9"), ("A", "B"), ("C", "D"), ("E", "F")]
_CNT_SQL = ", ".join(
    f"(len(hi) - len(replace(hi, '{a}', ''))) + (len(hi) - len(replace(hi, '{b}', ''))) AS c{k}"
    for k, (a, b) in enumerate(_BUCKET_CHARS)
)
_PPM_SQL = ", ".join(
    f"floor(c{k} * 1000000.0 / greatest(len_hi, 1) + 0.5)::BIGINT" for k in range(8)
)


@register(
    "mm_decode_features",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql=f"""
    WITH nib AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             {_NIB} AS hi
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, n_bytes, len(hi) AS len_hi, {_CNT_SQL} FROM nib
    )
    SELECT doc_id, n_bytes,
           16 + (n_bytes % 64) AS width,
           16 + ((n_bytes // 64) % 64) AS height,
           3::BIGINT AS channels,
           '[' || array_to_string([{_PPM_SQL}], ',') || ']' AS feature,
           'fake' AS decoder
    FROM cnt
    """,
    doc="multimodal op: decode + feature-extract plumbing over binary payloads (deterministic fake decoder, ppm byte-histogram feature)",
)
def mm_decode_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").cast("binary").alias("payload")
        )
    )
    out = mm_decode_features(docs)
    # registry-facing projection: JSON-serialize the feature array (the
    # driver canonicalizer sorts row values — nested lists are unhashable)
    return out.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.to_json("feature").alias("feature"),
        "decoder",
    )


# --- resize plumbing (image resize stub with real batch shape) ---

MM_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("dst_w", T.IntegerType()),
        T.StructField("dst_h", T.IntegerType()),
        T.StructField("ratio_w", T.DoubleType()),
        T.StructField("ratio_h", T.DoubleType()),
    ]
)


def mm_resize(pages_like: DataFrame, target: int = 960, payload_col: str = "payload") -> DataFrame:
    """Resize plumbing: the DetResizeForTest analog for opaque media
    (`onnxocr/operators.py:89-159`): limit the longer side to ``target``,
    round to multiples of 32, emit the shape_list [src_h, src_w, ratio_h,
    ratio_w]. Geometry comes from the fake decoder; the pixel
    resample itself is the codec step the fake decoder stands in for."""

    def resize_row(payload):
        h, w, _c, _f = _decode_image_fake(bytes(payload) if payload is not None else b"")
        ratio = min(1.0, float(target) / max(h, w, 1))
        dst_w = max(32, int(round(w * ratio / 32)) * 32)
        dst_h = max(32, int(round(h * ratio / 32)) * 32)
        return [(w, h, dst_w, dst_h, round(dst_w / max(w, 1), 6), round(dst_h / max(h, 1), 6))]

    return map_rows(pages_like, [payload_col], lambda: resize_row,
                    MM_RESIZE_SCHEMA, carry=["doc_id"])


@register(
    "mm_resize_meta",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    WITH geo AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             16 + (octet_length(encode(text)) % 64) AS w,
             16 + ((octet_length(encode(text)) // 64) % 64) AS h
      FROM documents
    ),
    dst AS (
      SELECT doc_id, w, h,
             greatest(32, round(w * least(1.0, 960.0 / greatest(h, w, 1)) / 32)::BIGINT * 32) AS dw,
             greatest(32, round(h * least(1.0, 960.0 / greatest(h, w, 1)) / 32)::BIGINT * 32) AS dh
      FROM geo
    )
    SELECT doc_id,
           w AS src_w, h AS src_h, dw AS dst_w, dh AS dst_h,
           floor(dw * 1000000.0 / greatest(w, 1) + 0.5)::BIGINT AS ratio_w_ppm,
           floor(dh * 1000000.0 / greatest(h, 1) + 0.5)::BIGINT AS ratio_h_ppm
    FROM dst
    """,
    doc="multimodal op: resize plumbing (DetResizeForTest analog: limit side, multiples of 32, shape_list ratios as ppm ints) over binary payloads",
)
def mm_resize_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.col("text").cast("binary").alias("payload")
        )
    )
    out = mm_resize(docs)
    # registry-facing projection: ratios re-derived from the integer
    # geometry as ppm (floor(dst*1e6/src + 0.5)) so engine and oracle
    # compute the identical IEEE expression — no float-rounding ambiguity
    return out.select(
        "doc_id",
        F.col("src_w").cast("long").alias("src_w"),
        F.col("src_h").cast("long").alias("src_h"),
        F.col("dst_w").cast("long").alias("dst_w"),
        F.col("dst_h").cast("long").alias("dst_h"),
        F.floor(
            F.col("dst_w") * F.lit(1000000.0) / F.greatest(F.col("src_w"), F.lit(1)) + 0.5
        ).cast("long").alias("ratio_w_ppm"),
        F.floor(
            F.col("dst_h") * F.lit(1000000.0) / F.greatest(F.col("src_h"), F.lit(1)) + 0.5
        ).cast("long").alias("ratio_h_ppm"),
    )


# --- frame sampling plumbing (video analog) ---

@register(
    "mm_frame_sample",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    SELECT doc_id, frame_idx,
           md5(text || ':' || frame_idx) AS frame_key
    FROM documents,
         (SELECT unnest(range(0, 5)) AS frame_idx)
    WHERE cast(floor(octet_length(encode(text)) / 64) AS INT) > frame_idx
    """,
    doc="multimodal op: deterministic frame sampling over opaque media (video analog: one row per sampled frame, count proportional to payload size)",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_frames = F.least(
        F.floor(F.length(F.col("text").cast("binary")) / 64).cast("int"), F.lit(5)
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.when(
                    n_frames > 0, F.sequence(F.lit(0), n_frames - 1)
                ).otherwise(F.array().cast("array<int>"))
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.md5(
                F.concat(F.col("text"), F.lit(":"), F.col("frame_idx").cast("string")).cast("binary")
            ).alias("frame_key"),
        )
    )
