"""The three-stage extraction pipeline as Spark DataFrame transformations.

Mirrors the reference's stage boundaries (`app-service.py` endpoints
/detection /classification /recognition /inference decompose the pipeline
exactly here; `onnx_paddleocr.py:72-114` composes them) — but the
architecture is Spark-first, not a translation:

- **detect** is one ``mapInPandas`` over the pages scan. Catalyst prunes
  the scan to (url, html); AQE sizes the partitions. Batch packing for the
  recognize stage (the reference's width-argsort + chunks-of-6 with shared
  padded width, `predict_rec.py:86-107`) is computed HERE, per document,
  and recorded per span — so every later stage is embarrassingly
  span-parallel while remaining byte-identical to the serial oracle no
  matter how spans are re-partitioned (SURVEY.md §4.1.1 determinism
  coupling, solved structurally).
- the production ``extract()`` routes heavy-tail documents away from the
  fused fast path (``extract_fused``: ALL three stages in one
  mapInPandas — zero shuffles, one Arrow crossing) into detect ->
  span-explode -> recognize -> regroup so one giant page cannot straggle
  a task. Routing is by the ``html_size`` column (derived as
  ``octet_length(html)`` when the input lacks it): one probe job counts
  stragglers, a clean corpus runs the pure fused plan, and otherwise
  size-filtered legs split small from big documents. The
  stage-separated forms (``detect``, ``classify_recognize_grouped``,
  ``classify_recognize_exploded``) remain public — they are the
  /detection /classification /recognition endpoint analogs. All paths
  call the same kernels with the same inputs; parity tests assert
  byte-identity between them.
- **assemble** is pure JVM-side Catalyst expressions (filter / transform /
  array_join / sha2) — no Python in the final hot path.

At 100 TB: the only required shuffles are the straggler explode/regroup,
which touches just the heavy tail (a few % of documents). Everything else
is scan -> narrow mapInPandas -> project, which scales linearly with
executors.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onnxocr_ray_spark.config import DEFAULT_CONFIG, ExtractConfig
from onnxocr_ray_spark.kernels.classify import classify_angle, maybe_rotate
from onnxocr_ray_spark.kernels.html import decode_html
from onnxocr_ray_spark.kernels.pipeline import _ratio, detect_sorted_src
from onnxocr_ray_spark.kernels.recognize import pack_batches, recognize_span

BOX_T = T.ArrayType(T.ArrayType(T.DoubleType()))

DET_SPAN_T = T.StructType(
    [
        T.StructField("box", BOX_T),
        T.StructField("det_score", T.DoubleType()),
        T.StructField("raw", T.StringType()),
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("rec_width", T.IntegerType()),
    ]
)

REC_SPAN_T = T.StructType(
    [
        T.StructField("box", BOX_T),
        T.StructField("det_score", T.DoubleType()),
        T.StructField("angle", T.StringType()),
        T.StructField("cls_conf", T.DoubleType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("batch_id", T.IntegerType()),
        T.StructField("rec_width", T.IntegerType()),
    ]
)

DETECT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("spans", T.ArrayType(DET_SPAN_T)),
        T.StructField("n_regions", T.IntegerType()),
    ]
)

REC_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("spans", T.ArrayType(REC_SPAN_T)),
    ]
)


def _detect_doc(html: Optional[bytes], cfg: ExtractConfig) -> List[dict]:
    """One document's detect output: sorted regions + precomputed packing."""
    return _detect_doc_src(decode_html(html), cfg)


def _detect_doc_src(src: Optional[str], cfg: ExtractConfig) -> List[dict]:
    """``_detect_doc`` over an already-decoded source string — the Arrow
    hot path decodes straight from the Arrow buffer (one str, no
    intermediate per-row ``bytes``) and enters here."""
    regions = detect_sorted_src(src, cfg)
    if not regions:
        return []
    batch_id, rec_width, _ = pack_batches(
        [_ratio(r.box) for r in regions],
        cfg.rec_batch_num, cfg.rec_image_height, cfg.rec_seed_ratio,
    )
    return [
        {
            "box": [list(p) for p in r.box],
            "det_score": r.det_score,
            "raw": r.raw,
            "batch_id": batch_id[i],
            "rec_width": rec_width[i],
        }
        for i, r in enumerate(regions)
    ]


def _chunk_frames(pdf: pd.DataFrame, sizes: pd.Series, budget: int) -> Iterator[pd.DataFrame]:
    """Dynamic batch coalescing (SURVEY.md §4.3.2): split an Arrow batch at
    cumulative payload-size boundaries so one huge document doesn't pin a
    whole batch's worth of output in memory."""
    if len(pdf) == 0:
        return
    acc = 0
    start = 0
    for i, sz in enumerate(sizes):
        acc += int(sz) if sz is not None else 0
        if acc >= budget and i + 1 > start:
            yield pdf.iloc[start:i + 1]
            start = i + 1
            acc = 0
    if start < len(pdf):
        yield pdf.iloc[start:]


# --- Arrow hot-path plumbing (mapInArrow) ---------------------------------
#
# The fused kernel is the 100-TB hot path, and at high
# parallelism the binding resource is MEMORY BANDWIDTH, not CPU (the
# pinned scaling series shows the per-core rate at 8 cores capped well
# below the bare-kernel rate while 2 cores run at the kernel floor —
# BENCH/BASELINE.md §2). mapInPandas moved every html payload THREE
# times on the Python side: Arrow buffer -> per-row ``bytes`` object
# (arrow->pandas), ``bytes`` -> decoded ``str`` (decode_html), plus the
# pandas block assembly around it. mapInArrow removes the per-row bytes
# materialization entirely: html is decoded str(memoryview, 'utf-8')
# DIRECTLY from the Arrow data buffer slice, urls are re-emitted as
# zero-copy Arrow slices, and only the span output is newly allocated.


def _binary_view(arr: "pa.Array"):
    """(int64 offsets [len+1], memoryview of the data buffer, null mask or
    None) for a (large_)binary/string Arrow array, honoring the array's
    slice offset — zero-copy except the offsets dtype widening."""
    big = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64 if big else np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64, copy=False)
    mv = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    nulls = (
        arr.is_null().to_numpy(zero_copy_only=False) if arr.null_count else None
    )
    return offs, mv, nulls


def _decode_mv(mv: memoryview, o0: int, o1: int) -> Optional[str]:
    """Strict utf-8 decode of one html payload straight from the Arrow
    buffer; None for empty/undecodable (decode_html semantics,
    kernels/html.py — pinned equal by tests/test_extract_arrow.py)."""
    if o1 <= o0:
        return None
    try:
        return str(mv[o0:o1], "utf-8")
    except UnicodeDecodeError:
        return None


def _chunk_bounds(sizes: np.ndarray, budget: int) -> Iterator[tuple]:
    """_chunk_frames boundaries as (lo, hi) index ranges over payload
    sizes (identical cut points; sizes come free from the Arrow offsets)."""
    n = len(sizes)
    acc = 0
    start = 0
    for i in range(n):
        acc += int(sizes[i])
        if acc >= budget and i + 1 > start:
            yield start, i + 1
            start = i + 1
            acc = 0
    if start < n:
        yield start, n


def _arrow_out_schema(spark_schema: T.StructType) -> "pa.Schema":
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(spark_schema)


def _arrow_col(rb: "pa.RecordBatch", name: str) -> "pa.Array":
    return rb.column(rb.schema.get_field_index(name))


def detect(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) -> (url, spans, n_regions).

    Catalyst column-prunes the scan to exactly (url, html); the stage is a
    narrow transformation (no shuffle).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sizes = pdf["html"].map(lambda h: len(h) if h is not None else 0)
            for chunk in _chunk_frames(pdf, sizes, cfg.coalesce_target_bytes):
                spans = [
                    _detect_doc(bytes(h) if h is not None else None, cfg)
                    for h in chunk["html"]
                ]
                yield pd.DataFrame(
                    {
                        "url": chunk["url"].values,
                        "spans": spans,
                        "n_regions": [len(s) for s in spans],
                    }
                )

    return pages.select("url", "html").mapInPandas(gen, schema=DETECT_SCHEMA)


def _process_span(raw: str, rec_width: int, cfg: ExtractConfig):
    """classify -> rotate -> recognize for one span (stage order is
    load-bearing: predict_cls.py:82-83 feeds predict_rec, SURVEY §4.1.3)."""
    if cfg.use_angle_cls:
        label, conf = classify_angle(raw)
        rotated = maybe_rotate(raw, label, conf, cfg.cls_thresh)
    else:
        label, conf, rotated = "0", 1.0, raw
    text, score = recognize_span(rotated, rec_width)
    return label, conf, text, score


def _process_doc_spans(raws: List[str], rec_widths: List[int], cfg: ExtractConfig):
    """classify -> rotate -> recognize for one batch of spans.

    Default: the deterministic stand-in kernels, span by span. When the
    config carries model providers (models.provider_mode), the batch
    instead flows through the real-model plumbing — render_crop
    rasterizes each span (the crop analog of `onnx_paddleocr.py:84-100`),
    OrtClassifier batches/chunks/classifies, the rotation is applied in
    span space and re-rendered (the synthetic-raster equivalent of
    np.rot90 on a pixel crop, `predict_cls.py:82-83`), and OrtRecognizer
    runs the batched CTC decode. Providers are built lazily per worker
    (models.stage_providers); the rasterizer is imported lazily so the
    stand-in hot path pays nothing.
    """
    from onnxocr_ray_spark.models import provider_mode, stage_providers

    if not provider_mode(cfg):
        return [
            _process_span(r, int(w), cfg) for r, w in zip(raws, rec_widths)
        ]
    from onnxocr_ray_spark.rasterize import cls_capacity_ok, render_crop

    # Spans whose payload exceeds the FIXED classifier crop capacity
    # (~9 KB; plausible for minified HTML blocks) cannot be rendered
    # losslessly for the cls model — route them through the stand-in
    # kernels instead of raising inside the batch and failing the whole
    # task (ADVICE r4). Capacity only binds when the cls stage renders.
    n = len(raws)
    widths = [int(w) for w in rec_widths]
    out: List[Optional[tuple]] = [None] * n
    if cfg.use_angle_cls:
        prov_idx = [i for i in range(n) if cls_capacity_ok(raws[i])]
        for i in set(range(n)) - set(prov_idx):
            out[i] = _process_span(raws[i], widths[i], cfg)
    else:
        prov_idx = list(range(n))
    if prov_idx:
        praws = [raws[i] for i in prov_idx]
        pwid = [widths[i] for i in prov_idx]
        clf, rec = stage_providers(cfg)
        if cfg.use_angle_cls:
            cls_out = clf(
                [render_crop(r, w, "cls") for r, w in zip(praws, pwid)]
            )
        else:
            cls_out = [("0", 1.0)] * len(praws)
        rotated = [
            maybe_rotate(r, label, conf, cfg.cls_thresh)
            for r, (label, conf) in zip(praws, cls_out)
        ]
        rec_out = rec(
            [render_crop(r, w, "rec") for r, w in zip(rotated, pwid)],
            rec_widths=pwid,
        )
        for i, (label, conf), (text, score) in zip(prov_idx, cls_out, rec_out):
            out[i] = (label, conf, text, score)
    return out


def _rec_doc(spans, cfg: ExtractConfig) -> List[dict]:
    """One document's detected spans -> recognized span dicts (the shared
    tail of every classify/recognize path; batches the whole document
    through _process_doc_spans so provider mode sees per-document batches,
    matching the reference's per-image predict loops)."""
    results = _process_doc_spans(
        [s["raw"] for s in spans], [int(s["rec_width"]) for s in spans], cfg
    )
    return [
        {
            "box": s["box"],
            "det_score": s["det_score"],
            "angle": label,
            "cls_conf": conf,
            "text": text,
            "score": score,
            "batch_id": s["batch_id"],
            "rec_width": s["rec_width"],
        }
        for s, (label, conf, text, score) in zip(spans, results)
    ]


def classify_recognize_grouped(detected: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Fast path: spans stay an array column; narrow mapInPandas, 0 shuffles."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_spans = []
            for spans in pdf["spans"]:
                doc = _rec_doc(spans, cfg)
                out_spans.append(doc)
            yield pd.DataFrame({"url": pdf["url"].values, "spans": out_spans})

    return detected.mapInPandas(gen, schema=REC_DOC_SCHEMA)


_SPAN_UDF_T = T.StructType(
    [
        T.StructField("angle", T.StringType()),
        T.StructField("cls_conf", T.DoubleType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def classify_recognize_exploded(detected: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Straggler path (SURVEY.md §4.3.3): explode spans of heavy documents,
    classify+recognize at span granularity across the cluster, regroup.

    Byte-identity is preserved because the batch packing (batch_id,
    rec_width) was fixed at detect time over the whole document — span
    placement can no longer change what any kernel computes.
    """
    # posexplode_outer keeps zero-region documents (empty/undecodable
    # payloads) as one row with a NULL span, so ``detected`` is consumed
    # by ONE branch and its kernel runs once per document
    spans = detected.select("url", F.posexplode_outer("spans").alias("ord", "s"))

    @F.pandas_udf(_SPAN_UDF_T)
    def span_udf(raw: pd.Series, rec_width: pd.Series) -> pd.DataFrame:
        # whole Arrow batch through one provider/stand-in call — provider
        # mode chunks internally, so straggler spans batch across docs;
        # the NULL span of a zero-region document is skipped
        real = raw.notna()
        results = iter(
            _process_doc_spans(list(raw[real]), [int(w) for w in rec_width[real]], cfg)
        )
        rows = [next(results) if r else (None,) * 4 for r in real]
        return pd.DataFrame(rows, columns=["angle", "cls_conf", "text", "score"])

    done = spans.withColumn("r", span_udf(F.col("s.raw"), F.col("s.rec_width")))
    span_struct = F.struct(
        F.col("s.box").alias("box"),
        F.col("s.det_score").alias("det_score"),
        F.col("r.angle").alias("angle"),
        F.col("r.cls_conf").alias("cls_conf"),
        F.col("r.text").alias("text"),
        F.col("r.score").alias("score"),
        F.col("s.batch_id").alias("batch_id"),
        F.col("s.rec_width").alias("rec_width"),
    )
    # regroup: collect spans with their reading-order index, then restore
    # order JVM-side (sort_array on (ord, span) structs sorts by ord first);
    # collect_list drops the NULL of a zero-region document, leaving []
    ordered = F.when(F.col("ord").isNotNull(), F.struct(F.col("ord"), span_struct.alias("s")))
    return (
        done.select("url", ordered.alias("os"))
        .groupBy("url")
        .agg(F.sort_array(F.collect_list("os")).alias("oss"))
        .select("url", F.expr("transform(oss, x -> x.s)").alias("spans"))
    )


def assemble(recognized: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """drop_score filter + reading-order zip + text join + checksum.

    Pure Catalyst expressions (whole-stage codegen; no Python). The span
    index is re-numbered over KEPT spans, matching the oracle's
    ``assemble`` (kernels/pipeline.py) and the reference's zip+filter
    (`onnx_paddleocr.py:107-112`).
    """
    with_kept = recognized.withColumn(
        "_kept", F.filter(F.col("spans"), lambda s: s["score"] >= F.lit(cfg.drop_score))
    )
    final_spans = F.transform(
        F.col("_kept"),
        lambda s, i: F.struct(
            i.cast("int").alias("span_idx"),
            s["box"].alias("box"),
            s["det_score"].alias("det_score"),
            s["angle"].alias("angle"),
            s["cls_conf"].alias("cls_conf"),
            s["text"].alias("text"),
            s["score"].alias("score"),
            s["batch_id"].alias("batch_id"),
            s["rec_width"].alias("rec_width"),
        ),
    )
    extracted = F.array_join(F.transform(F.col("_kept"), lambda s: s["text"]), "\n")
    return with_kept.select(
        "url",
        final_spans.alias("spans"),
        extracted.alias("extracted_text"),
        F.size("_kept").cast("int").alias("n_spans"),
        F.sha2(extracted, 256).alias("checksum"),
    )


def extract_fused(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """All three stages fused into ONE mapInPandas pass per document.

    The reference runs its stages back-to-back in one process for the
    same reason (`onnx_paddleocr.py:72-114`; SURVEY.md §4.2 notes stage
    fusion beats inter-actor hops for batch workloads): the per-span
    kernels are microseconds, so separate Python stages would pay 3x
    Arrow serialization of the nested span structs for no parallelism
    gain. Output schema = (url, spans: array<REC_SPAN_T>).

    mapInArrow, not mapInPandas: html payloads decode straight from the
    Arrow buffer (no per-row bytes objects, no pandas block assembly) and
    urls pass through as zero-copy slices — see the Arrow hot-path note
    above _binary_view. At high parallelism this stage is memory-bandwidth
    bound, so bytes-not-moved is wall-clock.
    """
    out_schema = _arrow_out_schema(REC_DOC_SCHEMA)
    spans_t = out_schema.field("spans").type

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            url = _arrow_col(rb, "url")
            offs, mv, nulls = _binary_view(_arrow_col(rb, "html"))
            sizes = np.diff(offs)
            for lo, hi in _chunk_bounds(sizes, cfg.coalesce_target_bytes):
                out_spans = []
                for i in range(lo, hi):
                    if nulls is not None and nulls[i]:
                        src = None
                    else:
                        src = _decode_mv(mv, offs[i], offs[i + 1])
                    out_spans.append(_rec_doc(_detect_doc_src(src, cfg), cfg))
                yield pa.RecordBatch.from_arrays(
                    [
                        url.slice(lo, hi - lo),
                        pa.array(out_spans, type=spans_t),
                    ],
                    schema=out_schema,
                )

    return pages.select("url", "html").mapInArrow(gen, schema=REC_DOC_SCHEMA)


SIZE_COL = "html_size"


def extract(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
            doc_partitions: Optional[int] = None,
            straggler_html_bytes: int = 1 << 20) -> DataFrame:
    """Full pipeline with straggler routing: a metadata-scale probe plus
    size-filtered branches.

    pages(url, html, ...) -> (url, spans, extracted_text, n_spans, checksum)

    The routing key is the ``html_size`` column: every WARC record
    carries its length, the synthesized ingest (``sources/pages.py``)
    materializes it, and an Iceberg ingest keeps it as a stats column.
    An input without it (``read_warc``, ``read_html_dir``, CLI parquet)
    derives it as ``octet_length(html)``. One probe job counts
    stragglers and NULL stats together; on a sized table it reads only
    that 8-byte column. A clean corpus slice then runs the pure fused
    pass: no cache, no extra stages, one scan of html. Otherwise two
    filtered legs run: ``extract_fused`` for small docs, and
    ``detect`` -> ``classify_recognize_exploded`` for big ones, whose
    spans explode across the cluster so one giant page cannot straggle a
    task. The branches carry pushed ``html_size`` filters, so only row
    groups mixing both classes are read twice. A row whose stat is NULL
    is routed by ``octet_length(html)`` inside the same two filters, so
    a huge doc with a missing stat keeps straggler protection; a NULL
    html takes the small leg.

    The probe reads ``pages`` as given; an under-partitioned input is
    then spread by url for the extraction itself (``doc_partitions``,
    default ``defaultParallelism``). Building the plan runs only the
    probe and writes no files. All legs run identical kernels with
    identical inputs; tests prove byte-identity whichever leg a
    document takes.
    """
    spread = pages
    if doc_partitions is None and pages.rdd.getNumPartitions() < (
        pages.sparkSession.sparkContext.defaultParallelism
    ):
        # under-partitioned input (single parquet file, small table):
        # without this the whole narrow detect chain runs on one core
        doc_partitions = pages.sparkSession.sparkContext.defaultParallelism
    if doc_partitions is not None:
        # uniform doc distribution; url hash is effectively a salt because
        # input files may be ordered by crawl host (skewed localities)
        spread = pages.repartition(doc_partitions, "url")
    return _extract_spread(pages, spread, cfg, straggler_html_bytes)


def _extract_spread(probed: DataFrame, pages: DataFrame, cfg: ExtractConfig,
                    straggler_html_bytes: int = 1 << 20) -> DataFrame:
    """``extract`` of ``pages``, an already-spread form of ``probed``.

    The probe runs over ``probed`` so that it never re-runs the shuffle
    that spread ``pages``."""
    if SIZE_COL not in probed.columns:
        probed = probed.withColumn(SIZE_COL, F.octet_length("html"))
        pages = pages.withColumn(SIZE_COL, F.octet_length("html"))
    size = F.col(SIZE_COL)
    # ONE probe job for both facts (straggler present? size stat ever
    # NULL?); on a sized table it scans only the 8-byte size column
    stats = probed.select(
        F.sum((size > straggler_html_bytes).cast("long")).alias("n_big"),
        F.sum(size.isNull().cast("long")).alias("n_null"),
    ).first()
    if not stats["n_big"] and not stats["n_null"]:
        # clean corpus slice: the plan IS the fused zero-shuffle pass
        return assemble(extract_fused(pages.select("url", "html"), cfg), cfg)
    # the first conjunct of each filter is pushed to the scan and prunes
    # row groups by their html_size stats; the second routes a NULL stat
    # by the payload's own byte size
    known = size.isNotNull()
    own_big = F.coalesce(F.octet_length("html") > straggler_html_bytes, F.lit(False))
    small = pages.filter(
        ((size <= straggler_html_bytes) | ~known) & (known | ~own_big)
    ).select("url", "html")
    # stragglers are few by definition: a handful of partitions spares the
    # chained Python stages a worker round-trip per near-empty partition
    parallelism = pages.sparkSession.sparkContext.defaultParallelism
    big = (
        pages.filter(((size > straggler_html_bytes) | ~known) & (known | own_big))
        .select("url", "html")
        .repartition(max(4, parallelism // 4), "url")
    )
    rec_big = classify_recognize_exploded(detect(big, cfg).drop("n_regions"), cfg)
    return assemble(extract_fused(small, cfg).unionByName(rec_big), cfg)
