"""The three-stage extraction pipeline as Spark DataFrame transformations.

Mirrors the reference's stage boundaries (`app-service.py` endpoints
/detection /classification /recognition /inference decompose the pipeline
exactly here; `onnx_paddleocr.py:72-114` composes them) — but the
architecture is Spark-first, not a translation:

- every stage that reads html crosses into Python ONCE, through
  ``_map_html``: one ``mapInArrow`` over the pages scan, pruned by
  Catalyst to (url, html), that decodes each payload straight from the
  Arrow buffer and runs one per-document function on it.
- **detect** is ``_map_html`` with the detect kernel; ``n_regions`` is
  ``size(spans)``, computed in the JVM. Batch packing for the recognize
  stage (the reference's width-argsort + chunks-of-6 with shared padded
  width, `predict_rec.py:86-107`) is computed HERE, per document, and
  recorded per span — so every later stage is embarrassingly
  span-parallel while remaining byte-identical to the serial oracle no
  matter how spans are re-partitioned (SURVEY.md §4.1.1 determinism
  coupling, solved structurally).
- the production ``extract()`` routes heavy-tail documents away from the
  fused fast path (``extract_fused``: ALL three stages in one
  ``_map_html`` pass — zero shuffles, one Arrow crossing) into detect ->
  span-explode -> recognize -> regroup so one giant page cannot straggle
  a task. Routing is by the ``html_size`` column (derived as
  ``octet_length(html)`` when the input lacks it): one probe job counts
  stragglers, a clean corpus runs the pure fused plan, and otherwise
  size-filtered legs split small from big documents. The
  stage-separated forms (``detect``, ``classify_recognize_exploded``)
  remain public — they are the /detection and /classification
  /recognition endpoint analogs. All paths call the same kernels with
  the same inputs; parity tests assert byte-identity between them.
- **assemble** is pure JVM-side Catalyst expressions (filter / transform /
  array_join / sha2) — no Python in the final hot path.

At 100 TB: the only required shuffles are the straggler explode/regroup,
which touches just the heavy tail (a few % of documents). Everything else
is scan -> narrow mapInArrow -> project, which scales linearly with
executors.
"""

from __future__ import annotations

from typing import Callable, Iterator, List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from onnxocr_ray_spark.config import DEFAULT_CONFIG, ExtractConfig
from onnxocr_ray_spark.kernels.classify import classify_angle, maybe_rotate
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
    ]
)

REC_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("spans", T.ArrayType(REC_SPAN_T)),
    ]
)


def _detect_doc_src(src: Optional[str], cfg: ExtractConfig) -> List[dict]:
    """One document's detect output: sorted regions + precomputed packing.
    ``src`` is the html already decoded from the Arrow buffer (None for a
    NULL, empty or undecodable payload)."""
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


# --- Arrow hot-path plumbing (mapInArrow) ---------------------------------
#
# The html-reading stages are the 100-TB hot path, and at high
# parallelism the binding resource is MEMORY BANDWIDTH, not CPU (the
# pinned scaling series shows the per-core rate at 8 cores capped well
# below the bare-kernel rate while 2 cores run at the kernel floor —
# BENCH/BASELINE.md §2). So each payload moves once on the Python side:
# html is decoded str(memoryview, 'utf-8') DIRECTLY from the Arrow data
# buffer slice (no per-row ``bytes`` object, no pandas block), urls are
# re-emitted as zero-copy Arrow slices, and only the span output is
# newly allocated.


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
    """Dynamic batch coalescing (SURVEY.md §4.3.2): contiguous (lo, hi)
    index ranges over payload sizes, each closed once its bytes reach
    ``budget``, so one huge document doesn't pin a whole batch's worth
    of output in memory (sizes come free from the Arrow offsets)."""
    n = len(sizes)
    acc = 0
    start = 0
    for i in range(n):
        acc += int(sizes[i])
        if acc >= budget:
            yield start, i + 1
            start = i + 1
            acc = 0
    if start < n:
        yield start, n


def _map_html(pages: DataFrame, cfg: ExtractConfig,
              per_doc: Callable[[Optional[str], ExtractConfig], list],
              schema: T.StructType) -> DataFrame:
    """pages(url, html, ...) -> (url, spans = per_doc(decoded html, cfg)).

    The one Arrow crossing of every html-reading stage: a narrow
    ``mapInArrow`` over the scan, which Catalyst column-prunes to exactly
    (url, html). Each Arrow batch is cut at ``cfg.coalesce_target_bytes``
    of payload and yields one output batch per cut.
    """
    out_schema = to_arrow_schema(schema)
    spans_t = out_schema.field("spans").type

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            url = rb.column("url")
            offs, mv, nulls = _binary_view(rb.column("html"))
            for lo, hi in _chunk_bounds(np.diff(offs), cfg.coalesce_target_bytes):
                spans = [
                    per_doc(None if nulls is not None and nulls[i]
                            else _decode_mv(mv, offs[i], offs[i + 1]), cfg)
                    for i in range(lo, hi)
                ]
                yield pa.RecordBatch.from_arrays(
                    [url.slice(lo, hi - lo), pa.array(spans, type=spans_t)],
                    schema=out_schema,
                )

    return pages.select("url", "html").mapInArrow(gen, schema=schema)


def detect(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) -> (url, spans, n_regions).

    One ``_map_html`` pass (narrow, no shuffle); ``n_regions`` is
    ``size(spans)``, computed in the JVM.
    """
    return _map_html(pages, cfg, _detect_doc_src, DETECT_SCHEMA).withColumn(
        "n_regions", F.size("spans")
    )


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
    """All three stages fused into ONE ``_map_html`` pass per document.

    The reference runs its stages back-to-back in one process for the
    same reason (`onnx_paddleocr.py:72-114`; SURVEY.md §4.2 notes stage
    fusion beats inter-actor hops for batch workloads): the per-span
    kernels are microseconds, so separate Python stages would pay 3x
    Arrow serialization of the nested span structs for no parallelism
    gain. Output schema = (url, spans: array<REC_SPAN_T>).
    """
    return _map_html(
        pages, cfg, lambda src, c: _rec_doc(_detect_doc_src(src, c), c),
        REC_DOC_SCHEMA,
    )


SIZE_COL = "html_size"


def extract(pages: DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG,
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

    The probe reads ``pages`` as given; an input with fewer partitions
    than ``defaultParallelism`` is then spread by url into that many for
    the extraction itself. Building the plan runs only the probe and
    writes no files. All legs run identical kernels with identical
    inputs; tests prove byte-identity whichever leg a document takes.
    """
    spread = pages
    parallelism = pages.sparkSession.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < parallelism:
        # under-partitioned input (single parquet file, small table):
        # without this the whole narrow detect chain runs on one core.
        # The url hash is effectively a salt because input files may be
        # ordered by crawl host (skewed localities)
        spread = pages.repartition(parallelism, "url")
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
    det_big = _map_html(big, cfg, _detect_doc_src, DETECT_SCHEMA)
    rec_big = classify_recognize_exploded(det_big, cfg)
    return assemble(extract_fused(small, cfg).unionByName(rec_big), cfg)
