"""Deterministic Common-Crawl-style pages synthesizer.

Builds the input table of BASELINE.json's ``input_hint`` —
``(url string, warc_ts timestamp, html binary, text string, lang string)``
— from the driver-generated ``documents`` table, entirely inside Spark
(a per-row kernel behind ``rowmap.map_rows``; no driver-side
materialization), deterministic per ``doc_id`` and therefore
independent of partitioning.

The synthesized HTML wraps each document's text in realistic boilerplate
(nav/ads/footer, script/style noise) and plants the edge rows FIXTURES.md
§F1 calls for: empty and undecodable payloads, tiny and huge (heavy-tail)
documents, 180-degree-flipped regions, low-confidence regions,
zero-width (img-only) candidates, entity-heavy text, and same-band
x-inverted blocks that exercise the bounded bubble sort.
"""

from __future__ import annotations

import os
import random
import textwrap
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onnxocr_ray_spark.rowmap import map_rows
from onnxocr_ray_spark.sources.tables import load_table

SEED = 42
SYNTH_VERSION = 3  # bump when synth_page output changes: keys the cache
_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)

_NAV_WORDS = ["Home", "About", "Products", "Contact", "Blog", "Careers", "Login", "Search"]
_AD_LINES = [
    "Buy now and save big on everything today",
    "Limited offer click here for amazing deals",
    "Subscribe to our newsletter for weekly coupons",
]


def _wrap(paragraph: str, width: int = 80) -> str:
    return "\n".join(textwrap.wrap(paragraph, width=width)) or paragraph


def _split_paragraphs(text: str, rng: random.Random) -> list:
    """Deterministically chunk the flat document text into paragraphs."""
    words = text.split()
    if not words:
        return []
    paras = []
    i = 0
    while i < len(words):
        take = rng.randint(12, 40)
        paras.append(" ".join(words[i:i + take]))
        i += take
    return paras


def synth_page(doc_id: int, text: str, lang: str) -> bytes:
    """One deterministic HTML payload. Pure function of its arguments."""
    bucket = doc_id % 97
    if bucket == 0:
        return b""                              # empty payload -> no regions
    if bucket == 1:
        return b"\xff\xfe\xfa invalid \x80\x81"  # invalid UTF-8 -> undecodable
    rng = random.Random(doc_id * 1_000_003 + SEED)
    paras = _split_paragraphs(text or "", rng)
    if bucket == 2:
        paras = paras[:1]
        if paras:
            paras[0] = " ".join(paras[0].split()[:3])   # tiny document
    elif bucket == 3:
        paras = (paras * 40)[:400]                       # heavy-tail straggler

    lines = [
        "<!DOCTYPE html>",
        "<html>",
        f"<head><title>Doc {doc_id}</title>",
        "<style>body { margin: 0; } .ad { color: red; }</style>",
        "<script>var tracker = 'not-content'; function f(){return 1;}</script>",
        "</head>",
        "<body>",
    ]
    # boilerplate: link-dense nav (content density ~0 -> stripped by detect)
    nav = " ".join(
        f'<a href="/{w.lower()}">{w}</a>' for w in rng.sample(_NAV_WORDS, 5)
    )
    lines.append(f"<nav>{nav}</nav>")
    lines.append(f'<div class="ad"><a href="/promo">{rng.choice(_AD_LINES)}</a></div>')
    lines.append("<main>")
    lines.append(f"<h1>Document {doc_id} {lang}</h1>")

    for pi, para in enumerate(paras):
        body = para
        if bucket == 4 and pi == 0:
            body = body[::-1]                    # planted 180-degree region
        lines.append("<p>")
        lines.append(_wrap(body))
        lines.append("</p>")
        if pi == 1 and bucket == 7:
            lines.append("<p>Q&amp;A &lt;tags&gt; &quot;quoted&quot; &#8212; caf&eacute;&nbsp;style</p>")
    if bucket == 5:
        # low-confidence symbol region: survives detect, fails drop_score
        lines.append("<p>" + " ".join(["#$%^&*!" for _ in range(6)]) + "</p>")
    if bucket == 6:
        # zero-width candidate: tags but no visible text -> min-size filter
        lines.append('<p><img src="/a.png"><img src="/b.png"></p>')
    if bucket == 9:
        # RTL bucket: an Arabic-dominant paragraph (deterministic token
        # sequence) exercising the CTC bidi-reassembly branch
        words = ["مرحبا", "بالعالم", "هذا", "نص", "عربي", "للاختبار", "مع", "أرقام", "123"]
        seq = [words[(doc_id + i) % len(words)] for i in range(14)]
        lines.append("<p>" + " ".join(seq) + "</p>")
    if bucket == 8:
        # same-row cells, narrow-left + wide-right: the wide right cell gets
        # a larger unclip offset, so its y0 is (sub-band) smaller and the
        # initial (y0, x0) sort puts it FIRST; the bounded bubble pass must
        # swap them back into left-to-right reading order
        # (onnx_paddleocr.py:25-32 semantics).
        lines.append(
            "<table><tr><td>ab cd</td>"
            "<td>much longer right cell content that widens the box</td>"
            "</tr></table>"
        )

    lines.append("</main>")
    lines.append('<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>')
    lines.append("</body></html>")
    return "\n".join(lines).encode("utf-8")


def page_url(doc_id: int, lang: str) -> str:
    rng = random.Random(doc_id * 7_919 + SEED)
    slug = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(8))
    return f"https://example.org/{lang}/{slug}/{doc_id}"


def page_ts(doc_id: int) -> datetime:
    return _EPOCH + timedelta(seconds=(doc_id * 9_973) % (30 * 86_400))


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        # ingest-derived payload size (every WARC record carries its
        # length): lets extract() route stragglers from a metadata-scale
        # probe instead of reading the html column. The north-rule input
        # shape is the first five columns; this is the standard auxiliary
        # stat an Iceberg ingest materializes alongside.
        T.StructField("html_size", T.LongType(), True),
    ]
)


def pages_from_documents(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """documents parquet -> pages DataFrame, synthesized executor-side.

    Uses ``rowmap.map_rows`` so the (potentially large) html payloads
    are produced inside executors, Arrow batch by Arrow batch — the
    driver never holds the table. Deterministic per (doc_id, copy).

    ``copies > 1`` fans each document out into ``copies`` distinct
    deterministic page variants (different synthetic doc ids, hence
    different urls/boilerplate/edge buckets) — used to scale the corpus
    for throughput/scaling benchmarks without external data.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return pages_from_docs_df(docs, copies=copies)


def pages_from_docs_df(docs: DataFrame, copies: int = 1) -> DataFrame:
    """Synthesize pages from any ``(doc_id, text, lang)`` DataFrame —
    the executor-side body of :func:`pages_from_documents`, also used by
    fixture queries that carry their docs as literals."""
    spark = docs.sparkSession
    # the driver-generated parquet is a single file -> one input partition;
    # spread the synthesis across the cluster (cheap shuffle of small rows)
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id")

    def page_rows(doc_id, text, lang):
        text = text if isinstance(text, str) else ""
        for c in range(copies):
            i = doc_id + c * 10_000_019
            html = synth_page(i, text, lang)
            yield page_url(i, lang), page_ts(i), html, len(html)

    return map_rows(docs, ["doc_id", "text", "lang"], lambda: page_rows,
                    PAGES_SCHEMA, carry=["text", "lang"])


def pages_table(
    spark: SparkSession, sf_dir: str, cache_root: str = None, copies: int = 1
) -> DataFrame:
    """Materialized pages table (the north-rule input shape: an
    Iceberg/parquet table of Common-Crawl-style pages).

    Synthesizes once per (sf_dir) into a local parquet cache and returns a
    scan of it — so downstream pipelines read a real columnar table with
    column pruning and cheap re-scans, exactly like production. The cache
    is deterministic (seeded synth), so rebuilding it yields identical
    bytes.
    """
    import hashlib
    import tempfile

    cache_root = cache_root or os.path.join(tempfile.gettempdir(), "onnxocr_pages_cache")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{copies}|v{SYNTH_VERSION}".encode()
    ).hexdigest()[:12]
    path = os.path.join(cache_root, f"pages_{key}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        pages_from_documents(spark, sf_dir, copies=copies).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            pass  # lost a benign race; another process materialized it
    return spark.read.parquet(path)


def pages_local(rows) -> list:
    """Driver-side synthesizer for tests/oracle: [(doc_id, text, lang)] ->
    [(url, html_bytes)] — same pure functions, same bytes."""
    return [(page_url(int(d), l), synth_page(int(d), t or "", l)) for d, t, l in rows]
