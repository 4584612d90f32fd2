"""Streaming wrappers over the batch operators.

The reference has no streaming semantics — its FastAPI service answers
one request at a time (`app-service.py:392-456`). The Spark-native
continuous form is:

- ``extract_stream``: ``readStream`` over an arriving pages directory →
  ``foreachBatch`` running the SAME ``extract()`` used in batch (so
  byte-identity per url carries over verbatim) → output partitioned by
  ``epoch_id`` with DYNAMIC partition overwrite, so a replayed epoch
  (failure between sink write and checkpoint commit, or a Spark retry)
  REPLACES its own partition instead of appending duplicates. Streaming
  checkpoint + idempotent epoch writes = effectively exactly-once.
- ``windowed_events_stream``: watermarked tumbling-window aggregation —
  the streaming form of the batch ``window_hourly`` registry query.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from onnxocr_ray_spark.config import DEFAULT_CONFIG, ExtractConfig
from onnxocr_ray_spark.operators.extract import extract
from onnxocr_ray_spark.sources.pages import PAGES_SCHEMA


def extract_stream(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Continuously extract pages arriving as parquet files.

    foreachBatch keeps the full batch operator graph (fused fast path,
    straggler routing) — each micro-batch is just a bounded pages table.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        out = extract(batch_df, cfg).withColumn("epoch_id", F.lit(epoch_id))
        # idempotent epoch commit: dynamic partition overwrite touches
        # ONLY the epoch_id partitions present in this batch, so a
        # retried/replayed epoch rewrites the same files (same bytes —
        # the pipeline is deterministic) instead of appending duplicates.
        # The writer-level option (not a session conf) because foreachBatch
        # hands the batch a CLONED session whose conf we don't own.
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(output_dir)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def sessionize_stream(
    spark: SparkSession,
    events_dir: str,
    gap_seconds: int = 1800,
    schema: Optional[str] = None,
    use_timeout: bool = False,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState``.

    State per user = (session start, last ts, event count, value sum).
    A session closes when a gap > ``gap_seconds`` is observed (emitting
    the closed session); with ``use_timeout=True`` idle sessions also
    close on processing-time timeout — note that timeouts keep the query
    perpetually triggering, so bounded-input runs (tests,
    processAllAvailable) should leave it off. This is the streaming form
    of the batch ``sessionize`` registry query.
    """
    import datetime

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = schema or (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp,"
        " n_events long, total_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n, total = state.get
        else:
            start, last, n, total = None, None, 0, 0.0
        closed = []
        if state.hasTimedOut:
            if n > 0:
                closed.append((user_id, start, last, n, total))
            state.remove()
        else:
            rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
            for ts, value in zip(rows["ts"], rows["value"]):
                epoch = int(ts.timestamp())
                if last is not None and epoch - last > gap_seconds:
                    closed.append((user_id, start, last, n, total))
                    start, n, total = epoch, 0, 0.0
                if start is None:
                    start = epoch
                last = epoch
                n += 1
                total += float(value)
            state.update((start, last, n, total))
            if use_timeout:
                state.setTimeoutDuration(60_000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [
                        datetime.datetime.utcfromtimestamp(c[1]) for c in closed
                    ],
                    "session_end": [
                        datetime.datetime.utcfromtimestamp(c[2]) for c in closed
                    ],
                    "n_events": [c[3] for c in closed],
                    "total_value": [round(c[4], 4) for c in closed],
                }
            )

    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def windowed_events_stream(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "2 hours",
    window: str = "1 hour",
    schema: Optional[str] = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation over streaming events.

    Returns the streaming DataFrame (caller attaches the sink); with a
    memory sink + ``processAllAvailable`` this is deterministic on a
    bounded directory, matching the batch ``window_hourly`` oracle.
    """
    schema = schema or (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(events_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total")
    )


def dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming exact dedup: emit each distinct content exactly once
    across the WHOLE stream (cross-micro-batch), the streaming form of
    the batch ``dedup_exact`` registry query.

    ``applyInPandasWithState`` keyed by content hash; state = the
    canonical (first-arriving) doc_id and a running duplicate count.
    Built-in ``dropDuplicates`` on a stream either keeps unbounded
    per-ROW state or needs a watermark that silently re-admits late
    duplicates — for corpus dedup the hash key IS the state and one
    small row per distinct content is the minimal, explicit footprint.
    Within a micro-batch ties resolve by min doc_id, so arrival order of
    batches (not rows) is the only ordering the result depends on.

    At 10^12 docs this state shards across the cluster by hash exactly
    like the batch groupBy — same shuffle key, same skew profile — and
    the RocksDB state store holds (hash -> 16 bytes). Production conf
    for that footprint (the default HDFS-backed provider keeps state on
    the JVM heap and full-snapshots each checkpoint):

        spark.sql.streaming.stateStore.providerClass=
          org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
        spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled=true

    ``max_files_per_trigger`` bounds each micro-batch's file intake
    (admission control for backfills; also how tests force genuinely
    separate triggers).
    """
    import pandas as pd

    schema = schema or "doc_id long, text string, lang string"
    out_schema = (
        "content_hash string, canonical_id long, lang string, is_new boolean"
    )
    state_schema = "canonical long, dups long"

    def fn(key, pdfs, state):
        (content_hash,) = key
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        if state.exists:
            canonical, dups = state.get
            state.update((canonical, dups + len(rows)))
            # seen in an earlier batch: nothing new to emit
            return
        first = rows.iloc[0]
        state.update((int(first["doc_id"]), len(rows) - 1))
        yield pd.DataFrame(
            {
                "content_hash": [content_hash],
                "canonical_id": [int(first["doc_id"])],
                "lang": [str(first["lang"])],
                "is_new": [True],
            }
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)
    hashed = stream.select(
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
        "doc_id",
        "lang",
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    return hashed.groupBy("content_hash").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _popcount64(x):
    """Vectorized SWAR popcount over a uint64 ndarray (numpy<2 has no
    bitwise_count)."""
    import numpy as np

    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def simhash_int64(sig: str) -> int:
    """64-char '0'/'1' SimHash string -> signed int64 carrying the same
    bit pattern (char 0 = most significant bit)."""
    v = int(sig, 2)
    return v - (1 << 64) if v >= (1 << 63) else v


def neardup_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming SimHash near-dup detection: the cross-micro-batch form
    of ``dedup_simhash_pairs`` (operators/dedup.py).

    Each arriving document is signed with the shared 64-bit SimHash
    kernel (``simhash_of`` — bit-identical to the batch vectorized path
    and the DuckDB oracle), packed into one int64, exploded into 4 x
    16-bit band rows (bit-shift band keys), and run through
    ``applyInPandasWithState`` keyed by ``(band_idx, band_key)``. Per
    bucket the state is the inverted-index shard: every (doc_id,
    signature) ever seen in the bucket, as two ``array<long>`` columns —
    8 bytes per signature, not a 64-char string. A new document emits
    one match row per band whose bucket already holds a signature within
    Hamming<=3; the verify is a VECTORIZED numpy XOR + SWAR popcount
    over the whole bucket (so a skewed bucket — e.g. a boilerplate
    template emitting thousands of near-identical pages into one band
    key — costs one vector op per arriving doc, not an interpreted
    per-character scan; the skew stress test pins this). ``canonical_id``
    is the smallest matching earlier doc_id. Banding is
    pigeonhole-complete at Hamming<=3, so a downstream per-doc min over
    the match rows reproduces EXACTLY the batch pair set restricted to
    (earlier, later) — the consistency property the tests pin.

    Ordering semantics — PRECONDITION: "earlier" means ARRIVAL order
    (micro-batch order, then doc_id within a batch), not global doc_id
    order. The equivalence with the batch ``a.doc_id < b.doc_id``
    convention therefore holds exactly when files arrive in doc_id order
    (an ingest that names files monotonically — the normal log-shipping
    layout). A late-arriving document with a SMALLER doc_id than an
    already-seen match yields ``canonical_id > doc_id``; order-
    insensitive consumers should normalize emitted pairs to
    (min, max).

    At 10^12 docs the state is the full signature table sharded by band
    key — 4 rows x 16 bytes per doc, hash-partitioned exactly like the
    batch banded join's shuffle; use the RocksDB state-store conf
    documented on ``dedup_stream`` for that footprint.
    """
    import numpy as np
    import pandas as pd

    from onnxocr_ray_spark.operators.dedup import (
        SIMHASH_HAMMING_K,
        SIMHASH_N_BANDS,
        simhash_of,
    )

    schema = schema or "doc_id long, text string, lang string"
    band_w = 64 // SIMHASH_N_BANDS
    out_schema = (
        "doc_id long, band_idx int, canonical_id long, hamming int"
    )
    # inverted-index shard: parallel arrays of int64 signatures + doc ids
    state_schema = "sigs array<long>, ids array<long>"

    def fn(key, pdfs, state):
        sigs, ids = state.get if state.exists else ([], [])
        rows = pd.concat(list(pdfs)).sort_values("doc_id")
        new_sigs = rows["sig"].to_numpy(dtype=np.int64)
        new_ids = rows["doc_id"].to_numpy(dtype=np.int64)
        n0 = len(sigs)
        # one pre-sized arena: state + this batch appended in arrival
        # order, so within-batch earlier docs are visible to later ones
        arena = np.empty(n0 + len(new_sigs), dtype=np.int64)
        arena_ids = np.empty_like(arena)
        if n0:
            arena[:n0] = sigs
            arena_ids[:n0] = ids
        out_doc, out_band, out_canon, out_ham = [], [], [], []
        band_idx = int(key[0])
        k = n0
        kmax = np.int64(SIMHASH_HAMMING_K)
        for sig, did in zip(new_sigs, new_ids):
            if k:
                ham = _popcount64((arena[:k] ^ sig).view(np.uint64)).view(
                    np.int64
                )
                m = ham <= kmax
                if m.any():
                    cand_ids = arena_ids[:k][m]
                    j = int(cand_ids.argmin())
                    out_doc.append(int(did))
                    out_band.append(band_idx)
                    out_canon.append(int(cand_ids[j]))
                    out_ham.append(int(ham[m][j]))
            arena[k] = sig
            arena_ids[k] = did
            k += 1
        state.update((arena.tolist(), arena_ids.tolist()))
        if out_doc:
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "band_idx": out_band,
                    "canonical_id": out_canon,
                    "hamming": out_ham,
                }
            )

    def sign(batches):
        memo: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "sig": [simhash_int64(simhash_of(t, memo)) for t in pdf["text"]],
                }
            )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)
    signed = stream.select("doc_id", "text").mapInPandas(
        sign, schema="doc_id long, sig long"
    )
    # band b covers signature chars [16b, 16b+16) = bits 63-16b..48-16b
    # of the int64 — an unsigned shift + mask, JVM-side
    bands = signed.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.shiftrightunsigned("sig", band_w * (SIMHASH_N_BANDS - 1 - b))
                    .bitwiseAND(F.lit((1 << band_w) - 1))
                    .cast("int")
                    .alias("band_key"),
                )
                for b in range(SIMHASH_N_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_idx", "band.band_key")
    from pyspark.sql.streaming.state import GroupStateTimeout

    return bands.groupBy("band_idx", "band_key").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def decontaminate_stream(
    spark: SparkSession,
    docs_dir: str,
    probes: DataFrame,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming benchmark decontamination: the cross-micro-batch form
    of the batch ``decontaminate`` registry query (operators/dedup.py).

    A STREAM-STATIC join — the canonical online-ingest shape: documents
    arrive continuously, the benchmark probe set (``probes``, one
    ``gram_h`` column, built by ``operators.dedup.decon_probes`` or
    read from real benchmark files) is a bounded static table that
    Spark broadcasts into every micro-batch. Each arriving document
    explodes to sliding hashed 13-grams (the SAME
    ``decon_doc_grams`` column expressions as batch, so hits agree
    bit-for-bit) and inner-joins the broadcast probe set; the output is
    one append-mode row per (doc_id, gram_h) hit.

    Deliberately STATE-FREE: no streaming aggregation, no watermark, no
    state store — a hit row depends only on its own document, so
    append mode emits each exactly once and a failure replay
    re-emits deterministic rows. (Streaming aggregation cannot express
    the batch op's countDistinct anyway — distinct aggregates are
    unsupported on streams; per-doc rollup is a trivial downstream
    batch groupBy over the sink.)

    At 10^12 docs/day this is the cheapest possible shape: the static
    side is broadcast once per micro-batch, the stream side never
    shuffles — no exchange at all in the continuous plan.
    """
    schema = schema or "doc_id long, text string, lang string"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir)

    from onnxocr_ray_spark.operators.dedup import decon_doc_grams

    return decon_doc_grams(stream).join(F.broadcast(probes), "gram_h")


def cdc_stream(
    spark: SparkSession,
    docs_dir: str,
    baseline: DataFrame,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Streaming snapshot CDC: the online form of the batch
    ``snapshot_diff`` registry query (operators/cdc.py) — documents of
    the NEW corpus version arrive continuously and each micro-batch
    classifies them against the static previous-version baseline:
    ``added`` (key unseen in v1), ``changed`` (fingerprint differs),
    ``unchanged``.

    Same stream-static broadcast shape as ``decontaminate_stream``:
    the baseline collapses to a (key, fp) table broadcast into every
    micro-batch; fingerprints use the SAME portable_md5 column as batch,
    so classifications agree bit-for-bit. State-free append mode — a
    row's class depends only on itself plus the static side.

    ``removed`` is deliberately NOT emitted here: absence is not an
    event an arrival stream can observe; the batch ``snapshot_diff``
    (one full-outer join) covers removals when the new snapshot is
    complete. A production refresh runs this stream for the hot path
    and the batch diff at snapshot-commit time.
    """
    from onnxocr_ray_spark.functions import portable_md5

    schema = schema or "doc_id long, text string"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_dir).select(
        "doc_id", portable_md5(F.col("text")).alias("fp_new")
    )
    # presence flag, not fp IS NULL: a NULL-text baseline row must read
    # as "present" (same null contract as the batch snapshot_diff)
    base = baseline.select(
        "doc_id",
        portable_md5(F.col("text")).alias("fp_base"),
        F.lit(True).alias("in_base"),
    )
    change = (
        F.when(F.col("in_base").isNull(), F.lit("added"))
        .when(F.col("fp_base") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return stream.join(F.broadcast(base), "doc_id", "left").select(
        "doc_id", change.alias("change_type")
    )
