"""Text-analysis operators for a training-data pipeline over ``documents``.

Language-ID (marker n-gram heuristic), quality scoring, token counting,
and document fingerprinting — each a pure Column-expression query (JVM
codegen, no Python) with a DuckDB oracle. These extend the reference's
surface (SURVEY.md §2 has no corpus analytics) per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onnxocr_ray_spark.functions import count_occurrences, portable_md5
from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.rowmap import map_rows
from onnxocr_ray_spark.sources.tables import load_table, spread_scan

# marker words per language for the n-gram heuristic (padded with spaces so
# the replace-length occurrence count only hits whole words)
_LANG_MARKERS = {
    "en": [" the ", " a "],
    "es": [" el ", " la "],
    "de": [" der ", " und "],
    "fr": [" le ", " et "],
    "zh": [" 的 ", " 是 "],
}


def _padded(col):
    return F.concat(F.lit(" "), F.lower(F.trim(col)), F.lit(" "))


# --- token counting ---

@register(
    "text_tokens",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT doc_id,
           CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                ELSE length(trim(text, ' ')) - length(replace(trim(text, ' '), ' ', '')) + 1
           END AS n_tokens,
           length(text) AS n_chars_txt
    FROM documents
    """,
    doc="training-data op: token counting via the replace-length identity (whitespace tokenizer)",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n_tokens = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_txt"),
    )


# --- quality scoring ---

@register(
    "text_quality",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT doc_id,
           round(length(regexp_replace(text, '[^a-z]', '', 'g'))
                 / greatest(length(text), 1)::DOUBLE, 6) AS alpha_ratio,
           round((length(text) - length(replace(text, ' ', '')))
                 / greatest(length(text), 1)::DOUBLE, 6) AS space_ratio,
           round(least((length(trim(text, ' ')) - length(replace(trim(text, ' '), ' ', '')) + 1)
                       / 100.0, 1.0)
                 * 0.5
                 + length(regexp_replace(text, '[^a-z]', '', 'g'))
                   / greatest(length(text), 1)::DOUBLE * 0.5, 6) AS quality
    FROM documents
    """,
    doc="training-data op: quality scoring from length/space/alpha ratios",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    length = F.greatest(F.length("text"), F.lit(1)).cast("double")
    alpha = F.length(F.regexp_replace("text", "[^a-z]", ""))
    spaces = F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    t = F.trim(F.col("text"))
    tokens = F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1
    quality = F.least(tokens / 100.0, F.lit(1.0)) * 0.5 + alpha / length * 0.5
    return docs.select(
        "doc_id",
        F.round(alpha / length, 6).alias("alpha_ratio"),
        F.round(spaces / length, 6).alias("space_ratio"),
        F.round(quality, 6).alias("quality"),
    )


# --- language identification ---

def _langid_scores_sql() -> str:
    cols = []
    for lang, markers in _LANG_MARKERS.items():
        parts = [
            f"cast((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS INT)"
            for m in markers
        ]
        cols.append(" + ".join(parts) + f" AS s_{lang}")
    return ", ".join(cols)


@register(
    "text_langid",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql=f"""
    WITH p AS (
      SELECT doc_id, ' ' || lower(trim(text, ' ')) || ' ' AS p FROM documents
    ), s AS (
      SELECT doc_id, {_langid_scores_sql()} FROM p
    )
    SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
           CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM s
    """,
    doc="training-data op: language-ID via marker-word n-gram scores + deterministic argmax",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    p = _padded(F.col("text"))
    scored = docs.select(
        "doc_id",
        *[
            sum(count_occurrences(p, m) for m in markers).alias(f"s_{lang}")
            for lang, markers in _LANG_MARKERS.items()
        ],
    )
    s = {l: F.col(f"s_{l}") for l in _LANG_MARKERS}
    pred = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["zh"]),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["zh"]), "de")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return scored.withColumn("lang_pred", pred)


# --- document fingerprinting ---

@register(
    "text_fingerprint",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    SELECT doc_id,
           substr(md5(lower(trim(text, ' '))), 1, 16) AS fp,
           md5(lang || '|' || lower(trim(text, ' '))) AS fp_salted
    FROM documents
    """,
    doc="training-data op: document fingerprint via content hash (rolling-hash analog: dedup.py minhash sig0)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return docs.select(
        "doc_id",
        F.substring(portable_md5(norm), 1, 16).alias("fp"),
        portable_md5(F.concat(F.col("lang"), F.lit("|"), norm)).alias("fp_salted"),
    )


# --- corpus stats ---

@register(
    "doc_stats_by_lang",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
    doc="training-data op: corpus profile per language",
)
def doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- repetition stats (Gopher-style repetition filters) ---

@register(
    "text_repetition",
    priority=12,  # new in r5 -> into the driver's checked window
    sql="""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(trim(text, ' '), ' ')) AS word
      FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS c FROM ex GROUP BY doc_id, word
    ), agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
             count(*) AS n_distinct
      FROM wc GROUP BY doc_id
    ), top AS (
      SELECT doc_id, word AS top_word, c AS top_count,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, word ASC
             ) AS rn
      FROM wc
    )
    SELECT a.doc_id, n_words, n_distinct, top_word, top_count,
           top_count * 1000000 // n_words AS top_ppm,
           n_distinct * 1000000 // n_words AS distinct_ppm
    FROM agg a JOIN top t ON a.doc_id = t.doc_id
    WHERE rn = 1
    """,
    doc=(
        "training-data op: Gopher-style repetition stats — most-common-"
        "word fraction + distinct-word fraction per doc (the repetition "
        "quality filters of the Gopher/MassiveText pipeline)"
    ),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics for quality filtering.

    Gopher's repetition filters drop docs whose most frequent word
    covers too much of the text or whose distinct-word ratio is too low
    (templated / keyword-stuffed pages). Ratios are reported as integer
    parts-per-million (floor division on BOTH engines) so the driver's
    value hash never trips on float summation order.

    Scale: explode -> (doc_id, word) groupBy partial-aggregates map-side
    (bounded per-task state: distinct words per doc chunk), then the
    per-doc top-1 is a WindowGroupLimit-able row_number over the already
    doc_id-clustered counts — the same exchange serves the window and
    the totals join, and AQE coalesces it. No Python, pure codegen.
    """
    from pyspark.sql import Window as W

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    words = F.split(F.trim(F.col("text")), " ")
    ex = docs.select("doc_id", F.explode(words).alias("word"))
    wc = ex.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("word").asc())
    top = (
        wc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_word"),
            F.col("c").alias("top_count"),
        )
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.count(F.lit(1)).alias("n_distinct")
    )
    return agg.join(top, "doc_id").select(
        "doc_id",
        "n_words",
        "n_distinct",
        "top_word",
        "top_count",
        F.expr("top_count * 1000000L div n_words").alias("top_ppm"),
        F.expr("n_distinct * 1000000L div n_words").alias("distinct_ppm"),
    )


# --- distinctive keywords (integer TF-IDF proxy) ---

@register(
    "doc_keywords",
    priority=12,  # new in r5 -> into the driver's checked window
    sql="""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(trim(text, ' '), ' ')) AS word
      FROM documents
    ), wc AS (
      SELECT doc_id, word, count(*) AS tf FROM ex GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, count(*) AS n_docs FROM wc GROUP BY word
    ), s AS (
      SELECT wc.doc_id, wc.word, tf, n_docs,
             tf * 1000000 // n_docs AS score_ppm,
             row_number() OVER (
               PARTITION BY wc.doc_id
               ORDER BY tf * 1000000 // n_docs DESC, wc.word ASC
             ) AS kw_rank
      FROM wc JOIN dfreq USING (word)
    )
    SELECT doc_id, kw_rank, word, tf, n_docs, score_ppm
    FROM s WHERE kw_rank <= 3
    """,
    doc=(
        "training-data op: per-doc distinctive keywords — top-3 terms "
        "by an integer TF-IDF proxy (tf * 1e6 // corpus doc-frequency), "
        "broadcast vocabulary join + map-side window group limit"
    ),
)
def doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document.

    The score is ``tf * 1_000_000 // n_docs`` — integer floor division
    on BOTH engines, monotone in the tf/df ratio, so it ranks exactly
    like tf-idf with a reciprocal-df weight while staying bit-stable
    across engines (no transcendental idf, no float summation order).

    Plan shape (the 100 TB design, machine-asserted in test_plans):

    - (doc_id, word) term counts partial-aggregate map-side (bounded
      per-task state: distinct words per doc chunk);
    - the vocabulary table (word -> doc frequency) is aggregated from
      the term counts and BROADCAST back — a natural-language
      vocabulary is heavy-tailed but small (10^6-10^7 rows at any
      corpus size; Heaps' law), so it never justifies shuffling the
      corpus-sized term-count stream on word;
    - the per-doc top-3 runs as a map-side WindowGroupLimit over the
      already doc_id-clustered counts.

    At 10^12 docs the term-count stream would be checkpointed once and
    reused for both the vocabulary agg and the join (here Spark simply
    recomputes the cheap scan twice).
    """
    from pyspark.sql import Window as W

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    ex = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"),
    )
    wc = ex.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = wc.groupBy("word").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        wc.join(F.broadcast(dfreq), "word")
        .withColumn("score_ppm", F.expr("tf * 1000000L div n_docs"))
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("word").asc()
    )
    return (
        # long cast: DuckDB row_number() is BIGINT, Spark's is int
        scored.withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "kw_rank", "word", "tf", "n_docs", "score_ppm")
    )


# --- Gopher-rule filter verdict (the keep/drop decision layer) ---
#
# The Gopher / MassiveText quality pipeline (Rae et al. 2021, App. A)
# DROPS a document when any rule fires; `text_quality`/`text_repetition`
# report the underlying ratios, this op makes the DECISION, with a
# reason bitmask so downstream audits can attribute every drop. All
# rules are integer-arithmetic single-pass column expressions — the
# filter pass costs one codegen projection over the scan, no joins, no
# explodes, no exchanges at all.

GOPHER_MIN_WORDS = 50          # doc length 50..100,000 words
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL_X10 = 30        # mean word length 3..10 chars (x10 fixed-point)
GOPHER_MAX_MWL_X10 = 100
GOPHER_STOPWORDS = ("the", "a", "of", "to", "and")
GOPHER_MIN_STOPWORDS = 2       # must contain >= 2 distinct stopwords
# symbol-to-word ratio > 0.1 drops (hash marks + ellipses play the
# symbol class, as in the paper)


@register(
    "gopher_filter",
    priority=12,  # new in r5 -> into the driver's checked window
    sql=f"""
    WITH t AS (
      SELECT doc_id,
             trim(text, ' ') AS s,
             string_split(trim(text, ' '), ' ') AS ws
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             (length(replace(s, ' ', '')) * 10) // len(ws) AS mwl_x10,
             (length(s) - length(replace(s, '#', '')))
               + (length(s) - length(replace(s, '...', ''))) // 3
               AS n_symbols,
             (CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
              + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END)
               AS n_stop
      FROM t
    )
    SELECT doc_id, n_words, mwl_x10,
           CAST(
             CASE WHEN n_words < {GOPHER_MIN_WORDS}
                    OR n_words > {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
             + CASE WHEN mwl_x10 < {GOPHER_MIN_MWL_X10}
                      OR mwl_x10 > {GOPHER_MAX_MWL_X10} THEN 2 ELSE 0 END
             + CASE WHEN n_symbols * 10 > n_words THEN 4 ELSE 0 END
             + CASE WHEN n_stop < {GOPHER_MIN_STOPWORDS} THEN 8 ELSE 0 END
             AS BIGINT) AS reasons,
           (CASE WHEN n_words < {GOPHER_MIN_WORDS}
                   OR n_words > {GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
            + CASE WHEN mwl_x10 < {GOPHER_MIN_MWL_X10}
                     OR mwl_x10 > {GOPHER_MAX_MWL_X10} THEN 2 ELSE 0 END
            + CASE WHEN n_symbols * 10 > n_words THEN 4 ELSE 0 END
            + CASE WHEN n_stop < {GOPHER_MIN_STOPWORDS} THEN 8 ELSE 0 END
           ) = 0 AS keep
    FROM m
    """,
    doc=(
        "training-data op: Gopher/MassiveText filter VERDICT — per-doc "
        "keep/drop with a reason bitmask (1=length, 2=mean-word-length, "
        "4=symbol-ratio, 8=stopwords); integer fixed-point rules, one "
        "codegen projection, zero exchanges"
    ),
)
def gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision layer: keep iff no Gopher rule fires.

    Every rule is integer arithmetic (x10 fixed-point for mean word
    length) so both engines agree bit-for-bit with no float rounding.
    Plan shape: a single whole-stage-codegen projection over the
    pruned scan — the 100 TB filter pass is embarrassingly parallel
    with ZERO exchanges (machine-asserted in test_plans), which is why
    production pipelines run it before any shuffle-bearing dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = F.trim(F.col("text"))
    ws = F.split(s, " ")
    n_words = F.size(ws).cast("long")
    mwl_x10 = F.expr(
        "(length(replace(trim(text), ' ', '')) * 10) "
        "DIV size(split(trim(text), ' '))"
    )
    n_symbols = (
        F.length(s) - F.length(F.regexp_replace(s, "#", ""))
        + (F.length(s) - F.length(F.replace(s, F.lit("..."), F.lit("")))).cast(
            "long"
        ) / F.lit(3)
    ).cast("long")
    n_stop = sum(
        F.array_contains(ws, w).cast("int") for w in GOPHER_STOPWORDS
    )
    r1 = (n_words < GOPHER_MIN_WORDS) | (n_words > GOPHER_MAX_WORDS)
    r2 = (mwl_x10 < GOPHER_MIN_MWL_X10) | (mwl_x10 > GOPHER_MAX_MWL_X10)
    r4 = n_symbols * 10 > n_words
    r8 = n_stop < GOPHER_MIN_STOPWORDS
    reasons = (
        r1.cast("long")
        + r2.cast("long") * 2
        + r4.cast("long") * 4
        + r8.cast("long") * 8
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mwl_x10.alias("mwl_x10"),
        reasons.alias("reasons"),
        (reasons == 0).alias("keep"),
    )


# --- corpus vocabulary (Zipf table) ---

@register(
    "vocab_topk",
    priority=16,  # new this round: into the checked window
    sql="""
    SELECT word, tf, df,
           row_number() OVER (ORDER BY tf DESC, word) AS rank
    FROM (
        SELECT word, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word
            FROM documents
        )
        WHERE word <> ''
        GROUP BY word
    )
    ORDER BY tf DESC, word
    LIMIT 100
    """,
    doc=(
        "training-data op: corpus vocabulary table — term frequency, "
        "document frequency, Zipf rank for the top-100 tokens. The "
        "classic wordcount plan: explode -> partial-agg -> one shuffle; "
        "the global top-k is TakeOrderedAndProject (a bounded per-"
        "partition heap merged on the driver), NOT a full sort shuffle — "
        "at 10^12 tokens only 100 rows ever leave the aggregation."
    ),
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    vocab = words.groupBy("word").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    top = vocab.orderBy(F.desc("tf"), F.asc("word")).limit(100)
    return top.select(
        "word", "tf", "df",
        F.row_number()
        .over(W.orderBy(F.desc("tf"), F.asc("word")))
        .cast("long")
        .alias("rank"),
    )


# --- LM fluency scoring (CCNet-style, integer-exact) ---

_PPM = 1_000_000


@register(
    "lm_fluency_score",
    priority=19,  # new this round: into the checked window
    sql=f"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        FROM documents
    ),
    idx AS (
        SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM words
    ),
    bg AS (
        SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS bigram
        FROM idx
    ),
    c2 AS (SELECT bigram, count(*) AS n2 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
    scored AS (
        SELECT b.doc_id, (c2.n2 * {_PPM}) // c1.n1 AS ppm
        FROM bg b JOIN c2 USING (bigram) JOIN c1 USING (w1)
    )
    SELECT d.doc_id,
           count(s.ppm) AS n_bigrams,
           CAST(CASE WHEN count(s.ppm) = 0 THEN -1
                     ELSE sum(s.ppm) // count(s.ppm) END AS BIGINT)
             AS fluency_ppm
    FROM documents d LEFT JOIN scored s USING (doc_id)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    doc=(
        "training-data op: corpus-LM fluency score (CCNet-style quality "
        "signal) — train bigram conditional probabilities ON the corpus "
        "itself, score each doc by its mean p(w2|w1). All arithmetic is "
        "integer ppm ((n2 * 1e6) DIV n1, integer-summed), so partial "
        "aggregation order cannot perturb the result and both engines "
        "agree bit-for-bit — the same order-independence trick as the "
        "IVF centroid update, applied where log-prob floats would "
        "diverge in the last ulp."
    ),
)
def lm_fluency_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan shape at corpus scale: one Generate (bigram explode), two
    count groupBys whose outputs are VOCABULARY-sized (bigram types and
    first-word types — orders of magnitude below token count thanks to
    map-side partial counts), two hash joins back onto the occurrence
    stream keyed by bigram/w1, one final per-doc sum. Every exchanged
    key is a token string, never a document."""
    docs = spread_scan(load_table(spark, sf_dir, "documents")).select("doc_id", "text")

    # r6: the bigram stream is generated in a per-row Python kernel
    # (bit-identical mirror of filter(split(lower(text), ' '), w != '')
    # + concat_ws over 2-slices + split_part — the same portability
    # contract as dedup._py_shingles, fuzz-pinned against the oracle's
    # string_split in test_properties) instead of Catalyst's interpreted
    # slice/concat lambda transforms, and persisted once for its THREE
    # consumers (bigram counts, first-word counts, the scoring join) —
    # scope-managed, released before the next registry query.
    from onnxocr_ray_spark.caching import scoped_persist

    def bigram_row(text):
        words = [w for w in (text or "").lower().split(" ") if w]
        return [(words[i] + " " + words[i + 1], words[i]) for i in range(len(words) - 1)]

    bg = scoped_persist(
        map_rows(docs, ["text"], lambda: bigram_row,
                 "doc_id long, bigram string, w1 string", carry=["doc_id"])
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    scored = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .select("doc_id", F.expr(f"(n2 * {_PPM}) DIV n1").alias("ppm"))
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("ppm").alias("n_bigrams"),
            F.when(F.count("ppm") == 0, F.lit(-1))
            .otherwise(F.expr("sum(ppm) DIV count(ppm)"))
            .cast("long")
            .alias("fluency_ppm"),
        )
        .orderBy("doc_id")
    )
