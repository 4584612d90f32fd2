"""Physical-plan regression guards.

These pin the plan properties the engine's scale story depends on
(SURVEY.md §4.3): column pruning into the parquet scan, predicate
pushdown, broadcast joins for selective dims, and a bounded number of
shuffles in the extraction pipeline. A refactor that silently breaks one
of these fails here long before it shows up as a 100 TB regression.
"""

import pytest
from pyspark.sql import functions as F

from onnxocr_ray_spark.operators.extract import extract
from onnxocr_ray_spark.registry import load_all
from onnxocr_ray_spark.sources.pages import pages_table

from tests.conftest import SF0001


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    return load_all()


def test_q1_scan_prunes_and_pushes(spark, queries):
    plan = plan_of(queries["q1_pricing"].fn(spark, SF0001))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # only the 7 referenced columns are read
    assert "l_quantity" in scan and "l_shipdate" in scan
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    # the shipdate predicate reaches the scan
    assert "l_shipdate" in scan.split("DataFilters")[-1]


def test_q3_uses_broadcast_joins(spark, queries):
    plan = plan_of(queries["q3_revenue"].fn(spark, SF0001))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_keepkeys_pushes_filter(spark, queries):
    plan = plan_of(queries["proj_keepkeys"].fn(spark, SF0001))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "(p_size" in scan and ">= 10)" in scan
    assert "p_retailprice" not in scan  # pruned


def test_extract_scan_pruned_to_url_html(spark, queries):
    plan = plan_of(extract(pages_table(spark, SF0001)))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans, "no parquet scan found"
    for scan in scans:
        cols = scan.split("FileScan parquet [")[1].split("]")[0]
        names = {c.split("#")[0] for c in cols.split(",")}
        assert names <= {"url", "html"}, f"scan reads extra columns: {names}"


def distinct_parquet_scans(df) -> int:
    """Number of DISTINCT parquet scan operators in the formatted plan.

    The formatted dump assigns each physical operator a stable id and
    repeats shared subtrees (a cached relation printed under every
    consumer) with the SAME id — so deduping by id counts real scans."""
    import re

    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return len(set(re.findall(r"Scan parquet\s*\((\d+)\)", s)))


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    import uuid

    gid = f"plan-test-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _build_runs_only_the_probe(spark, pages, monkeypatch, tmp_path, **kw):
    """``extract(pages, **kw)``, asserting that its build writes no file
    under the temp dir and runs exactly the jobs of its one probe."""
    import tempfile

    threshold = kw.get("straggler_html_bytes", 1 << 20)
    size = F.col("html_size") if "html_size" in pages.columns else F.octet_length("html")
    probe = pages.select(
        F.sum((size > threshold).cast("long")), F.sum(size.isNull().cast("long"))
    )
    _, n_probe = _jobs(spark, probe.first)
    with monkeypatch.context() as m:
        m.setattr(tempfile, "tempdir", str(tmp_path))
        df, n_build = _jobs(spark, lambda: extract(pages, **kw))
    assert n_build == n_probe, (n_build, n_probe)
    assert list(tmp_path.iterdir()) == []
    return df


def test_sized_clean_corpus_is_pure_fused_plan(spark, queries):
    # sized table + no straggler: the metadata probe elides the straggler
    # machinery entirely — one parquet scan, no cache, no exchanges
    df = extract(pages_table(spark, SF0001))
    plan = plan_of(df)
    assert distinct_parquet_scans(df) == 1
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan
    assert "InMemoryTableScan" not in plan


def test_sized_probe_reads_only_size_column(spark, queries):
    # the straggler probe must never touch html: its single-agg probe
    # (straggler count + null-stat count in one job) reads only the
    # ingest-materialized size column
    pages = pages_table(spark, SF0001)
    probe = pages.select(
        F.sum((F.col("html_size") > (1 << 20)).cast("long")).alias("n_big"),
        F.sum(F.col("html_size").isNull().cast("long")).alias("n_null"),
    )
    scan = next(
        l for l in plan_of(probe).splitlines() if "FileScan parquet" in l
    )
    cols = scan.split("FileScan parquet [")[1].split("]")[0]
    names = {c.split("#")[0] for c in cols.split(",") if c.strip()}
    assert names == {"html_size"}, names


def test_sized_null_stat_rows_keep_straggler_protection(spark, queries, monkeypatch, tmp_path):
    # a NULL html_size means "unknown" — those rows are routed by their
    # own byte size inside the two size-filtered legs, not silently fused
    pages = pages_table(spark, SF0001).withColumn(
        "html_size",
        F.when(F.col("url").substr(-1, 1) == "0", F.lit(None).cast("long"))
        .otherwise(F.col("html_size")),
    )
    df = _build_runs_only_the_probe(spark, pages, monkeypatch, tmp_path,
                                    straggler_html_bytes=0)
    plan = plan_of(df)
    assert "InMemoryTableScan" not in plan, plan
    assert "Generate" in plan                  # straggler explode active
    # byte-identity: same rows as the clean sized path
    clean = extract(pages_table(spark, SF0001)).select("url", "checksum")
    got = df.select("url", "checksum")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, clean.collect()))


def test_sized_straggler_branches_filter_on_size(spark, queries):
    # 0-byte threshold: both branches exist, each scan carries a pushed
    # html_size predicate so row groups are pruned by stats, and the
    # span-explode machinery is active
    df = extract(pages_table(spark, SF0001), straggler_html_bytes=0)
    plan = plan_of(df)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert any("html_size" in s.split("PushedFilters")[-1] for s in scans), plan
    assert "Generate" in plan


def test_synthesized_ingest_takes_sized_zero_cache_plan(spark, queries):
    # the production ingest (pages_from_documents) materializes html_size,
    # so extract() must take the sized strategy — zero cache — even on the
    # non-materialized per-row map source
    from onnxocr_ray_spark.sources.pages import pages_from_documents

    df = extract(pages_from_documents(spark, SF0001))
    assert "InMemoryTableScan" not in plan_of(df)


def test_exact_shape_reads_html_exactly_once(spark, queries, monkeypatch, tmp_path):
    # no size column: extract() derives it as octet_length(html), and its
    # one probe is the only job at build time; a clean corpus then plans
    # the pure fused pass — one scan of html, no output-sized
    # InMemoryTableScan cache (VERDICT r3 item 5), no spill
    df = _build_runs_only_the_probe(
        spark, pages_table(spark, SF0001).drop("html_size"), monkeypatch, tmp_path
    )
    plan = plan_of(df)
    assert "InMemoryTableScan" not in plan, plan
    assert distinct_parquet_scans(df) == 1
    assert "Exchange" not in plan, plan


def test_exact_shape_single_scan_even_when_all_docs_are_stragglers(spark, queries, monkeypatch, tmp_path):
    # unsized input at threshold 0: both size-filtered legs read the
    # source itself, with no cache and no spill in between
    df = _build_runs_only_the_probe(
        spark, pages_table(spark, SF0001).drop("html_size"), monkeypatch, tmp_path,
        straggler_html_bytes=0,
    )
    plan = plan_of(df)
    assert "InMemoryTableScan" not in plan
    assert "Generate" in plan  # posexplode active


def test_straggler_leg_runs_detect_once(spark, queries):
    # the explode consumes detect's output in ONE branch (posexplode_outer
    # keeps zero-region docs), so the detect kernel runs once per doc
    plan = plan_of(extract(pages_table(spark, SF0001), straggler_html_bytes=0))
    assert plan.count("MapInArrow") == 2, plan  # the fused small leg + detect
    assert "MapInPandas" not in plan, plan


def test_per_row_kernels_cross_through_one_arrow_map(spark, queries):
    # every per-row Python kernel runs behind rowmap.map_rows (a
    # MapInArrow); the WARC roundtrip keeps exactly one MapInPandas, the
    # blob-per-batch synth_warc
    from onnxocr_ray_spark.sources.pages import pages_from_documents

    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
                 "decontaminate", "lm_fluency_score", "mm_decode_features",
                 "pdf_extract_text"):
        plan = plan_of(queries[name].fn(spark, SF0001))
        assert "MapInArrow" in plan and "MapInPandas" not in plan, (name, plan)
    plan = plan_of(pages_from_documents(spark, SF0001))
    assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
    plan = plan_of(queries["warc_ingest_roundtrip"].fn(spark, SF0001))
    assert plan.count("MapInPandas") == 1 and "MapInArrow" in plan, plan


def test_probe_does_not_run_the_spread_shuffle(spark, queries, monkeypatch, tmp_path):
    # extract() probes its input before spreading it by url: on a
    # 1-partition input, as on an already-spread one, the build runs the
    # jobs of probing the input as given and no shuffle by url
    spread = pages_table(spark, SF0001)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    for pages in (spread, spread.coalesce(1)):
        _build_runs_only_the_probe(spark, pages, monkeypatch, tmp_path)


def test_null_stats_in_parquet_push_size_filters(spark, queries, tmp_path):
    # a file-backed table with some NULL html_size: both legs' scans carry
    # the pushable "html_size <op> T OR html_size IS NULL" pre-filter, and
    # rows equal the clean table's
    clean = pages_table(spark, SF0001)
    threshold = int(clean.approxQuantile("html_size", [0.5], 0.0)[0])
    path = str(tmp_path / "pages")
    clean.withColumn(
        "html_size",
        F.when(F.xxhash64("url") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("html_size")),
    ).write.parquet(path)
    df = extract(spark.read.parquet(path), straggler_html_bytes=threshold)
    plan = plan_of(df)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 2, plan
    for scan in scans:
        assert "html_size" in scan.split("PushedFilters")[-1].split("ReadSchema")[0], scan
    assert "Generate" in plan
    cols = ["url", "n_spans", "checksum"]
    want = extract(clean, straggler_html_bytes=threshold).select(cols).collect()
    assert sorted(map(tuple, df.select(cols).collect())) == sorted(map(tuple, want))


@pytest.mark.parametrize("sized", [True, False])
@pytest.mark.parametrize("threshold", [1 << 20, 0])
def test_null_and_undecodable_html_come_out_empty(spark, queries, sized, threshold):
    # a NULL html takes the small leg; an undecodable payload with no
    # regions takes the big leg at threshold 0; each is one row, 0 spans
    pages = pages_table(spark, SF0001).limit(4).unionByName(
        spark.createDataFrame(
            [("null-doc", None, None), ("bad-doc", b"\xff\xfe", 2)],
            "url string, html binary, html_size long",
        ),
        allowMissingColumns=True,
    )
    if not sized:
        pages = pages.drop("html_size")
    rows = {
        r["url"]: r["n_spans"]
        for r in extract(pages, straggler_html_bytes=threshold).collect()
    }
    assert len(rows) == 6
    assert rows["null-doc"] == 0 and rows["bad-doc"] == 0


def test_extract_has_bounded_shuffles(spark, queries):
    plan = plan_of(extract(pages_table(spark, SF0001)))
    # fused fast path is shuffle-free; only the straggler branch may
    # exchange (coalesce + span repartition + regroup)
    assert plan.count("Exchange") <= 4, plan


def test_ann_topk_broadcasts_query_vector(spark, queries):
    plan = plan_of(queries["ann_topk_cosine"].fn(spark, SF0001))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_has_no_join(spark, queries):
    # scale-safe as-of form: union + running window, never a range join
    plan = plan_of(queries["asof_last_event"].fn(spark, SF0001))
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_near_dup_canonical_has_no_join(spark, queries):
    # bands[0] equality is transitive, so both canonical queries are one
    # min window over the band key: no self-join, one shuffle on b0
    for name in ("dedup_near_canonical", "dedup_cc_canonical"):
        plan = plan_of(queries[name].fn(spark, SF0001))
        assert "Join" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_embed_cosine_joins_on_lsh_bucket(spark, queries):
    # candidates must come from the sign-LSH (bucket, label) blocking,
    # not an all-pairs product within label blocks. r6: the pairwise
    # verify runs in the shared cluster-cosine arrow kernel behind one
    # exchange on the block key (cid = bucket||'|'||label); assert that
    # exchange + kernel shape and that no corpus-wide loop join exists.
    plan = plan_of(queries["dedup_embed_cosine"].fn(spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan, plan
    assert "MapInArrow" in plan, plan
    # the label rides out of the kernel inside cid: no join at all, in
    # particular no broadcast of a corpus-sized label table
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_simhash_pairs_uses_banded_equijoin(spark, queries):
    plan = plan_of(queries["dedup_simhash_pairs"].fn(spark, SF0001))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan


def test_salted_agg_has_two_phase_exchanges(spark, queries):
    # the skew recipe: first exchange keys on (event_type, salt), the
    # final on event_type alone
    plan = plan_of(queries["salted_type_stats"].fn(spark, SF0001))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) >= 2, plan
    assert any("salt" in l for l in exchanges), plan


def test_ann_ivf_assignment_shuffles_skinny_rows(spark, queries):
    # IVF: centroids broadcast (never a cartesian against the big side);
    # the argmax assignment shuffles on vec_id with a MAP-SIDE top-1
    # (WindowGroupLimit Partial) so each task forwards at most one skinny
    # (vec_id, cid, ccos) row per vector — the 64-float vector column
    # stays out of the exchange
    plan = plan_of(queries["ann_ivf_probe"].fn(spark, SF0001))
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    ex = next(
        i for i, l in enumerate(lines)
        if "Exchange hashpartitioning(vec_id" in l
    )
    # map-side partial limit sits directly under the assignment exchange
    below = "\n".join(lines[ex:ex + 3])
    assert "WindowGroupLimit" in below and "Partial" in below, below
    # the window's own output is the skinny triple, not the vector
    win = next(l for l in lines if "+- Window [" in l)
    assert "ccos" in win and " v#" not in win, win


def test_bucketed_join_has_zero_exchange(spark, queries):
    # both sides written bucketBy(8, join key): with broadcast disabled
    # the join must plan as per-bucket sort-merge with NO shuffle — the
    # co-location property the 100-TB story depends on
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["bucketed_join_docs_embeddings"].fn(spark, SF0001)
        plan = plan_of(df)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ann_ivf_trained_update_partial_aggregates(spark, queries):
    # the Lloyd-update explodes members to (cid, dim, qx) and must
    # partial-aggregate map-side (two HashAggregate levels on cid+d)
    # so only K x 64 sum rows cross the shuffle; no cartesian anywhere;
    # the reassignment keeps the map-side top-1
    plan = plan_of(queries["ann_ivf_trained"].fn(spark, SF0001))
    assert "CartesianProduct" not in plan
    aggs = [l for l in plan.splitlines()
            if "HashAggregate" in l and "cid" in l and "d#" in l]
    assert len(aggs) >= 2, plan
    assert any("partial_sum" in l for l in aggs), aggs
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_dedup_passages_broadcasts_boilerplate_set(spark, queries):
    """The C4 passage pass must never shuffle the doc stream on passage:
    membership comes from a BROADCAST of the (count >= 3) boilerplate
    set, and the only hash exchanges are the two partial-aggregated
    groupBys (passage counts; per-doc stats)."""
    plan = plan_of(queries["dedup_passages"].fn(spark, SF0001))
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    # both groupBys combine map-side before their exchange
    assert plan.count("partial_count") >= 2


def test_text_repetition_top1_is_group_limited(spark, queries):
    """The per-doc top-word pick must run as a map-side WindowGroupLimit
    (top-1 per doc before the exchange), not a full sort of all
    (doc, word) counts; totals join back via broadcast."""
    plan = plan_of(queries["text_repetition"].fn(spark, SF0001))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_decontaminate_broadcasts_probe_set(spark, queries):
    """The decontamination pass must meet the probe set in a BROADCAST
    inner join (the corpus never shuffles on gram); the only hash
    exchanges are the probe-set distinct and the per-doc hit count —
    countDistinct plans as a two-phase aggregate, so the hit count
    takes two exchanges, but both carry ONLY post-join hit rows (a
    vanishing fraction of the corpus) and partial-aggregate first."""
    plan = plan_of(queries["decontaminate"].fn(spark, SF0001))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") == 3
    assert "partial_count" in plan


def test_doc_keywords_broadcasts_vocabulary(spark, queries):
    """The vocabulary (word -> doc frequency) joins back to the term
    counts via BROADCAST — the corpus-sized term-count stream never
    re-shuffles on word for the join — and the per-doc top-3 runs as a
    map-side WindowGroupLimit."""
    plan = plan_of(queries["doc_keywords"].fn(spark, SF0001))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_dup_gram_fraction_partial_aggregates_minmax(spark, queries):
    """The shared-gram detector must be the algebraic min/max(doc_id)
    pair (partial-aggregated map-side before the gram_h exchange), NOT
    a countDistinct carrying per-gram doc sets through the shuffle; all
    shuffled keys are the 16-hex fixed-width gram hash, never raw text,
    and there are exactly two hash exchanges (gram stats + per-doc
    rollup). At this SF AQE may build the doc-gram side as a broadcast;
    at corpus scale it degrades to a shuffle join that reuses the
    gram_h distribution the aggregate already produced."""
    plan = plan_of(queries["dup_gram_fraction"].fn(spark, SF0001))
    assert "partial_min" in plan and "partial_max" in plan
    assert "distinct" not in plan.lower()
    assert "Cartesian" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # r6: gram hashing moved into the arrow kernel (decon_doc_grams);
    # every exchanged key is still the fixed-width 16-hex gram_h it emits
    assert "MapInArrow" in plan, plan
    assert "hashpartitioning(gram_h" in plan, plan


def test_url_dedup_is_single_exchange_no_window(spark, queries):
    """Keep-latest-capture must be max_by (algebraic, partial-aggregated
    map-side) with ONE hash exchange on canonical_url — not a
    row_number() window, which would sort every group inside the
    shuffle. Canonicalization is codegen column work on the scan, and
    the scan itself prunes to doc_id (the synthesis needs nothing
    else)."""
    plan = plan_of(queries["url_canonical_dedup"].fn(spark, SF0001))
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FileScan parquet [doc_id" in plan


def test_gopher_filter_is_pure_projection(spark, queries):
    """The filter VERDICT pass must cost one whole-stage-codegen
    projection over the scan: zero exchanges, zero generates, no joins
    — the reason production pipelines run it before any shuffle-bearing
    dedup stage."""
    plan = plan_of(queries["gopher_filter"].fn(spark, SF0001))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan
    assert "Join" not in plan
    # the leading '*' marks the projection as whole-stage-codegen'd
    assert plan.lstrip().startswith("*("), plan[:200]


def test_vocab_topk_is_heap_topk_not_full_sort(spark, queries):
    """The global top-100 must plan as TakeOrderedAndProject (bounded
    per-partition heap merged on the driver), never a full Sort over a
    range Exchange — at 10^12 tokens a rangepartitioning sort of the
    vocabulary is the difference between 100 rows and the whole
    vocabulary crossing the wire."""
    plan = plan_of(queries["vocab_topk"].fn(spark, SF0001))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_bloom_build_state_is_bounded_and_partial_aggregated(spark):
    """The filter build must partial-aggregate the bit words map-side
    (bit_or is algebraic) so only <= m/32 word rows cross its exchange
    regardless of key count. (The registered query's returned plan holds
    only the probe — the build is collected into the array literal — so
    the build plan is asserted directly; the probe side's no-join/no-
    shuffle property is asserted in test_bloom.py.)"""
    from onnxocr_ray_spark.operators.bloom import bloom_build

    df = spark.createDataFrame([(k,) for k in range(100)], "key long")
    plan = plan_of(bloom_build(df, "key"))
    assert "partial_bit_or" in plan, plan


def test_dedup_semantic_pairs_are_cluster_blocked(spark, queries):
    """The pairwise cosine verify must be cluster-blocked, never a
    CartesianProduct over the corpus; the only nested-loop allowed is
    the K-row broadcast centroid assignment. r6: the verify runs as a
    numpy kernel per cid partition (hashpartitioning(cid) exchange
    feeding MapInArrow) instead of a cid-keyed self-join — assert that
    exchange + kernel shape."""
    plan = plan_of(queries["dedup_semantic"].fn(spark, SF0001))
    assert "CartesianProduct" not in plan
    # the only nested loop is the K-row broadcast centroid assignment
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    # the pairwise stage keys its one exchange on cid and verifies in
    # the arrow kernel — never loops over the corpus
    assert "hashpartitioning(cid" in plan, plan
    assert "MapInArrow" in plan, plan


def test_pack_sequences_windows_per_shard(spark, queries):
    """The packing cumsum must run per hash shard — one hashpartitioning
    exchange on shard with N_SHARDS-way parallelism — not a global
    single-partition window (the classic packing scalability mistake).
    The sole rangepartitioning is the presentation-order sort of the
    final 6-column rows, after the window."""
    plan = plan_of(queries["pack_sequences"].fn(spark, SF0001))
    assert "Exchange hashpartitioning(shard" in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Window") == 1


def test_host_cap_is_group_limited(spark, queries):
    """The per-host top-N must plan as WindowGroupLimit (map-side
    pre-prune before the exchange) — a hot domain contributes N rows to
    the shuffle, not its whole page count."""
    plan = plan_of(queries["host_cap"].fn(spark, SF0001))
    assert "WindowGroupLimit" in plan, plan
