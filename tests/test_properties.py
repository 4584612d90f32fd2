"""Property-based kernel tests (hypothesis) — invariants that must hold
for ANY input, complementing the example-based suite."""

import hypothesis.strategies as st
from hypothesis import given, settings

from onnxocr_ray_spark.config import DEFAULT_CONFIG
from onnxocr_ray_spark.kernels.classify import classify_angle
from onnxocr_ray_spark.kernels.pipeline import extract_document
from onnxocr_ray_spark.kernels.recognize import ctc_normalize, pack_batches
from onnxocr_ray_spark.kernels.sort import sorted_boxes

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_ctc_normalize_idempotent(s):
    once = ctc_normalize(s)
    assert ctc_normalize(once) == once


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_ctc_normalize_no_runs_no_edges(s):
    out = ctc_normalize(s)
    assert "  " not in out
    assert out == out.strip()


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_classify_angle_valid_posterior(s):
    label, conf = classify_angle(s)
    assert label in ("0", "180")
    assert 0.0 <= conf <= 1.0
    # the reported confidence is always the winning side's posterior
    assert conf >= 0.5 or label == "0"


@given(
    st.lists(st.floats(min_value=0.01, max_value=1000.0, allow_nan=False), max_size=40),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=200, deadline=None)
def test_pack_batches_invariants(ratios, batch_num):
    batch_id, rec_width, pos = pack_batches(ratios, batch_num, 48, 320.0 / 48.0)
    n = len(ratios)
    assert sorted(pos) == list(range(n))          # a permutation
    for i in range(n):
        # every item's width is >= its own required width and >= seed
        assert rec_width[i] >= int(48 * ratios[i]) - 1
        assert rec_width[i] >= 320
        # batch ids are the chunk of the sorted position
        assert batch_id[i] == pos[i] // batch_num


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=100),
        ),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_sorted_boxes_is_permutation_and_deterministic(pts):
    items = [{"y": y, "x": x, "i": i} for i, (y, x) in enumerate(pts)]
    out = sorted_boxes(items, y0=lambda b: b["y"], x0=lambda b: b["x"])
    assert sorted(b["i"] for b in out) == list(range(len(items)))
    out2 = sorted_boxes(list(items), y0=lambda b: b["y"], x0=lambda b: b["x"])
    assert [b["i"] for b in out] == [b["i"] for b in out2]


@given(st.binary(max_size=2000))
@settings(max_examples=100, deadline=None)
def test_extract_document_total_on_arbitrary_bytes(payload):
    """The pipeline must be total: any byte string yields a DocResult,
    never an exception, and is deterministic."""
    a = extract_document(payload, DEFAULT_CONFIG)
    b = extract_document(payload, DEFAULT_CONFIG)
    assert a.checksum == b.checksum
    assert a.n_spans == len(a.spans)
    assert all(s.score >= DEFAULT_CONFIG.drop_score for s in a.spans)


@given(st.lists(text_st, min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_scalar_simhash_matches_duckdb_on_arbitrary_text(texts):
    """Portability fuzz: the scalar simhash (streaming path) and the
    DuckDB _SIMHASH_SQL (the batch oracle) must agree on ANY unicode
    payload — exotic whitespace, RTL, control chars, quotes."""
    import duckdb

    from onnxocr_ray_spark.operators.dedup import _SIMHASH_SQL, simhash_of

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)", list(enumerate(texts))
    )
    got = dict(con.sql(_SIMHASH_SQL).fetchall())
    for i, t in enumerate(texts):
        assert simhash_of(t) == got[i], (i, repr(t))


@given(st.lists(text_st, min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_py_shingles_match_duckdb_on_arbitrary_text(texts):
    """Same portability fuzz for the shingle kernel (_py_shingles vs the
    _SH_SQL oracle CTE). Found in round 4: bare DuckDB trim() strips
    unicode whitespace (NBSP etc.) while Spark trim / Python .strip(' ')
    are ASCII-space-only — every oracle now pins trim(text, ' ')."""
    import duckdb

    from onnxocr_ray_spark.operators.dedup import _SH_SQL, _py_shingles

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents "
        "(doc_id BIGINT, text VARCHAR, lang VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO documents VALUES (?, ?, 'en', 1)",
        [(i, t) for i, t in enumerate(texts)],
    )
    sh = {r[0]: r[3] for r in con.sql(_SH_SQL).fetchall()}
    for i, t in enumerate(texts):
        assert _py_shingles(t) == sh.get(i, []), (i, repr(t))


# Greek and Turkish case pairs (final sigma, dotted and dotless I), a
# Cyrillic pair, and the space the mirrors split on
_CASE_ALPHABET = "ΑαΒβΔδΟοΣσςΆάΪϊΐİiIıŞşĞğДдЯя "


@given(st.lists(st.text(alphabet=_CASE_ALPHABET, max_size=16), min_size=1, max_size=8))
@settings(max_examples=25, deadline=None)
def test_python_lower_mirrors_match_spark_lower(spark, texts):
    """The Python mirrors of lower(trim(text, ' ')) in _py_shingles and
    simhash_of agree with Spark's lower() on non-Latin case pairs, final
    sigma and İ included (DuckDB's lower() does not: see _SH_SQL)."""
    from pyspark.sql import functions as F

    from onnxocr_ray_spark.operators.dedup import _py_shingles, _shingles_expr, simhash_of

    texts = texts + ["ΟΔΟΣ ΟΔΟΣ", "İSTANBUL İzmir ΣΑΣ"]
    jvm = (
        spark.createDataFrame([(t,) for t in texts], "text string")
        .select(F.lower(F.trim("text")), _shingles_expr(F.col("text")))
        .collect()
    )
    for t, (low, shingles) in zip(texts, jvm):
        assert _py_shingles(t) == shingles, (repr(t), repr(low))
        assert simhash_of(t) == simhash_of(low), (repr(t), repr(low))


# --- round-5 container formats: synthesis/parse roundtrip fuzz ---

@given(st.integers(0, 2**31 - 1), st.text(max_size=4000))
@settings(max_examples=200, deadline=None)
def test_pdf_roundtrip_fuzz(doc_id, text):
    """Any unicode payload survives PDF synthesis -> structural parse
    byte-identically, with span/page counts matching the chunk rule."""
    from onnxocr_ray_spark.operators.pdfparse import (
        LINE_CHARS, PAGE_LINES, parse_pdf_bytes, synth_pdf_bytes)

    got, n_spans, n_pages = parse_pdf_bytes(synth_pdf_bytes(doc_id, text))
    assert got == text
    assert n_spans == max(-(-len(text) // LINE_CHARS), 1)
    assert n_pages == max(-(-n_spans // PAGE_LINES), 1)


@given(st.integers(0, 2**31 - 1), st.text(max_size=4000))
@settings(max_examples=200, deadline=None)
def test_warc_roundtrip_fuzz(doc_id, text):
    """Any unicode payload survives WARC synthesis -> gzip-member walk ->
    HTTP unwrap byte-identically, incl. payloads full of record/header
    lookalikes (the Content-Length walk must never resynchronize on
    content)."""
    from onnxocr_ray_spark.sources.warc import (
        URI_PREFIX, parse_warc_blob, synth_record_bytes)

    recs = parse_warc_blob(synth_record_bytes(doc_id, text))
    assert len(recs) == 1
    assert recs[0]["payload"].decode("utf-8") == text
    assert recs[0]["uri"] == f"{URI_PREFIX}{doc_id}"
    assert recs[0]["http_status"] == 200
