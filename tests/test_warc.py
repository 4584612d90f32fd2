"""WARC container source: synthesis + structural parse invariants.

The oracle-alignment suite runs `warc_ingest_roundtrip` vs DuckDB; these
pin the adversarial properties a crawl archive actually exercises.
"""

import gzip

import pytest

from onnxocr_ray_spark.sources.warc import (
    URI_PREFIX,
    parse_warc_blob,
    read_warc,
    synth_record_bytes,
    synth_warc,
    warc_records,
)

ADVERSARIAL = [
    "",
    "plain ascii",
    "WARC/1.0\r\nContent-Length: 99\r\n\r\nfake record header inside payload",
    "HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\nnested http lookalike",
    "unicode: éß中文 \U0001f600 mixed",
    "\r\n\r\n\r\n blank-line soup \r\n\r\n",
    "x" * 100000,
]


def _blob(texts, base=1000):
    return b"".join(synth_record_bytes(base + i, t) for i, t in enumerate(texts))


def test_roundtrip_payloads_and_headers():
    recs = parse_warc_blob(_blob(ADVERSARIAL))
    assert len(recs) == len(ADVERSARIAL)
    for i, (t, r) in enumerate(zip(ADVERSARIAL, recs)):
        assert r["payload"].decode("utf-8") == t
        assert r["uri"] == f"{URI_PREFIX}{1000 + i}"
        assert r["http_status"] == 200
        assert r["warc_type"] == "response"


def test_synthesis_is_byte_deterministic():
    assert _blob(ADVERSARIAL) == _blob(ADVERSARIAL)  # mtime=0 pin


def test_plain_uncompressed_warc_parses_too():
    plain = b"".join(gzip.decompress(synth_record_bytes(i, f"doc {i}")) for i in range(3))
    recs = parse_warc_blob(plain)
    assert [r["payload"] for r in recs] == [b"doc 0", b"doc 1", b"doc 2"]


def test_truncated_blob_yields_walked_prefix():
    blob = _blob(ADVERSARIAL)
    recs = parse_warc_blob(blob[: len(blob) // 2])
    assert 0 < len(recs) < len(ADVERSARIAL)  # no exception, partial result


def test_garbage_is_not_fatal():
    assert parse_warc_blob(b"not a warc at all") == []
    assert parse_warc_blob(b"") == []


def test_spark_roundtrip_and_shuffle_free_plan(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "doc_id long, text string"
    )
    recs = warc_records(synth_warc(docs))
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # synth_warc + the record walk, chained over the scan
    got = {r["doc_id"]: r for r in recs.collect()}
    for i, t in enumerate(ADVERSARIAL):
        assert got[i]["payload"] == t
        assert got[i]["payload_len"] == len(t.encode("utf-8"))


def test_read_warc_pages_shape(spark, tmp_path):
    (tmp_path / "seg-00000.warc.gz").write_bytes(_blob(["alpha", "beta"], base=7))
    (tmp_path / "ignored.txt").write_bytes(b"nope")
    pages = read_warc(spark, str(tmp_path))
    rows = {r["url"]: r for r in pages.collect()}
    assert set(rows) == {f"{URI_PREFIX}7", f"{URI_PREFIX}8"}
    assert bytes(rows[f"{URI_PREFIX}7"]["html"]) == b"alpha"
    assert rows[f"{URI_PREFIX}7"]["warc_ts"] is not None
    assert pages.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>"
    )


def test_read_warc_feeds_extraction_pipeline(spark, tmp_path):
    """The whole point of the source: a user points the flagship
    extraction at a directory of .warc.gz crawl archives. The payloads
    here are real synthesized pages so extract() produces spans."""
    from onnxocr_ray_spark.operators.extract import extract
    from onnxocr_ray_spark.sources.pages import pages_local

    pages = pages_local([(7, "Doc 7 alpha beta", "en"), (8, "Doc 8 gamma", "en")])
    blob = b"".join(
        synth_record_bytes(i, html.decode("utf-8"))
        for i, (_url, html) in zip((7, 8), pages)
    )
    (tmp_path / "seg.warc.gz").write_bytes(blob)
    out = extract(read_warc(spark, str(tmp_path))).collect()
    assert len(out) == 2
    assert all(r["n_spans"] > 0 and r["checksum"] for r in out)


def test_dirty_record_costs_only_itself_not_the_blob():
    """Review finding: a record with a broken HTTP envelope (bad status
    line / unparsable Content-Length) must degrade to a raw-body record
    while the blob's OTHER records parse normally."""
    good1 = synth_record_bytes(1, "good one")
    dirty_http = b"HTTP/1.1\r\nContent-Length: abc\r\n\r\nbody here"
    hdr = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://crawl.example/doc/2\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(dirty_http)}\r\n\r\n"
    ).encode()
    import gzip as _gz
    dirty = _gz.compress(hdr + dirty_http + b"\r\n\r\n", mtime=0)
    good2 = synth_record_bytes(3, "good two")
    recs = parse_warc_blob(good1 + dirty + good2)
    assert [r["payload"] for r in recs] == [b"good one", dirty_http, b"good two"]
    assert recs[1]["http_status"] is None  # degraded, not dropped


def test_missing_content_length_takes_rest_of_body():
    """Chunked-style responses (no Content-Length) must keep the whole
    body, not a header-offset-sized slice."""
    body = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + b"x" * 500
    hdr = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://crawl.example/doc/4\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode()
    import gzip as _gz
    recs = parse_warc_blob(_gz.compress(hdr + body + b"\r\n\r\n", mtime=0))
    assert recs[0]["payload"] == b"x" * 500
    assert recs[0]["http_status"] == 200


def test_corrupt_gzip_tail_keeps_walked_prefix():
    blob = _blob(["alpha", "beta"]) + b"GARBAGE-NOT-GZIP"
    recs = parse_warc_blob(blob)
    assert [r["payload"] for r in recs] == [b"alpha", b"beta"]
