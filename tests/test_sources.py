"""Source surface: binaryFile ingestion (src_files analog)."""

import os
import shutil
import tempfile

import pytest

from onnxocr_ray_spark.operators.extract import extract
from onnxocr_ray_spark.sources.files import read_html_dir


@pytest.fixture()
def html_dir():
    d = tempfile.mkdtemp(prefix="htmlsrc_")
    with open(os.path.join(d, "a.html"), "w") as f:
        f.write("<p>honest content paragraph one two three</p>")
    with open(os.path.join(d, "b.html"), "w") as f:
        f.write('<nav><a href="/">Home</a></nav>\n<p>second document body text</p>')
    with open(os.path.join(d, "ignored.txt"), "w") as f:
        f.write("not html")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_html_dir_shape_and_extract(spark, html_dir):
    pages = read_html_dir(spark, html_dir)
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    rows = pages.collect()
    assert len(rows) == 2  # glob filtered the .txt
    out = {r.url.rsplit("/", 1)[-1]: r for r in extract(pages).collect()}
    assert "honest content paragraph" in out["a.html"].extracted_text
    assert "second document body" in out["b.html"].extracted_text
    assert "Home" not in out["b.html"].extracted_text  # nav stripped


def test_b64_jsonl_source_roundtrips_into_extract(spark, tmp_path):
    """src_base64 analog: base64-wire JSONL records decode JVM-side into
    the pages shape and run through the full pipeline."""
    import base64
    import json

    from onnxocr_ray_spark.operators.extract import extract
    from onnxocr_ray_spark.sources.files import read_b64_jsonl
    from onnxocr_ray_spark.sources.pages import page_url, synth_page

    recs = []
    for i in (2, 12, 26):
        html = synth_page(i, "some words here for extraction test " * 5, "en")
        recs.append(
            {
                "url": page_url(i, "en"),
                "ts": "2025-01-01 00:00:00",
                "html_b64": base64.b64encode(html).decode(),
            }
        )
    p = tmp_path / "pages.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in recs))
    pages = read_b64_jsonl(spark, str(tmp_path))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = extract(pages).collect()
    assert len(out) == 3 and all(r.n_spans > 0 for r in out)


def test_iceberg_gate_and_parquet_fallback(spark, monkeypatch):
    """No Iceberg runtime ships in this sandbox: the classpath gate must
    report False and load_table must fall back to the parquet scan even
    when a catalog is configured (the documented degraded mode)."""
    from onnxocr_ray_spark.sources.tables import iceberg_available, load_table
    from tests.conftest import SF0001

    assert iceberg_available(spark) is False
    monkeypatch.setenv("SPARK_GRAFT_CATALOG", "prod_catalog.crawl")
    df = load_table(spark, SF0001, "documents")
    assert df.count() > 0  # parquet fallback served the read


def test_load_table_sees_a_rewritten_table(spark, tmp_path):
    """A table rewritten in the session is read as rewritten, not through
    the memoized handle's old file listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from onnxocr_ray_spark.sources.tables import load_table

    table = tmp_path / "documents.parquet"
    table.mkdir()
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), str(table / "part-0.parquet"))
    assert sorted(r.doc_id for r in load_table(spark, str(tmp_path), "documents").collect()) == [1, 2, 3]
    pq.write_table(pa.table({"doc_id": list(range(10, 20))}), str(table / "part-1.parquet"))
    got = sorted(r.doc_id for r in load_table(spark, str(tmp_path), "documents").collect())
    assert got == [1, 2, 3] + list(range(10, 20))
