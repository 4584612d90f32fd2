"""rowmap.map_rows: the one Arrow crossing of the per-row Python kernels."""

import datetime
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pytest

from onnxocr_ray_spark.rowmap import map_rows


def _per_row(f):
    return lambda: f


def test_rows_give_zero_one_or_many_and_carry_repeats(spark):
    df = spark.createDataFrame(
        [(i, f"s{i}", datetime.datetime(2024, 1, 1, 0, 0, i)) for i in range(9)],
        "id long, tag string, ts timestamp",
    )
    # row i gives i % 3 rows: 0, 1 or 2
    out = map_rows(
        df, ["id"], _per_row(lambda i: [(i * 10 + k,) for k in range(i % 3)]),
        "tag string, k long, ts timestamp", carry=["tag", "ts"],
    ).collect()
    want = sorted(
        (f"s{i}", i * 10 + k, datetime.datetime(2024, 1, 1, 0, 0, i))
        for i in range(9) for k in range(i % 3)
    )
    assert sorted(tuple(r) for r in out) == want
    assert [f.name for f in map_rows(df, ["id"], _per_row(lambda i: [(i,)]),
                                     "tag string, k long", carry=["tag"]).schema] == ["tag", "k"]


def test_null_input_reaches_f_as_none(spark):
    df = spark.createDataFrame([(1, "a"), (2, None), (3, "")], "id long, text string")
    out = map_rows(
        df, ["text"], _per_row(lambda t: [(t is None, t)]),
        "id long, is_none boolean, text string", carry=["id"],
    ).collect()
    assert sorted(tuple(r) for r in out) == [(1, False, "a"), (2, True, None), (3, False, "")]


def test_kernel_runs_once_per_task_not_per_batch(spark):
    def kernel():
        token = object()  # one per kernel() call
        return lambda _id: [(id(token),)]

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        df = spark.range(0, 20, numPartitions=2)
        # the forced conf really cuts each 10-row task into several batches
        sizes = [r.n for r in df.mapInArrow(
            lambda it: (pa.RecordBatch.from_pydict({"n": [b.num_rows]}) for b in it),
            "n long",
        ).collect()]
        assert max(sizes) <= 3 and len(sizes) >= 8, sizes
        out = map_rows(df, ["id"], kernel, "id long, token long", carry=["id"]).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted(r.id for r in out) == list(range(20))
    tokens = {}
    for r in out:
        tokens.setdefault(r.id // 10, set()).add(r.token)
    assert [len(t) for t in tokens.values()] == [1, 1]


def test_empty_partitions_and_empty_input(spark):
    f = _per_row(lambda i: [(i + 1,)])
    df = spark.range(0, 12, numPartitions=4).filter("id < 2")  # 3 partitions empty
    assert sorted(r.nxt for r in map_rows(df, ["id"], f, "id long, nxt long",
                                          carry=["id"]).collect()) == [1, 2]
    none = spark.range(0, 0, numPartitions=3)
    assert map_rows(none, ["id"], f, "id long, nxt long", carry=["id"]).collect() == []


def test_streaming_input(spark):
    d = tempfile.mkdtemp(prefix="rowmap_stream_")
    try:
        spark.createDataFrame([(i, "a b c"[: i + 1]) for i in range(5)],
                              "doc_id long, text string").repartition(2).write.parquet(f"{d}/in")
        stream = spark.readStream.schema("doc_id long, text string").parquet(f"{d}/in")
        mapped = map_rows(stream, ["text"], _per_row(lambda t: [(w,) for w in t.split(" ")]),
                          "doc_id long, word string", carry=["doc_id"])
        q = mapped.writeStream.format("memory").queryName("rowmap_stream").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(tuple(r) for r in spark.table("rowmap_stream").collect())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    want = sorted((i, w) for i in range(5) for w in "a b c"[: i + 1].split(" "))
    assert got == want


def test_mm_decode_reports_fake_decoder_even_with_cv2_importable(spark):
    """The decode kernel always runs the fake decoder, so it must say so
    whatever codec modules happen to import: a fresh import of the module
    (its own interpreter, so this session's query registry is untouched)
    with a stub ``cv2`` importable still labels its rows ``fake``."""
    probe = (
        "import sys, types\n"
        "sys.modules['cv2'] = types.ModuleType('cv2')\n"
        "from onnxocr_ray_spark.operators import multimodal as mm\n"
        "payload = bytes(range(256)) * 3\n"
        "[row] = mm._feature_row(payload)\n"
        "h, w, c, feat = mm._decode_image_fake(payload)\n"
        "assert row == (len(payload), w, h, c, feat, 'fake'), row\n"
        "assert mm._feature_row(None)[0][-1] == 'fake'\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", probe], cwd=root, check=True)

    from onnxocr_ray_spark.operators.multimodal import mm_decode_features

    payloads = spark.createDataFrame(
        [(1, bytearray(b"\x00\xff" * 40)), (2, None)], "doc_id long, payload binary")
    got = {r.doc_id: r.decoder for r in mm_decode_features(payloads).collect()}
    assert got == {1: "fake", 2: "fake"}
