"""Arrow hot-path plumbing (operators/extract.py mapInArrow helpers).

The fused stage decodes html straight from Arrow buffers
(_binary_view + _decode_mv) instead of materializing per-row bytes via
pandas; these tests pin that plumbing to the reference-semantics
``decode_html`` (kernels/html.py:42) and check the byte-budget chunker's
cut points, Spark-free. End-to-end byte-identity of the Arrow stages is
covered by tests/test_extract_parity.py as before.
"""

import numpy as np
import pyarrow as pa

from onnxocr_ray_spark.kernels.html import decode_html
from onnxocr_ray_spark.operators.extract import (
    _binary_view,
    _chunk_bounds,
    _decode_mv,
)

PAYLOADS = [
    b"<p>hello</p>",
    None,
    b"",
    "<p>unicode é中文 \U0001f600</p>".encode("utf-8"),
    b"\xff\xfe invalid utf8",
    b"\xc3",  # truncated multi-byte sequence
    b"plain text no tags",
    "tail " .encode("utf-8") * 1000,
]


def _decoded_via_arrow(payloads, typ):
    arr = pa.array(payloads, type=typ)
    offs, mv, nulls = _binary_view(arr)
    out = []
    for i in range(len(arr)):
        if nulls is not None and nulls[i]:
            out.append(None)
        else:
            out.append(_decode_mv(mv, offs[i], offs[i + 1]))
    return out


def test_decode_mv_matches_decode_html():
    for typ in (pa.binary(), pa.large_binary()):
        got = _decoded_via_arrow(PAYLOADS, typ)
        want = [decode_html(p) for p in PAYLOADS]
        assert got == want


def test_decode_mv_matches_on_sliced_array():
    arr = pa.array(PAYLOADS, type=pa.binary()).slice(2, 5)
    offs, mv, nulls = _binary_view(arr)
    got = [
        None if (nulls is not None and nulls[i]) else _decode_mv(mv, offs[i], offs[i + 1])
        for i in range(len(arr))
    ]
    assert got == [decode_html(p) for p in PAYLOADS[2:7]]


def test_binary_view_all_null_column():
    arr = pa.array([None, None], type=pa.binary())
    offs, mv, nulls = _binary_view(arr)
    assert nulls is not None and nulls.all()
    assert list(np.diff(offs)) == [0, 0]


def test_chunk_bounds_cover_and_respect_budget():
    rng = np.random.RandomState(7)
    for n in (0, 1, 5, 64):
        sizes = rng.randint(0, 5000, size=n)
        for budget in (1, 1000, 10_000, 1 << 30):
            got = list(_chunk_bounds(sizes, budget))
            if n == 0:
                assert got == []
                continue
            # contiguous ranges covering [0, n)
            assert got[0][0] == 0 and got[-1][1] == n
            assert all(lo < hi for lo, hi in got)
            assert all(a[1] == b[0] for a, b in zip(got, got[1:]))
            # a non-final range closes at the first size that reaches the budget
            for lo, hi in got[:-1]:
                total = int(sizes[lo:hi].sum())
                assert total >= budget, (n, budget, lo, hi)
                assert total - int(sizes[hi - 1]) < budget, (n, budget, lo, hi)
