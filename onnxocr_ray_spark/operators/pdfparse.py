"""PDF layout parse: the north rule's third extraction leg.

The build contract names three extraction modes for Common-Crawl-style
pages: HTML boilerplate strip, **PDF/layout parse**, and DOM heuristics.
The first and third are covered by ``kernels/html.py``; this module
covers the second: documents that arrive as PDF binary payloads, where
"extraction" means structural parsing (xref -> catalog -> page tree ->
content streams), decoding the text-show operators, and recovering
READING ORDER from layout coordinates — the content stream emits spans
in arbitrary order; only their (x, y) positions define the text.

Reference parity note: the reference pipeline (predict_system in
/root/reference/onnxocr/predict_system.py) consumes rasterized pages and
recovers reading order by sorting detected boxes top-to-bottom /
left-to-right (utils sorted_boxes). The PDF leg reproduces exactly that
contract one format earlier: spans carry coordinates natively, and the
same (-y, x) sort yields the byte-identical per-url text invariant.

No external data (build brief): PDFs are synthesized deterministically
from ``documents.text`` by ``synth_pdf`` — a real PDF 1.4 structure
(header, numbered objects, page tree, per-page uncompressed content
streams, byte-exact xref table, trailer), with:

- the text chunked into fixed 48-char lines, 40 lines per page
  (both numbers SQL-computable, so DuckDB can predict n_spans/n_pages);
- span emission order SCRAMBLED by a per-doc hash permutation — a parser
  that concatenates the stream in file order produces garbage;
- three positioning/show forms round-robined per span: absolute ``Tm``
  + literal ``Tj``, ``Td`` + literal ``Tj``, and hex-string
  ``<...> Tj``; every 5th span additionally splits into a kerned
  ``TJ`` array ``[(a) -120 (b)] TJ``;
- PDF literal-string escaping for ``\\ ( ) \\r \\n \\t``; non-ASCII
  text rides as raw UTF-8 bytes (valid in PDF literal strings).

Scale design (100 TB): both synthesis and parse are per-row kernels
behind ``rowmap.map_rows`` (one ``mapInArrow`` each) — zero shuffles,
trivially partition-parallel; a giant PDF is a long row, which the
extraction pipeline's existing size-probe routing
(operators/extract.py) already handles. The parser never materializes
more than one document's spans at a time.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.rowmap import map_rows
from onnxocr_ray_spark.sources.tables import load_table, spread_scan

LINE_CHARS = 48       # chars per synthesized text line (one span each)
PAGE_LINES = 40       # spans per page
_KNUTH = 2654435761   # Fibonacci-hash multiplier for the span permutation

# ---------------------------------------------------------------------------
# synthesis: documents.text -> real PDF bytes
# ---------------------------------------------------------------------------

_ESC = {0x5C: b"\\\\", 0x28: b"\\(", 0x29: b"\\)",
        0x0D: b"\\r", 0x0A: b"\\n", 0x09: b"\\t"}


def _lit(data: bytes) -> bytes:
    """PDF literal string with the spec's backslash escapes."""
    out = bytearray(b"(")
    for by in data:
        out += _ESC.get(by, bytes((by,)))
    out += b")"
    return bytes(out)


def _chunk_lines(text: str) -> List[str]:
    if not text:
        return [""]
    return [text[i:i + LINE_CHARS] for i in range(0, len(text), LINE_CHARS)]


def _span_ops(doc_id: int, j: int, line: str) -> bytes:
    """One complete BT..ET text object for line j (page-local index)."""
    x = 72
    y = 780 - 14 * (j % PAGE_LINES)
    size = 10 + ((doc_id + j) % 3)
    raw = line.encode("utf-8")
    form = (doc_id + j) % 3
    if form == 0:
        pos = b"1 0 0 1 %d %d Tm" % (x, y)
    else:
        pos = b"%d %d Td" % (x, y)
    if form == 2:
        show = b"<" + raw.hex().encode() + b"> Tj"
    elif (doc_id + j) % 5 == 0 and len(raw) >= 2:
        mid = len(line) // 2  # split at a CHAR boundary, then re-encode
        show = (b"[" + _lit(line[:mid].encode("utf-8")) + b" -120 "
                + _lit(line[mid:].encode("utf-8")) + b"] TJ")
    else:
        show = _lit(raw) + b" Tj"
    return b"BT /F1 %d Tf %s %s ET" % (size, pos, show)


def _permute(n: int, doc_id: int) -> List[int]:
    """Deterministic permutation of range(n): sort by a Fibonacci hash."""
    return sorted(range(n), key=lambda j: ((j + 1) * _KNUTH ^ doc_id) & 0xFFFFFFFF)


def synth_pdf_bytes(doc_id: int, text: str) -> bytes:
    """A complete single-file PDF 1.4 for one document (see module doc)."""
    lines = _chunk_lines(text)
    pages = [lines[i:i + PAGE_LINES] for i in range(0, len(lines), PAGE_LINES)]

    # object numbering: 1=catalog, 2=pages, then (page, content) pairs,
    # finally the font object.
    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    objs: List[bytes] = []
    kids = " ".join(f"{3 + 2 * k} 0 R" for k in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [%s] /Count %d >>"
                % (kids.encode(), n_pages))
    for k, page_lines in enumerate(pages):
        content_num = 4 + 2 * k
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 %d 0 R >> >> >>"
            % (content_num, font_num))
        base = k * PAGE_LINES
        order = _permute(len(page_lines), doc_id + k)
        body = b"\n".join(
            _span_ops(doc_id, base + j, page_lines[j]) for j in order)
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream"
                    % (len(body), body))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for i, payload in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + payload + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objs) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_at))
    return bytes(buf)


def synth_pdf(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, pdf:binary), one PDF per row."""

    def pdf_row(doc_id, text):
        return [(synth_pdf_bytes(doc_id, text if isinstance(text, str) else ""),)]

    return map_rows(docs, ["doc_id", "text"], lambda: pdf_row,
                    "doc_id long, pdf binary", carry=["doc_id"])


# ---------------------------------------------------------------------------
# parse: PDF bytes -> layout spans -> reading-order text
# ---------------------------------------------------------------------------

_UNESC = {0x5C: b"\\", 0x28: b"(", 0x29: b")",
          0x72: b"\r", 0x6E: b"\n", 0x74: b"\t",
          0x62: b"\b", 0x66: b"\f"}
_DELIMS = frozenset(b"()<>[]{}/% \t\r\n\x00\x0c")


def _scan_literal(data: bytes, i: int) -> Tuple[bytes, int]:
    """Scan a literal string starting at data[i] == '('; returns (bytes,
    index past ')'). Handles the escape subset plus octal + nesting."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth:
        by = data[i]
        if by == 0x5C:  # backslash
            nxt = data[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                k, val = 0, 0
                while k < 3 and i + 1 < n and 0x30 <= data[i + 1] <= 0x37:
                    val = val * 8 + (data[i + 1] - 0x30)
                    i += 1
                    k += 1
                out.append(val & 0xFF)
            else:
                out += _UNESC.get(nxt, bytes((nxt,)))
                i += 1
        elif by == 0x28:
            depth += 1
            out.append(by)
        elif by == 0x29:
            depth -= 1
            if depth:
                out.append(by)
        else:
            out.append(by)
        i += 1
    return bytes(out), i


def _tokenize_content(data: bytes):
    """Yield ('str', bytes) | ('num', float) | ('op', name) tokens."""
    i, n = 0, len(data)
    while i < n:
        by = data[i]
        if by in b" \t\r\n\x00\x0c":
            i += 1
        elif by == 0x28:  # (
            s, i = _scan_literal(data, i)
            yield ("str", s)
        elif by == 0x3C:  # < hex string (content streams here never use <<)
            j = data.index(b">", i)
            hx = bytes(c for c in data[i + 1:j] if c not in b" \t\r\n")
            if len(hx) % 2:
                hx += b"0"
            yield ("str", bytes.fromhex(hx.decode()))
            i = j + 1
        elif by in b"[]":
            i += 1  # array markers are no-ops: TJ concatenates str operands
        else:
            j = i
            while j < n and data[j] not in _DELIMS:
                j += 1
            word = data[i:j]
            i = j if j > i else i + 1
            if not word:
                continue
            try:
                yield ("num", float(word))
            except ValueError:
                yield ("op", word.decode("latin-1"))


def _page_spans(content: bytes) -> List[Tuple[float, float, bytes]]:
    """(y, x, text-bytes) for every show op in one content stream."""
    spans: List[Tuple[float, float, bytes]] = []
    nums: List[float] = []
    strs: List[bytes] = []
    x = y = 0.0
    for kind, val in _tokenize_content(content):
        if kind == "num":
            nums.append(val)
        elif kind == "str":
            strs.append(val)
        else:
            if val == "BT":
                x = y = 0.0
            elif val in ("Td", "TD") and len(nums) >= 2:
                x, y = x + nums[-2], y + nums[-1]
            elif val == "Tm" and len(nums) >= 6:
                x, y = nums[-2], nums[-1]
            elif val in ("Tj", "TJ") and strs:
                spans.append((y, x, b"".join(strs)))
            nums.clear()
            strs.clear()
    return spans


def _obj_at(data: bytes, off: int) -> bytes:
    """Object payload at byte offset off (past 'N 0 obj', before endobj)."""
    start = data.index(b"obj", off) + 3
    end = data.index(b"endobj", start)
    return data[start:end]


def _ref_after(obj: bytes, key: bytes) -> Optional[int]:
    i = obj.find(key)
    if i < 0:
        return None
    return int(obj[i + len(key):].split(None, 2)[0])


def parse_pdf_bytes(data: bytes) -> Tuple[str, int, int]:
    """Structural parse: returns (reading-order text, n_spans, n_pages).

    Walks startxref -> xref table -> trailer /Root -> /Pages -> /Kids ->
    per-page /Contents, then sorts each page's spans by (-y, x) — the
    same top-to-bottom/left-to-right rule as the reference's
    sorted_boxes — and concatenates pages in Kids order.
    """
    tail = data[data.rindex(b"startxref"):]
    xref_at = int(tail.split(b"\n")[1])
    xref = data[xref_at:]
    hdr = xref.split(b"\n", 2)
    first, count = (int(v) for v in hdr[1].split())
    entries = xref[len(hdr[0]) + len(hdr[1]) + 2:]
    offsets = {}
    for k in range(count):
        row = entries[k * 20:(k + 1) * 20]
        if row[17:18] == b"n":
            offsets[first + k] = int(row[:10])
    trailer = data[data.rindex(b"trailer"):]
    root = _ref_after(trailer, b"/Root")
    pages_ref = _ref_after(_obj_at(data, offsets[root]), b"/Pages")
    pages_obj = _obj_at(data, offsets[pages_ref])
    kids_src = pages_obj[pages_obj.index(b"/Kids"):]
    kids_src = kids_src[kids_src.index(b"[") + 1:kids_src.index(b"]")]
    kid_nums = [int(v) for v in kids_src.split()[0::3]]

    parts: List[str] = []
    n_spans = 0
    for kid in kid_nums:
        page_obj = _obj_at(data, offsets[kid])
        content_ref = _ref_after(page_obj, b"/Contents")
        # slice the body by the dict's /Length — exact, and immune to
        # marker-lookalike bytes ("endstream", "endobj") inside the text
        coff = offsets[content_ref]
        s = data.index(b"stream", coff)
        length = int(data[data.index(b"/Length", coff) + 7:s].split()[0])
        body_at = s + (7 if data[s + 6:s + 7] == b"\n" else 8)
        body = data[body_at:body_at + length]
        spans = _page_spans(body)
        spans.sort(key=lambda t: (-t[0], t[1]))
        n_spans += len(spans)
        parts.append(b"".join(t[2] for t in spans).decode("utf-8"))
    return "".join(parts), n_spans, len(kid_nums)


PDF_TEXT_SCHEMA = ("doc_id long, pdf_text string, n_spans long, "
                   "n_pages long, parse_ok boolean")


def _parse_row(payload) -> List[Tuple[Optional[str], int, int, bool]]:
    """[(pdf_text, n_spans, n_pages, parse_ok)] — the shared per-payload
    row of pdf_extract and read_pdf_dir; a malformed payload yields a
    failure row instead of failing the task."""
    try:
        return [(*parse_pdf_bytes(bytes(payload)), True)]
    except Exception:
        return [(None, 0, 0, False)]


def pdf_extract(pdfs: DataFrame, pdf_col: str = "pdf") -> DataFrame:
    """(doc_id, pdf:binary) -> reading-order text + layout stats.

    Malformed payloads yield parse_ok=false with null text instead of
    failing the task (a 10^12-doc crawl always contains broken files).
    """
    return map_rows(pdfs, [pdf_col], lambda: _parse_row, PDF_TEXT_SCHEMA,
                    carry=["doc_id"])


# ---------------------------------------------------------------------------
# driver-contract query
# ---------------------------------------------------------------------------

_N_SPANS_SQL = f"GREATEST(CAST(ceil(length(text) / {LINE_CHARS}.0) AS BIGINT), 1)"


@register(
    "pdf_extract_text",
    priority=12,  # new this round: into the checked window
    sql=f"""
    SELECT doc_id,
           text AS pdf_text,
           {_N_SPANS_SQL} AS n_spans,
           GREATEST(CAST(ceil({_N_SPANS_SQL} / {PAGE_LINES}.0) AS BIGINT), 1)
             AS n_pages
    FROM documents
    ORDER BY doc_id
    """,
    doc=("north rule 'PDF/layout parse': synthesize real PDF 1.4 binaries "
         "(scrambled span order, Td/Tm/hex/TJ forms, byte-exact xref) from "
         "documents.text, then structurally parse them back — xref walk, "
         "page tree, content-stream tokenizer, (-y,x) reading-order sort. "
         "Oracle checks byte-identical text roundtrip + span/page counts."),
)
def pdf_extract_text_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: spread the single-row-group scan — synth+parse ran serially
    # on one core without it (measured 19.2 s at sf1.0)
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    parsed = pdf_extract(synth_pdf(docs))
    return (parsed
            .select("doc_id", "pdf_text", "n_spans", "n_pages")
            .orderBy("doc_id"))


def read_pdf_dir(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """Loose PDF files -> extracted rows: the crawl-archive-style src
    function for PDF corpora (mirrors sources/warc.py::read_pdf side of
    read_warc). Each file is one document; output carries the file URI,
    modification time, recovered reading-order text, and layout stats.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path").alias("url"),
            F.col("modificationTime").alias("warc_ts"),
            F.col("content").alias("pdf"),
        )
    )
    return map_rows(
        raw, ["pdf"], lambda: _parse_row,
        ("url string, warc_ts timestamp, pdf_text string, "
         "n_spans long, n_pages long, parse_ok boolean"),
        carry=["url", "warc_ts"],
    )
