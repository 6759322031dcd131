"""The Arrow batch kernel ``extract_batches``, in-process (no Spark):
its rows equal per-row ``extract_page`` whatever the input batching,
and its output is chunked by the UTF-8 bytes it holds."""

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from dce_spark.core.api import extract_page
from dce_spark.spark import udf
from dce_spark.spark.corpus import fixture_rows, synth_page

_PAGES = (
    [(r["url"], r["html"]) for r in fixture_rows(include_reference=False)]
    + [(f"https://synth.test/{i}", synth_page(i)["html"][:4000]) for i in range(48)]
    + [
        ("https://fixtures.test/null_html", None),
        ("https://fixtures.test/cjk", "<html><body><p>内容提取是网页处理的核心。</p></body></html>".encode()),
        ("https://fixtures.test/bad_utf8", b"\xff\xfe<body><p>\xc3(</p></body>"),
    ]
)


def _expected(url, raw):
    rec = extract_page(raw if raw is not None else b"")
    if raw is None:
        nbytes = 0
    elif isinstance(raw, str):
        nbytes = len(raw.encode("utf-8", errors="replace"))
    else:
        nbytes = len(raw)
    return {
        "url": url,
        "extracted_text": rec["extracted_text"],
        "article_text": rec["article_text"],
        "extracted_md": rec.get("extracted_md"),
        "content_node_spans": rec["content_node_spans"],
        "node_count": rec["node_count"],
        "status": rec["status"],
        "primary_script": rec["primary_script"],
        "content_links": rec.get("content_links", []),
        "bytes_in": nbytes,
    }


def _batches(pages, sizes, html_type):
    schema = pa.schema([("url", pa.string()), ("html", html_type)])
    out = [pa.RecordBatch.from_pylist([], schema=schema)]
    i = 0
    for n in sizes:
        if i >= len(pages):
            break
        chunk = pages[i:i + n]
        i += n
        out.append(pa.RecordBatch.from_pylist(
            [{"url": u, "html": h} for u, h in chunk], schema=schema))
        out.append(pa.RecordBatch.from_pylist([], schema=schema))
    if i < len(pages):
        out.append(pa.RecordBatch.from_pylist(
            [{"url": u, "html": h} for u, h in pages[i:]], schema=schema))
    return out


def _decoded(pages):
    # a string-typed html column carries the page as text
    return [(u, None if h is None else h.decode("utf-8", errors="replace"))
            for u, h in pages]


_EXPECTED = {
    "binary": [_expected(u, h) for u, h in _PAGES],
    "string": [_expected(u, h) for u, h in _decoded(_PAGES)],
}


@settings(max_examples=25, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=64), min_size=1, max_size=8),
    as_string=st.booleans(),
)
def test_batch_rows_equal_per_row_extract_page(sizes, as_string):
    if as_string:
        pages, html_type, expected = _decoded(_PAGES), pa.string(), _EXPECTED["string"]
    else:
        pages, html_type, expected = _PAGES, pa.binary(), _EXPECTED["binary"]
    out = list(udf.extract_batches(iter(_batches(pages, sizes, html_type))))
    assert all(b.num_rows for b in out)
    rows = [r for b in out for r in b.to_pylist()]
    assert rows == expected


def test_empty_input_yields_nothing():
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    assert list(udf.extract_batches(iter([]))) == []
    empty = pa.RecordBatch.from_pylist([], schema=schema)
    assert list(udf.extract_batches(iter([empty, empty]))) == []


def _row_bytes(row):
    # the budget's stated unit: UTF-8 bytes of every string value plus
    # 12 bytes per row (int32 + int64) and 12 per span (3 x int32)
    n = 12 + 12 * len(row["content_node_spans"])
    for k in ("url", "extracted_text", "article_text", "extracted_md",
              "status", "primary_script"):
        n += len((row[k] or "").encode("utf-8"))
    return n + sum(len(link.encode("utf-8")) for link in row["content_links"])


def test_cjk_output_flushes_at_the_byte_bound(monkeypatch):
    body = "".join(f"<p>第{i}段：内容提取是网页处理的核心，正文密度高于导航。</p>"
                   for i in range(40))
    pages = [(f"https://cjk.test/{i}", f"<html><body>{body}</body></html>".encode())
             for i in range(10)]
    schema = pa.schema([("url", pa.string()), ("html", pa.binary())])
    batch = pa.RecordBatch.from_pylist([{"url": u, "html": h} for u, h in pages],
                                       schema=schema)
    whole = [r for b in udf.extract_batches(iter([batch])) for r in b.to_pylist()]
    sizes = [_row_bytes(r) for r in whole]
    text_chars = len(whole[0]["extracted_text"]) + len(whole[0]["article_text"])
    # three UTF-8 bytes per CJK code point: a bound counted in code
    # points would let a batch hold about three times its bytes
    assert sizes[0] > 2.5 * text_chars

    bound = 2 * sizes[0]
    monkeypatch.setattr(udf, "_OUT_BUDGET_BYTES", bound)
    chunks = [b.to_pylist() for b in udf.extract_batches(iter([batch]))]
    assert [len(c) for c in chunks] == [2] * 5
    assert [r for c in chunks for r in c] == whole
    for c in chunks:
        held = [_row_bytes(r) for r in c]
        assert sum(held[:-1]) < bound <= sum(held)
