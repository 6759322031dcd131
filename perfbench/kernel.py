"""In-process layers: the per-page CETD kernel split into its modules,
the Arrow batch UDF around it, and the golden-row correctness gate.

Layer spans wrap calls to each module's public functions from here;
``core.kernel`` wraps the library's own ``extract_page`` on the same
page, so the sum of the layer spans can be checked against it."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import ROOT, local_digest

LAYERS = (
    "core.api.decode",
    "core.htmlparse.parse",
    "core.cetd.build",
    "core.cetd.select",
    "core.textnorm.script",
)
CHUNK_ROWS = 64


def _layered(raw, url, tracer):
    """extract_page(raw, mode="both") rebuilt from the public module
    functions, one span per layer; returns the record and its counts."""
    from dce_spark.core.api import decode_html
    from dce_spark.core.cetd import DensityTree
    from dce_spark.core.htmlparse import KIND_TEXT, parse_html
    from dce_spark.core.textnorm import detect_primary_script

    with tracer.span("core.layers", url):
        with tracer.span("core.api.decode", url):
            text = decode_html(raw)
        with tracer.span("core.htmlparse.parse", url):
            doc = parse_html(text)
        with tracer.span("core.cetd.build", url):
            dtree = DensityTree(doc)
        with tracer.span("core.cetd.select", url):
            dtree.calculate_density_sum()
            extracted, spans = dtree.extract_content(with_spans=True)
            sn = dtree.sorted_nodes()
            links = dtree.node_links(int(sn[-1])) if len(sn) else []
            article = dtree.extract_article()
        with tracer.span("core.textnorm.script", url):
            script = detect_primary_script(extracted)
    rec = {
        "extracted_text": extracted,
        "article_text": article,
        "content_node_spans": [{"node_index": n, "start": s, "end": e} for n, s, e in spans],
        "node_count": dtree.node_count(),
        "status": "ok",
        "primary_script": script,
        "content_links": links,
    }
    counts = {
        "nodes": len(doc),
        "text_nodes": sum(1 for k in doc.kind if k == KIND_TEXT),
        "density_nodes": dtree.node_count(),
        "selected_nodes": len(dtree.content_node_indices()),
    }
    return rec, counts


def reference(urls, htmls):
    """Untimed in-process extract_page over the pages: the digest every
    Spark output of these pages must equal."""
    from dce_spark.core.api import extract_page

    recs = [extract_page(h if h is not None else b"") for h in htmls]
    return local_digest(urls, recs)


def _traced_pages(urls, htmls, tracer, recs, sums, mismatched) -> None:
    """Per page: the library's extract_page (span ``core.kernel``) and
    the layer-by-layer rebuild (span ``core.layers``), alternating which
    runs first."""
    from dce_spark.core.api import extract_page

    for k, (url, h) in enumerate(zip(urls, htmls)):
        raw = h if h is not None else b""
        if k % 2:
            with tracer.span("core.kernel", url):
                rec = extract_page(raw)
            layered, counts = _layered(raw, url, tracer)
        else:
            layered, counts = _layered(raw, url, tracer)
            with tracer.span("core.kernel", url):
                rec = extract_page(raw)
        recs.append(rec)
        if rec["status"] == "ok" and any(rec[f] != layered[f] for f in layered):
            mismatched.append(url)
        for f in sums:
            sums[f] += counts[f]


def page_layers(run, urls, htmls) -> tuple[tuple, float]:
    """Traced in-process layers over the workload's pages: kernel layer
    times and counts, and the Arrow batch UDF (``extract_batches``) on
    the same pages. The pages go in chunks, each timed through the
    kernel spans and through the batch UDF back to back, so machine
    speed drift cancels in ``spark.udf.convert_ms`` = batch − kernel.
    Returns the extract_page digest and the batch UDF ms per page."""
    from dce_spark.spark.udf import extract_batches

    tracer, n = run.tracer, len(urls)
    recs, mismatched = [], []
    sums = {"nodes": 0, "text_nodes": 0, "density_nodes": 0, "selected_nodes": 0}
    for c, lo in enumerate(range(0, n, CHUNK_ROWS)):
        cu, ch = urls[lo : lo + CHUNK_ROWS], htmls[lo : lo + CHUNK_ROWS]
        batch = pa.RecordBatch.from_pydict(
            {"url": pa.array(cu, pa.string()), "html": pa.array(ch, pa.binary())}
        )

        def udf():
            with tracer.span("spark.udf.batch", f"chunk-{c}", rows=len(cu)):
                for _ in extract_batches(iter([batch])):
                    pass

        if c % 2:
            udf()
        _traced_pages(cu, ch, tracer, recs, sums, mismatched)
        if not c % 2:
            udf()
    run.check(not mismatched, f"layer rebuild equals extract_page on every page ({mismatched[:3]})")

    def per_page(name):
        return sum(tracer.durations(name)) * 1000 / n

    m = {f"{name}_ms": per_page(name) for name in LAYERS + ("core.kernel",)}
    m["core.layer_sum_ms"] = sum(per_page(name) for name in LAYERS)
    m["core.layer_gap_pct"] = 100 * (m["core.layer_sum_ms"] / m["core.kernel_ms"] - 1)
    for name, value in m.items():
        run.put(name, value, "%" if name.endswith("_pct") else "ms", n)
    run.put("core.htmlparse.nodes", sums["nodes"] / n, "count", n)
    run.put("core.htmlparse.text_nodes", sums["text_nodes"] / n, "count", n)
    run.put("core.cetd.density_nodes", sums["density_nodes"] / n, "count", n)
    run.put("core.cetd.selected_nodes", sums["selected_nodes"] / n, "count", n)
    run.put("core.cetd.emit_ratio", sums["selected_nodes"] / max(sums["text_nodes"], 1), "ratio", n)
    run.say(
        f"layer check: layer sum {m['core.layer_sum_ms']:.3f} ms vs core.kernel "
        f"{m['core.kernel_ms']:.3f} ms per page, gap {m['core.layer_gap_pct']:+.1f}% "
        f"({'within' if abs(m['core.layer_gap_pct']) <= 10 else 'NOT within'} 10%)"
    )
    batch_ms = per_page("spark.udf.batch")
    run.put("spark.udf.batch_ms", batch_ms, "ms", n)
    run.put("spark.udf.convert_ms", batch_ms - m["core.kernel_ms"], "ms", n)
    return local_digest(urls, recs), batch_ms


# ---- golden gate ---------------------------------------------------------


def golden_rows():
    """The 40 in-repo golden rows: 8 inline fixtures + 32 seed-42
    synthetic pages."""
    from dce_spark.spark.corpus import fixture_rows, synth_page

    rows = fixture_rows(include_reference=False) + [synth_page(i) for i in range(32)]
    return [(r["url"], r["html"]) for r in rows]


def golden_gate(session) -> tuple[bool, list[str], int]:
    """Push the golden rows through the Spark extraction path and compare
    status/node_count/text_len/text_md5/primary_script against the
    committed goldens. Golden rows whose html lives in the reference
    checkout are reported by name and never counted as passed."""
    from pyspark.sql import functions as F

    from dce_spark.spark.udf import attach_extraction

    spark = session.spark
    df = spark.createDataFrame(golden_rows(), "url string, html binary")
    out, _, _ = session.job(
        "golden-gate",
        lambda: attach_extraction(df.repartition(4), mode="both")
        .select(
            "url",
            "status",
            F.col("node_count").cast("long").alias("node_count"),
            "primary_script",
            F.length("extracted_text").cast("long").alias("text_len"),
            F.md5(F.coalesce("extracted_text", F.lit(""))).alias("text_md5"),
        )
        .collect(),
    )
    got = {r["url"]: r.asDict() for r in out}
    golden = pq.read_table(ROOT / "testdata" / "golden_cetd_content.parquet").to_pylist()
    lines, ok, checked = [], True, 0
    for g in golden:
        row = got.get(g["url"])
        if row is None:
            lines.append(f"golden {g['url']}: not checked: reference absent")
            continue
        diff = [c for c in ("status", "node_count", "primary_script", "text_len", "text_md5")
                if row[c] != g[c]]
        if diff:
            ok = False
            lines.append(f"golden {g['url']}: MISMATCH in {', '.join(diff)}")
        checked += 1
    if checked != len(got):
        ok = False
        lines.append(f"golden: {len(got) - checked} extracted rows have no golden row")
    return ok, lines, checked

