"""operator_queries: a fixed set of registered operator queries over
generated documents/embeddings tables, `noop` sink. No CETD kernel
runs, so operator changes show here and kernel changes must not. The
benchmark seed only permutes query order; the tables use a fixed data
seed. The first pass of a fresh session is the cold pass: its rows are
collected and compared with the query's DuckDB oracle."""

from __future__ import annotations

import hashlib
import json
import math
import random
import time
from pathlib import Path

from perfbench import commit
from perfbench.common import NPROC, ctrl_pages, median
from perfbench.inputs import operator_tables
from perfbench.kernel import page_layers

QUERIES = (
    "doc_curate",
    "emb_semdedup",
    "emb_ivf_topk",
    "doc_minhash_dedup",
    "doc_boilerplate_strip",
    "doc_filter_funnel",
    "doc_bloom_dedup",
    "doc_host_pagerank",
)
N_DOCS = 500
N_VECS = 500


def _canon(cols, rows):
    """Order-insensitive canonical rows, columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def _oracle(tables: str, sql: str) -> tuple[list[str], list]:
    """Column names and canonical rows of a DuckDB oracle query over the
    tables. The tables are fixed and the oracle SQL is frozen, so the
    answer is cached next to the tables, keyed by the SQL text."""
    import duckdb

    cache = Path(tables) / f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json"
    if cache.exists():
        cols, rows = json.loads(cache.read_text(encoding="utf-8"))
        return cols, [tuple(r) for r in rows]
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = _canon(cols, res.fetchall())
    finally:
        con.close()
    cache.write_text(json.dumps([cols, rows]), encoding="utf-8")
    return cols, rows


def _collect(df):
    return df.columns, [list(r) for r in df.collect()]


def run_workload(run) -> None:
    import __spark_entry__ as entry

    spark, session, tracer = run.spark, run.session, run.tracer
    tables = operator_tables(N_DOCS, N_VECS)
    registered, oracles = entry.queries(), entry.oracle_sql()
    order = list(QUERIES)
    random.Random(run.seed).shuffle(order)
    run.say(f"query order: {', '.join(order)}")

    cold = {}
    for q in order:
        run.attempted += 1
        try:
            with tracer.span("functions.query.cold", q):
                (columns, rows), cold[q], _ = session.job(
                    f"{q}-cold", lambda: _collect(registered[q](spark, tables)), False)
        except Exception as exc:  # a query that raises is a failed operation
            run.failed += 1
            run.check(False, f"{q} raised {type(exc).__name__}: {exc}")
            continue
        cols, want = _oracle(tables, oracles[q])
        run.check(
            sorted(columns) == sorted(cols) and _canon(columns, rows) == want,
            f"{q}: {len(rows)} rows equal the DuckDB oracle's {len(want)}",
        )

    # warm calls cycle through the set until --seconds have passed and
    # every query ran at least once (twice when traced: one counted and
    # one plain call, for the tracing overhead)
    warm: dict[str, list[float]] = {q: [] for q in order}
    traced_warm: dict[str, list[float]] = {q: [] for q in order}
    jobs: dict[str, list[dict]] = {q: [] for q in order}
    t_end = time.perf_counter() + run.seconds
    min_calls = len(order) * (2 if run.traced else 1)
    k = 0
    while time.perf_counter() < t_end or k < min_calls:
        q = order[k % len(order)]
        counted = run.traced and (k // len(order)) % 2 == 0
        k += 1
        run.attempted += 1
        try:
            with tracer.span("functions.query", q, call=k):
                _, wall, counts = session.job(
                    q,
                    lambda: registered[q](spark, tables).write.format("noop").mode("overwrite").save(),
                    counted,
                )
        except Exception as exc:
            run.failed += 1
            run.check(False, f"{q} raised {type(exc).__name__}: {exc}")
            continue
        if counted:
            traced_warm[q].append(wall)
            jobs[q].append(counts)
        else:
            warm[q].append(wall)

    if any(not warm[q] for q in order):
        return  # a query failed on every call: the run is already incorrect
    query_set_s = sum(median(warm[q]) for q in order)
    n = min(len(warm[q]) for q in order)
    run.put("throughput_per_s", len(order) / query_set_s, "1/s", n)
    run.put("query_set_s", query_set_s, "s", n)
    run.put("spark.cold_over_warm", sum(cold.values()) / query_set_s, "ratio", n)
    for q in order:
        run.put(f"functions.{q}.wall_s", median(warm[q]), "s", len(warm[q]))
        if q in cold:
            run.put(f"functions.{q}.cold_s", cold[q], "s", 1)
    if run.traced:
        counts = [c for q in order for c in jobs[q]]
        for q in order:
            if jobs[q]:
                run.put(f"functions.{q}.jobs", median([c["jobs"] for c in jobs[q]]), "count",
                        len(jobs[q]))
        traced_set_s = sum(median(traced_warm[q]) for q in order if traced_warm[q])
        run.put("trace.overhead_pct", 100 * (traced_set_s / query_set_s - 1), "%", len(counts))
        run.put_job_shape(counts)
        # the page layers have no pages of their own here: they are
        # measured on the fixed control pages
        pages = ctrl_pages()
        urls = [f"https://ctrl.test/{i}" for i in range(len(pages))]
        want, batch_ms = page_layers(run, urls, pages)
        ext_wall = commit.pipeline_layer(run, f"ctrl-bucketed-n{len(pages)}", urls, pages, want)
        run.put("spark.boundary_ms", NPROC * ext_wall * 1000 / len(pages) - batch_ms, "ms", 1)
