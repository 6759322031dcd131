"""extract_articles: scan -> attach_extraction(mode="both") -> an
order-independent aggregate over every output row, on ~55 KB ASCII
article pages. Parse and density build are most of the cost and nothing
is written, so kernel changes show here and pipeline changes must not."""

from __future__ import annotations

import time

from perfbench import commit
from perfbench.common import NPROC, digest_agg, digest_tuple, median
from perfbench.inputs import article_pages, read_pages
from perfbench.kernel import page_layers, reference

N_PAGES = 240
MIN_SAMPLES = 3
WARMUP_JOBS = 1


def _job(spark, path: str, one_core: bool):
    from dce_spark.spark.udf import attach_extraction

    def action():
        df = spark.read.parquet(path)
        if one_core:
            df = df.coalesce(1)  # one task: one core does the whole scan and map
        return digest_tuple(digest_agg(attach_extraction(df, mode="both")).collect()[0])

    return action


def run_workload(run) -> None:
    spark, session = run.spark, run.session
    path = article_pages(spark, run.seed, N_PAGES)
    urls, htmls = read_pages(path)
    n = len(urls)
    if run.traced:
        want, batch_ms = page_layers(run, urls, htmls)
    else:
        want = reference(urls, htmls)

    def measured(label, one_core, counted):
        with run.tracer.span("spark.extract_job", label, one_core=one_core):
            got, wall, counts = session.job(label, _job(spark, path, one_core), counted)
        run.check_digest(got, want, label)
        run.attempted += got[0]
        run.failed += got[1]
        return wall, counts

    cold, _ = measured("extract-cold", False, False)
    # untimed warm-up of both plans: JIT compilation and the Python
    # workers are still settling after the cold job
    for k in range(WARMUP_JOBS):
        measured(f"extract-warmup-{k}", False, False)
        measured(f"extract-1core-warmup-{k}", True, False)
    walls, walls_1core, traced_walls, counts = [], [], [], []
    t_end = time.perf_counter() + run.seconds
    k = 0
    while time.perf_counter() < t_end or len(walls) < MIN_SAMPLES:
        if run.traced:
            # alternate counted and plain jobs: the difference is the
            # cost of tracing the Spark path
            if k % 2 == 0:
                wall, c = measured(f"extract-traced-{k}", False, True)
                traced_walls.append(wall)
                counts.append(c)
            else:
                walls.append(measured(f"extract-{k}", False, False)[0])
        else:
            walls.append(measured(f"extract-{k}", False, False)[0])
            walls_1core.append(measured(f"extract-1core-{k}", True, False)[0])
        k += 1

    run.put_samples("throughput_per_s", [n / w for w in walls], "1/s")
    pps = run.metrics["throughput_per_s"][0]
    run.put("pages_per_s", pps, "pages/s", len(walls))
    run.put("spark.cold_over_warm", cold / median(walls), "ratio", len(walls))
    if walls_1core:
        run.put_samples("pages_per_s_1core", [n / w for w in walls_1core], "pages/s")
        pps1 = run.metrics["pages_per_s_1core"][0]
        run.put("scaling_eff", pps / (NPROC * pps1), "ratio", len(walls_1core))
    if run.traced:
        run.put("trace.overhead_pct", 100 * (median(traced_walls) / median(walls) - 1), "%",
                len(traced_walls))
        run.put_job_shape(counts)
        run.put("spark.boundary_ms", NPROC * median(walls) * 1000 / n - batch_ms, "ms", len(walls))
        commit.pipeline_layer(run, f"articles-bucketed-s{run.seed}-n{n}", urls, htmls, want)
