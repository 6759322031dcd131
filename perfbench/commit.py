"""commit_small_pages: small multilingual pages, pre-bucketed (hive
layout, bucket = pmod(xxhash64(url), buckets)), through run_pipeline to
committed parquet plus manifests over several commits. Writes, manifests
and per-commit jobs are a large share of the cost and non-ASCII text
bypasses any ASCII fast path, so a kernel gain should not move this
workload's number much and a pipeline gain should."""

from __future__ import annotations

import datetime as _dt
import shutil
import time

from perfbench.common import NPROC, WORK, digest_agg, digest_tuple, median
from perfbench.inputs import bucketed_copy, read_pages, small_pages
from perfbench.kernel import page_layers, reference

N_PAGES = 300
BUCKETS = 4
PER_COMMIT = 2
MIN_SAMPLES = 2


def _run_pipeline(spark, inp: str, out: str):
    from dce_spark.spark.pipeline import run_pipeline

    return lambda: run_pipeline(spark, inp, out, buckets=BUCKETS, buckets_per_commit=PER_COMMIT)


def pipeline_pass(run, inp: str, want: tuple, label: str, counted: bool):
    """One run_pipeline call into a fresh output directory, then checks
    of what it committed. Returns (wall s, per-commit intervals s, job
    counts or None)."""
    from dce_spark.spark.pipeline import read_extracted, read_manifest

    spark, tracer = run.spark, run.tracer
    out = str(WORK / "out" / label)
    shutil.rmtree(out, ignore_errors=True)
    start = _dt.datetime.now()
    with tracer.span("spark.pipeline.run", label) as sp:
        info, wall, counts = run.session.job(label, _run_pipeline(spark, inp, out), counted)
    manifest = read_manifest(spark, out).collect()
    points = sorted({r["committed_at"] for r in manifest})
    intervals = [(b - a).total_seconds() for a, b in zip([start] + points[:-1], points)]
    if sp is not None:
        t = sp["start"]
        for k, dt in enumerate(intervals):
            tracer.add("spark.pipeline.commit", f"{label}-commit-{k}", t, t + dt, sp["id"])
            t += dt
    got = digest_tuple(digest_agg(read_extracted(spark, out)).collect()[0])
    run.check_digest(got, want, label)
    commits = BUCKETS // PER_COMMIT
    run.check(info["committed"] == commits and info["remaining"] == 0 and len(points) == commits,
              f"{label}: {commits} commits, nothing remaining ({info})")
    run.check(
        len(manifest) == BUCKETS
        and sum(r["url_count"] for r in manifest) == want[0]
        and sum(r["pages_ok"] + r["pages_failed"] for r in manifest) == want[0]
        and sum(r["pages_failed"] for r in manifest) == want[1],
        f"{label}: manifest counts match the input",
    )
    run.attempted += got[0]
    run.failed += got[1]
    shutil.rmtree(out, ignore_errors=True)
    return wall, intervals, counts


def pipeline_layer(run, name: str, urls, htmls, want, passes=()) -> float:
    """Pipeline-layer metrics over the given pages: per-commit time, jobs
    per commit, pipeline overhead per page over a non-writing
    extract_pages of the same input, and a resume on complete output.
    Returns the non-writing extraction wall seconds."""
    from dce_spark.spark.pipeline import extract_pages, run_pipeline

    spark, session = run.spark, run.session
    inp = bucketed_copy(spark, name, urls, htmls, BUCKETS)
    passes = list(passes) or [pipeline_pass(run, inp, want, "pipeline-probe", True)]
    out = str(WORK / "out" / "pipeline-resume")
    shutil.rmtree(out, ignore_errors=True)
    run_pipeline(spark, inp, out, buckets=BUCKETS, buckets_per_commit=PER_COMMIT)
    with run.tracer.span("spark.pipeline.resume", "resume"):
        info, noop_wall, noop_counts = session.job("pipeline-resume", _run_pipeline(spark, inp, out))
    run.check(info["committed"] == 0 and info["resumed_from"] == BUCKETS,
              f"resume on complete output commits nothing ({info})")
    shutil.rmtree(out, ignore_errors=True)

    def nowrite():
        df = spark.read.parquet(inp).select("url", "html")
        extract_pages(df, mode="both").write.format("noop").mode("overwrite").save()

    with run.tracer.span("spark.extract_nowrite", "nowrite"):
        _, ext_wall, _ = session.job("extract-nowrite", nowrite)
    commits = BUCKETS // PER_COMMIT
    walls = [w for w, _, _ in passes]
    run.put("spark.pipeline.commit_s", median([i for _, iv, _ in passes for i in iv]), "s",
            commits * len(passes))
    run.put("spark.pipeline.jobs_per_commit",
            median([(c["jobs"] - noop_counts["jobs"]) / commits for _, _, c in passes]), "count",
            len(passes))
    run.put("spark.pipeline.overhead_ms", (median(walls) - ext_wall) * 1000 / len(urls), "ms",
            len(passes))
    run.put("spark.pipeline.resume_noop_s", noop_wall, "s", 1)
    return ext_wall


def run_workload(run) -> None:
    spark = run.spark
    urls, htmls = small_pages(run.seed, N_PAGES)
    name = f"small-s{run.seed}-n{N_PAGES}"
    inp = bucketed_copy(spark, name, urls, htmls, BUCKETS)
    urls, htmls = read_pages(inp)
    n = len(urls)
    if run.traced:
        want, batch_ms = page_layers(run, urls, htmls)
    else:
        want = reference(urls, htmls)

    cold = pipeline_pass(run, inp, want, "pipeline-cold", False)[0]
    walls, traced = [], []
    t_end = time.perf_counter() + run.seconds
    k = 0
    while time.perf_counter() < t_end or len(walls) < MIN_SAMPLES:
        if run.traced and k % 2 == 0:
            traced.append(pipeline_pass(run, inp, want, f"pipeline-traced-{k}", True))
        else:
            walls.append(pipeline_pass(run, inp, want, f"pipeline-{k}", False)[0])
        k += 1

    run.put_samples("throughput_per_s", [n / w for w in walls], "1/s")
    run.put("pages_per_s", run.metrics["throughput_per_s"][0], "pages/s", len(walls))
    run.put("spark.cold_over_warm", cold / median(walls), "ratio", len(walls))
    if run.traced:
        counts = [c for _, _, c in traced]
        run.put("trace.overhead_pct", 100 * (median([w for w, _, _ in traced]) / median(walls) - 1),
                "%", len(traced))
        run.put_job_shape(counts)
        ext_wall = pipeline_layer(run, name, urls, htmls, want, traced)
        run.put("spark.boundary_ms", NPROC * ext_wall * 1000 / n - batch_ms, "ms", 1)
