#!/usr/bin/env python3
"""Benchmark of the CETD extraction engine and its operators.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One run starts a fresh process,
sets up Spark through the library's ``get_spark`` (timed: ``setup_s``),
pushes the 40 in-repo golden rows through the Spark extraction path and
compares them with the committed goldens, then runs the workload for
about S seconds, checking every output it times. It prints a report
(every metric it measured, with unit and sample count, and the box it
ran on) and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}, where metrics are the
``end_to_end`` metrics of BENCHMARK.json (--trace 0) or its
``per_layer`` metrics (--trace 1, which also writes the spans as JSON
lines under .perfbench_work/). The exit code is 0 only when every check
passed. ``--workload all`` runs each workload in its own process.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {
    "extract_articles": "perfbench.extract",
    "commit_small_pages": "perfbench.commit",
    "operator_queries": "perfbench.operators",
}


def _declared(traced: bool) -> list[tuple[str, str]]:
    spec = json.loads((common.ROOT / "BENCHMARK.json").read_text(encoding="utf-8"))
    return [(m["name"], m["unit"]) for m in spec["per_layer" if traced else "end_to_end"]]


def run_one(args) -> int:
    common.prepare_env()
    sampler = common.MemSampler().start()
    tracer = Tracer(args.trace == 1)
    session = common.Session(T_PROCESS)
    run = common.Run(session, args.seed, args.seconds, tracer)
    run.put("setup_s", session.setup_s, "s", 1)
    run.put("spark.session.start_s", session.start_s, "s", 1)
    run.put("spark.first_job_s", session.first_job_s, "s", 1)
    pages = common.ctrl_pages()
    ctrl = [common.ctrl_pps(pages)]
    try:
        from perfbench.kernel import golden_gate

        ok, lines, checked = golden_gate(session)
        for line in lines:
            run.say(line)
        run.check(ok, f"golden rows: {checked} checked against testdata/golden_cetd_content.parquet")
        run.attempted += checked
        importlib.import_module(WORKLOADS[args.workload]).run_workload(run)
    finally:
        session.stop()
    ctrl.append(common.ctrl_pps(pages))
    run.put("box.ctrl_pps", common.median(ctrl), "pages/s", len(ctrl))
    run.put("peak_pss_mb", sampler.stop(), "MB", sampler.samples)
    run.say(f"memory at peak: {sampler.describe_peak()}")
    run.put("failed_share", run.failed / run.attempted, "share", run.attempted)
    if tracer.enabled:
        path = common.WORK / f"trace-{args.workload}-s{args.seed}.jsonl"
        tracer.write_jsonl(path)
        run.say(f"spans: {len(tracer.spans)} written to {path.relative_to(common.ROOT)}")

    box = common.box_descriptor(args.seed)
    box["ctrl_pps"] = ctrl
    run.say("box " + json.dumps(box, sort_keys=True))
    run.say(f"checks: {run.checks} run, correct={run.correct}")
    run.say(f"{'metric':<40} {'value':>14}  {'unit':<8} n")
    for name, (value, unit, n) in sorted(run.metrics.items()):
        run.say(f"{name:<40} {value:>14.6g}  {unit:<8} {n}")

    declared = _declared(tracer.enabled)
    missing = [name for name, _ in declared if name not in run.metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    result = {
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": run.metrics[name][0], "unit": unit} for name, unit in declared},
    }
    print(json.dumps(result), flush=True)
    return 0 if run.correct else 1


def run_all(args) -> int:
    """Each workload in a fresh process; a summary, then one combined
    JSON line with metrics named <workload>.<metric>."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows, code = [], 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=common.ROOT, stdout=subprocess.PIPE, text=True)
        out = proc.stdout.splitlines()
        print("\n".join(f"[{name}] {line}" for line in out), flush=True)
        code = code or proc.returncode
        try:
            res = json.loads(out[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"perfbench: {name} printed no result", file=sys.stderr)
            return proc.returncode or 3
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for metric, v in res["metrics"].items():
            combined["metrics"][f"{name}.{metric}"] = v
            rows.append((name, metric, v["value"], v["unit"]))
    for name, metric, value, unit in rows:
        print(f"{name:<20} {metric:<36} {value:>14.6g}  {unit}")
    print(json.dumps(combined), flush=True)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not common.checkout_ok():
        print(f"perfbench: {common.ROOT} is not a source checkout of the library "
              "(dce_spark/ and __spark_entry__.py are missing)", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
