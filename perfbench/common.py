"""Shared pieces of the benchmark: run environment, Spark session set-up,
process-tree memory sampling, the box descriptor, the scalar control,
Spark job accounting and the row digest every extraction check uses."""

from __future__ import annotations

import hashlib
import os
import platform
import shlex
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
NPROC = len(os.sched_getaffinity(0))
CTRL_PAGES = 60
CTRL_SEED = 42


def checkout_ok() -> bool:
    """The benchmark runs the library from source in its checkout."""
    return (ROOT / "dce_spark" / "__init__.py").is_file() and (
        ROOT / "__spark_entry__.py"
    ).is_file()


def prepare_env() -> None:
    """Keep every file Spark, the JVMs and Python workers write inside
    the checkout, and make the library importable in Python workers.
    Must run before pyspark starts its JVM."""
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM (the spark-submit launcher too): temp files in the
    # checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("DCE_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={shlex.quote(str(WORK / 'warehouse'))}",
            "pyspark-shell",
        ]
    )


# ---- statistics -------------------------------------------------------


def median(xs):
    return float(statistics.median(xs))


# ---- memory -----------------------------------------------------------


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int | None:
    """Proportional set size: resident memory with each shared page
    split among the processes that map it, so forked Python workers and
    the JVM's short-lived spawn helpers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class MemSampler:
    """Samples the summed PSS of this process tree (this Python process,
    the Spark JVM, its Python workers) from /proc every ``interval`` s on a
    daemon thread; keeps the peak and the tree's make-up at the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.at_peak: dict[str, list[int]] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total, parts = 0, {}
        for pid in _tree_pids(me):
            kb = _pss_kb(pid)
            if kb is None:
                continue
            total += kb
            try:
                with open(f"/proc/{pid}/comm", encoding="utf-8") as f:
                    kind = "main" if pid == me else f.read().strip()
            except OSError:
                kind = "?"
            parts.setdefault(kind, []).append(kb)
        if total > self.peak_kb:
            self.peak_kb, self.at_peak = total, parts
        self.samples += 1

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak summed PSS in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024

    def describe_peak(self) -> str:
        return ", ".join(
            f"{kind} x{len(v)} {sum(v) / 1024:.0f} MB" for kind, v in sorted(self.at_peak.items())
        )


# ---- box descriptor and scalar control ---------------------------------


def box_descriptor(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    model = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    ram_mb = None
    try:
        with open("/proc/meminfo", encoding="utf-8") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    ram_mb = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    return {
        "nproc": NPROC,
        "cpu_model": model,
        "ram_mb": ram_mb,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "seed": seed,
    }


def ctrl_pages() -> list[bytes]:
    """The fixed control page set: independent of the workload seed."""
    from dce_spark.spark.corpus import synth_page

    return [synth_page(i, CTRL_SEED)["html"] for i in range(CTRL_PAGES)]


def ctrl_pps(pages: list[bytes]) -> float:
    """Scalar in-process extraction rate over the control pages: machine
    speed evidence only, never used to normalize a metric."""
    from dce_spark.core.api import extract_page

    t = time.perf_counter()
    for raw in pages:
        extract_page(raw)
    return len(pages) / (time.perf_counter() - t)


# ---- Spark session and job accounting ----------------------------------


class Session:
    """One Spark session for the run, created the way the library's
    users create it (``get_spark``), plus job accounting by job group."""

    def __init__(self, t_process: float):
        from dce_spark.spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{NPROC}]",
            shuffle_partitions=max(2 * NPROC, 8),
        )
        self.sc = self.spark.sparkContext
        self.start_s = time.perf_counter() - t_process
        self.sc.setLogLevel("ERROR")
        t = time.perf_counter()
        self._first_job()
        self.first_job_s = time.perf_counter() - t
        self.setup_s = self.start_s + self.first_job_s
        self._groups = 0

    def _first_job(self) -> None:
        """First completed job on cold Python workers: one tiny page per
        core through the library's extraction UDF, so every worker
        imports the library."""
        from dce_spark.spark.udf import attach_extraction

        rows = [(f"https://setup.test/{i}", b"<p>setup</p>") for i in range(NPROC)]
        df = self.spark.createDataFrame(rows, "url string, html binary")
        attach_extraction(df.repartition(NPROC)).select("status").collect()

    def job(self, label: str, action, counted: bool = True):
        """Run ``action()``; return its result and wall seconds, plus the
        jobs/stages/tasks Spark ran for it when ``counted`` (the action
        then runs under a job group of its own)."""
        if not counted:
            t = time.perf_counter()
            out = action()
            return out, time.perf_counter() - t, None
        self._groups += 1
        group = f"perfbench-{self._groups}-{label}"
        self.sc.setJobGroup(group, label)
        t = time.perf_counter()
        try:
            out = action()
        finally:
            wall = time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, wall, self.job_counts(group)

    def job_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)


# ---- extraction digest --------------------------------------------------

_SEP = "\x1f"


def row_key(url: str, rec: dict) -> str:
    """Per-row digest input; ``spark_row_key`` builds the same string."""
    return _SEP.join(
        [
            url,
            rec["status"],
            str(rec["node_count"]),
            hashlib.md5(rec["extracted_text"].encode("utf-8")).hexdigest(),
            hashlib.md5(rec["article_text"].encode("utf-8")).hexdigest(),
            rec["primary_script"],
            str(len(rec["content_links"])),
            str(len(rec["content_node_spans"])),
        ]
    )


def key_value(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:12], 16)


def spark_row_key():
    from pyspark.sql import functions as F

    return F.concat_ws(
        _SEP,
        "url",
        "status",
        F.col("node_count").cast("string"),
        F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))),
        F.md5(F.coalesce(F.col("article_text"), F.lit(""))),
        "primary_script",
        F.size("content_links").cast("string"),
        F.size("content_node_spans").cast("string"),
    )


def digest_agg(df):
    """Order-independent aggregate over every extracted row: row count,
    non-ok rows and a sum of 48-bit row hashes."""
    from pyspark.sql import functions as F

    h = F.conv(F.substring(F.md5(spark_row_key()), 1, 12), 16, 10).cast("long")
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failed"),
        F.sum(h).alias("digest"),
    )


def digest_tuple(row) -> tuple[int, int, int]:
    return (int(row["rows"]), int(row["failed"] or 0), int(row["digest"] or 0))


def local_digest(urls, recs) -> tuple[int, int, int]:
    failed = sum(1 for r in recs if r["status"] != "ok")
    return (len(recs), failed, sum(key_value(row_key(u, r)) for u, r in zip(urls, recs)))


# ---- one run's results ------------------------------------------------------


class Run:
    """What one workload run measured and checked."""

    def __init__(self, session: Session, seed: int, seconds: float, tracer):
        self.session = session
        self.spark = session.spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.traced = tracer.enabled
        self.metrics: dict[str, tuple[float, str, int]] = {}
        self.correct = True
        self.checks = 0
        self.attempted = 0
        self.failed = 0

    def put(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.metrics[name] = (float(value), unit, n)

    def say(self, line: str) -> None:
        print(line, flush=True)

    def put_samples(self, name: str, samples, unit: str) -> None:
        """A metric that is the median of ``samples``; the samples are
        printed too."""
        self.put(name, median(samples), unit, len(samples))
        self.say(f"samples {name} ({unit}): " + " ".join(f"{x:.4g}" for x in samples))

    def put_job_shape(self, counts: list[dict]) -> None:
        """Spark jobs per unit of work (median) and stages and tasks per
        job (over all jobs of the counted units)."""
        jobs = sum(c["jobs"] for c in counts)
        self.put("spark.jobs", median([c["jobs"] for c in counts]), "count", len(counts))
        self.put("spark.stages", sum(c["stages"] for c in counts) / max(jobs, 1), "count", jobs)
        self.put("spark.tasks", sum(c["tasks"] for c in counts) / max(jobs, 1), "count", jobs)

    def check(self, ok: bool, what: str) -> None:
        """Record one correctness check; a failed one is printed and makes
        the run incorrect."""
        self.checks += 1
        if not ok:
            self.correct = False
            self.say(f"CHECK FAILED: {what}")

    def check_digest(self, got, want, what: str) -> None:
        self.check(tuple(got) == tuple(want), f"{what} digest {tuple(got)} == in-process {tuple(want)}")
