"""Shared machinery of the benchmark: run directory and environment, the
Spark session set-up, spans, Spark status reads and small statistics.

Everything here runs from the root of a checkout (the working directory
``run.py`` is started from) and writes only under ``.perfbench_run/``
there.
"""

from __future__ import annotations

import json
import math
import os
import re
import resource
import statistics
import subprocess
import time
import uuid
from contextlib import contextmanager

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BENCH_DIR, "data")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# JVM heap for the benchmark's session. The engine default (16g) is
# sized for sf1.0 replicas; the benchmark inputs need far less, and a
# smaller heap keeps the run from crowding other processes on the host.
HEAP = "4g"


def prepare_env() -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    run directory, and size the session to this host's cores."""
    tmp = os.path.join(RUN_DIR, "tmp")
    local = os.path.join(RUN_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf() -> dict[str, str]:
    tmp = os.path.join(RUN_DIR, "tmp")
    return {
        # java.io.tmpdir and no hsperfdata: the JVM writes nothing to /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "spark-warehouse"),
    }


def start_session():
    from simtradedata_spark.session import get_spark

    return get_spark("perfbench", input_dir=DATA_DIR, extra_conf=session_conf())


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the gateway
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# -- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent, shared run id and
    attributes. Disabled, ``span`` only yields. Spans are written once, at
    the end of the run, each with its self time (duration minus the part
    its children cover; children never overlap, the benchmark is
    single-threaded)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent inside the tracer and the status reads it triggers
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> None:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s, c in zip(self.spans, child):
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - c

    def write(self, path: str) -> None:
        self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# -- Spark status --------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Bytes from a SQL size metric as the status store formats it:
    '795.2 KiB' or 'total (min, med, max ...)\\n795.2 KiB (...)'."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([KMGT]?i?B)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


ENGINE_KEYS = (
    "task_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
    "python_worker_bytes",
)


class SparkStatus:
    """Job, stage and SQL-execution counters for the jobs run under one set
    of job groups, read from Spark's status stores right after the work.

    The stores keep only the newest 100 jobs, 200 stages and 8 SQL
    executions (``simtradedata_spark.session``). Job and execution ids are
    sequential, so a read checks every id since the previous read: work
    with a job or stage already evicted is flagged ``truncated``, and work
    with an SQL execution evicted (so with ``python_worker_bytes`` partial)
    ``sql_truncated``, instead of being summed as if complete."""

    def __init__(self, spark, tracer):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job, self.last_stage = self._max_ids()
        self.last_exec = self._max_exec_id()
        self._n = 0

    def _max_ids(self) -> tuple[int, int]:
        """Highest job id and stage id the store holds."""
        job = stage = -1
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            jd = it.next()
            job = max(job, int(jd.jobId()))
            sit = jd.stageIds().iterator()
            while sit.hasNext():
                stage = max(stage, int(sit.next()))
        return job, stage

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event of the
        finished work to the status stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _max_exec_id(self) -> int:
        best = -1
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            best = max(best, int(it.next().executionId()))
        return best

    def group(self, label: str) -> str:
        """Tag the jobs that follow with a fresh job group; returns it."""
        self._n += 1
        gid = f"pb{self._n}"
        self.sc.setJobGroup(gid, label)
        return gid

    def collect(self, groups: list[str]) -> dict:
        """Counters for the jobs of ``groups``; call right after the work.
        Its time counts as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return self._collect(groups)
        finally:
            self.tracer.overhead_s += time.perf_counter() - t0

    def _collect(self, groups: list[str]) -> dict:
        self.drain()
        per_group = {g: sorted(self.tracker.getJobIdsForGroup(g)) for g in groups}
        jobs = sorted(j for ids in per_group.values() for j in ids)
        out = {
            "jobs_by_group": {g: len(ids) for g, ids in per_group.items()},
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "truncated": False,
        }
        out.update({k: 0.0 for k in ENGINE_KEYS})
        mine = set(jobs)
        # a job also lists the stages of earlier jobs whose shuffle output
        # it reuses; stage ids are sequential too, so only ids above the
        # previous read's are this work's own
        floor = self.last_stage
        seen: set[int] = set()
        # every job since the last read: one the store no longer has was
        # evicted, and may have been ours
        for j in range(self.last_job + 1, max(jobs, default=self.last_job) + 1):
            try:
                jd = self.store.job(j)
            except Exception:
                out["truncated"] = True
                continue
            if j not in mine:
                continue
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in seen or sid <= floor:
                    continue
                seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    out["truncated"] = True
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["peak_exec_mem_bytes"] = max(
                    out["peak_exec_mem_bytes"], sd.peakExecutionMemory()
                )
        self.last_job = max(jobs, default=self.last_job)
        self.last_stage = max(seen, default=self.last_stage)
        out["python_worker_bytes"], exec_ok = self._python_bytes(mine)
        out["sql_truncated"] = not exec_ok
        return out

    def _python_bytes(self, jobs: set[int]) -> tuple[float, bool]:
        """Bytes sent to Python workers by the SQL executions that ran
        ``jobs``, and whether every such execution was still retained."""
        total = 0.0
        ids = []
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = int(e.executionId())
            if eid <= self.last_exec:
                continue
            ids.append(eid)
            kit = e.jobs().keySet().iterator()
            mine = False
            while kit.hasNext():
                if int(kit.next()) in jobs:
                    mine = True
            if not mine:
                continue
            values = self.sql.executionMetrics(eid)
            mit = e.metrics().iterator()
            while mit.hasNext():
                pm = mit.next()
                if pm.name() == "data sent to Python workers":
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        total += parse_size(v.get())
        complete = not ids or sorted(ids) == list(range(self.last_exec + 1, max(ids) + 1))
        if ids:
            self.last_exec = max(ids)
        return total, complete
