"""Measurement plumbing shared by the workloads: per-run state isolation,
Spark session set-up, spans, Spark-side counters read from outside the
engine (job groups, ``statusTracker`` and the driver-local UI REST API),
process memory and summary statistics.

Nothing here reaches into the engine's internals: the workloads call the
package's public functions, and this module only observes them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (numpy's default)."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# ---------------------------------------------------------------------------
# per-run state
# ---------------------------------------------------------------------------


class RunDir:
    """A fresh directory per run holding every piece of state the engine
    can leave behind: inputs, staged tables (``FEFAL_STAGE_DIR``), Spark
    scratch (``SPARK_LOCAL_DIRS``), the SQL warehouse and metastore (the
    working directory) and table roots. Nothing survives into the next
    run, so a run's cold pass never reuses an earlier run's staging."""

    def __init__(self, checkout: str, name: str):
        base = os.path.join(checkout, ".perfbench_runs")
        self.path = os.path.join(base, f"{name}-{os.getpid()}-{time.time_ns()}")
        for sub in ("inputs", "stage", "spark-local", "warehouse", "tables", "out"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["FEFAL_STAGE_DIR"] = self.sub("stage")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        self._cwd = os.getcwd()
        os.chdir(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        os.chdir(self._cwd)
        shutil.rmtree(self.path, ignore_errors=True)
        base = os.path.dirname(self.path)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    def disk_bytes(self, *parts: str) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.sub(*parts)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
        return total


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans recorded around each call the benchmark makes into a layer:
    name, start, end, parent span and the op id shared by every span of
    one op. Kept in memory, written out once at exit. Disabled, every
    method is a cheap no-op so the untraced run measures the engine only.
    ``cost_s`` accumulates the time spent in the tracer's own bookkeeping
    and in the trace-only probes (the tracing overhead)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0
        self.cost_s = 0.0
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._t0
        self.cost_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            t_out = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - t_out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def total(self, *names: str) -> float:
        return sum(sum(self.durations(n)) for n in names)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                d = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark session and Spark-side counters
# ---------------------------------------------------------------------------

WARMUP_SQL = "SELECT sum(id) AS s FROM range(1000)"


def spark_confs(run: RunDir, trace: bool) -> dict[str, str]:
    confs = {"spark.sql.warehouse.dir": run.sub("warehouse")}
    if trace:
        # keep every job/stage of the run for the end-of-run REST read,
        # and profile the Python workers (Arrow / pandas UDF paths)
        confs.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        )
    return confs


def start_spark(run: RunDir, trace: bool, t_process: float) -> tuple:
    """Start Spark and run the warm-up query. Returns ``(spark, setup_s)``,
    ``setup_s`` being the time from ``t_process`` (process start) through
    the imports, the JVM launch and the session to the end of the warm-up
    query."""
    from fefal_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_confs=spark_confs(run, trace))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(WARMUP_SQL).collect()
    return spark, time.perf_counter() - t_process


def rss_mb() -> float:
    """Peak resident memory (VmHWM) of this driver process plus its JVM."""
    pids = [os.getpid()] + [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class SparkProbe:
    """Spark-side counters read from outside the engine, traced runs only.

    Each op runs under its own job group (``op-<id>``); ``statusTracker``
    gives jobs / stages / tasks per group, and the driver-local UI REST
    API gives per-stage executor time, GC, shuffle, spill, scan and sink
    bytes, attributed to the op whose group launched the stage. Cached
    storage is sampled from ``/storage/rdd`` after each op."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.enabled = tracer.enabled
        self.groups: dict[str, str] = {}  # job group -> op kind
        self.n_ops = 0
        self.storage_peak = 0
        self.plan_s = 0.0
        if self.enabled:
            sc = spark.sparkContext
            port = sc.uiWebUrl.rsplit(":", 1)[1]
            self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    @contextmanager
    def op(self, kind: str):
        """One op of the workload: a job group plus the root span."""
        tr = self.tracer
        tr.op_id += 1
        if not self.enabled:
            yield
            return
        group = f"op-{tr.op_id}"
        self.groups[group] = kind
        self.n_ops += 1
        self.spark.sparkContext.setJobGroup(group, kind)
        try:
            with tr.span(f"op.{kind}"):
                yield
        finally:
            t = time.perf_counter()
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
            self._sample_storage()
            tr.cost_s += time.perf_counter() - t

    @contextmanager
    def group(self, suffix: str, kind: str):
        """A sub-group of the current op (e.g. the registry builder call),
        so its jobs are counted apart from the op's materialization."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        op_group = f"op-{self.tracer.op_id}"
        sub = f"{op_group}-{suffix}"
        self.groups[sub] = kind
        sc.setJobGroup(sub, kind)
        try:
            yield
        finally:
            sc.setJobGroup(op_group, self.groups[op_group])

    def groups_of(self, kind: str) -> list[str]:
        return [g for g, k in self.groups.items() if k == kind]

    def force_plan(self, df) -> None:
        """Traced runs: force physical planning of a frame about to be
        materialized, so planning time is measured apart from execution."""
        if not self.enabled:
            return
        with self.tracer.span("catalyst.plan"):
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            dt_ = time.perf_counter() - t
        self.plan_s += dt_
        self.tracer.cost_s += dt_

    def group_counts(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return len(jobs), stages, tasks

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def _sample_storage(self) -> None:
        try:
            rdds = self._get("/storage/rdd")
        except OSError:
            return
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        self.storage_peak = max(self.storage_peak, used)

    def collect(self) -> dict:
        """End-of-run read of jobs and stages, summed per op kind and in
        total. Times in seconds, sizes in bytes."""
        t = time.perf_counter()
        jobs = self._get("/jobs")
        stages = self._get("/stages")
        stage_group: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if g in self.groups:
                for s in j.get("stageIds", []):
                    stage_group[s] = g
        fields = {
            "executor.run_s": ("executorRunTime", 1e-3),
            "executor.cpu_s": ("executorCpuTime", 1e-9),
            "executor.gc_s": ("jvmGcTime", 1e-3),
            "shuffle.read_bytes": ("shuffleReadBytes", 1),
            "shuffle.write_bytes": ("shuffleWriteBytes", 1),
            "spill.bytes": ("diskBytesSpilled", 1),
            "scan.input_bytes": ("inputBytes", 1),
            "sink.output_bytes": ("outputBytes", 1),
        }
        total = {k: 0.0 for k in fields}
        per_kind: dict[str, dict[str, float]] = {}
        for s in stages:
            g = stage_group.get(s.get("stageId"))
            if g is None:
                continue
            kind = self.groups[g]
            bucket = per_kind.setdefault(kind, {k: 0.0 for k in fields})
            for k, (field, scale) in fields.items():
                v = s.get(field, 0) * scale
                total[k] += v
                bucket[k] += v
        counts = {"scheduler.jobs": 0, "scheduler.stages": 0, "scheduler.tasks": 0}
        for g in self.groups:
            nj, ns, nt = self.group_counts(g)
            counts["scheduler.jobs"] += nj
            counts["scheduler.stages"] += ns
            counts["scheduler.tasks"] += nt
        # Python-worker time of the profiled UDFs (pstats per UDF id)
        results = self.spark._profiler_collector._perf_profile_results
        pyworker = sum(st.total_tt for st in results.values())
        self.tracer.cost_s += time.perf_counter() - t
        return {
            **total,
            **counts,
            "scheduler.jobs_per_op": counts["scheduler.jobs"] / max(1, self.n_ops),
            "cache.storage_bytes": float(self.storage_peak),
            "catalyst.plan_s": self.plan_s,
            "pyworker.s": pyworker,
            "per_kind": per_kind,
        }


def to_pandas_all(frames: list, workers: int = 4) -> list:
    """``toPandas()`` of several frames, run as concurrent Spark jobs (the
    untimed correctness checks are the only place this is used)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(workers) as ex:
        return list(ex.map(lambda df: df.toPandas(), frames))


def materialize(df) -> None:
    """Compute every output column: write the frame to the ``noop`` sink
    (never ``count()``, which lets the optimizer prune columns)."""
    df.write.format("noop").mode("overwrite").save()
