"""Shared pieces of the benchmark: run directory and environment,
spans and counters, process-tree memory, percentiles, and readers for
the metrics Spark keeps (status store, plan SQL metrics, Catalyst
phase tracker). Nothing here touches the engine's code paths."""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "etl_everywhere_hub_spark"


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "tools", "check.py")
    )


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class RunDir:
    """A per-run scratch directory inside the checkout (spool,
    checkpoints, generated tables, Spark local dirs, temp files),
    removed on exit."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.path = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(self.path)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass


def configure_env(run_dir: RunDir) -> None:
    """Environment for the engine's session, set before the JVM starts.

    The repo root goes on PYTHONPATH (not only sys.path) so Spark's
    Python workers can import the engine's modules."""
    tmp = run_dir.sub("tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_dir.sub("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # a 2 GB heap instead of get_spark's 8 GB default: the runs spill
    # nothing at 2 GB, and the 8 GB heap doubled the JVM's resident size
    # (1.9 -> 3.9 GB) and made the headline pass ~20% slower on a 4-core VM
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM, spark-submit's launcher included, keeps its temp files
    # and no perf-data file outside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={run_dir.sub('warehouse')}",
            # a fixed young generation: G1's adaptive young sizing made the
            # JVM's resident size differ by ~0.4 GB between identical runs
            "--driver-java-options -Xmn256m",
            "pyspark-shell",
        ]
    )


def pct(values: list[float], p: int) -> float:
    """The p-th percentile (1 <= p <= 99), inclusive interpolation."""
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- spans and counters --------------------------------------------------


class Tracer:
    """In-memory spans, written out at the end of a run.

    A span is (name, start, end, parent, request id); self time is its
    duration minus the part of it covered by its children. The counters
    recorded at the same boundaries are the run's per-layer metrics."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            req: str | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "req": req, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        """Time a block; yields the span id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0, None, req, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over spans (seconds)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = covered_time(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
                 for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**meta,
                       "self_time_s": {k: round(v, 6) for k, v in sorted(self.self_times().items())},
                       "spans": spans}, fh, indent=1)
            fh.write("\n")


def covered_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- process-tree memory ---------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss(root: int, exclude: set[int]) -> dict[str, int]:
    """Resident bytes of the java and python processes among ``root`` and
    its descendants, by command name, leaving out the subtrees rooted at
    ``exclude``."""
    kids, page = _children(), os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            # a helper the JVM forks (Hadoop's chmod) shows the JVM's
            # pages until it execs; only java and python count
            if comm.startswith(("java", "python")):
                out[comm] = out.get(comm, 0) + rss
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return out


class PeakRss:
    """Samples the RSS of this process tree (Spark driver, JVM, Python
    workers; the load generator is excluded) every 100 ms and keeps the
    largest total with its split by command name. A workload stops it at
    the end of its timed region, so the output checks do not count."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self.split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        split = tree_rss(os.getpid(), self.exclude)
        if sum(split.values()) > self.peak:
            self.peak, self.split = sum(split.values()), split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.1)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (once) and return the peak in MB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
            self._sample()
        return self.peak / 2**20


# -- Spark-side metrics (traced runs only) -------------------------------


def _opt(o):
    """Scala Option -> value or None."""
    return o.get() if o is not None and o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _doubles(spark, values: list[float]):
    arr = spark.sparkContext._gateway.new_array(spark.sparkContext._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return d.getTime() / 1000 if d is not None else None


from py4j.protocol import Py4JJavaError  # noqa: E402  (pyspark's dependency)


class ExecReader:
    """Jobs and stages from Spark's status store, read right after each
    query so the ``spark.ui.retainedJobs``/``retainedStages`` caps cannot
    evict them. Adds ``exec.job`` spans under the caller's span and
    ``exec.stage`` spans under their job, timed from submission and
    completion times."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark, self.tracer = spark, Tracer(False)
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.job_top = self.stage_top = self.jobs = -1
        self.collect(None, None)  # skip what ran before: set-up and warm-up
        self.tracer, self.jobs = tracer, 0

    def collect(self, parent: int | None, req: str | None) -> list[dict]:
        stage_parent: dict[int, int | None] = {}
        new_jobs = [j for j in _seq(self.store.jobsList(None)) if j.jobId() > self.job_top]
        self.job_top = max([self.job_top] + [j.jobId() for j in new_jobs])
        self.jobs += len(new_jobs)
        for job in new_jobs:
            jid = job.jobId()
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            jspan = None
            if start is not None and end is not None:
                jspan = self.tracer.add("exec.job", start, end, parent, req, job=jid)
            for sid in _seq(job.stageIds()):
                stage_parent[sid] = jspan
        quant = _doubles(self.spark, [0.5, 1.0])
        rows = []
        for sid in sorted(stage_parent):
            if sid <= self.stage_top:
                continue
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: the stage never ran
                continue
            if st.status().toString() != "COMPLETE":
                continue
            summ = _opt(self.store.taskSummary(sid, st.attemptId(), quant))
            runs = _seq(summ.executorRunTime()) if summ is not None else []
            row = {
                "stage": sid,
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "task_max_over_median": runs[1] / runs[0] if len(runs) == 2 and runs[0] > 0 else 0.0,
            }
            rows.append(row)
            start, end = _ms(st.submissionTime()), _ms(st.completionTime())
            if start is not None and end is not None:
                self.tracer.add("exec.stage", start, end, stage_parent.get(sid, parent), req,
                                **{k: row[k] for k in ("stage", "tasks", "run_ms", "cpu_ms")})
        self.stage_top = max([self.stage_top] + [r["stage"] for r in rows])
        return rows


EXEC_KEYS = ["tasks", "run_ms", "cpu_ms", "input_bytes", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes"]


def sum_stages(rows: list[dict], into: dict[str, float]) -> None:
    into["exec.stages"] = into.get("exec.stages", 0) + len(rows)
    for k in EXEC_KEYS:
        name = "exec.executor_" + k if k in ("run_ms", "cpu_ms") else "exec." + k
        into[name] = into.get(name, 0) + sum(r[k] for r in rows)
    ratio = max((r["task_max_over_median"] for r in rows), default=0.0)
    into["exec.task_max_over_median"] = max(into.get("exec.task_max_over_median", 0.0), ratio)


def catalyst_phases(jdf) -> dict[str, tuple[float, float]]:
    """analysis/optimization/planning as (start, end) epoch seconds from
    ``queryExecution().tracker()``."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1000, kv._2().endTimeMs() / 1000)
    return out


PYTHON_NODE = re.compile(r"Pandas|Python|InArrow")
_UNITS = {"ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "ns": 1e-6}


def _metric_value(text: str) -> float:
    """Numeric value of a formatted SQL metric: "1,234", "12 ms", or the
    total line of a per-task summary ("total (min, med, max ...)\\n9.0 s
    (...)"), in rows or milliseconds."""
    m = re.match(r"\s*([\d,.]+)\s*([a-zA-Z]*)", text.split("\n")[-1])
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Plan nodes and SQL metric values of the SQL executions a query
    started, read from Spark's SQL status store."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.last = self._top()

    def _top(self) -> int:
        ex = self.store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def since_last(self) -> list[dict]:
        """[{id, name, metrics, inputs}] for every node of the executions
        started since the previous call; ``inputs`` are child node ids."""
        nodes, top = [], self.last
        ex = self.store.executionsList()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self.last:
                continue
            top = max(top, eid)
            vals = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            parents: dict[int, list[int]] = {}
            edges = graph.edges()
            for j in range(edges.size()):
                e = edges.apply(j)
                parents.setdefault((eid, e.toId()), []).append((eid, e.fromId()))
            all_nodes = graph.allNodes()
            for j in range(all_nodes.size()):
                n = all_nodes.apply(j)
                ms = {}
                mlist = n.metrics()
                for k in range(mlist.size()):
                    m = mlist.apply(k)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        ms[m.name()] = _metric_value(v.get())
                nodes.append({"id": (eid, n.id()), "name": n.name(), "metrics": ms,
                              "inputs": parents.get((eid, n.id()), [])})
        self.last = top
        return nodes


def sum_python(nodes: list[dict], into: dict[str, float]) -> None:
    """Python worker time and rows of the Python exec nodes (MapInPandas,
    ArrowEvalPython, FlatMapGroupsInPandasWithState, ...)."""
    for n in nodes:
        if PYTHON_NODE.search(n["name"]):
            for key, name in (("multimodal.python_ms", "time to run Python workers"),
                              ("multimodal.python_rows", "number of output rows")):
                into[key] = into.get(key, 0.0) + n["metrics"].get(name, 0.0)
