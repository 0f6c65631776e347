"""Spans, Spark job groups, and the status-store reader.

A ``Tracer`` records one span per call the benchmark makes into a layer
(name, start, end, parent, run id).  Timing is always on; with
``traced=True`` every span also tags the Spark jobs it launches with its
own job group, and ``StatusStore`` afterwards reads per-group engine
numbers from Spark's own status stores:

* ``sc._jsc.sc().statusStore()`` (AppStatusStore): jobs, stages, task
  durations, executor run/CPU/GC time, shuffle bytes, spill.
* ``spark._jsparkSession.sharedState().statusStore()``
  (SQLAppStatusStore): per-plan-node SQL metrics, among them the Python
  worker metrics "time to run Python workers" and "data sent to /
  returned from Python workers".

"time to initialize Python workers" is deliberately not read: it
includes the idle time of reused workers, so it is not a layer cost.

A number a Spark version does not expose is reported as ``None``
(missing), never as 0.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager

_SIZE_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_BROADCAST_TIMES = ("time to collect", "time to build", "time to broadcast")
_MIP_METRICS = {
    "mip_run_s": "time to run Python workers",
    "mip_bytes_in": "data sent to Python workers",
    "mip_bytes_out": "data returned from Python workers",
    "mip_rows_out": "number of output rows",
}
# the composed text extraction (operators.text.extract_text_udf)
_TEXT_UDF = "extract_text_udf("
_WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
_PY_NODES = ("MapInPandas", "ArrowEvalPython", "PythonMapInArrow",
             "FlatMapGroupsInPandas", "BatchEvalPython")


class Tracer:
    """In-memory spans; written out by the caller when the run ends.
    Job groups are set once ``sc`` (the SparkContext) is assigned."""

    def __init__(self, run_id: str, traced: bool = False):
        self.run_id = run_id
        self.sc = None
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name, "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}:{len(self.spans)}:{name}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.traced and self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"], False)
                else:
                    self.sc._jsc.clearJobGroup()

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_time(self, rec: dict) -> float:
        """Span wall minus the part of it its child spans cover."""
        return self.wall(rec) - _covered(
            [(c["start"], c["end"]) for c in self.children(rec)],
            rec["start"], rec["end"],
        )

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        import json

        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s["start"] - t0, 6)
                row["end"] = round(s["end"] - t0, 6)
                f.write(json.dumps(row, default=str) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def _epoch_s(ms) -> float | None:
    """Epoch seconds of a status-store timestamp (epoch milliseconds,
    as a number or a string), or ``None``."""
    return None if ms is None else int(ms) / 1e3


def _plan_nodes(graph: dict) -> list[dict]:
    """Every operator node of a plan graph, clusters (whole-stage
    codegen) opened up."""
    out, todo = [], list(graph["nodes"])
    while todo:
        node = todo.pop()
        if "nodes" in node:
            todo.extend(node["nodes"])
        else:
            out.append(node)
    return out


def _parse_metric(text: str | None, kind: str) -> float | None:
    """Value of one formatted SQL metric: the total on the last line
    ("12.3 MiB (min, med, max ...)" or a bare "1.5 s")."""
    if text is None:
        return None
    line = text.strip().splitlines()[-1]
    if kind == "sum":
        m = re.match(r"\s*([\d,]+)", line)
        return float(m.group(1).replace(",", "")) if m else None
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return None
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return num * _SIZE_UNITS[unit] if unit in _SIZE_UNITS else None
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    return None


def _add(rec: dict, key: str, metrics: dict, metric: str) -> None:
    """Add a plan node's metric to ``rec[key]``.  A metric the node does
    not define marks the key missing; one it defines but never updated
    (the node did not run) adds nothing."""
    if metric not in metrics:
        rec["missing"].add(key)
    else:
        rec[key] += metrics[metric] or 0.0


class StatusStore:
    """Reads jobs, stages and SQL plan metrics of a finished run and
    attributes them to job groups.

    Each status-store list comes over py4j as one JSON document,
    written by Jackson with its Scala module (the serializer Spark's own
    status REST API and KV store use): walking the Scala objects one
    py4j call per field took 15-30 s for one run."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._durations: dict = {}
        self.jobs = self._read_jobs()
        self.stages = self._read_stages()
        self.sql = self._read_sql()

    def _json(self, obj):
        import json

        return json.loads(self._mapper.writeValueAsString(obj))

    def _read_jobs(self) -> list[dict]:
        return [{
            "id": j["jobId"],
            "group": j["jobGroup"],
            "stages": j["stageIds"],
            "start": _epoch_s(j["submissionTime"]),
            "end": _epoch_s(j["completionTime"]),
        } for j in self._json(self._app.jobsList(None))]

    def _read_stages(self) -> dict:
        out = {}
        for s in self._json(self._app.stageList(
                None, False, False, self._no_quantiles, None)):
            if s["submissionTime"] is None:
                continue  # skipped stage: its work was reused, not run
            out[(s["stageId"], s["attemptId"])] = {
                "tasks": s["numCompleteTasks"],
                "run_s": s["executorRunTime"] / 1e3,
                "cpu_s": s["executorCpuTime"] / 1e9,
                "gc_s": s["jvmGcTime"] / 1e3,
                "shuffle_read_bytes": s["shuffleReadBytes"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
            }
        return out

    def task_durations(self, stage_key) -> list[float]:
        """Durations of a stage's tasks (read once per stage)."""
        if stage_key not in self._durations:
            sid, att = stage_key
            self._durations[stage_key] = [
                t["duration"] / 1e3
                for t in self._json(self._app.taskList(sid, att, 1 << 20))
                if t["duration"] is not None]
        return self._durations[stage_key]

    def _read_sql(self) -> list[dict]:
        """Per SQL execution: its job ids, wall time and the table it
        writes (the last directory of its output path, if any); the
        Python time of all its Python plan nodes, the worker metrics of
        its MapInPandas nodes (the fused extraction kernel), the rows
        through the composed html-to-text UDF, and its broadcast
        exchanges."""
        out = []
        for e in self._json(self._sql.executionsList()):
            eid = int(e["executionId"])
            vals = self._json(self._sql.executionMetrics(eid))
            rec = {"python_run_s": 0.0, "text_udf_rows": 0.0,
                   **{k: 0.0 for k in _MIP_METRICS},
                   "broadcasts": [], "missing": set(), "writes": None}
            for node in _plan_nodes(self._json(self._sql.planGraph(eid))):
                name = node["name"]
                metrics = {
                    m["name"]: _parse_metric(vals.get(str(m["accumulatorId"])),
                                             m["metricType"])
                    for m in node["metrics"]
                }
                if name.startswith("BroadcastExchange"):
                    rec["broadcasts"].append((
                        metrics.get("number of output rows") or 0.0,
                        sum(metrics.get(k) or 0.0 for k in _BROADCAST_TIMES),
                    ))
                elif name.startswith(_PY_NODES):
                    _add(rec, "python_run_s", metrics,
                         "time to run Python workers")
                    if name.startswith("MapInPandas"):
                        for key, metric in _MIP_METRICS.items():
                            _add(rec, key, metrics, metric)
                    if _TEXT_UDF in node["desc"]:
                        _add(rec, "text_udf_rows", metrics,
                             "number of output rows")
                elif name == _WRITE_NODE:
                    path = node["desc"][len(_WRITE_NODE):].split(",")[0]
                    rec["writes"] = os.path.basename(path.strip())
            rec["jobs"] = {int(j) for j in e["jobs"]}
            done = _epoch_s(e["completionTime"])
            rec["wall_s"] = (done - _epoch_s(e["submissionTime"])
                             if done is not None else 0.0)
            out.append(rec)
        return out

    # ------------------------------------------------------- per group

    def record(self, groups: set[str], start: float, end: float,
               epoch_offset: float, label_rows: int | None = None,
               tables: set[str] | None = None) -> dict:
        """Engine numbers for the jobs of ``groups``.  ``start``/``end``
        are the span's ``perf_counter`` bounds; ``epoch_offset`` is
        ``time.time() - time.perf_counter()``, which places the job
        timestamps (epoch seconds) on the same clock.  A broadcast
        exchange of exactly ``label_rows`` rows is the label table of
        JVM-side linking; its build and broadcast time is reported as
        ``label_broadcast_s``.  With ``tables``, only the jobs of the
        executions that write one of those tables count.  ``writes``
        maps each table written to the wall time of its executions."""
        jobs = [j for j in self.jobs if j["group"] in groups]
        if tables is not None:
            keep = {j for e in self.sql if e["writes"] in tables
                    for j in e["jobs"]}
            jobs = [j for j in jobs if j["id"] in keep]
        job_ids = {j["id"] for j in jobs}
        stage_keys = [
            k for k in self.stages
            if any(k[0] in j["stages"] for j in jobs)
        ]
        rec = {"jobs": len(jobs), "stages": len(stage_keys)}
        for f in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            rec[f] = sum(self.stages[k][f] for k in stage_keys)
        execs = [e for e in self.sql if e["jobs"] & job_ids]
        for f in ("python_run_s", "text_udf_rows", *_MIP_METRICS):
            missing = any(f in e["missing"] for e in execs)
            rec[f] = None if missing else sum(e[f] for e in execs)
        rec["writes"] = Counter()
        for e in execs:
            if e["writes"]:
                rec["writes"][e["writes"]] += e["wall_s"]
        labels = [b for e in execs for b in e["broadcasts"]
                  if label_rows is not None and b[0] == label_rows]
        rec["label_broadcast_s"] = sum(b[1] for b in labels)
        rec["label_broadcast_rows"] = sum(b[0] for b in labels)
        ivals = [
            (j["start"] - epoch_offset, j["end"] - epoch_offset)
            for j in jobs if j["start"] is not None and j["end"] is not None
        ]
        rec["job_covered_s"] = _covered(ivals, start, end)
        rec["driver_only_s"] = (end - start) - rec["job_covered_s"]
        rec["top_stage_task_max_s"] = rec["top_stage_task_p50_s"] = None
        if stage_keys:
            top = max(stage_keys, key=lambda k: self.stages[k]["run_s"])
            durs = self.task_durations(top)
            if durs:
                rec["top_stage_task_max_s"] = max(durs)
                rec["top_stage_task_p50_s"] = statistics.median(durs)
        # skew of the reduce side (stages that read a shuffle): the
        # slowest task against the median one
        reduce_durs = [
            d for k in stage_keys if self.stages[k]["shuffle_read_bytes"]
            for d in self.task_durations(k)
        ]
        med = statistics.median(reduce_durs) if reduce_durs else 0
        rec["reduce_task_skew"] = max(reduce_durs) / med if med else None
        return rec


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc.  Each process counts
    its proportional set size (Pss), so pages that forked workers share
    with their parent count once, not once per worker."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> int:
        total = sum(_pss_bytes(p) for p in _tree(self.root_pid))
        self.peak_bytes = max(self.peak_bytes, total)
        return total


def _tree(root: int) -> list[int]:
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
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def cpu_times() -> list[int]:
    """Host-wide CPU tick counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests
    between two ``cpu_times`` readings (the ``steal`` column)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def profile_split(spark, functions: tuple[str, ...]) -> dict:
    """Cumulative seconds per named function from the perf UDF
    profiler (``spark.sql.pyspark.udf.profiler=perf``); 0 for a
    function no profiled UDF called, ``None`` for all of them if this
    Spark version keeps no perf profiles."""
    try:
        results = spark.profile.profiler_collector._perf_profile_results
    except AttributeError:
        return {fn: None for fn in functions}
    out: dict = {fn: 0.0 for fn in functions}
    for stats in results.values():
        for (_file, _line, fn), row in stats.stats.items():
            if fn in out:
                out[fn] += row[3]
    return out
