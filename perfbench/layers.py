"""Per-layer split of a traced run.

``Probe`` records, around the harness's own calls into the package,
each query's phase boundaries (wall clock and Spark's global job id),
the Catalyst phase times of the returned frame and the storage still
held afterwards. ``fold`` reads the Spark event log of the run,
attributes every job, stage, task, SQL metric, block update and
streaming progress event to a query and phase, and writes one profile
line per query to ``profile.jsonl``.

Attribution: jobs by job-id range (a streaming micro-batch runs on the
stream's own thread and job group, but its job id still falls inside
the builder's range), stages and tasks through their job, SQL
executions and streaming progress by wall-clock window, block updates
to the query of the most recent job start.

Phases of one query: ``build`` is the builder call, ``plan`` forces the
returned frame's optimization and physical planning (traced runs only),
``exec`` is the noop write. Task counters cover every job of the query
except ``exec.task_run_s`` and ``queries.build_task_s``, which split
executor run time by phase.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from datetime import datetime

import pyarrow.parquet as pq

MB = 1e6

# name -> (unit, how one pass's value is formed from its queries; see one_pass)
METRICS = {
    "queries.build_s": ("s", "sum"),
    "queries.build_jobs": ("count", "sum"),
    "queries.build_task_s": ("s", "sum"),
    "catalyst.plan_s": ("s", "sum"),
    "exec.exec_s": ("s", "sum"),
    "exec.jobs": ("count", "sum"),
    "exec.stages": ("count", "sum"),
    "exec.tasks": ("count", "sum"),
    "exec.task_run_s": ("s", "sum"),
    "exec.task_cpu_s": ("s", "sum"),
    "exec.gc_s": ("s", "sum"),
    "exec.task_failures": ("count", "sum"),
    "exec.core_util": ("ratio", "derived"),
    "exec.shuffle_write_mb": ("MB", "sum"),
    "exec.shuffle_read_mb": ("MB", "sum"),
    "exec.spill_mb": ("MB", "sum"),
    "exec.peak_exec_mem_mb": ("MB", "max"),
    "sources.scans": ("count", "sum"),
    "sources.scan_rows": ("count", "sum"),
    "sources.scan_mb": ("MB", "sum"),
    "sources.scan_s": ("s", "sum"),
    "sources.rescan_ratio": ("ratio", "derived"),
    "sources.write_mb": ("MB", "sum"),
    "operators.python_run_s": ("s", "sum"),
    "operators.python_start_s": ("s", "sum"),
    "operators.arrow_sent_mb": ("MB", "sum"),
    "operators.arrow_returned_mb": ("MB", "sum"),
    "operators.checkpoint_mb": ("MB", "sum"),
    "operators.retained_mb": ("MB", "last"),
    "streaming.batches": ("count", "sum"),
    "streaming.batch_s": ("s", "sum"),
    "streaming.wal_s": ("s", "sum"),
    "streaming.state_commit_s": ("s", "sum"),
    "streaming.state_rows": ("count", "sum"),
    "trace.pass_s": ("s", "derived"),
    "trace.accounted_frac": ("ratio", "derived"),
    "trace.accum_errors": ("count", "derived"),
    "trace.queries_without_task_metrics": ("count", "sum"),
}

# SQL metric name -> profile field, with the scale to seconds or MB.
PYTHON_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "data sent to Python workers": "operators.arrow_sent_mb",
    "data returned from Python workers": "operators.arrow_returned_mb",
}
SCAN_METRICS = {
    "number of output rows": "sources.scan_rows",
    "scan time": "sources.scan_s",
    "size of files read": "sources.scan_mb",
}
ACCUM_ERROR = "attempted to access non-existent accumulator"


def _scale(metric_type: str) -> float:
    return {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / MB}.get(metric_type, 1.0)


class Probe:
    """Phase boundaries of each timed query, taken from the harness side."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.spans: list[dict] = []
        self._cur: dict = {}

    def _mark(self, key: str) -> None:
        self._cur[f"t{key}"] = time.time() * 1000
        self._cur[f"j{key}"] = self._dag.numTotalJobs()
        self._cur[f"p{key}"] = time.perf_counter()

    def start(self, name: str, pass_index: int) -> None:
        self._cur = {"query": name, "pass": pass_index}
        self._mark("0")

    def built(self, df) -> None:
        self._mark("1")
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().iterator()
        plan_ms = 0
        while it.hasNext():
            plan_ms += it.next()._2().durationMs()
        self._cur["plan_s"] = plan_ms / 1000
        self._mark("2")

    def done(self) -> None:
        self._mark("3")
        infos = self._jsc.getRDDStorageInfo()
        self._cur["retained_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / MB
        self._cur["retained_rdds"] = len(infos)
        self.spans.append(self._cur)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


class _Fold:
    def __init__(self, spans: list[dict], data_dir: str):
        self.spans = spans
        self.data_dir = data_dir
        self.profiles = [self._empty(s) for s in spans]
        self.job_owner: dict[int, tuple[int, str]] = {}
        for i, s in enumerate(spans):
            for j in range(s["j0"], s["j1"]):
                self.job_owner[j] = (i, "build")
            for j in range(s["j1"], s["j3"]):
                self.job_owner[j] = (i, "exec")
        self.stage_owner: dict[int, tuple[int, str]] = {}
        self.exec_owner: dict[int, int] = {}
        self.acc: dict[int, tuple[str, str, str]] = {}  # id -> (field, table path, type)
        self.scan_nodes: list[set] = [set() for _ in spans]
        self.scan_tables: list[set] = [set() for _ in spans]
        self.state_rows: list[dict] = [{} for _ in spans]
        self.current = None

    @staticmethod
    def _empty(span: dict) -> dict:
        p = {k: 0 for k, (_, how) in METRICS.items() if how in ("sum", "max")}
        p.update({
            "query": span["query"], "pass": span["pass"],
            "queries.build_s": span["p1"] - span["p0"],
            "catalyst.plan_s": span["plan_s"],
            "exec.exec_s": span["p3"] - span["p2"],
            "queries.build_jobs": span["j1"] - span["j0"],
            "exec.jobs": span["j3"] - span["j1"],
            "operators.retained_mb": span["retained_mb"],
            "operators.retained_rdds": span["retained_rdds"],
            "wall_s": span["p3"] - span["p0"],
            "footer_rows": 0,
            "base_scan_rows": 0,
        })
        return p

    def _span_at(self, ms: float):
        for i, s in enumerate(self.spans):
            if s["t0"] <= ms <= s["t3"]:
                return i
        return None

    def _plan(self, info: dict) -> None:
        for node in _plan_nodes(info):
            metrics = {m["name"]: m for m in node.get("metrics", [])}
            table = ""
            if node["nodeName"].startswith("Scan ") and "number of files read" in metrics:
                fields = SCAN_METRICS
                loc = re.search(r"\[(.*)\]", node.get("metadata", {}).get("Location", ""))
                table = loc.group(1) if loc else ""
            else:
                fields = PYTHON_METRICS
            for name, field in fields.items():
                if name in metrics:
                    m = metrics[name]
                    self.acc[m["accumulatorId"]] = (field, table, m["metricType"])

    def _add_acc(self, i: int, acc_id: int, value) -> None:
        field, table, mtype = self.acc[acc_id]
        self.profiles[i][field] += float(value) * _scale(mtype)
        if field == "sources.scan_rows":
            self.scan_nodes[i].add(acc_id)
            if table.startswith("file:" + self.data_dir):
                self.scan_tables[i].add(table[len("file:"):])
                self.profiles[i]["base_scan_rows"] += float(value)

    def event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            owner = self.job_owner.get(e["Job ID"])
            self.current = owner[0] if owner else None
            if owner:
                for sid in e["Stage IDs"]:
                    self.stage_owner[sid] = owner
        elif kind == "SparkListenerStageCompleted":
            owner = self.stage_owner.get(e["Stage Info"]["Stage ID"])
            if owner:
                self.profiles[owner[0]]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            owner = self.stage_owner.get(e["Stage ID"])
            if owner:
                self._task(owner, e)
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            self._plan(e["sparkPlanInfo"])
            if kind.endswith("SQLExecutionStart"):
                i = self._span_at(e["time"])
                if i is not None:
                    self.exec_owner[e["executionId"]] = i
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            i = self.exec_owner.get(e["executionId"])
            if i is not None:
                for acc_id, value in e["accumUpdates"]:
                    if acc_id in self.acc:
                        self._add_acc(i, acc_id, value)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            size = info["Memory Size"] + info["Disk Size"]
            if self.current is not None and info["Block ID"].startswith("rdd_") and size:
                self.profiles[self.current]["operators.checkpoint_mb"] += size / MB
        elif kind.endswith("QueryProgressEvent"):
            self._progress(e["progress"])

    def _task(self, owner: tuple[int, str], e: dict) -> None:
        i, phase = owner
        p = self.profiles[i]
        p["exec.tasks"] += 1
        p["task_metrics_seen"] = True
        if e["Task End Reason"]["Reason"] != "Success":
            p["exec.task_failures"] += 1
        m = e.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1e3
        p["exec.task_run_s" if phase == "exec" else "queries.build_task_s"] += run_s
        p["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        p["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        p["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        p["exec.peak_exec_mem_mb"] = max(p["exec.peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / MB)
        sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
        p["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        p["exec.shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
        p["sources.write_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
        for a in e["Task Info"].get("Accumulables", []):
            if a["ID"] in self.acc and "Update" in a:
                self._add_acc(i, a["ID"], a["Update"])

    def _progress(self, prog: dict) -> None:
        ts = datetime.strptime(prog["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        i = self._span_at((ts - datetime(1970, 1, 1)).total_seconds() * 1000)
        if i is None:
            return
        p, d = self.profiles[i], prog["durationMs"]
        p["streaming.batches"] += 1
        p["streaming.batch_s"] += d.get("triggerExecution", 0) / 1e3
        p["streaming.wal_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        for k, op in enumerate(prog.get("stateOperators", [])):
            p["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
            self.state_rows[i][(prog["runId"], k)] = op.get("numRowsTotal", 0)

    def finish(self) -> list[dict]:
        footer = {t: pq.ParquetFile(t).metadata.num_rows for t in set().union(*self.scan_tables)}
        for i, p in enumerate(self.profiles):
            p["sources.scans"] = len(self.scan_nodes[i])
            p["streaming.state_rows"] = sum(self.state_rows[i].values())
            p["footer_rows"] = sum(footer[t] for t in self.scan_tables[i])
            jobs = p["queries.build_jobs"] + p["exec.jobs"]
            p["no_task_metrics"] = bool(jobs and not p.pop("task_metrics_seen", False))
            p["trace.queries_without_task_metrics"] = int(p["no_task_metrics"])
        return self.profiles


def one_pass(profiles: list[dict], accum_errors: int, cores: int) -> dict:
    """Per-layer values of one pass over the list, built like ``pass_s``:
    from each query's fastest run, so every value of a query comes from
    the same run."""
    fastest: dict[str, dict] = {}
    for p in profiles:
        if p["query"] not in fastest or p["wall_s"] < fastest[p["query"]]["wall_s"]:
            fastest[p["query"]] = p
    runs = list(fastest.values())
    summed = [k for k, (_, how) in METRICS.items() if how == "sum"]
    row = {k: sum(p[k] for p in runs) for k in summed + ["wall_s", "footer_rows", "base_scan_rows"]}
    row["exec.peak_exec_mem_mb"] = max(p["exec.peak_exec_mem_mb"] for p in profiles)
    row["operators.retained_mb"] = profiles[-1]["operators.retained_mb"]
    row["exec.core_util"] = (
        row["exec.task_run_s"] / (cores * row["exec.exec_s"]) if row["exec.exec_s"] else 0.0
    )
    row["sources.rescan_ratio"] = (
        row["base_scan_rows"] / row["footer_rows"] if row["footer_rows"] else 0.0
    )
    row["trace.pass_s"] = row["wall_s"]
    row["trace.accounted_frac"] = (
        row["queries.build_s"] + row["catalyst.plan_s"] + row["exec.exec_s"]
    ) / row["wall_s"]
    row["trace.accum_errors"] = accum_errors
    return row


def fold(probe: Probe, run_dir: str, data_dir: str, spark_log: str, cores: int):
    """Fold the run's event log into profiles; return (metrics, details)."""
    (log_path,) = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    f = _Fold(probe.spans, data_dir)
    with open(log_path) as fh:
        for line in fh:
            f.event(json.loads(line))
    profiles = f.finish()
    with open(os.path.join(run_dir, "profile.jsonl"), "w") as out:
        for p in profiles:
            out.write(json.dumps(p) + "\n")
    with open(spark_log, errors="replace") as fh:
        accum_errors = sum(line.count(ACCUM_ERROR) for line in fh)
    row = one_pass(profiles, accum_errors, cores)
    metrics = {name: {"value": row[name], "unit": unit} for name, (unit, _) in METRICS.items()}
    flagged = sorted({p["query"] for p in profiles if p["no_task_metrics"]})
    return metrics, {"queries_without_task_metrics": flagged}
