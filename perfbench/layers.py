"""Spans and per-layer attribution for the traced run.

Spans live in memory (run > pass > op > construct|execute) and are
written out when the run ends.  Layer numbers come from the engine's own
telemetry, joined to the phase spans afterwards:

- Spark's event log (jobs, stages, task metrics, SQL metrics), by the
  job group each phase span sets, or by submission time for jobs that
  run under another group (streaming micro-batches);
- a py4j ``QueryExecutionListener`` for Catalyst phase times, read from
  each executed query's ``QueryPlanningTracker``;
- a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import bisect
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path


class Spans:
    """In-memory span recorder; durations from perf_counter, epochs from time()."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.records), "parent": self._stack[-1] if self._stack else None,
               "name": name, **attrs, "t0": time.time()}
        self.records.append(rec)
        self._stack.append(rec["id"])
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - start
            rec["t1"] = rec["t0"] + rec["dur_s"]
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        child = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r.get("dur_s", 0.0)
        for r in self.records:
            r["self_s"] = r.get("dur_s", 0.0) - child[r["id"]]
        return self.records


class Listeners:
    """Catalyst phase times and streaming progress, collected in memory."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.planning: list[dict] = []
        self.progress: list[dict] = []
        planning, progress = self.planning, self.progress

        class PlanListener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases()
                planning.append({k: (phases.apply(k).startTimeMs(), phases.apply(k).durationMs())
                                 for k in ("analysis", "optimization", "planning")
                                 if phases.contains(k)})

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(PlanListener())
        spark.streams.addListener(ProgressListener())

    def drain(self) -> None:
        """Wait until every listener event posted so far has been handled."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def event_log_conf(log_dir: Path) -> str:
    return (f"spark.eventLog.enabled=true;spark.eventLog.dir={log_dir.resolve().as_uri()};"
            "spark.eventLog.compress=false;spark.eventLog.rolling.enabled=false")


def read_event_log(log_dir: Path) -> list[dict]:
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with files[0].open() as f:
        return [json.loads(line) for line in f]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _plan_metric_names(c, out)


_SQL_METRICS = {
    "number of written files": "io.write_files",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def attribute(events: list[dict], phases: list[dict], planning: list[dict],
              progress: list[dict]) -> dict[int, dict]:
    """Per phase span id: the layer counters of the work it caused."""
    by_group = {p["group"]: p["id"] for p in phases}
    starts = [p["t0"] * 1000 for p in phases]

    def at(ms: float):
        i = bisect.bisect_right(starts, ms) - 1
        if i >= 0 and ms <= phases[i]["t1"] * 1000 + 1:
            return phases[i]["id"]
        return None

    acc: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    stage_iv: dict[int, tuple[float, float]] = {}
    accum_names: dict[int, str] = {}
    exec_span: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = by_group.get(group, at(e["Submission Time"]))
            if sid is None:
                continue
            acc[sid]["driver.jobs"] += 1
            for st in e["Stage IDs"]:
                stage_span[st] = sid
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is not None and "Submission Time" in info and "Completion Time" in info:
                acc[sid]["driver.stages"] += 1
                stage_iv[info["Stage ID"]] = (info["Submission Time"] / 1000,
                                              info["Completion Time"] / 1000)
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None or "Task Metrics" not in e:
                continue
            a, m, ti = acc[sid], e["Task Metrics"], e["Task Info"]
            wall = (ti["Finish Time"] - ti["Launch Time"]) / 1000
            stage_tasks[e["Stage ID"]].append(wall)
            a["task.count"] += 1
            a["task.wall_s"] += wall
            a["task.run_s"] += m["Executor Run Time"] / 1000
            a["task.cpu_s"] += m["Executor CPU Time"] / 1e9
            a["task.gc_s"] += m["JVM GC Time"] / 1000
            a["task.deser_s"] += m["Executor Deserialize Time"] / 1000
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            a["shuffle.read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            a["shuffle.fetch_wait_s"] += sr["Fetch Wait Time"] / 1000
            a["shuffle.write_bytes"] += sw["Shuffle Bytes Written"]
            a["spill.disk_bytes"] += m["Disk Bytes Spilled"]
            a["spill.mem_bytes"] += m["Memory Bytes Spilled"]
            inp, out = m["Input Metrics"], m["Output Metrics"]
            a["io.scan_tasks"] += inp["Bytes Read"] > 0
            a["io.scan_rows"] += inp["Records Read"]
            a["io.scan_bytes"] += inp["Bytes Read"]
            a["io.write_rows"] += out["Records Written"]
            a["io.write_bytes"] += out["Bytes Written"]
            for u in ti.get("Accumulables", []):
                name = _SQL_METRICS.get(u.get("Name"))
                if name:
                    a[name] += float(u["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e["sparkPlanInfo"], accum_names)
            if kind.endswith("SQLExecutionStart"):
                sid = by_group.get(e.get("jobGroupId"), at(e["time"]))
                if sid is not None:
                    exec_span[e["executionId"]] = sid
        elif kind.endswith("DriverAccumUpdates"):
            sid = exec_span.get(e["executionId"])
            if sid is None:
                continue
            for acc_id, value in e["accumUpdates"]:
                name = _SQL_METRICS.get(accum_names.get(acc_id))
                if name:
                    acc[sid][name] += value

    stage_ivs = defaultdict(list)
    for st, sid in stage_span.items():
        if st in stage_iv:
            stage_ivs[sid].append(stage_iv[st])
        walls = stage_tasks.get(st)
        if walls and len(walls) >= 2 and statistics.median(walls) > 0:
            acc[sid].setdefault("_skew", []).append(max(walls) / statistics.median(walls))
    for p in phases:
        busy = _union_s([(max(x, p["t0"]), min(y, p["t1"])) for x, y in stage_ivs[p["id"]]
                         if min(y, p["t1"]) > max(x, p["t0"])])
        acc[p["id"]]["_stage_union_s"] = busy
        if p["phase"] == "execute":
            acc[p["id"]]["driver.gap_s"] = p["dur_s"] - busy

    for rec in planning:
        ph = rec.get("optimization") or rec.get("analysis")
        sid = at(ph[0]) if ph else None
        if sid is not None:
            for k in ("analysis", "optimization", "planning"):
                if k in rec:
                    acc[sid][f"plan.{k}_ms"] += rec[k][1]

    for pr in progress:
        ms = datetime.fromisoformat(pr["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
        sid = at(ms)
        if sid is None:
            continue
        a, d = acc[sid], pr.get("durationMs", {})
        a["streaming.batches"] += 1
        a["streaming.batches_with_input"] += pr.get("numInputRows", 0) > 0
        a["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1000
        a["streaming.add_batch_s"] += d.get("addBatch", 0) / 1000
        a["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000
        for so in pr.get("stateOperators", []):
            a["streaming.state_rows"] = max(a["streaming.state_rows"],
                                                 so.get("numRowsTotal", 0))
            a["streaming.state_mem_bytes"] = max(a["streaming.state_mem_bytes"],
                                                 so.get("memoryUsedBytes", 0))
            a["streaming.state_commit_s"] += so.get("commitTimeMs", 0) / 1000
    return acc


# Per-layer metrics reported by the traced run, with their units.
LAYER_UNITS = {
    "session.import_s": "s", "session.start_s": "s",
    "registry.fn_calls": "count", "registry.memo_hits": "count", "registry.memo_hit_ratio": "ratio",
    "operators.construct_s": "s", "operators.construct_raw_s": "s",
    "operators.eager_jobs": "count", "operators.eager_share": "ratio",
    "io.load_misses": "count", "io.scan_tasks": "count", "io.scan_rows": "count",
    "io.scan_bytes": "bytes", "io.write_rows": "count", "io.write_bytes": "bytes",
    "io.write_files": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "driver.jobs": "count", "driver.stages": "count", "driver.gap_s": "s",
    "task.count": "count", "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "task.deser_s": "s", "task.slot_util": "ratio", "task.skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.disk_bytes": "bytes", "spill.mem_bytes": "bytes",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "streaming.batches": "count", "streaming.useful_batch_ratio": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "cold.operators.construct_s": "s", "cold.operators.eager_jobs": "count",
    "cold.io.load_misses": "count", "cold.plan.analysis_ms": "ms",
    "cold.plan.optimization_ms": "ms", "cold.plan.planning_ms": "ms",
    "cold.driver.gap_s": "s", "cold.task.run_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
    "trace.harness_self_s": "s", "reference.duckdb_pass_s": "s",
    "memory.peak_rss_mb": "MB",
}


def _add(dst: dict, src: dict) -> None:
    for k, v in src.items():
        if isinstance(v, list):
            dst.setdefault(k, []).extend(v)
        else:
            dst[k] = dst.get(k, 0.0) + v


def _op_counters(rec: dict, construct: dict, execute: dict) -> dict:
    m: dict = {}
    _add(m, construct)
    _add(m, execute)
    _add(m, {"operators.eager_jobs": construct.get("driver.jobs", 0.0),
             "registry.fn_calls": 1.0,
             "registry.memo_hits": float(rec.get("memo_hit", False)),
             "io.load_misses": rec.get("load_misses", 0),
             "operators.construct_s": rec.get("construct_s", 0.0),
             "operators.execute_s": rec.get("execute_s", 0.0),
             "plan.analysis_ms": rec.get("analysis_ms", 0)})
    return m


def _finish(m: dict, nproc: int) -> dict:
    """Derived ratios of one summed counter set; drops helper keys."""
    out = {k: v for k, v in m.items() if not k.startswith("_")}
    calls = m.get("registry.fn_calls", 0.0)
    out["registry.memo_hit_ratio"] = m.get("registry.memo_hits", 0.0) / calls if calls else 0.0
    construct = m.get("operators.construct_s", 0.0)
    work = construct + m.get("operators.execute_s", 0.0)
    out["operators.eager_share"] = construct / work if work else 0.0
    busy = m.get("_stage_union_s", 0.0)
    out["task.slot_util"] = m.get("task.wall_s", 0.0) / (nproc * busy) if busy else 0.0
    skew = m.get("_skew") or [1.0]
    out["task.skew"] = statistics.median(skew)
    batches = m.get("streaming.batches", 0)
    out["streaming.useful_batch_ratio"] = (m.get("streaming.batches_with_input", 0) / batches
                                           if batches else 0.0)
    return out


def summarize(passes: list[dict], spans: list[dict], acc: dict, nproc: int) -> dict:
    """Per pass and per op counters, from runner records and attribution.

    Returns {"passes": {label: metrics}, "ops": {op: {label: metrics}}}."""
    phase_of = {(s["label"], s["op"], s["phase"]): s["id"] for s in spans if "phase" in s}
    per_pass, per_op = {}, defaultdict(dict)
    for p in passes:
        total: dict = {}
        for op, rec in p["ops"].items():
            c = acc.get(phase_of.get((p["label"], op, "construct")), {})
            x = acc.get(phase_of.get((p["label"], op, "execute")), {})
            m = _op_counters(rec, c, x)
            per_op[op][p["label"]] = _finish(m, nproc)
            _add(total, m)
        per_pass[p["label"]] = _finish(total, nproc)
    return {"passes": per_pass, "ops": per_op}


def mean_over(metrics: list[dict]) -> dict:
    keys = set().union(*metrics) if metrics else set()
    return {k: statistics.fmean(m.get(k, 0.0) for m in metrics) for k in sorted(keys)}
