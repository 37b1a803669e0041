"""One measured benchmark process.

import -> get_session -> cold pass -> timed passes -> oracle check,
all in one fresh interpreter so that ``setup_s`` sees a
cold import and a new JVM.  Writes one JSON result file; run.py turns
it into the benchmark's output.  Only the standard library is imported
before the set-up clock stops.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from layers import Spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# The first timed pass is still warming up (20-30 % slower), so a run
# whose passes outlast --seconds on a busy host would otherwise report
# that pass alone.  Two passes keep pass_s a median of the same shape.
MIN_TIMED_PASSES = 2


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Runner:
    """Runs passes over a workload's ops, timing each op's construct and
    execute phase; with a tracer, also tags jobs and counts memo use."""

    def __init__(self, spark, ops, names, sf_dir, workload, spans, traced):
        self.spark, self.ops, self.names, self.sf_dir = spark, ops, names, sf_dir
        self.workload, self.spans, self.traced = workload, spans, traced
        self.failures: list[dict] = []

    def _group(self, group: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, group)

    def run_pass(self, label: str, collect: bool = False, names=None) -> dict:
        from trip_data_pipeline_spark.io import _LOAD_CACHE_ATTR
        from trip_data_pipeline_spark.registry import _PLAN_CACHE_ATTR

        out: dict = {"label": label, "ops": {}}
        with self.spans.span("pass", label=label) as ps:
            for name in names or self.names:
                op = self.ops[name]
                rec: dict = {}
                with self.spans.span("op", label=label, op=name) as osp:
                    try:
                        plan_memo = getattr(self.spark, _PLAN_CACHE_ATTR, {})
                        rec["memo_hit"] = (name, self.sf_dir) in plan_memo
                        loads = len(getattr(self.spark, _LOAD_CACHE_ATTR, {}))
                        group = f"bench/{self.workload}/{label}/{name}"
                        self._group(f"{group}/construct")
                        with self.spans.span("construct", label=label, op=name,
                                             phase="construct", group=f"{group}/construct") as c:
                            df = op.fn(self.spark, self.sf_dir)
                        rec["load_misses"] = len(getattr(self.spark, _LOAD_CACHE_ATTR, {})) - loads
                        if self.traced and not rec["memo_hit"]:
                            phases = df._jdf.queryExecution().tracker().phases()
                            if phases.contains("analysis"):
                                rec["analysis_ms"] = phases.apply("analysis").durationMs()
                        self._group(f"{group}/execute")
                        with self.spans.span("execute", label=label, op=name,
                                             phase="execute", group=f"{group}/execute") as x:
                            if collect:
                                rec["cols"] = list(df.columns)
                                rec["rows"] = [tuple(r) for r in df.collect()]
                            else:
                                df.write.format("noop").mode("overwrite").save()
                        rec["construct_s"], rec["execute_s"] = c["dur_s"], x["dur_s"]
                    except Exception as exc:  # an op failure is a result, not a crash
                        rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
                        self.failures.append({"pass": label, "op": name, "error": rec["error"]})
                    finally:
                        self._group(f"bench/{self.workload}/idle")
                if "error" not in rec:
                    rec["op_s"] = osp["dur_s"]
                out["ops"][name] = rec
        out["wall_s"] = ps["dur_s"]
        return out


class _Collected:
    """An op's collected result, shaped like the DataFrame that
    ``tests.oracle.compare`` reads (``columns`` and ``collect()``)."""

    def __init__(self, rec: dict):
        self.columns, self._rows = rec["cols"], rec["rows"]

    def collect(self) -> list[tuple]:
        return self._rows


class _OracleCon:
    """The DuckDB connection handed to ``tests.oracle.compare``: times
    each oracle query and, for the self-test, can replace the first row
    of its result."""

    def __init__(self, con):
        self.con, self.seconds, self.corrupt = con, 0.0, False

    def execute(self, sql: str):
        t0 = time.perf_counter()
        res = self.con.execute(sql)
        desc, rows = res.description, res.fetchall()
        self.seconds += time.perf_counter() - t0
        if self.corrupt:
            rows = [tuple(["corrupted"] * len(desc))] + rows[1:]
        return SimpleNamespace(description=desc, fetchall=lambda: rows)


def check(runner: Runner, results: dict, corrupt: str | None = None) -> dict:
    """Compare every op's collected result with its DuckDB oracle through
    ``tests.oracle.compare``; a rows-only op must return a non-empty
    result, and the same row count when run again."""
    from tests.oracle import compare, duck_connect

    con = _OracleCon(duck_connect(runner.sf_dir))
    out = {"checked": 0, "mismatches": [], "duckdb_ops": 0}
    for name in runner.names:
        got = results["ops"][name]
        if "error" in got:
            continue
        out["checked"] += 1
        oracle = runner.ops[name].oracle
        if oracle is not None:
            out["duckdb_ops"] += 1
            con.corrupt = name == corrupt
            try:
                compare(_Collected(got), con, oracle)
                problem = None
            except Exception as exc:  # AssertionError, or the driver's sort TypeError
                problem = f"{type(exc).__name__}: {exc}"[:2000]
        else:
            again = runner.run_pass("recount", collect=True, names=[name])
            problem = rows_only_problem(got, again["ops"][name])
        if problem:
            out["mismatches"].append({"op": name, "problem": problem})
    con.con.close()
    out["duckdb_s"] = con.seconds
    return out


def rows_only_problem(first: dict, second: dict) -> str | None:
    n = len(first["rows"])
    if n == 0:
        return "empty result"
    if "error" not in second and len(second["rows"]) != n:  # an error is already counted
        return f"row count unstable across passes: {n} vs {len(second['rows'])}"
    return None


def _median_ok(passes: list[dict], op: str, key: str) -> float | None:
    vals = [p["ops"][op][key] for p in passes if key in p["ops"][op]]
    return statistics.median(vals) if vals else None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt-oracle", help="self-test: perturb this op's expected rows")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    names = list(WORKLOADS[args.workload].ops)

    t0 = time.perf_counter()
    import trip_data_pipeline_spark
    from trip_data_pipeline_spark import registry

    registry.queries()  # registers every op
    t1 = time.perf_counter()
    spark = trip_data_pipeline_spark.get_session("perfbench")
    t2 = time.perf_counter()
    res: dict = {"import_s": t1 - t0, "start_s": t2 - t1}

    listeners = None
    if args.trace:
        from layers import Listeners

        listeners = Listeners(spark)
    spans = Spans()
    runner = Runner(spark, registry.OPS, names, args.inputs, args.workload, spans,
                    bool(args.trace))
    with spans.span("run", label=args.workload):
        cold = runner.run_pass("cold", collect=True)
        timed: list[dict] = []
        start = time.perf_counter()
        while len(timed) < MIN_TIMED_PASSES or time.perf_counter() - start < args.seconds:
            timed.append(runner.run_pass(f"timed-{len(timed) + 1}"))
        c0 = time.perf_counter()
        checked = check(runner, cold, args.corrupt_oracle)
        res["check_s"] = time.perf_counter() - c0
        raw_construct_s = 0.0
        if args.trace:  # construction with the plan memo bypassed, once per op
            for name in names:
                fn = registry.OPS[name].fn
                if hasattr(fn, "__wrapped__"):
                    c0 = time.perf_counter()
                    try:
                        fn.__wrapped__(spark, args.inputs)
                    except Exception as exc:
                        runner.failures.append({"pass": "construct-raw", "op": name,
                                                "error": f"{type(exc).__name__}: {exc}"[:2000]})
                    raw_construct_s += time.perf_counter() - c0
                else:
                    raw_construct_s += _median_ok(timed, name, "construct_s") or 0.0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    res["rss_mb"] = {"jvm": _vm_hwm_kb(jvm_pid) / 1024, "python": _vm_hwm_kb("self") / 1024}
    res["peak_rss_mb"] = sum(res["rss_mb"].values())
    if listeners:
        listeners.drain()
    s0 = time.perf_counter()
    _stop(spark)
    res["stop_s"] = time.perf_counter() - s0

    op_s = {n: _median_ok(timed, n, "op_s") for n in names}
    ok_s = [v for n, v in op_s.items() if v is not None]
    # An op counts once: failed if it raised in any pass or mismatched
    # its oracle.  The base is the workload's op list, whatever number
    # of timed passes the host fitted into --seconds.
    failed = len({f["op"] for f in runner.failures} | {m["op"] for m in checked["mismatches"]})
    res.update({
        "ops": names,
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "timed_pass_s": [p["wall_s"] for p in timed],
        "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in ok_s)) if ok_s else None,
        "op_median_s": op_s,
        "op_cold_s": {n: cold["ops"][n].get("op_s") for n in names},
        "attempted": len(names),
        "failed": failed,
        "failures": runner.failures,
        "mismatches": checked["mismatches"],
        "checked": checked["checked"],
        "duckdb_s": checked["duckdb_s"],
        "duckdb_ops": checked["duckdb_ops"],
    })
    res["op_ok_ratio"] = 1.0 - failed / len(names)
    if args.trace:
        from layers import attribute, mean_over, read_event_log, summarize

        records = spans.with_self_time()
        phase_spans = [r for r in records if "phase" in r]
        acc = attribute(read_event_log(Path(os.environ["PERFBENCH_EVENT_LOG"])), phase_spans,
                        listeners.planning, listeners.progress)
        nproc = len(os.sched_getaffinity(0))
        summary = summarize([cold] + timed, records, acc, nproc)
        labels = [p["label"] for p in timed]
        layers = mean_over([summary["passes"][lb] for lb in labels])
        cold_layers = summary["passes"]["cold"]
        for k in ("operators.construct_s", "operators.eager_jobs", "io.load_misses",
                  "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
                  "driver.gap_s", "task.run_s"):
            layers[f"cold.{k}"] = cold_layers.get(k, 0.0)
        layers["operators.construct_raw_s"] = raw_construct_s
        layers["trace.harness_self_s"] = statistics.fmean(
            sum(r["self_s"] for r in records if r["name"] == "op" and r["label"] == lb)
            for lb in labels)
        res["layers"] = layers
        res["layers_per_op"] = {op: mean_over([by[lb] for lb in labels if lb in by])
                                for op, by in summary["ops"].items()}
        res["spans"] = records
    Path(args.out).write_text(json.dumps(res, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
