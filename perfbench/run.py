"""Benchmark for the engine: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload headline-sf0.1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root.  Inputs are generated from ``--seed`` into
``.perfbench/`` (gitignored), each measured process is a fresh
interpreter with its own JVM (perfbench/worker.py), and the last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload once untraced and once traced and reports the per-layer
metrics, including the tracing overhead.  The line before the result
holds the run's context: host, inputs, per-op times, failures.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from layers import LAYER_UNITS, event_log_conf  # noqa: E402
from workloads import SELFTEST_SCALE, WORKLOADS  # noqa: E402

WORK = ROOT / ".perfbench"
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_geomean_s": "s",
             "op_ok_ratio": "ratio"}
# A run must end within 180 s; leave room for teardown.
RUN_BUDGET_S = 170.0


class WorkerError(RuntimeError):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def _engine_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "trip_data_pipeline_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


def host_context() -> dict:
    load = os.getloadavg()
    with open("/proc/meminfo") as f:
        mem = {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)}
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {"nproc": nproc(), "load_1m": load[0], "load_5m": load[1],
            "mem_available_mb": mem["MemAvailable"] // 1024,
            "mem_free_mb": mem["MemFree"] // 1024,
            "pyspark": importlib.metadata.version("pyspark"),
            "duckdb": importlib.metadata.version("duckdb"),
            "python": sys.version.split()[0], "git_commit": commit,
            "engine_sha256": _engine_sha256()}


def _group_alive(pgid: int) -> bool:
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.05)


def worker_env(trace: bool) -> dict:
    tmp = WORK / "tmp"
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"  # no files outside the checkout
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={(WORK / 'warehouse').as_uri()}",
            f"spark.driver.extraJavaOptions={java_opts}"]
    if trace:
        conf.append(event_log_conf(WORK / "eventlog"))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM")}
    env.update(SPARK_GRAFT_CPUS=str(nproc()), TMPDIR=str(tmp),
               SPARK_LAUNCHER_OPTS=java_opts, SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
               SPARK_GRAFT_EXTRA_CONF=";".join(conf),
               PERFBENCH_EVENT_LOG=str(WORK / "eventlog"))
    return env


def run_worker(argv: list[str], trace: bool, log: Path, deadline: float) -> dict:
    out = WORK / "worker.json"
    out.unlink(missing_ok=True)
    for d in ("tmp", "spark-local", "eventlog", "warehouse", "cwd"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    with log.open("a") as lf:
        lf.write(f"\n=== worker {' '.join(argv)} trace={int(trace)}\n")
        lf.flush()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), *argv, "--out", str(out)]
            + (["--trace", "1"] if trace else []),
            cwd=WORK / "cwd", env=worker_env(trace), stdout=lf, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap(proc.pid)
            proc.wait()
    if rc != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise WorkerError(f"worker {'timed out' if rc is None else f'exited {rc}'}; "
                          f"log {log}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def measure(workload: str, seed: int, seconds: float, trace: bool, fast: bool = False,
            corrupt: str | None = None) -> tuple[dict, dict]:
    """Run one benchmark invocation; returns (result line, context line)."""
    deadline = time.monotonic() + RUN_BUDGET_S
    wl = WORKLOADS[workload]
    host_start, ticks = host_context(), _cpu_ticks()
    inputs = gen.ensure_inputs(WORK, workload + ("-fast" if fast else ""),
                               SELFTEST_SCALE if fast else wl.scale, seed)
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / f"{workload}-seed{seed}-trace{int(trace)}.log"
    log.unlink(missing_ok=True)
    argv = ["--workload", workload, "--inputs", inputs["dir"], "--seconds", str(seconds)]
    if corrupt:
        argv += ["--corrupt-oracle", corrupt]
    main = run_worker(argv, False, log, deadline)
    runs = [main]
    if trace:
        traced = run_worker(argv, True, log, deadline)
        runs.append(traced)
        values = dict(traced["layers"])
        values.update({
            "session.import_s": traced["import_s"], "session.start_s": traced["start_s"],
            "trace.pass_s": traced["pass_s"], "trace.untraced_pass_s": main["pass_s"],
            "trace.overhead_s": traced["pass_s"] - main["pass_s"],
            "reference.duckdb_pass_s": traced["duckdb_s"],
            "memory.peak_rss_mb": main["peak_rss_mb"],
        })
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        values = {"setup_s": main["import_s"] + main["start_s"],
                  **{k: main[k] for k in E2E_UNITS if k != "setup_s"}}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    context = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "ops": wl.ops, "scale": SELFTEST_SCALE if fast else wl.scale,
        "host": {"start": host_start, "end": host_context(),
                 # share of CPU time the hypervisor gave to other guests
                 "cpu_steal_share": _steal_share(ticks, _cpu_ticks())},
        "inputs": {"dir": inputs["dir"], "gen_s": inputs["gen_s"], "cached": inputs["cached"],
                   "rows": {t: v["rows"] for t, v in inputs["tables"].items()}},
        "setup_s": {k: main[k] for k in ("import_s", "start_s")},
        "timed_pass_s": [r["timed_pass_s"] for r in runs],
        "op_median_s": main["op_median_s"], "op_cold_s": main["op_cold_s"],
        "peak_rss_mb": main["rss_mb"],
        "op_error_ratio": failed / attempted, "op_error_base": attempted,
        "failures": [f for r in runs for f in r["failures"]],
        "mismatches": [m for r in runs for m in r["mismatches"]],
        "duckdb_pass_s": main["duckdb_s"], "duckdb_ops": main["duckdb_ops"],
    }
    (WORK / "results").mkdir(exist_ok=True)
    artifact = WORK / "results" / f"{workload}-seed{seed}-trace{int(trace)}.json"
    artifact.write_text(json.dumps({"context": context, "metrics": metrics, "runs": runs},
                                   default=str))
    context["artifact"] = str(artifact.relative_to(ROOT))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, context


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="fast check of metrics, oracle mismatch detection and seeding")
    args = ap.parse_args()
    if not (ROOT / "trip_data_pipeline_spark" / "__init__.py").is_file() \
            or not (ROOT / "tests" / "oracle.py").is_file():
        print(f"perfbench: no engine package or oracle under {ROOT}", file=sys.stderr)
        return 2
    if args.self_test:
        from selftest import self_test

        return self_test()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        result, context = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    except WorkerError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
