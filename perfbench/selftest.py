"""Fast self-test of the benchmark (``run.py --self-test``).

On inputs with the sf0.001 row counts, with one timed pass, it shows:

1. every metric named in BENCHMARK.json is emitted with its unit, by an
   untraced run of one workload and a traced run of the other;
2. a deliberately corrupted expected result is reported as a mismatch;
3. two seeds give different files with equal row counts.
"""

from __future__ import annotations

import json

import gen
from run import ROOT, WORK, measure
from workloads import SELFTEST_SCALE, WORKLOADS


def _metrics_ok(result: dict, spec: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return [f"metric {k}: want unit {u!r}, got {got.get(k)!r}"
            for k, u in want.items() if got.get(k) != u] + \
           [f"metric {k} not in BENCHMARK.json" for k in got if k not in want]


def self_test() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    headline, families = "headline-sf0.1", "families-sf0.01"
    victim = WORKLOADS[headline].ops[-1]
    problems: list[str] = []

    result, context = measure(headline, 1, 0, trace=False, fast=True, corrupt=victim)
    problems += _metrics_ok(result, bench["end_to_end"])
    flagged = [m["op"] for m in context["mismatches"]]
    if flagged != [victim] or result["correct"] or result["failed"] != 1:
        problems.append(f"corrupted oracle for {victim}: mismatches {flagged}, "
                        f"correct={result['correct']}, failed={result['failed']}")
    print(f"untraced {headline}: {len(result['metrics'])} metrics, mismatches {flagged}")

    result, context = measure(families, 1, 0, trace=True, fast=True)
    problems += _metrics_ok(result, bench["per_layer"])
    if not result["correct"]:
        problems.append(f"traced {families} failed: {context['failures'] + context['mismatches']}")
    print(f"traced {families}: {len(result['metrics'])} metrics, correct={result['correct']}")

    sets = [gen.ensure_inputs(WORK, "selftest-seeds", SELFTEST_SCALE, s) for s in (11, 12)]
    rows = [{t: v["rows"] for t, v in s["tables"].items()} for s in sets]
    same = [t for t in ("lineitem", "orders", "events", "documents")
            if sets[0]["tables"][t]["sha256"] == sets[1]["tables"][t]["sha256"]]
    if rows[0] != rows[1] or same:
        problems.append(f"seeds 11/12: row counts equal={rows[0] == rows[1]}, "
                        f"identical files {same}")
    print(f"seeds 11/12: equal row counts={rows[0] == rows[1]}, identical big tables {same}")

    for p in problems:
        print("FAIL", p)
    print("self-test", "FAILED" if problems else "passed")
    return 1 if problems else 0
