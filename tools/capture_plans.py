"""Capture `.explain("formatted")` for named operators into
plans/<round>/<op>_<tag>.txt, so plan claims can be checked against
committed files.

Usage: python tools/capture_plans.py <round> before|after [op1,op2,...]
       e.g. python tools/capture_plans.py r14 after dedup_simhash
Default op list: the bench.py headline set.
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from trip_data_pipeline_spark import get_session
from trip_data_pipeline_spark.registry import OPS, queries

USAGE = "usage: python tools/capture_plans.py <round> before|after [op1,op2,...]"


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        return 2
    rnd, tag = sys.argv[1], sys.argv[2]
    if len(sys.argv) > 3 and sys.argv[3].strip():
        names = [n for n in sys.argv[3].split(",") if n]
    else:
        from bench import BENCH_QUERIES

        names = list(BENCH_QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    queries()
    spark = get_session(f"capture-plans-{rnd}")
    for name in names:
        df = OPS[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') @ {sf_dir} [{tag}]\n")
            f.write(plan)
        print(f"wrote {path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
