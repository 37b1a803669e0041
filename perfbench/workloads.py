"""The benchmark's named workloads.

Each workload runs its ops one after another, in the order listed, once
per pass, on inputs generated at ``scale`` (1.0 = the sf0.1 fixture row
counts) and row-permuted by the run's seed.  A run is one cold pass,
which collects every result for the oracle check, then timed passes
for the run's ``--seconds``, which write every result to the ``noop``
sink.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    scale: float


# The bench.py headline set.  All ten are registered pure=True, so after
# the cold pass every construction is a plan-memo hit and the pass is
# dominated by fixed per-query cost (1-11 tasks per stage on 4 cores).
HEADLINE = (
    "agg_pricing_summary",
    "join_star_5way",
    "join_theta_band",
    "win_topk_per_group",
    "agg_grouping_sets",
    "sessionize_batch",
    "text_term_freq",
    "sim_cosine_pairwise_topk",
    "dedup_exact_hash",
    "limit_topk",
)

# Ops that work eagerly inside the fn call: a stateful stream (state
# store and checkpoint commits), a stream stopped and resumed from its
# checkpoint, sinks that write beside their reads, and Python/Arrow UDF
# workers.  None is plan-memoized.  Their cost is fixed per call (a pass
# takes about as long on sf0.001 as on sf0.01 inputs), so the inputs are
# sf0.01-sized.
FAMILIES = (
    "stream_tumbling_count",
    "stream_checkpoint_resume",
    "sink_dynamic_partition_overwrite",
    "sink_csv_roundtrip",
    "udf_map_in_arrow",
    "udf_python_scalar",
)

WORKLOADS = {
    "headline-sf0.1": Workload(ops=HEADLINE, scale=1.0),
    "families-sf0.01": Workload(ops=FAMILIES, scale=0.1),
}

# Self-test inputs: the sf0.001 row counts.
SELFTEST_SCALE = 0.01
