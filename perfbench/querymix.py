"""The query phase of the commits_and_queries workload: its queries and
their seeded order.

A fixed set of read-only queries from the engine's `SparkEntry.queries`,
chosen to cover the operator and planner layers at the least cost:
planner-rule stats pruning and a Bloom-index lookup over side-car
metadata, a mergeable HLL sketch, exact dedup and blocked fuzzy
matching. None writes the workload's tables or starts a stream; the
two pruning queries commit their side-car epoch (file stats, Bloom
index) to a versioned table under the engine's scratch directory. The
seed only permutes the order; the tables are fixed.
"""
import os
import random

QUERIES = {
    "Relational": ("q_planner_pruned", "q_bloom_lookup", "q_fuzzy_match"),
    "TimeSeries": ("q_distinct_sketch",),
    "LlmOps": ("q_dedup_exact",),
}


def generate(out_dir, seed):
    """Write `<out_dir>/queries.txt` in the seed's order; return it."""
    order = sorted(q for qs in QUERIES.values() for q in qs)
    random.Random(seed).shuffle(order)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "queries.txt"), "w") as f:
        f.write("\n".join(order) + "\n")
    return {"order": order}
