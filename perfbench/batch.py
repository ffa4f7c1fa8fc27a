"""`tpch` and `pyboundary`: registered batch queries, collected one after
another by one client in one warm session.  A round is one pass over
the workload's query set, in an order the seed permutes."""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

from perfbench import probes
from perfbench.oracle import DuckOracle, check_rows

# Per-query overhead dominates these at sf0.1: Python build, planning,
# job, stage and broadcast scheduling.  The five bench headliners plus
# the EXISTS semi-join shape.
TPCH = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
)

# The queries whose work crosses the Arrow/Python boundary, as ranked by
# the roadmap's overhead direction.  One of the four batch
# MATCH_RECOGNIZE queries stands for the family: all four run the same
# applyInPandas NFA.
PYBOUNDARY = (
    "cep_error_burst",
    "cogroup_custkey",
    "dedup_semantic_cells",
    "udx_pandas_scalar",
    "udx_grouped_agg",
    "pipeline_sequence_pack",
)

WORKLOADS = {
    "tpch": {"queries": TPCH, "sf": "sf0.1"},
    "pyboundary": {"queries": PYBOUNDARY, "sf": "sf0.001"},
}
# The cold pass is the warm-up; the timed passes follow it.
MIN_TIMED_PASSES = 2


class Pass:
    """One round over the query set and what it measured."""

    def __init__(self, index: int) -> None:
        self.index = index
        self.latencies: list[float] = []
        self.rows: dict[str, tuple[list, list[str]]] = {}
        self.failed = 0
        self.wall = self.cpu = 0.0
        self.layers: dict[str, float] = {}

    def add(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value


def _run_query(spark, fn, sf_dir: str, p: Pass, name: str, trace: bool) -> None:
    t0 = time.monotonic()
    try:
        df = fn(spark, sf_dir)
        if trace:
            t1 = time.monotonic()
            df._jdf.queryExecution().executedPlan()
            t2 = time.monotonic()
        rows = df.collect()
    except Exception:  # a failing query is counted, not fatal
        p.failed += 1
        print(f"[perfbench] {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        return
    t3 = time.monotonic()
    p.latencies.append(t3 - t0)
    p.rows[name] = (rows, df.columns)
    if trace:
        p.add("queries.build_s", t1 - t0)
        p.add("spark.plan_s", t2 - t1)
        p.add("spark.action_s", t3 - t2)
        for k, v in probes.python_exec_metrics(df).items():
            p.add(k, v)


def run(args, ready_clock, work: str) -> dict:
    from flink_1_20_spark import get_spark
    from flink_1_20_spark.registry import get_oracles, get_queries

    from __spark_entry__ import SMOKE_SF_DIR

    spec = WORKLOADS[args.workload]
    # every fixture scale sits beside the smallest, which __spark_entry__ names
    sf_dir = os.path.join(os.path.dirname(SMOKE_SF_DIR), spec["sf"])
    queries = get_queries()
    t = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}")
    layers = {"session.start_s": time.monotonic() - t}
    setup_s = time.monotonic() - ready_clock
    sc = spark.sparkContext
    counters = probes.SparkCounters(spark) if args.trace else None
    rng = random.Random(args.seed)

    passes: list[Pass] = []
    timed_start = None
    while True:
        p = Pass(len(passes))
        order = list(spec["queries"])
        rng.shuffle(order)
        group = f"perfbench-pass-{p.index}"
        sc.setJobGroup(group, group)
        if counters is not None:
            codegen0, pycpu0 = counters.codegen_ms(), probes.python_worker_cpu_s()
        cpu0, t0 = probes.tree_cpu_s(), time.monotonic()
        for name in order:
            _run_query(spark, queries[name], sf_dir, p, name, args.trace)
        p.wall = time.monotonic() - t0
        p.cpu = probes.tree_cpu_s() - cpu0
        if counters is not None:
            p.layers.update(counters.jobs([group]))
            p.add("spark.codegen_compile_s", (counters.codegen_ms() - codegen0) / 1000)
            p.add("operators.python_cpu_s", probes.python_worker_cpu_s() - pycpu0)
        passes.append(p)
        if timed_start is None:
            timed_start = time.monotonic()
        elif (
            len(passes) - 1 >= MIN_TIMED_PASSES
            and time.monotonic() - timed_start >= args.seconds
        ):
            break
    layers["session.peak_rss_mb"] = probes.peak_rss_mb()

    # every pass's rows against the oracle, outside the timed passes
    oracles = get_oracles()
    duck = DuckOracle(sf_dir)
    correct = True
    try:
        for name in spec["queries"]:
            want, want_cols = duck.rows(oracles[name])
            for p in passes:
                if name in p.rows:
                    got, cols = p.rows[name]
                    correct &= check_rows(f"{name} pass {p.index}", got, cols, want,
                                          want_cols, self_test=p.index == 0)
    finally:
        duck.close()

    cold, timed = passes[0], passes[1:]
    if counters is not None:
        for name in ("spark.codegen_compile_s", "operators.python_boot_s"):
            layers[name] = cold.layers.get(name, 0.0)
    return {
        "spark": spark,
        "correct": correct,
        "attempted": len(spec["queries"]) * len(passes),
        "failed": sum(p.failed for p in passes),
        "end_to_end": {
            "setup_s": setup_s,
            "cold_round_s": cold.wall,
            "round_s": probes.median([p.wall for p in timed]),
            "round_cpu_s": probes.median([p.cpu for p in timed]),
            "op_latency_p50_s": probes.median([x for p in timed for x in p.latencies]),
        },
        "layers": layers,
        "timed_rounds": [p.layers for p in timed],
        "info": {"sf_dir": sf_dir, "passes": len(passes), "queries": len(spec["queries"])},
    }
