"""Generated-class cache sized to the engine's working set.

Spark caches compiled whole-stage codegen classes by source text; at its
default size (100 entries, evicted per segment of 25) a loop over the
serving queries plus one heavy query evicts each class before it is used
again, so every request pays Janino compilation and JIT warm-up anew.
``get_spark`` sizes the cache so that a repeated request compiles nothing.
"""

from __future__ import annotations

from nyc_taxi_lakehouse_spark.plans.ckpt import release_run_checkpoints
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.session import codegen_stats

# The nine serving endpoints (operators/serving.py) generate 91 classes,
# which alone fit Spark's default cache; q_dbscan, the benchmark pass's
# driver-scheduled heavy query, adds 38 and takes the round past it.
SERVING = [
    "q_recent_orders",
    "q_zone_metrics",
    "q_hourly_timeseries",
    "q_type_impact",
    "q_demand_prediction",
    "q_realtime_activity",
    "q_dashboard_stats",
    "q_peak_hour",
    "q_top_zones",
]
ROUND = SERVING + ["q_dbscan"]


def _round(spark, sf_dir) -> int:
    specs = all_queries()
    before, _ = codegen_stats(spark)
    for name in ROUND:
        specs[name].fn(spark, sf_dir).collect()
        release_run_checkpoints()
    return codegen_stats(spark)[0] - before


def test_repeated_round_compiles_nothing(spark, sf_dir):
    first = _round(spark, sf_dir)
    second = _round(spark, sf_dir)
    assert second == 0, (
        f"the second round recompiled {second} generated classes "
        f"(the first compiled {first}): the codegen cache is smaller "
        f"than the working set"
    )
