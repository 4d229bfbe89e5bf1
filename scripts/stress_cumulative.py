#!/usr/bin/env python
"""Two-pass cumulative operators under memory pressure and key skew:
evidence that the range-partitioned machinery behind every
order-statistic readout (`global_cumulative_sums` / `_extreme` /
`grouped_global_cumulative_sum`, uda_spark/operators/sort.py) holds
when (a) the data does NOT fit the sorter's memory and (b) the order
keys and group sizes are heavily skewed — the exact conditions where a
naive `Window.orderBy(keys)` single-task plan dies at cluster scale.

Three probes, each with an independent oracle:

* ``cumsum`` — 20M rows whose order key is ``id*id`` (quadratically
  densifying key space: the range sampler must place boundaries by
  density, not span) and whose value is ``id % 7 + 1``.  The exclusive
  running sum has the closed form ``i + 21*(i div 7) + r*(r-1)/2``
  (r = i % 7), verified as a distributed zero-mismatch count — no
  driver-side materialization of the 20M results.
* ``cummin`` — 5M rows with a multiplicative-hash value (no monotone
  structure), checked row-for-row against the naive single-partition
  ``Window.orderBy`` plan via an anti-equality count.  The naive plan
  is the semantic spec; it survives 5M rows in one task precisely
  because this is a test.
* ``grouped`` — 10M rows where ONE hot group owns 50% of all rows and
  96 cold groups share the rest: the failure mode
  ``Window.partitionBy(group)`` hits (the hot group's window becomes
  one task).  Checked row-for-row against that per-group window (its
  hot-group task is the slow-but-correct spec) AND the probe asserts
  the hot group physically spans many range partitions with bounded
  per-task input (max partition ≤ 3x mean) — the scalability claim
  itself, not just the values.

Memory pressure is forced the same two ways as stress_terasort.py:
``spark.shuffle.spill.numElementsForceSpillThreshold`` caps in-memory
sorter rows, and a low ``spark.memory.fraction`` shrinks execution
memory so natural spill pressure exists too.  Prints one JSON line;
exits non-zero on any mismatch.

Run standalone:  python scripts/stress_cumulative.py --rows 20000000
Via pytest:      python -m pytest tests/ -m slow -k cumulative_spill
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("stress_cumulative")
        .master(f"local[{args.cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.sql.adaptive.enabled", "true")
        # force ExternalSorter spills: at most 1M rows per in-memory run
        .config("spark.shuffle.spill.numElementsForceSpillThreshold", "1000000")
        # and shrink execution memory so natural pressure exists as well
        .config("spark.memory.fraction", "0.2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    from uda_spark.operators.sort import (
        global_cumulative_extreme,
        global_cumulative_sums,
        grouped_global_cumulative_sum,
    )

    n_parts = args.cpus * 2
    result: dict[str, object] = {
        "metric": "cumulative_stress",
        "rows": args.rows,
        "force_spill_threshold_rows": 1_000_000,
        "memory_fraction": 0.2,
    }

    # --- probe 1: global_cumulative_sums, skewed key density, closed form
    t0 = time.perf_counter()
    base = spark.range(args.rows).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("k"),  # densifying key space
        (F.col("id") % 7 + 1).alias("v"),
    )
    cum = global_cumulative_sums(base, ["k"], ["v"], ["run"], num_partitions=n_parts)
    mismatch_sum = (
        cum.withColumn(
            "expect",
            F.expr("id + 21 * (id div 7) + (id % 7) * ((id % 7) - 1) div 2"),
        )
        .where(F.col("run") != F.col("expect"))
        .count()
    )
    result["cumsum_sec"] = round(time.perf_counter() - t0, 3)
    result["cumsum_mismatches"] = mismatch_sum

    # --- probe 2: global_cumulative_extreme vs the naive global window
    t0 = time.perf_counter()
    m_rows = min(args.rows, 5_000_000)
    vals = spark.range(m_rows).select(
        F.col("id"), ((F.col("id") * 2654435761) % 1000003).alias("v")
    )
    ours = global_cumulative_extreme(
        vals, ["id"], "v", "run", agg="min", num_partitions=n_parts
    )
    naive = vals.withColumn(
        "naive_run",
        F.min("v").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).select("id", "naive_run")
    mismatch_min = (
        ours.join(naive, "id")
        .where(~F.col("run").eqNullSafe(F.col("naive_run")))
        .count()
    )
    result["cummin_rows"] = m_rows
    result["cummin_sec"] = round(time.perf_counter() - t0, 3)
    result["cummin_mismatches"] = mismatch_min

    # --- probe 3: grouped cumsum with a 50%-mass hot group
    t0 = time.perf_counter()
    g_rows = min(args.rows, 10_000_000)
    grouped = spark.range(g_rows).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 97).cast("string")))
        .alias("grp"),
        (F.col("id") % 5 + 1).alias("v"),
    )
    ours_g = grouped_global_cumulative_sum(
        grouped, ["grp"], ["id"], "v", "run", num_partitions=n_parts
    )
    naive_g = grouped.withColumn(
        "naive_run",
        F.coalesce(
            F.sum("v").over(
                Window.partitionBy("grp")
                .orderBy("id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    ).select("id", "naive_run")
    mismatch_grp = (
        ours_g.join(naive_g, "id")
        .where(F.col("run") != F.col("naive_run"))
        .count()
    )
    # scalability claim: the hot group spans many range partitions and no
    # single task sees more than 3x the mean partition load
    spans = (
        grouped.repartitionByRange(n_parts, F.col("grp"), F.col("id"))
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("grp") == "hot", 1).otherwise(0)).alias("n_hot"),
        )
        .collect()
    )
    sizes = [r["n"] for r in spans]
    hot_parts = sum(1 for r in spans if r["n_hot"] > 0)
    max_over_mean = max(sizes) / (sum(sizes) / len(sizes))
    result["grouped_rows"] = g_rows
    result["grouped_sec"] = round(time.perf_counter() - t0, 3)
    result["grouped_mismatches"] = mismatch_grp
    result["hot_group_partition_span"] = hot_parts
    result["max_partition_over_mean"] = round(max_over_mean, 3)

    ok = (
        mismatch_sum == 0
        and mismatch_min == 0
        and mismatch_grp == 0
        and hot_parts >= n_parts // 4
        and max_over_mean <= 3.0
    )
    result["ok"] = bool(ok)
    print(json.dumps(result))
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
