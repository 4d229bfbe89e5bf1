#!/usr/bin/env python
"""Terasort under memory pressure: evidence that the O9/O10 mapping
(ExternalSorter's spill-and-merge standing in for the reference's hybrid
hierarchical merge, SURVEY §2.1) holds when the data does NOT fit in
memory, not just at bench scale.

Forces spilling two ways so the evidence is deterministic, not
heap-size-dependent:
  * ``spark.shuffle.spill.numElementsForceSpillThreshold`` caps in-memory
    sorter rows per task (UnsafeExternalSorter force-spills beyond it);
  * low ``spark.memory.fraction`` shrinks execution memory so natural
    spill pressure exists too.

Validates the full terasort contract afterwards: global sortedness
across partition boundaries (teravalidate) AND count + record-checksum
equality with the generated input.  The checksum is crc32 over each
whole record (key and value), and the sorted output is materialized
before either check reads it, so every value byte goes through the
sort's shuffle and a corrupted value fails the run.  An aggregate
straight over the sort would not do: Spark drops a sort under an
order-insensitive aggregate, and column pruning drops the value from a
key-only check.  Prints one JSON line.

Run standalone:  python scripts/stress_terasort.py --rows 50000000
Via pytest:      python -m pytest tests/ -m slow
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=50_000_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("stress_terasort")
        .master(f"local[{args.cpus}]")
        # a fixed, data-smaller-than-dataset heap: 8g total, 20% execution
        # fraction = ~1.6g of sort memory for ~5 GB of records — spill is
        # structurally required even before the force threshold below
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
    from uda_spark.operators.sort import snapshot
    from uda_spark.operators.workloads import (
        gen_terasort_records,
        terasort,
        teravalidate,
    )

    def checksum(df):
        row = df.agg(
            F.sum(F.crc32(F.concat("key", "value"))).alias("c"), F.count("*").alias("n")
        ).first()
        return row["c"], row["n"]

    records = gen_terasort_records(spark, args.rows)
    before = checksum(records)

    t0 = time.perf_counter()
    # the sort's output, written once, as terasort writes its output files
    sorted_df = snapshot(terasort(records))
    ok_sorted = teravalidate(sorted_df)
    sort_sec = round(time.perf_counter() - t0, 3)

    ok_checksum = before == checksum(sorted_df)

    result = {
        "metric": "terasort_stress",
        "rows": args.rows,
        "bytes_approx": args.rows * 100,
        "sorted": bool(ok_sorted),
        "checksum_match": bool(ok_checksum),
        "sort_validate_sec": sort_sec,
        "force_spill_threshold_rows": 1_000_000,
        "memory_fraction": 0.2,
    }
    print(json.dumps(result))
    spark.stop()
    if not (ok_sorted and ok_checksum):
        sys.exit(1)


if __name__ == "__main__":
    main()
