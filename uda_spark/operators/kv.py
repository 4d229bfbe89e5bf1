"""KV partition + merge — the reference's core dataflow (SURVEY §2.1 O3-O5).

The reference's whole pipeline is: hash-partition map output by reduce id,
fetch all segments for one partition (RDMA exchange,
src/DataNet/RDMAClient.cc:559-600), then stream a k-way merge-sort over the
sorted segments (src/Merger/MergeQueue.h:121-321) and feed the sorted run
to the reducer (plugins/shared/.../UdaPlugin.java:435-555).

In Spark the identical dataflow is ``repartition(n, key)`` (exchange) +
``sortWithinPartitions(key)`` (per-partition merge-sort via ExternalSorter,
which is itself a spill-aware k-way merge — the analog of the reference's
hybrid LPQ/RPQ merge, src/Merger/MergeManager.cc:240-288).  Catalyst plans
one Exchange and one Sort; at 100 TB this is exactly the plan you want —
one shuffle, no global sort barrier.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F


def _cols(keys: Sequence[str | Column]) -> list[Column]:
    return [F.col(k) if isinstance(k, str) else k for k in keys]


def partition_and_merge(
    df: DataFrame,
    keys: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Hash-partition by ``keys`` and merge-sort each partition by them.

    Equivalent of the reference's fetch + online merge: after this, each
    partition is one globally-disjoint, internally-sorted run — the same
    contract the NetMerger hands Hadoop's reducer.  Rows are unchanged (a
    pure re-arrangement), so the oracle is the identity query.
    """
    cols = _cols(keys)
    parted = df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)
    return parted.sortWithinPartitions(*cols)


def reduce_merged(
    df: DataFrame,
    keys: Sequence[str],
    *aggs: Column,
) -> DataFrame:
    """Partition+merge+reduce in one declarative plan (O3-O5 + O11/O13).

    The reference never aggregates itself — it feeds a sorted KV iterator to
    Hadoop's reduce function (UdaShuffleConsumerPlugin.java:72-79).  In
    Spark, ``groupBy().agg()`` subsumes fetch + merge + reduce and adds
    map-side partial aggregation the reference cannot do (the combiner runs
    before the exchange, shrinking shuffle bytes — critical at 100 TB).
    """
    return df.groupBy(*_cols(keys)).agg(*aggs)
