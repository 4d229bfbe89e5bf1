"""Shuffle-transport configuration — the seam where an RDMA shuffle
plugin attaches to this engine.

The reference IS a shuffle transport: an RDMA fetch path + C++ merge
replacing Hadoop's HTTP shuffle (SURVEY §0; src/DataNet/RDMAClient.cc,
src/Merger/MergeManager.cc).  Spark deliberately externalizes the same
layer behind config points, so the engine-level analog of "install UDA"
is one builder call — no query code changes, exactly like the
reference's drop-in plugin model (plugins/.../UdaShuffleConsumerPlugin).

Two integration levels, strongest first:

1. ``spark.shuffle.manager`` — a full ShuffleManager replacement (this
   is where an RDMA shuffle implementation registers; open-source
   precedent: Mellanox's SparkRDMA ShuffleManager, same vendor as the
   reference).
2. ``spark.shuffle.sort.io.plugin.class`` — keep the sort shuffle but
   swap the I/O layer (local disk → disaggregated / remote store).

The stock transport's own settings (codec, compression — O12,
reducer.cc:439-450) have one home, ``session.get_spark``; this module
adds none.

This module is pure configuration: it contains no JVM code and degrades
to the stock sort shuffle when no plugin jar is present — mirroring the
reference's own vanilla-shuffle fallback (O18,
UdaShuffleConsumerPluginShared.java:162-177).
"""

from __future__ import annotations

from typing import Mapping


def shuffle_plugin_conf(
    shuffle_manager: str | None = None,
    io_plugin_class: str | None = None,
    extra: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """Config dict wiring an external shuffle transport.

    ``shuffle_manager``: fully-qualified ShuffleManager class of the
    transport plugin (e.g. an RDMA shuffle manager jar on the
    classpath).  ``io_plugin_class``: alternative lighter seam — a
    ShuffleDataIO implementation.  With neither, returns only ``extra``
    (the stock transport, O18 analog).
    """
    conf: dict[str, str] = {}
    if shuffle_manager is not None:
        conf["spark.shuffle.manager"] = shuffle_manager
    if io_plugin_class is not None:
        conf["spark.shuffle.sort.io.plugin.class"] = io_plugin_class
    conf.update(extra or {})
    return conf
