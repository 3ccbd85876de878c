"""SparkSession factory.

Scale-minded defaults: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to the local core
count (on a real cluster this is set to 2-3× total executor cores or
left to AQE's coalescing), session timezone pinned to UTC so
timestamp bucketing is bit-identical with the DuckDB oracle (the
reference pins Europe/Paris for its own data — see SURVEY.md §1.2;
the knob is exposed here for that reason).

Two defaults are sized for a long report session on one host:

- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
  default 100) holds ``CODEGEN_CACHE_ENTRIES`` classes. A report session
  replays the same visuals and slicers, and one dashboard pass alone
  generates about 160 distinct classes; at 100 entries each pass evicted
  and recompiled nearly all of them (about 150 Janino compiles a pass,
  each compiled again by the JIT). PERF.md gives the measured counts of
  distinct classes and what the larger cache costs in Metaspace and
  code cache. It is a static conf, so it is set on the builder;
  ``extra_conf`` can still override it.
- The driver heap defaults to half the host's physical memory, so a
  default session never asks for more than the box has (``bench.py``
  at sf0.1 peaks at 3.4-4.3 GB); ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Generated classes kept per JVM: the whole registry walk generates
# about 3,800 distinct classes at sf0.001 (PERF.md), so this keeps
# about twice that.
CODEGEN_CACHE_ENTRIES = 8192


def _default_driver_mem() -> str:
    """Half the host's physical memory, in MiB."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2 // (1 << 20)}m"


def get_spark(
    app_name: str = "filmdb_dw_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "UTC",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned local session.

    On a cluster, drop ``master`` and let spark-submit own it; every
    other config below is cluster-appropriate as-is.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Sized for local runs; on a cluster AQE coalescing makes the
        # static number mostly irrelevant.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting,
        # broadcast conversion from runtime stats. Essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dims in the star schema are tiny; raise the auto-broadcast
        # threshold so Catalyst broadcasts them without hints too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Deterministic timestamp bucketing vs naive-timestamp oracles.
        .config("spark.sql.session.timeZone", timezone)
        # Reliable checkpoint files (connected_components truncates
        # its per-round lineage with checkpoint() when a dir is set)
        # are deleted when their RDD is GC'd — without this, every
        # iteration leaks one checkpoint dir for the app's lifetime.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Arrow for any pandas-UDF path (the sanctioned slow path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep every class a report session generates (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
