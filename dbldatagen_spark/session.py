"""Tuned SparkSession factory: the configs this engine assumes at scale,
in one place — plus :func:`tool_session`, the plain local session the
repository's scripts, benchmark and tests share.

Nothing here is required — every operator works on a stock session — but
these are the settings the 100 TB deployment should start from, and
having them as code keeps the scale guidance executable rather than
buried in docs.
"""

from __future__ import annotations

import os
from typing import Any, Dict, Optional

#: Configs keyed by why they matter.
RECOMMENDED_CONFIGS: Dict[str, str] = {
    # runtime re-planning: coalesce small shuffles, split skewed joins,
    # convert to broadcast when runtime sizes allow
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # row-level runtime filtering: push a bloom filter of the small side's
    # join keys into the big side's scan (shuffle-join complement to
    # static partition pruning)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # (runtimeFilter.semiJoinReduction is deliberately absent: on Spark
    # 4.1.2 setting it alone makes a plain
    # ``spark.range(1000).selectExpr("sum(id)").collect()`` hang)
    # Arrow transfer for the pandas-UDF surfaces (templates, Faker,
    # multimodal, k-means/PCA partials)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # deterministic timestamps regardless of cluster locale
    "spark.sql.session.timeZone": "UTC",
    # scan granularity: ~128 MB splits keep scan tasks balanced
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def tuned_builder(
    app_name: str = "dbldatagen_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    **overrides: Any,
):
    """A ``SparkSession.builder`` pre-loaded with
    :data:`RECOMMENDED_CONFIGS`; caller overrides win.

    ``shuffle_partitions`` should target ~128-200 MB per post-shuffle
    partition at your data scale (the AQE coalescer trims the excess, so
    erring high is safe; erring low causes spill).
    """
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in RECOMMENDED_CONFIGS.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in overrides.items():
        b = b.config(k, str(v))
    return b


def tuned_session(
    app_name: str = "dbldatagen_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    **overrides: Any,
):
    """``tuned_builder(...).getOrCreate()``."""
    return tuned_builder(
        app_name, master, shuffle_partitions, **overrides
    ).getOrCreate()


def tool_session(
    app_name: str,
    cpus: Optional[int] = None,
    driver_memory: Optional[str] = None,
):
    """The plain local session the repository's tools and tests run on:
    ``local[cpus]`` with ``spark.sql.shuffle.partitions = cpus``, UTC,
    AQE on and the UI off.  ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``,
    else ``os.cpu_count()``.  Unlike :func:`tuned_session` it sets none of
    :data:`RECOMMENDED_CONFIGS` beyond those, so measurements stay
    comparable with the stock-session history."""
    from pyspark.sql import SparkSession

    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    return b.getOrCreate()
