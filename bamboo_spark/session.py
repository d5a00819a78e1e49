"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same configuration keys are the
ones that matter on a real cluster (AQE for runtime re-planning and skew
handling, Arrow for the Python boundary, nested-schema pruning for the
flatten workloads). Shuffle partitioning is environment-driven so the
driver's bench harness and a 1000-executor deployment use the same code.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bamboo_spark",
    master: str | None = None,
    ui: bool = False,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", "local[%s]" % cpus)
    shuffle_partitions = os.environ.get("BAMBOO_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-API-call-site capture costs one extra JVM round trip per
        # DataFrame API call; plan-heavy operators (128-lane minhash,
        # band builders) measurably pay it at plan-BUILD time — the
        # documented PySpark perf knob turns it off (error messages
        # lose the user-code line number, results are unaffected)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # cached plans keep their full shuffle-partition count by
        # default (AQE coalescing is skipped so downstream consumers
        # can reuse the partitioning); this engine's persisted
        # intermediates are bounded model state consumed by broadcasts
        # and aggregates, never partition-aligned joins — let AQE size
        # cached partitions by bytes too (32 near-empty cache tasks per
        # consumer stage otherwise; A/B: nb_kappa 2.65->2.15 s,
        # market_basket 2.58->1.85, worst case +0.14 within noise)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # whole-stage codegen is silently disabled for any plan stage
        # wider than this (default 100 fields) — the engine's 128-lane
        # minhash signature aggregate and the wide flatten projections
        # sit right past the default and fell back to interpreted
        # evaluation on their hottest stage (A/B best-of-2:
        # dedup_funnel_stats 8.1->4.9 s, leakage_safe_split 4.5->3.4,
        # q_flatten_lineitem_wide 0.8->0.5; no regression outside the
        # noise band). Codegen width is scale-independent.
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("BAMBOO_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
