"""Shared query infrastructure: the table list and the schema-normalizing parquet loader every registry query goes through.

Split from the original single-module registry (round 7); behavior is
identical -- the package ``__init__`` stitches one shared namespace so
cross-family references resolve exactly as in the single module.
"""

from __future__ import annotations

import functools as _functools
import math  # noqa: F401 — used by registry helpers

from bamboo_spark.operators._num import round_half_away as _round_half_away

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from bamboo_spark.operators import bpe, dedup, multimodal, pack, scale, similarity, text
from bamboo_spark.operators._cache import (
    release_caches as _release_caches,
    tracked_persist as _tracked_persist,
)


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Relation-metadata memo: spark.read.parquet() pays file listing +
# footer schema inference on EVERY call (~0.1 s driver-side per load on
# this box, ~2 loads per registry query). A real deployment resolves a
# table through a catalog/manifest exactly once per session — memoize
# the resolved relation per (session, sf_dir, table). METADATA only:
# the DataFrame is a lazy plan node; no rows, no results, no caches are
# reused across queries (CacheManager behavior is unchanged).
_LOAD_MEMO: Dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve ``sf_dir/name.parquet`` once per session (metadata memo).

    Same-table SELF-joins within one returned plan must resolve the
    second occurrence via :func:`_load_fresh` — sharing memoized
    expr-ids across both sides of a self-join trips Spark's
    ambiguous-self-join detection (see ``_partsupp``).
    """
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    hit = _LOAD_MEMO.get(key)
    if hit is not None:
        return hit
    # Entries keyed by other applicationIds belong to stopped/replaced
    # sessions: drop them so the memo never retains dead JVM plan
    # references for the process lifetime.
    for k in [k for k in _LOAD_MEMO if k[0] != app_id]:
        del _LOAD_MEMO[k]
    df = _load_fresh(spark, sf_dir, name)
    _LOAD_MEMO[key] = df
    return df


def _load_fresh(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet
        df = spark.read.parquet("%s/%s.parquet" % (sf_dir, name))
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ under Spark 4's NTZ inference; DuckDB treats
            # the same naive value as epoch-UTC (epoch_us). Diff against
            # the NTZ epoch literal (no session-timezone dependence
            # anywhere) and rebuild the LTZ timestamp every downstream
            # query expects — unix_micros(ts) then equals epoch_us(ts).
            us = F.timestamp_diff(
                "MICROSECOND",
                F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
                F.col("ts"),
            )
            df = df.withColumn("ts", F.timestamp_micros(us))
        return df
    return spark.read.parquet("%s/%s.parquet" % (sf_dir, name))
