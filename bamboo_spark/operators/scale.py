"""Scale utilities: scan fan-out, per-key heads, partitioned parquet
sinks, snapshot diffs and z-order keys.

These are the knobs a 100 TB deployment reaches for when AQE's
automatic handling isn't enough: a scan with too few splits runs its
whole stage on one core, and a window over one pathological key lands
every row on one reducer.
"""

from __future__ import annotations

import warnings

from typing import List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, functions as F

from bamboo_spark.operators._cache import tracked_persist


def fan_out(
    df: DataFrame, key: Optional[str], target: Optional[int] = None
) -> DataFrame:
    """Spread a SCAN-bound frame across the cluster before heavy per-row
    compute when the source provides too few input splits — the
    optimization guide's §2.5 "one huge unsplittable file" remedy
    (single-row-group parquet cannot split, so the scan and everything
    fused into its stage runs on ONE core no matter how many the
    cluster has).

    No-op when the scan is already parallel (>= half the default
    parallelism) — the 100 TB case, where inputs span many files and a
    repartition here would pointlessly shuffle the payload. When it does
    fire, partitioning hashes the DETERMINISTIC ``key`` column (never
    rand(): retried map tasks must reproduce the same row→partition
    assignment — SPARK-38388).

    ``key=None`` uses keyless ROUND-ROBIN repartitioning instead — for
    streams with no unique column where any available key is skewed
    (token occurrences: hashing on the token sends every "the" to one
    partition, recreating the single-core stage). Round-robin is retry-
    safe because Spark locally sorts the input first
    (``spark.sql.execution.sortBeforeRepartition``, on by default since
    SPARK-23207) so re-run tasks reproduce the same assignment; the
    local sort is the price, cheap relative to the compute being spread.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if target <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning failed; leave df alone
        return df
    if n * 2 >= target:
        return df
    if key is None:
        return df.repartition(target)
    return df.repartition(target, F.col(key))


def ranked_head(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    order_cols: Sequence[Column],
    cap: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Keep the first ``cap`` rows per key under ``order_cols`` (with a
    1-based ``rank_col``) — the per-stratum head-capping primitive
    behind domain capping and weighted sampling.

    Scale shape: the ``row_number() <= cap`` filter is planned by Spark
    (>= 3.5, ``InferWindowGroupLimit``) as a PAIR of WindowGroupLimit
    nodes — Partial BELOW the exchange, Final above — i.e. per-partition
    partial top-k: every map task locally keeps at most ``cap`` rows per
    key before anything shuffles, so a hot key's reducer receives at
    most cap x map_partitions rows, never its raw row count. That is
    exactly the "count + pre-filter" bound, obtained in ONE scan with
    zero extra passes. tests/test_plans.py pins the Partial node below
    the Exchange; tests/test_scale.py measures the shuffle bound on a
    skewed fixture. For the extreme regime (billions of rows on one key
    AND a uniform-hash rank order) see :func:`hash_ranked_head`, which
    adds an exact two-pass hash-range pre-filter.

    The optimization only fires while ``cap`` <=
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000);
    beyond that this function warns — the window still computes
    correctly, but full per-key row sets shuffle.
    """
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if cap < 1:
        raise ValueError("cap must be >= 1; got %d" % cap)
    try:
        thr = int(
            df.sparkSession.conf.get(
                "spark.sql.optimizer.windowGroupLimitThreshold", "1000"
            )
        )
    except Exception:
        thr = 1000
    if thr < 0:
        # -1 disables InferWindowGroupLimit entirely — the partial
        # top-k this function's scale guarantee rests on never plans
        warnings.warn(
            "ranked_head: spark.sql.optimizer.windowGroupLimitThreshold=%d "
            "disables the partial top-k below the shuffle; hot keys ship "
            "their full row sets to one reducer" % thr
        )
    elif cap > thr:
        warnings.warn(
            "ranked_head cap=%d exceeds windowGroupLimitThreshold=%d: the "
            "partial top-k below the shuffle will not fire; raise the conf "
            "or lower the cap" % (cap, thr)
        )
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return df.withColumn(
        rank_col, F.row_number().over(w).cast("bigint")
    ).where(F.col(rank_col) <= cap)


def hash_ranked_head(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    hash_col: str,
    hash_max: int,
    cap: int,
    hot_min: Optional[int] = None,
    buckets: int = 4096,
    tiebreak_cols: Sequence[str] = (),
    rank_col: str = "rank",
) -> DataFrame:
    """:func:`ranked_head` ordered by a uniform integer hash column,
    with an EXACT two-pass hot-key pre-filter.

    ``hash_col`` must hold a uniform hash in ``[0, hash_max)`` and rank
    order is that hash ascending (ties broken by ``tiebreak_cols``).
    With ``hot_min`` set, keys whose row count exceeds it take a
    pre-filter pass before the window:

    1. per-key counts -> the (few, by definition) hot keys broadcast;
    2. a (key, hash-range-bucket) histogram over hot-key rows only;
    3. per hot key, the minimal bucket prefix whose cumulative count
       reaches ``cap`` becomes its cutoff — every row of a hot key in a
       later bucket is dropped BEFORE the rank window.

    This is exact, not probabilistic: the cap smallest hashes of a key
    all lie inside that minimal prefix (bucket order IS hash order), so
    the kept superset always contains the true head; the final window
    re-ranks it. Survivors per hot key ~ cap + n_k/buckets — for a
    billion-row key at the default 4096 buckets that's ~244k rows into
    the sort instead of 1e9; raise ``buckets`` to tighten (the
    histogram is hot_keys x buckets rows, driver-safe). With
    ``hot_min=None`` this is plain :func:`ranked_head`, whose partial
    top-k already bounds shuffle volume at cap x map_partitions — use
    the pre-filter when map-partition counts themselves are huge.
    """
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(hash_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    if hot_min is None:
        return ranked_head(df, keys, order, cap, rank_col)
    filtered = hash_head_prefilter(df, keys, hash_col, hash_max, cap, hot_min, buckets)
    return ranked_head(filtered, keys, order, cap, rank_col)


def hash_head_prefilter(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    hash_col: str,
    hash_max: int,
    cap: int,
    hot_min: int,
    buckets: int = 4096,
) -> DataFrame:
    """The exact hot-key pre-filter stage of :func:`hash_ranked_head`,
    exposed so its bound is testable: returns ``df`` minus hot-key rows
    that provably cannot be in the per-key head of size ``cap`` (hash
    ascending). Guaranteed a superset of the true head for every key;
    hot-key survivors ~ cap + n_k/buckets."""
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if hash_max < 1 or buckets < 1:
        raise ValueError("hash_max and buckets must be >= 1")
    from bamboo_spark.operators._cache import tracked_persist

    width = max(1, hash_max // buckets)
    # persisted: staged feeds three subtrees (hot-key counts, the
    # hot-row histogram, and the final filter) — unpersisted, the
    # source scan + hash projection would execute three times
    staged = tracked_persist(
        df.withColumn("_bkt", F.floor(F.col(hash_col) / F.lit(width)))
    )
    hot = (
        staged.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > hot_min)
        .select(*keys)
    )
    hist = (
        staged.join(F.broadcast(hot), keys)
        .groupBy(*(keys + ["_bkt"]))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = Window.partitionBy(*keys).orderBy(F.col("_bkt").asc())
    cut = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        # buckets whose preceding cumulative count is still short of cap
        # are needed; the largest of them is the per-key cutoff
        .where(F.col("_cum") - F.col("_c") < cap)
        .groupBy(*keys)
        .agg(F.max("_bkt").alias("_cut"))
    )
    return (
        staged.join(F.broadcast(cut), keys, "left")
        .where(F.col("_cut").isNull() | (F.col("_bkt") <= F.col("_cut")))
        .drop("_bkt", "_cut")
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Optional[Sequence[str]] = None,
    target_files_per_partition: int = 1,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Partitioned columnar sink with small-file control.

    A naive ``df.write.partitionBy(k)`` emits one file per (task ×
    partition value) — at 1000 tasks × 1000 values that's 1M tiny
    files. Repartitioning on the partition columns first routes each
    value to ``target_files_per_partition`` tasks, so file count is
    O(values × target), independent of upstream parallelism.
    """
    writer = df
    if partition_by:
        cols = [F.col(c) for c in partition_by]
        if target_files_per_partition > 1:
            # spread each partition value over a few tasks to bound
            # file size without reintroducing the small-file explosion
            cols = cols + [
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in df.columns]),
                    F.lit(target_files_per_partition),
                )
            ]
        writer = df.repartition(*cols)
    w = writer.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: per-id status between two table versions —
    'added' (id only in new), 'removed' (only in old), 'changed' (both,
    different content digest), 'unchanged'. The audit a data-versioned
    pipeline runs before promoting a snapshot: an unexpected 'removed'
    spike means an upstream source silently vanished; a 'changed' spike
    means a transform drifted.

    Both sides reduce to (id, digest, carry-cols) BEFORE the full outer
    join, so only 32-byte digests shuffle — never document content; the
    join is a plain hash join on the id. Output columns: id, every
    non-content column coalesced from the surviving side, and status.
    """
    carry = [c for c in new.columns if c not in (id_col, content_col)]
    # presence is tracked with explicit markers, NOT digest nullness: a
    # row with NULL content must still count as present (md5(NULL) is
    # NULL and would misreport it as added/removed); a NULL-vs-value
    # digest comparison is null → falls through to 'unchanged', the
    # same contract as the SQL oracle's CASE
    o = old.select(
        F.col(id_col),
        F.lit(1).alias("_o_present"),
        F.md5(F.col(content_col)).alias("_oh"),
        *[F.col(c).alias("_o_%s" % c) for c in carry],
    )
    n = new.select(
        F.col(id_col),
        F.lit(1).alias("_n_present"),
        F.md5(F.col(content_col)).alias("_nh"),
        *[F.col(c).alias("_n_%s" % c) for c in carry],
    )
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_o_present").isNull(), F.lit("added"))
        .when(F.col("_n_present").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out_cols = [F.col(id_col)]
    for c in carry:
        out_cols.append(
            F.coalesce(F.col("_n_%s" % c), F.col("_o_%s" % c)).alias(c)
        )
    return j.select(*out_cols, status.alias("status"))


def hash_budget_prefilter(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    hash_col: str,
    hash_max: int,
    weight_col: str,
    budget: int,
    hot_min: int,
    buckets: int = 4096,
) -> DataFrame:
    """Weighted twin of :func:`hash_head_prefilter`: drop hot-key rows
    that provably cannot be inside the per-key hash-ordered WEIGHT
    budget. Exact: a row kept by the budget rule has exclusive running
    weight < budget, which is >= the total weight of all earlier
    buckets, so it lies at or before the cutoff bucket (the last bucket
    whose preceding cumulative weight is still < budget). Hot-key
    survivors ~ budget/mean_weight + n_k/buckets rows.

    REQUIRES nonnegative weights: the cutoff proof rests on per-bucket
    cumulative weight being monotone; a negative weight would let a
    row past the cut bucket still qualify, silently diverging from the
    plain windowed path — validated on the hot rows (one extra column
    in the histogram aggregate, no extra pass)."""
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if hash_max < 1 or buckets < 1:
        raise ValueError("hash_max and buckets must be >= 1")
    from bamboo_spark.operators._cache import tracked_persist

    width = max(1, hash_max // buckets)
    staged = tracked_persist(
        df.withColumn("_bkt", F.floor(F.col(hash_col) / F.lit(width)))
    )
    hot = (
        staged.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > hot_min)
        .select(*keys)
    )
    hist = (
        staged.join(F.broadcast(hot), keys)
        .groupBy(*(keys + ["_bkt"]))
        .agg(F.sum(weight_col).alias("_w"), F.min(weight_col).alias("_minw"))
    )
    neg = hist.where(F.col("_minw") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            "hash_budget_prefilter requires nonnegative weights; found "
            "negative %s in a hot key's rows" % weight_col
        )
    hist = hist.drop("_minw")
    wcum = Window.partitionBy(*keys).orderBy(F.col("_bkt").asc())
    cut = (
        hist.withColumn("_cumw", F.sum("_w").over(wcum))
        .where(F.col("_cumw") - F.col("_w") < budget)
        .groupBy(*keys)
        .agg(F.max("_bkt").alias("_cut"))
    )
    return (
        staged.join(F.broadcast(cut), keys, "left")
        .where(F.col("_cut").isNull() | (F.col("_bkt") <= F.col("_cut")))
        .drop("_bkt", "_cut")
    )


def budget_head(
    df: DataFrame,
    key_cols: Union[str, Sequence[str]],
    hash_col: str,
    weight_col: str,
    budget: int,
    hot_min: Optional[int] = None,
    hash_max: Optional[int] = None,
    buckets: int = 4096,
    tiebreak_cols: Sequence[str] = (),
    cum_col: str = "cum_weight",
) -> DataFrame:
    """Keep rows per key in hash-ascending order while the EXCLUSIVE
    running ``weight_col`` stays under ``budget`` — the token-budget
    variant of head capping: "at most ~B training tokens per source",
    deterministic and engine-replayable (hash order), first row always
    kept. Emits ``cum_col`` = inclusive running weight.

    Scale: a running-sum window has NO partial-top-k rewrite (unlike
    row_number, which InferWindowGroupLimit bounds), so a hot key's
    full row set sorts on one reducer unless ``hot_min`` engages the
    exact weighted hash-range pre-filter
    (:func:`hash_budget_prefilter`, requires ``hash_max``) — then only
    ~budget-worth + n_k/buckets rows per hot key reach the sort."""
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if budget < 1:
        raise ValueError("budget must be >= 1; got %d" % budget)
    if hot_min is not None:
        if hash_max is None:
            raise ValueError("hot_min requires hash_max")
        df = hash_budget_prefilter(
            df, keys, hash_col, hash_max, weight_col, budget, hot_min, buckets
        )
    w = Window.partitionBy(*keys).orderBy(
        *([F.col(hash_col).asc()] + [F.col(c).asc() for c in tiebreak_cols])
    )
    return df.withColumn(
        cum_col, F.sum(weight_col).over(w).cast("long")
    ).where(F.col(cum_col) - F.col(weight_col) < budget)


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Union[str, Sequence[str]],
    version_cols: Sequence[str],
    op_col: Optional[str] = None,
    delete_op: str = "delete",
) -> DataFrame:
    """Apply a CDC change batch onto a base snapshot — the MERGE INTO /
    table-maintenance primitive: per key, the highest-versioned change
    wins (last-writer-wins); a winning ``delete_op`` removes the key;
    keys untouched by the change batch pass through; keys only in the
    change batch are inserts. Snapshot rows rank below EVERY change for
    the same key (a snapshot precedes its deltas by construction), so
    ``version_cols`` only need to order the changes among themselves.

    Contract: ``key_cols`` unique in ``base``; (key, version) unique in
    ``changes`` (at-least-once delivery should be deduped upstream —
    duplicate identical versions are harmless, conflicting payloads at
    one version are undefined in any CDC semantics). ``op_col`` (only
    consulted on ``changes``) holds ``delete_op`` for tombstones;
    anything else — or ``op_col=None`` — means upsert.

    Scale shape: ONE map-combined max-struct aggregate on the key — no
    window sort, no join. The struct compares (is_change, versions...,
    op, payload...) lexicographically, so partial aggregation on the
    map side already discards superseded versions; a hot key costs one
    struct per mapper, not a reducer-side sort of its history. This is
    the shape that compacts a 100 TB table with a 1 TB daily delta:
    shuffle carries at most one surviving struct per (mapper, key).
    """
    keys: List[str] = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    vers = list(version_cols)
    payload = [
        c
        for c in base.columns
        if c not in keys and c not in vers and c != op_col
    ]
    for c in keys + vers + payload:
        if c not in changes.columns:
            raise ValueError("changes is missing column %r" % c)
    op_b = F.lit("upsert")
    op_c = (
        F.coalesce(F.col(op_col).cast("string"), F.lit("upsert"))
        if op_col is not None
        else F.lit("upsert")
    )
    def tagged(df: DataFrame, is_change: int, op: Column) -> DataFrame:
        return df.select(
            *[F.col(k) for k in keys],
            F.struct(
                F.lit(is_change).alias("_chg"),
                *[F.col(v).alias("_v_%d" % i) for i, v in enumerate(vers)],
                op.alias("_op"),
                *[F.col(p).alias("_p_%d" % i) for i, p in enumerate(payload)],
            ).alias("_row"),
        )

    merged = (
        tagged(base, 0, op_b)
        .unionByName(tagged(changes, 1, op_c))
        .groupBy(*keys)
        .agg(F.max("_row").alias("_w"))
        .where(F.col("_w._op") != F.lit(delete_op))
    )
    return merged.select(
        *keys,
        *[F.col("_w._v_%d" % i).alias(v) for i, v in enumerate(vers)],
        *[F.col("_w._p_%d" % i).alias(p) for i, p in enumerate(payload)],
    )


def zorder_key(
    cols: Sequence[str],
    mins: Sequence[str],
    maxs: Sequence[str],
    bits: int = 16,
) -> Column:
    """Z-order (Morton) interleave of ``cols`` — the multi-column data
    CLUSTERING key behind layout optimization (Delta/Iceberg's OPTIMIZE
    ZORDER): rows close in z-key order are close in EVERY listed
    dimension, so files written in z-key ranges carry tight min/max
    stats on all of them at once and scans filtering on any dimension
    skip most files. A lexicographic sort clusters only its leading
    column; the z-curve shares its bits round-robin.

    ``cols`` are integer-valued columns; ``mins``/``maxs`` are columns
    holding each column's global min/max (broadcast-joined 1-row stats —
    computing them is the caller's one extra aggregate). Each value
    rank-quantizes to ``bits`` bits via EXACT integer math
    ((x - min) * (2^bits - 1) div (max - min), in decimal(38,0) so a
    full-range int64 column cannot overflow), then the quantized words
    interleave bit b of column c into output bit b*n_cols + c.
    n_cols * bits must stay <= 62 (int64 key).

    Pure built-in expressions — scan-speed, codegen-friendly, no UDF,
    and integer-exact so a DuckDB oracle replays keys bit-for-bit.
    """
    n = len(cols)
    if not (n and len(mins) == n and len(maxs) == n):
        raise ValueError("cols/mins/maxs must be equal-length and non-empty")
    if n * bits > 62:
        raise ValueError("n_cols * bits must be <= 62, got %d" % (n * bits))
    top = (1 << bits) - 1
    qs = []
    for c, lo, hi in zip(cols, mins, maxs):
        qs.append(
            "cast((cast(({c}) - ({lo}) as decimal(38,0)) * {top}) div "
            "greatest(cast(({hi}) - ({lo}) as decimal(38,0)), 1) as bigint)".format(
                c=c, lo=lo, hi=hi, top=top
            )
        )
    terms = []
    for ci, q in enumerate(qs):
        terms.append(
            "aggregate(sequence(0, {b}), 0L, (acc, i) -> "
            "acc + shiftleft(shiftright({q}, i) & 1, i * {n} + {ci}))".format(
                b=bits - 1, q=q, n=n, ci=ci
            )
        )
    return F.expr(" + ".join(terms))


def zorder_key_duck(
    cols: Sequence[str],
    mins: Sequence[str],
    maxs: Sequence[str],
    bits: int = 16,
) -> str:
    """DuckDB twin of :func:`zorder_key` — same integer math, so keys
    match bit-for-bit."""
    n = len(cols)
    top = (1 << bits) - 1
    terms = []
    for ci, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        q = (
            "((({c}) - ({lo}))::HUGEINT * {top} // "
            "greatest((({hi}) - ({lo}))::HUGEINT, 1))::BIGINT".format(
                c=c, lo=lo, hi=hi, top=top
            )
        )
        terms.append(
            "list_sum([(({q} >> i) & 1) * (1::BIGINT << (i * {n} + {ci})) "
            "for i in range(0, {b})])".format(q=q, n=n, ci=ci, b=bits)
        )
    return "(" + " + ".join(terms) + ")"


def sharded_prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    shards: int = 32,
    out_prefix: str = "pre_",
) -> DataFrame:
    """EXCLUSIVE (strictly-preceding) prefix sums of ``sum_cols`` in
    ``order_col`` order — WITHOUT the single-partition global window a
    naive ``Window.orderBy`` plans. Adds ``<out_prefix><col>`` columns.

    The two-phase distributed prefix scan (the ``pack.token_offsets``
    shape generalized): range-shard rows on ``order_col`` (integer
    arithmetic on min/max — one metadata-sized agg), window WITHIN each
    shard, collect the <= ``shards`` per-shard subtotals, prefix-sum
    them on the driver, and broadcast the per-shard bases back. No
    window partition ever holds more than one shard's rows; driver
    traffic is ``shards`` rows.

    Contract: ``order_col`` values must be DISTINCT per row (the
    histogram/offset shape this serves) — with ties, which row of a tie
    precedes which is partition-relative, so "strictly preceding" would
    not be well-defined globally. ``sum_cols`` accumulate as BIGINT.
    """
    cols = list(sum_cols)
    # FULLY LAZY (r13): the lo/hi range and the per-shard base offsets
    # used to be two driver collects fired at PLAN-BUILD time — every
    # call paid two synchronous jobs (and the lo/hi one re-executed the
    # upstream subtree) before the query's own action even started.
    # Both folds now ride the returned plan: lo/width come from a 1-row
    # broadcast aggregate, and the ≤``shards``-row shard totals
    # prefix-sum in a single-partition window that is BOUNDED by
    # construction (one row per shard), then broadcast back — zero
    # driver collects, identical integer arithmetic. The input is
    # persisted once; the range agg, in-shard window and shard totals
    # all read the cache.
    df = tracked_persist(df)
    mm = df.agg(
        F.min(order_col).cast("long").alias("__lo"),
        # same width as the former driver fold: (hi - lo) div shards + 1
        F.expr(
            "cast((max(%s) - min(%s)) div %d as long) + 1"
            % (order_col, order_col, shards)
        ).alias("__width"),
    )
    sharded = df.crossJoin(F.broadcast(mm)).withColumn(
        "__shard",
        F.expr("cast((%s - __lo) div __width as int)" % order_col),
    )
    w = (
        Window.partitionBy("__shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = sharded.select(
        "*",
        *[
            F.coalesce(F.sum(F.col(c).cast("bigint")).over(w), F.lit(0))
            .cast("bigint")
            .alias("__loc_" + c)
            for c in cols
        ],
    )
    w_base = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )  # single partition of ≤ `shards` rows — bounded by construction
    base_df = (
        sharded.groupBy("__shard")
        .agg(*[F.sum(F.col(c).cast("bigint")).alias(c) for c in cols])
        .select(
            "__shard",
            *[
                F.coalesce(F.sum(c).over(w_base), F.lit(0))
                .cast("bigint")
                .alias("__base_" + c)
                for c in cols
            ],
        )
    )
    return (
        local.join(F.broadcast(base_df), "__shard")
        .select(
            *[f.name for f in df.schema.fields],
            *[
                (F.col("__base_" + c) + F.col("__loc_" + c))
                .cast("bigint")
                .alias(out_prefix + c)
                for c in cols
            ],
        )
    )
