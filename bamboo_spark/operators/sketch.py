"""Count-Min sketch: mergeable approximate frequency state.

The heavy-hitters monitors in this engine are exact (hash-aggregated
full count tables). At 100 TB the *per-token* count table itself is
corpus-vocabulary-sized — fine as a one-off aggregate, but too big to
keep as STANDING STATE for continuous ingest monitoring. The Count-Min
sketch (Cormode & Muthukrishnan 2005) replaces it with a fixed
``depth x width`` integer grid:

* every update adds 1 to one bucket per hash row — the grid is built by
  one hash-aggregate whose output is depth*width rows REGARDLESS of
  corpus size;
* two sketches merge by cell-wise addition (a plain ``group by`` sum) —
  the append-only ingest shape: yesterday's sketch + today's batch
  sketch = the sketch of the union, exactly;
* a point estimate is min over the item's depth cells — always an
  OVERestimate (each cell >= the true count), within eps*N with
  probability 1-delta for width=ceil(e/eps), depth=ceil(ln(1/delta)).

Everything is integer math over md5-derived bucket hashes, so the
DuckDB oracle replays the sketch BIT-FOR-BIT — the estimates themselves
are deterministic and value-gated, not just bounded.

Design notes (Spark-first): the builder is one exploded hash-aggregate
(depth rows per token occurrence — map-side combined, so the shuffle
carries at most depth*width rows per map partition); the estimator
broadcasts the candidate set, never the sketch's input. No Python UDFs;
the bucket hash is the engine's standard md5-prefix integer trick
(`conv(substr(md5(..), 1, 15), 16, 10)` — 60 bits, same bytes in both
engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bucket_expr(item_sql: str, row: str, width: int) -> str:
    """Bucket index in [0, width) for hash row ``row`` — Spark SQL."""
    return (
        "pmod(cast(conv(substr(md5(concat(cast(%s as string), ':', %s)), 1, 15),"
        " 16, 10) as bigint), %d)" % (row, item_sql, width)
    )


def bucket_duck(item_sql: str, row: str, width: int) -> str:
    """The same bucket index — DuckDB SQL (same md5 bytes, same mod)."""
    return (
        "(('0x' || substr(md5(%s::VARCHAR || ':' || %s), 1, 15))::BIGINT %% %d)"
        % (row, item_sql, width)
    )


def cms_build(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 8192,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min sketch over one row per item occurrence
    (optionally ``weight_col`` counts per row). Returns the sketch as a
    DataFrame (hash_row int, bucket int, n bigint) with at most
    depth*width rows — the mergeable standing state.

    Null and empty-string items are dropped — the SAME rule as the
    streaming ``cms_stream`` — so a batch grid and a stream-replay grid
    of the same corpus are unconditionally equal cell-for-cell and safe
    to merge (cell-wise sum) without callers having to pre-filter.

    Scale shape: pre-aggregate occurrences to DISTINCT items first (a
    wordcount-shaped shuffle, map-combined so a hot item leaves each
    mapper as one row), hash each distinct item ``depth`` times, then
    ONE hash-aggregate on (hash_row, bucket). The md5 bucket hash — the
    compute-dense part — runs once per distinct item instead of once
    per occurrence (Zipf corpora repeat items thousands of times;
    cell sums are identical because sum(w) per cell is associative).
    Partial aggregation bounds the final shuffle at depth*width rows
    per task; the item shuffle doubles as the compute spreader, so no
    explicit fan-out is needed even on a single-split source.

    This shape ASSUMES a Zipf-like stream that repeats items heavily:
    the distinct-item pre-aggregate shuffles O(distinct items) rows, so
    its cost is NOT independent of corpus size — on a near-unique item
    stream (ids, hashes) it is a full-corpus shuffle, where hashing
    occurrences directly would shuffle only depth*width rows per task.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth/width must be >= 1")
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    return (
        df.select(F.col(item_col).cast("string").alias("_it"), w.alias("_w"))
        .where(F.col("_it").isNotNull() & (F.col("_it") != ""))
        .groupBy("_it")
        .agg(F.sum("_w").alias("_w"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("hash_row"),
            "_it",
            "_w",
        )
        .withColumn(
            "bucket", F.expr(_bucket_expr("_it", "hash_row", width)).cast("int")
        )
        .groupBy("hash_row", "bucket")
        .agg(F.sum("_w").alias("n"))
        .select(F.col("hash_row").cast("int"), "bucket", F.col("n").cast("bigint"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 8192,
    out_col: str = "cms_n",
) -> DataFrame:
    """Point-estimate counts for ``items`` (a SMALL candidate frame —
    heavy-hitter suspects, a watchlist): min over the item's ``depth``
    cells. Adds ``out_col``; every estimate >= the true count.

    The candidate set broadcasts (it is monitor-sized by contract); the
    sketch side is depth*width rows, so the probe join is trivially
    small on both sides. Items hashing to empty cells estimate 0.
    """
    probes = items.select(
        F.col(item_col),
        F.col(item_col).cast("string").alias("_it"),
    ).select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("hash_row"),
    ).withColumn(
        "bucket", F.expr(_bucket_expr("_it", "hash_row", width)).cast("int")
    )
    # the sketch is depth*width rows BY CONSTRUCTION — broadcast-safe
    hit = probes.join(F.broadcast(sketch), ["hash_row", "bucket"], "left")
    return (
        hit.groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias(out_col))
    )


# ------------------------------------------------- HyperLogLog registers
#
# The distinct-count twin of the CMS grid (Flajolet et al. 2007,
# "HyperLogLog: the analysis of a near-optimal cardinality estimation
# algorithm"): standing state is 2^p integer registers; merge is
# cell-wise MAX (the union's sketch, exactly); the estimate replays
# deterministically from the registers because the hash is the same
# md5-prefix integer both engines compute. Spark's own
# approx_count_distinct covers the one-shot aggregate; THIS form exists
# for the cross-job shapes that need the registers as data: persist
# today's registers, merge tomorrow's batch, estimate any union of
# slices without rescanning them.

_HLL_BITS = 60  # md5-prefix hash width (15 hex digits)


def _hll_parts(item_sql: str, p: int):
    h = (
        "cast(conv(substr(md5(concat('hll:', cast(%s as string))), 1, 15),"
        " 16, 10) as bigint)" % item_sql
    )
    tail = _HLL_BITS - p
    idx = "cast((%s) div %d as int)" % (h, 1 << tail)
    w = "pmod(%s, %d)" % (h, 1 << tail)
    # rho = leading zeros of the tail + 1 = (tail + 1) - bit_length(w);
    # length(bin(w)) IS the bit length for w > 0
    rho = "if((%s) = 0, %d, %d - length(bin(%s)))" % (w, tail + 1, tail + 1, w)
    return idx, rho


def hll_build(df: DataFrame, item_col: str, p: int = 12) -> DataFrame:
    """Build the 2^p-register HLL state over ``item_col``: one
    hash-aggregate, output (idx int, r int) with at most 2^p rows
    (absent registers are implicitly 0). Map-side combined — shuffle
    volume is O(partitions * 2^p) regardless of input size."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    idx, rho = _hll_parts("_it", p)
    return (
        df.select(F.col(item_col).cast("string").alias("_it"))
        .where(F.col("_it").isNotNull())
        .select(F.expr(idx).alias("idx"), F.expr(rho).alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def hll_estimate(state: DataFrame, p: int = 12, out_col: str = "hll_est") -> DataFrame:
    """Cardinality estimate from the registers: the standard HLL
    harmonic mean with the small-range (linear counting) correction.
    One row out; deterministic given the registers, so the whole
    pipeline (hash -> registers -> estimate) replays in the oracle."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = state.agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum(F.expr("power(cast(2 as double), -r)")).alias("_sp"),
    )
    raw = "(%r * %d * %d) / ((%d - _np) + coalesce(_sp, cast(0 as double)))" % (
        alpha,
        m,
        m,
        m,
    )
    est = (
        "case when (%s) <= 2.5 * %d and %d - _np > 0"
        " then %d * ln(cast(%d as double) / (%d - _np))"
        " else (%s) end" % (raw, m, m, m, m, m, raw)
    )
    return agg.select(
        F.expr("cast(round(%s, 4) as double)" % est).alias(out_col)
    )


def hll_build_duck(item_sql_rows: str, p: int = 12) -> str:
    """DuckDB twin of :func:`hll_build` over a query producing column
    ``it`` (one row per item occurrence)."""
    tail = _HLL_BITS - p
    h = "(('0x' || substr(md5('hll:' || it::VARCHAR), 1, 15))::BIGINT)"
    idx = "(%s // %d)::INT" % (h, 1 << tail)
    w = "(%s %% %d)" % (h, 1 << tail)
    rho = (
        "case when %s = 0 then %d else %d - length(bin(%s)) end"
        % (w, tail + 1, tail + 1, w)
    )
    return """
select {idx} idx, max({rho})::INT r
from ({src}) where it is not null
group by 1
""".format(idx=idx, rho=rho, src=item_sql_rows)


def hll_estimate_duck(registers_cte: str, p: int = 12, out_col: str = "hll_est") -> str:
    """DuckDB twin of :func:`hll_estimate` over a registers CTE/query
    with columns (idx, r)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        "({a}::DOUBLE * {m} * {m}) / (({m} - _np) + coalesce(_sp, 0::DOUBLE))".format(
            a=repr(alpha), m=m
        )
    )
    est = (
        "case when ({raw}) <= 2.5 * {m} and {m} - _np > 0"
        " then {m} * ln({m}::DOUBLE / ({m} - _np))"
        " else ({raw}) end".format(raw=raw, m=m)
    )
    return """
select round({est}, 4)::DOUBLE {out}
from (
  select count(*) _np, sum(power(2::DOUBLE, -r)) _sp
  from ({src})
)
""".format(est=est, out=out_col, src=registers_cte)


# ---------------------------------------------------- KMV (bottom-k) sketch
#
# K-minimum-values (Beyer et al. 2007, "On synopses for distinct-value
# estimation under multiset operations"): a set's synopsis is its k
# smallest item hashes. Synopses MERGE (k smallest of the union of two
# synopses = synopsis of the union) and — unlike HLL — support
# INTERSECTION estimation: among the k smallest hashes of A ∪ B, the
# fraction present in both A's and B's synopses is an unbiased Jaccard
# estimate. That is the cross-source overlap question (shared users,
# shared vocabulary, contamination surface between corpora) answered
# from two k-row synopses instead of a distinct-join of the raw sets.


def kmv_hash_expr(item_sql: str) -> str:
    """The 60-bit md5-prefix item hash (Spark SQL)."""
    return (
        "cast(conv(substr(md5(concat('kmv:', cast(%s as string))), 1, 15),"
        " 16, 10) as bigint)" % item_sql
    )


def kmv_hash_duck(item_sql: str) -> str:
    return (
        "(('0x' || substr(md5('kmv:' || %s::VARCHAR), 1, 15))::BIGINT)"
        % item_sql
    )


def kmv_build(
    df: DataFrame, set_col: str, item_col: str, k: int = 256
) -> DataFrame:
    """Per-``set_col`` bottom-k synopsis: (set_col, h) with the k
    smallest distinct item hashes of each set.

    Scale shape: hash projection at scan speed, one distinct on
    (set, h) — 8-byte hashes shuffle, never items — then the engine's
    :func:`~bamboo_spark.operators.scale.ranked_head` partial top-k
    (WindowGroupLimit BELOW the exchange), so a billion-member set
    ships at most k rows per map partition."""
    from bamboo_spark.operators.scale import ranked_head

    hashed = (
        df.select(
            F.col(set_col), F.expr(kmv_hash_expr(item_col)).alias("h")
        )
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    return ranked_head(hashed, set_col, [F.col("h").asc()], cap=k).drop("rank")


def kmv_jaccard_pairs(kmv: DataFrame, set_col: str, k: int = 256) -> DataFrame:
    """All-pairs Jaccard estimates from the per-set synopses alone:
    for each set pair (a < b), re-trim the union of the two synopses to
    its k smallest hashes and count how many appear in BOTH — the
    fraction is the estimate. Output: (set_a, set_b, n_union_k, n_both,
    kmv_jaccard).

    Everything is synopsis-sized (#sets * k rows); the pair grid is
    #sets², which is monitor-scale by contract."""
    from bamboo_spark.operators.scale import ranked_head

    names = kmv.select(F.col(set_col).alias("_s")).distinct()
    pairs = (
        names.select(F.col("_s").alias("set_a"))
        .crossJoin(names.select(F.col("_s").alias("set_b")))
        .where(F.col("set_a") < F.col("set_b"))
    )
    ra = pairs.join(
        kmv.select(F.col(set_col).alias("set_a"), "h"), "set_a"
    ).select("set_a", "set_b", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
    rb = pairs.join(
        kmv.select(F.col(set_col).alias("set_b"), "h"), "set_b"
    ).select("set_a", "set_b", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    u = (
        ra.unionByName(rb)
        .groupBy("set_a", "set_b", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    trimmed = ranked_head(
        u, ["set_a", "set_b"], [F.col("h").asc()], cap=k
    ).drop("rank")
    return (
        trimmed.groupBy("set_a", "set_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_union_k"),
            F.sum(F.col("ia") * F.col("ib")).cast("bigint").alias("n_both"),
        )
        .withColumn(
            "kmv_jaccard",
            F.round(
                F.col("n_both").cast("double")
                / F.col("n_union_k").cast("double"),
                6,
            ),
        )
    )


def hll_build_grouped(
    df: DataFrame, group_cols, item_col: str, p: int = 12
) -> DataFrame:
    """Per-group HLL registers: (group_cols..., idx, r) with at most
    2^p rows PER GROUP — the distinct-count standing state for a keyed
    dimension (distinct users per source/day/experiment), mergeable per
    group by cell-wise max. Same one-aggregate shape as
    the global build; the group key simply joins the grid key."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    idx, rho = _hll_parts("_it", p)
    return (
        df.select(*groups, F.col(item_col).cast("string").alias("_it"))
        .where(F.col("_it").isNotNull())
        .select(*groups, F.expr(idx).alias("idx"), F.expr(rho).alias("rho"))
        .groupBy(*groups, "idx")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def hll_estimate_grouped(
    state: DataFrame, group_cols, p: int = 12, out_col: str = "hll_est"
) -> DataFrame:
    """Per-group cardinality estimates from grouped registers — the
    same harmonic-mean + linear-counting math as the global
    :func:`hll_estimate`, one output row per group."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = state.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum(F.expr("power(cast(2 as double), -r)")).alias("_sp"),
    )
    raw = "(%r * %d * %d) / ((%d - _np) + coalesce(_sp, cast(0 as double)))" % (
        alpha, m, m, m,
    )
    est = (
        "case when (%s) <= 2.5 * %d and %d - _np > 0"
        " then %d * ln(cast(%d as double) / (%d - _np))"
        " else (%s) end" % (raw, m, m, m, m, m, raw)
    )
    return agg.select(
        *groups, F.expr("cast(round(%s, 4) as double)" % est).alias(out_col)
    )


# ------------------------------------------------- deterministic samples
#
# The quantile/debug twin of KMV: a UNIFORM row sample selected by hash
# rank (Nath et al.'s "synopsis diffusion" bottom-k sample; the same
# order statistics KMV uses for distinct counts, applied to ROWS keyed
# by a unique id). Because "the k rows with the smallest md5(id)" is a
# pure function of the id set, the sample is (a) deterministic — the
# DuckDB oracle replays it bit-for-bit, (b) MERGEABLE — bottom-k of a
# union equals bottom-k of the per-shard bottom-k's, so per-day samples
# compose into a month's sample without rescanning, and (c) consistent
# across jobs — the same rows are sampled tomorrow, so deltas are real
# changes, not sampling churn.


def hash_sample(
    df: DataFrame,
    id_col: str,
    k: int = 1024,
    rank_col: str = "_rk",
) -> DataFrame:
    """The ``k`` rows with the smallest 60-bit md5 rank of ``id_col``
    (ids must be unique for exact mergeability). Keeps all columns and
    adds ``rank_col`` so downstream merges can re-trim: bottom-k of a
    union of samples is the sample of the concatenated inputs.

    Scale shape: orderBy+limit plans TakeOrderedAndProject — a k-row
    heap per partition, k rows to the driver merge — never a global
    sort. k is sample-sized (10³-10⁴) by contract."""
    from bamboo_spark.operators.text import md5_int60_sql

    rank = md5_int60_sql(
        "concat('smp:', cast(%s as string))" % id_col
    )
    return (
        df.select("*", F.expr(rank).alias(rank_col))
        .orderBy(rank_col, id_col)
        .limit(k)
    )


def hash_sample_duck(rows_sql: str, id_sql: str, k: int = 1024) -> str:
    """DuckDB oracle twin: same md5 rank, same bottom-k."""
    from bamboo_spark.operators.text import md5_int60_duck

    rank = md5_int60_duck("'smp:' || (%s)::VARCHAR" % id_sql)
    return """
select *, {rank} _rk from ({src}) order by _rk, {id} limit {k}
""".format(rank=rank, src=rows_sql, id=id_sql, k=k)
