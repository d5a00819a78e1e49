"""Mergeable-sketch queries: CMS/HLL/KMV monitors and sketch-only estimators.

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

from bamboo_spark.queries._core import TABLES, load  # noqa: F401


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — HyperLogLog++ distinct counts and quantile
    sketches per group. Mergeable partial state is the point at scale:
    partitions build small sketches, the shuffle merges them, and
    nothing data-sized crosses the wire. NO DuckDB oracle by design:
    sketch implementations differ across engines, so the driver records
    the weaker rows-only check and tests/test_relational.py bounds the
    error against exact answers instead."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_token_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency monitor: build the mergeable
    depth×width sketch over the token stream, then point-estimate the
    corpus-exact top-15 tokens against it — one row per heavy hitter
    with (token, exact_n, cms_n). cms_n >= exact_n always (CMS never
    underestimates); the gap is the collision overcount, eps*N-bounded.

    This is `token_heavy_hitters`' scale escape hatch made concrete:
    the exact count table is |vocab|-sized standing state, the sketch is
    a FIXED 4×8192 integer grid that merges by cell-wise addition — the
    shape a continuous-ingest monitor keeps. The sketch is
    deterministic (md5-derived buckets), so the oracle replays the grid
    and the estimates bit-for-bit — the estimate VALUES are gated, not
    just bounded.

    Scale: builder is one exploded hash-aggregate (map-side combined,
    <= depth*width rows per task output); the top-15 candidates come
    from a TakeOrderedAndProject (partial top-k); the probe broadcasts
    both monitor-sized sides."""
    from bamboo_spark.operators import sketch

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).where(
        F.col("token") != ""
    )
    cms = sketch.cms_build(toks, "token", depth=4, width=8192)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(15)
    )
    est = sketch.cms_estimate(cms, top, "token", depth=4, width=8192)
    return (
        top.join(est, "token")
        .select("token", "exact_n", "cms_n")
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
    )


def _token_cms_counts_duck() -> str:
    from bamboo_spark.operators import sketch

    b = sketch.bucket_duck("t.token", "r", 8192)
    return """
with occ as (
  select unnest(string_split(text, ' ')) it from documents
),
grid as materialized (
  select r hash_row, {b2} bucket, count(*)::BIGINT n
  from (select it from occ where it <> '') o,
       (select unnest(range(0, 4)) r)
  group by 1, 2
),
top as (
  select it token, count(*)::BIGINT exact_n
  from occ where it <> ''
  group by it order by exact_n desc, token asc limit 15
),
probes as (
  select t.token, t.exact_n, r, {b} bucket
  from top t, (select unnest(range(0, 4)) r)
),
est as (
  select token, min(coalesce(g.n, 0))::BIGINT cms_n
  from probes p left join grid g
    on g.hash_row = p.r and g.bucket = p.bucket
  group by token
)
select t.token, t.exact_n, e.cms_n
from top t join est e using (token)
order by t.exact_n desc, t.token asc
""".format(b=b, b2=sketch.bucket_duck("o.it", "r", 8192))


def q_distinct_hll_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user monitor with the registers AS DATA:
    build the 2^12-register state over event user_ids, estimate
    cardinality from it, and report against the exact distinct — one
    row (n_exact, hll_est, rel_err). Spark's built-in
    approx_count_distinct answers the one-shot question; this operator
    exists for the cross-job shapes: persisted registers merge with
    tomorrow's batch by cell-wise max and estimate
    any union of slices WITHOUT rescanning them — the distinct-count
    twin of the CMS grid.

    The md5-derived hash makes the registers deterministic, so the
    oracle replays hash → registers → harmonic-mean estimate (with the
    linear-counting small-range correction) to the same 4 decimals —
    the ESTIMATE is value-gated, not just error-bounded. (The exact
    side is one count-distinct; at corpus scale you'd drop it and trust
    the registers — it's here as the monitor's ground truth.)

    Scale: register build is one map-combined hash-aggregate whose
    shuffle is O(partitions * 2^p); estimate is a 1-row reduce."""
    from bamboo_spark.operators import sketch

    e = load(spark, sf_dir, "events").select("user_id")
    regs = sketch.hll_build(e, "user_id", p=12)
    est = sketch.hll_estimate(regs, p=12)
    exact = e.agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    return exact.crossJoin(est).select(
        "n_exact",
        "hll_est",
        F.round(
            F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


def _distinct_hll_duck() -> str:
    from bamboo_spark.operators import sketch

    regs = sketch.hll_build_duck(
        "select user_id it from events", p=12
    ).strip()
    est = sketch.hll_estimate_duck("regs_cte", p=12).strip()
    est = est.replace("(regs_cte)", "regs_cte")
    return """
with regs_cte as (
{regs}
),
est as (
{est}
),
ex as (select count(distinct user_id)::BIGINT n_exact from events)
select ex.n_exact, est.hll_est,
       round(abs(est.hll_est - ex.n_exact) / ex.n_exact, 4) rel_err
from ex cross join est
""".format(regs=regs, est=est)


def q_event_user_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-segment audience overlap from bottom-k synopses: per
    event type, the KMV sketch of its user set (k=256 smallest md5
    hashes); per type pair, the Jaccard ESTIMATE computed from the two
    synopses alone — re-trim the union to its k smallest, count hashes
    present in both — side by side with the exact Jaccard of the real
    user sets. The cross-corpus overlap question (shared users, shared
    vocab, contamination surface between sources) answered from
    synopsis-sized state instead of a distinct-join of the raw sets.

    Deterministic md5 hashing means the oracle replays the synopses and
    the estimate exactly (value-gated, like the CMS/HLL monitors); the
    exact side is the monitor's ground truth and would be dropped at
    corpus scale.

    Scale: hashes (8 bytes) shuffle, never user ids; both bottom-k
    trims are the engine's partial top-k (WindowGroupLimit below the
    exchange); the pair grid is #types² — monitor-sized."""
    from bamboo_spark.operators import sketch

    k = 256
    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    kmv = _tracked_persist(sketch.kmv_build(e, "event_type", "user_id", k=k))
    est = sketch.kmv_jaccard_pairs(kmv, "event_type", k=k).select(
        F.col("set_a").alias("type_a"),
        F.col("set_b").alias("type_b"),
        "kmv_jaccard",
    )
    ua = e.distinct()
    sizes = ua.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    inter = (
        ua.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            ua.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    exact = (
        inter.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("nu").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("nu").alias("nb"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            F.round(
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni")).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
    )
    return (
        est.join(exact, ["type_a", "type_b"], "full")
        .select(
            "type_a",
            "type_b",
            F.coalesce("kmv_jaccard", F.lit(0.0)).alias("kmv_jaccard"),
            F.coalesce("exact_jaccard", F.lit(0.0)).alias("exact_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


def _event_user_overlap_kmv_duck() -> str:
    from bamboo_spark.operators import sketch

    h = sketch.kmv_hash_duck("user_id")
    return """
with hashed as (
  select distinct event_type, {h} h from events where user_id is not null
),
kmv as (
  select event_type, h from (
    select event_type, h,
           row_number() over (partition by event_type order by h) rn
    from hashed
  ) where rn <= 256
),
names as (select distinct event_type s from kmv),
pairs as (
  select a.s set_a, b.s set_b from names a join names b on a.s < b.s
),
u as (
  select set_a, set_b, h, max(ia) ia, max(ib) ib from (
    select p.set_a, p.set_b, k.h, 1 ia, 0 ib
    from pairs p join kmv k on k.event_type = p.set_a
    union all
    select p.set_a, p.set_b, k.h, 0 ia, 1 ib
    from pairs p join kmv k on k.event_type = p.set_b
  ) group by 1, 2, 3
),
trimmed as (
  select * from (
    select *, row_number() over (partition by set_a, set_b order by h) rn
    from u
  ) where rn <= 256
),
est as (
  select set_a type_a, set_b type_b,
         round(sum(ia * ib)::DOUBLE / count(*)::DOUBLE, 6) kmv_jaccard
  from trimmed group by 1, 2
),
ua as (select distinct event_type, user_id from events),
sizes as (select event_type, count(*) nu from ua group by 1),
inter as (
  select a.event_type type_a, b.event_type type_b, count(*) ni
  from ua a join ua b
    on a.user_id = b.user_id and a.event_type < b.event_type
  group by 1, 2
),
exact as (
  select i.type_a, i.type_b,
         round(i.ni::DOUBLE / (sa.nu + sb.nu - i.ni)::DOUBLE, 6) exact_jaccard
  from inter i
  join sizes sa on sa.event_type = i.type_a
  join sizes sb on sb.event_type = i.type_b
)
select coalesce(e.type_a, x.type_a) type_a,
       coalesce(e.type_b, x.type_b) type_b,
       coalesce(e.kmv_jaccard, 0.0) kmv_jaccard,
       coalesce(x.exact_jaccard, 0.0) exact_jaccard
from est e full join exact x using (type_a, type_b)
order by 1, 2
""".format(h=h)


def q_token_drift_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift from CMS grids ALONE — what you
    actually do with two days' stored sketches: normalize each grid's
    cells to parts-per-million of its own mass and take the per-row L1
    distance. Zero raw-token rescan; the comparison costs depth×width
    cells regardless of corpus size. Here the two "days" are the
    md5-stable halves of the documents table, so the expected drift is
    near zero and a real shift (new source, new language mix) shows up
    as rows of large l1_ppm.

    Integer-exact: cell masses convert to ppm by integer division
    before differencing, so both engines agree bit-for-bit (the grids
    themselves are deterministic md5 state). Output: one row per hash
    row (hash_row, mass_a, mass_b, l1_ppm)."""
    from bamboo_spark.operators import sketch

    d = load(spark, sf_dir, "documents")
    half = text.stable_sample_pct("doc_id") % 2
    toks = d.withColumn("_h", half).select(
        "_h", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    ga = sketch.cms_build(toks.where(F.col("_h") == 0), "token", depth=4, width=2048)
    gb = sketch.cms_build(toks.where(F.col("_h") == 1), "token", depth=4, width=2048)
    j = ga.withColumnRenamed("n", "na").join(
        gb.withColumnRenamed("n", "nb"), ["hash_row", "bucket"], "full"
    ).select(
        "hash_row",
        F.coalesce("na", F.lit(0)).alias("na"),
        F.coalesce("nb", F.lit(0)).alias("nb"),
    )
    tot = j.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "hash_row",
            "na",
            "nb",
            F.expr(
                "abs(cast(na as decimal(38,0)) * 1000000 div ta"
                " - cast(nb as decimal(38,0)) * 1000000 div tb)"
            ).cast("bigint").alias("cell_l1"),
        )
        .groupBy("hash_row")
        .agg(
            F.sum("na").cast("bigint").alias("mass_a"),
            F.sum("nb").cast("bigint").alias("mass_b"),
            F.sum("cell_l1").cast("bigint").alias("l1_ppm"),
        )
        .orderBy("hash_row")
    )


def _token_drift_cms_duck() -> str:
    from bamboo_spark.operators import sketch

    b = sketch.bucket_duck("o.it", "r", 2048)
    half = text.stable_sample_pct_duck("doc_id")
    return """
with occ as (
  select ({half}) % 2 _h, unnest(string_split(text, ' ')) it
  from documents
),
o2 as (select _h, it from occ where it <> ''),
ga as (
  select r hash_row, {b} bucket, count(*)::BIGINT na
  from (select it from o2 where _h = 0) o, (select unnest(range(0, 4)) r)
  group by 1, 2
),
gb as (
  select r hash_row, {b} bucket, count(*)::BIGINT nb
  from (select it from o2 where _h = 1) o, (select unnest(range(0, 4)) r)
  group by 1, 2
),
j as (
  select coalesce(ga.hash_row, gb.hash_row) hash_row,
         coalesce(ga.bucket, gb.bucket) bucket,
         coalesce(na, 0) na, coalesce(nb, 0) nb
  from ga full join gb using (hash_row, bucket)
),
tot as (select sum(na) ta, sum(nb) tb from j)
select hash_row, sum(na)::BIGINT mass_a, sum(nb)::BIGINT mass_b,
       sum(abs(na::HUGEINT * 1000000 // ta
               - nb::HUGEINT * 1000000 // tb))::BIGINT l1_ppm
from j cross join tot
group by hash_row order by hash_row
""".format(half=half, b=b)


def q_type_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user monitoring from GROUPED HLL
    registers — the keyed-dimension version of `distinct_hll_monitor`:
    one register grid per event type (≤ 2^p rows each, mergeable per
    type with tomorrow's batch), estimated side by side with the exact
    distinct. Output: (event_type, n_exact, hll_est, rel_err).

    Scale: one map-combined (type, idx) aggregate; the per-type
    estimate is a |types|-row reduce; exact side is the monitor's
    ground truth (drop it at corpus scale and trust the registers)."""
    from bamboo_spark.operators import sketch

    e = load(spark, sf_dir, "events").select("event_type", "user_id")
    regs = sketch.hll_build_grouped(e, "event_type", "user_id", p=12)
    est = sketch.hll_estimate_grouped(regs, "event_type", p=12)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_est",
            F.round(
                F.abs(F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


def _type_distinct_hll_duck() -> str:
    from bamboo_spark.operators import sketch

    tail = sketch._HLL_BITS - 12
    h = "(('0x' || substr(md5('hll:' || it::VARCHAR), 1, 15))::BIGINT)"
    idx = "(%s // %d)::INT" % (h, 1 << tail)
    w = "(%s %% %d)" % (h, 1 << tail)
    rho = (
        "case when %s = 0 then %d else %d - length(bin(%s)) end"
        % (w, tail + 1, tail + 1, w)
    )
    m = 1 << 12
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = (
        "({a}::DOUBLE * {m} * {m}) / (({m} - _np) + coalesce(_sp, 0::DOUBLE))"
        .format(a=repr(alpha), m=m)
    )
    est = (
        "case when ({raw}) <= 2.5 * {m} and {m} - _np > 0"
        " then {m} * ln({m}::DOUBLE / ({m} - _np))"
        " else ({raw}) end".format(raw=raw, m=m)
    )
    return """
with occ as (
  select event_type, user_id it from events where user_id is not null
),
regs as (
  select event_type, {idx} idx, max({rho})::INT r
  from occ group by 1, 2
),
est as (
  select event_type, round({est}, 4)::DOUBLE hll_est from (
    select event_type, count(*) _np, sum(power(2::DOUBLE, -r)) _sp
    from regs group by event_type
  )
),
ex as (
  select event_type, count(distinct user_id)::BIGINT n_exact
  from events group by event_type
)
select ex.event_type, ex.n_exact, est.hll_est,
       round(abs(est.hll_est - ex.n_exact) / ex.n_exact, 4) rel_err
from ex join est using (event_type)
order by event_type
""".format(idx=idx, rho=rho, est=est)


def q_join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from sketches alone — the classic
    CMS inner-product estimator (Cormode & Muthukrishnan 2005 §4.2):
    |A ⋈_k B| = Σ_k a_k·b_k, and the per-row inner product of A's and
    B's count-min grids OVERestimates it, with min over rows tightest.
    The admission-control question ("will this join explode?") answered
    from two depth×width grids without touching either table again —
    exactly what a planner wants before committing a shuffle.

    Output: one row — exact join size, the CMS estimate, and the
    integer overcount. Deterministic grids → the oracle replays the
    estimate bit-for-bit; the invariant est >= exact is structural.

    Scale: each grid is one map-combined hash-aggregate; the estimate
    joins two ≤ d·w-row grids. The exact side is the ground truth the
    monitor drops at scale."""
    from bamboo_spark.operators import sketch

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    ga = sketch.cms_build(o, "k", depth=4, width=8192)
    gb = sketch.cms_build(l, "k", depth=4, width=8192)
    ip = (
        ga.withColumnRenamed("n", "na")
        .join(gb.withColumnRenamed("n", "nb"), ["hash_row", "bucket"])
        .groupBy("hash_row")
        .agg(
            F.sum(
                F.col("na").cast("decimal(38,0)") * F.col("nb")
            ).alias("dot")
        )
        .agg(F.min("dot").cast("bigint").alias("cms_join_size"))
    )
    exact = o.join(l, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_join_size")
    )
    return exact.crossJoin(ip).select(
        "exact_join_size",
        "cms_join_size",
        (F.col("cms_join_size") - F.col("exact_join_size"))
        .cast("bigint")
        .alias("overcount"),
    )


def _join_size_cms_duck() -> str:
    from bamboo_spark.operators import sketch

    ba = sketch.bucket_duck("o.it", "r", 8192)
    return """
with ka as (select o_orderkey::VARCHAR it from orders),
kb as (select l_orderkey::VARCHAR it from lineitem),
ga as (
  select r hash_row, {ba} bucket, count(*)::BIGINT na
  from ka o, (select unnest(range(0, 4)) r) group by 1, 2
),
gb as (
  select r hash_row, {ba} bucket, count(*)::BIGINT nb
  from kb o, (select unnest(range(0, 4)) r) group by 1, 2
),
ip as (
  select min(dot)::BIGINT cms_join_size from (
    select ga.hash_row, sum(na::HUGEINT * nb) dot
    from ga join gb using (hash_row, bucket)
    group by ga.hash_row
  )
),
ex as (
  select count(*)::BIGINT exact_join_size
  from orders o join lineitem l on o.o_orderkey = l.l_orderkey
)
select ex.exact_join_size, ip.cms_join_size,
       (ip.cms_join_size - ex.exact_join_size)::BIGINT overcount
from ex cross join ip
""".format(ba=ba)


def q_sampled_quantiles(
    spark: SparkSession, sf_dir: str, k: int = 1024
) -> DataFrame:
    """Quantiles from a MERGEABLE deterministic sample — the bottom-k
    hash-rank row sample (``sketch.hash_sample``): the k order totals
    whose md5(id) rank is smallest are a uniform sample that is a pure
    function of the id set, so (a) the DuckDB oracle replays the sample
    AND the estimates bit-for-bit, (b) per-shard/per-day samples merge
    by union+re-trim into the corpus sample without rescanning — the
    standing-state percentile monitor the exact ``q_price_quantiles``
    can't be at continuous-ingest scale.

    Estimates are nearest-rank within the sorted sample (index
    ceil(p·m/100), exact integer arithmetic) — an actual observed
    value, never an interpolation, so no float enters until nothing.

    Scale: bottom-k plans TakeOrderedAndProject (per-partition heap, k
    rows to the driver merge); the sort+index step runs over ONE k-row
    array. No global sort of the data anywhere."""
    from bamboo_spark.operators import sketch

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v"),
    )
    smp = sketch.hash_sample(o, "id", k=k)
    arr = smp.agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("m"),
    )
    ps = F.array(*[F.lit(p) for p in (25, 50, 75, 90, 99)])
    return (
        arr.select(F.explode(ps).alias("p"), "vs", "m")
        .select(
            F.col("p").cast("int").alias("p"),
            F.col("m").cast("bigint").alias("n_sample"),
            F.expr("vs[cast((p * m + 99) div 100 as int) - 1]")
            .cast("bigint")
            .alias("est_cents"),
        )
        .orderBy("p")
    )


def _sampled_quantiles_duck(k: int = 1024) -> str:
    from bamboo_spark.operators import sketch

    smp = sketch.hash_sample_duck("select id, v from o", "id", k=k).strip()
    return """
with o as (
  select o_orderkey id, round(o_totalprice * 100, 0)::BIGINT v from orders
),
s as ({smp}),
a as (select list_sort(list(v)) vs, count(*) m from s),
ps as (select unnest([25, 50, 75, 90, 99]) pq)
select pq::INT p, a.m::BIGINT n_sample,
       a.vs[((pq * a.m + 99) // 100)]::BIGINT est_cents
from ps cross join a order by p
""".format(smp=smp)


def q_grouped_sampled_quantiles(
    spark: SparkSession, sf_dir: str, k: int = 256
) -> DataFrame:
    """Per-language token-length quantiles from PER-GROUP bottom-k
    hash-rank samples — the stratified twin of ``sampled_quantiles``:
    each language keeps the k docs with the smallest md5(doc_id) rank
    (a deterministic uniform sample of that stratum), and p50/p90/p99
    token counts are nearest-rank within the sorted sample. The
    "is zh's length distribution drifting against en's" monitor at a
    per-stratum cost that is fixed regardless of corpus size.

    Scale shape: the per-group bottom-k is ``ranked_head``'s partial
    top-k (WindowGroupLimit pair straddling the exchange — a hot
    language ships <= k rows per map partition, never its row count);
    the sort+index runs over one k-element array per language. Sample
    membership is a pure function of the id set, so per-shard samples
    merge by union + re-rank and the oracle replays everything."""
    from bamboo_spark.operators.text import md5_int60_sql

    d = load(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: t != F.lit(""))
        )
        .cast("long")
        .alias("v"),
        F.expr(
            md5_int60_sql("concat('smp:', cast(doc_id as string))")
        ).alias("_rk"),
    )
    smp = scale.ranked_head(
        d, "lang", [F.col("_rk").asc(), F.col("doc_id").asc()], cap=k
    )
    arr = smp.groupBy("lang").agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).alias("m"),
    )
    ps = F.array(F.lit(50), F.lit(90), F.lit(99))
    return (
        arr.select("lang", F.explode(ps).alias("p"), "vs", "m")
        .select(
            "lang",
            F.col("p").cast("int").alias("p"),
            F.col("m").cast("bigint").alias("n_sample"),
            F.expr("vs[cast((p * m + 99) div 100 as int) - 1]")
            .cast("bigint")
            .alias("est_tokens"),
        )
        .orderBy("lang", "p")
    )


def _grouped_sampled_quantiles_duck(k: int = 256) -> str:
    from bamboo_spark.operators.text import md5_int60_duck

    rk = md5_int60_duck("'smp:' || doc_id::VARCHAR")
    return """
with d as (
  select lang, doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT v,
         {rk} _rk
  from documents
),
smp as (
  select lang, v from (
    select lang, v,
           row_number() over (partition by lang order by _rk, doc_id) rn
    from d
  ) where rn <= {k}
),
a as (select lang, list_sort(list(v)) vs, count(*) m from smp group by lang),
ps as (select unnest([50, 90, 99]) pq)
select lang, pq::INT p, a.m::BIGINT n_sample,
       a.vs[((pq * a.m + 99) // 100)]::BIGINT est_tokens
from ps cross join a order by lang, p
""".format(rk=rk, k=k)
