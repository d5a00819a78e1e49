"""Embedding/ANN queries: brute-force and IVF/PQ top-k, quantization, PCA/covariance/drift, centroids, contrastive negatives.

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


_QUANTIZER_CACHE: Dict[str, "object"] = {}


# Lloyd iterations of the shared COARSE quantizer — every IVF/IVF-PQ
# registry query and every oracle replay must read this one constant
# (a retune that touches only one side silently desyncs bucket
# assignments between engine and oracle)
COARSE_ITERS = 2


def ivf_quantizer(spark: SparkSession, sf_dir: str):
    """The shared IVF coarse quantizer for the ANN registry queries
    (default geometry: √n centroids, 2 Lloyd iterations), trained ONCE
    per embeddings table and memoized — the in-session analogue of the
    production build-once-probe-many shape. ``kmeans_train`` is
    fully deterministic (hash-ranked init, integer partial sums), so
    reuse is result-invisible: every consumer gets bit-identical
    centroids to a fresh retrain, and the DuckDB oracle's Lloyd replay
    still matches."""
    key = sf_dir.rstrip("/")
    if key not in _QUANTIZER_CACHE:
        e = load(spark, sf_dir, "embeddings")
        _QUANTIZER_CACHE[key] = similarity.kmeans_train(
            e, iterations=COARSE_ITERS
        )
    return _QUANTIZER_CACHE[key]


_PQ_CACHE: Dict[str, "object"] = {}


# ONE source of truth for the registry's PQ geometry: the cache, both
# consumers, and the oracle registrations all read these — retuning in
# one place can't silently desync cached codebooks from the oracle's
# replayed training
PQ_M, PQ_CODES, PQ_ITERS = 8, 16, 2


def pq_codebooks(spark: SparkSession, sf_dir: str):
    """Shared PQ codebooks (PQ_M subspaces × PQ_CODES codes, PQ_ITERS
    Lloyd iterations) for the registry, trained once per embeddings
    table and memoized — same build-once-probe-many reuse discipline as
    ``ivf_quantizer``; training is deterministic so reuse is
    result-invisible."""
    key = "%s@%dx%dx%d" % (sf_dir.rstrip("/"), PQ_M, PQ_CODES, PQ_ITERS)
    if key not in _PQ_CACHE:
        e = load(spark, sf_dir, "embeddings")
        _PQ_CACHE[key] = similarity.pq_train(
            e, m=PQ_M, n_codes=PQ_CODES, iterations=PQ_ITERS
        )
    return _PQ_CACHE[key]


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed kNN: ADC scoring over m-byte codes (32× smaller
    scoring working set than the raw vectors) + exact re-rank of the
    top candidates. The memory-scale ANN path for corpora whose
    embeddings don't fit scoring-resident."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.topk_neighbors_pq(
        e, query_ids_below=10, k=5, rerank=30,
        codebooks=pq_codebooks(spark, sf_dir),
    )


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ kNN: coarse buckets restrict the search, PQ codes shrink
    the per-bucket scoring working set 32×, exact re-rank repairs the
    head — the two index tiers composed, both from the shared memoized
    trained structures."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.topk_neighbors_ivfpq(
        e, query_ids_below=10, k=5, m=PQ_M, n_codes=PQ_CODES,
        iterations=PQ_ITERS, coarse_iterations=COARSE_ITERS,
        n_probe=2, rerank=30,
        centroids=ivf_quantizer(spark, sf_dir),
        codebooks=pq_codebooks(spark, sf_dir),
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table itself (exploded to (vec_id, sub, code) for
    the gate): the n·m-byte compressed representation every ADC
    consumer scores against — encode once, store bucketed, probe
    forever. One Arrow-batched kernel; nothing data-sized collected."""
    e = load(spark, sf_dir, "embeddings")
    codes = similarity.pq_encode(e, pq_codebooks(spark, sf_dir))
    return codes.selectExpr(
        "vec_id", "posexplode(codes) as (sub, code)"
    ).selectExpr(
        "vec_id", "cast(sub as bigint) as sub", "cast(code as bigint) as code"
    )


def q_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed near-dup pairs: seeded plane literals in
    codegen, bucket-equality join, exact cosine verify. The oracle
    interpolates the same plane literals, so the (recall<1) candidate
    set itself is deterministic and value-checked, not just benched."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.ann_pairs(e, threshold=0.4, dim=64, n_planes=12)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return similarity.topk_neighbors(e, query_ids_below=10, k=5)


def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with n_probe=2: each vector probes its two nearest
    centroids, recovering the boundary-split pairs single-probe misses
    — the standard recall/compute dial, at ~2× bucket volume."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.ivf_pairs(
        e, threshold=0.4, n_probe=2, centroids=ivf_quantizer(spark, sf_dir)
    )


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids: posexplode the vectors and average
    per (label, position) — one map-side-combinable shuffle regardless
    of dimensionality, no UDF. The output centroid table is what a
    nearest-class-mean classifier or an IVF trainer consumes."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("pos").cast("bigint").alias("pos"),
            "centroid_val",
            "n_vectors",
        )
    )


Q_LABEL_CENTROIDS_SQL = """
with ex as (
  select label, generate_subscripts(embedding, 1) - 1 pos,
         unnest(embedding) val
  from embeddings
)
select label::BIGINT as label, pos::BIGINT as pos,
       round(avg(val::DOUBLE), 6) centroid_val,
       count(*) n_vectors
from ex group by 1, 2 order by label, pos
"""


def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection 64 → 16 dims as codegen
    literals: the cheap pre-ANN compression (project, bucket small,
    verify in the original space). Scan-speed; no UDF, no shuffle."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.random_projection(e, dim=64, out_dim=16)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(e)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained IVF (distributed spherical k-means, √n centroids, 2
    Lloyd iterations; decimal-exact means keep the oracle replay
    bit-identical) + single-probe assignment + bucket-local verify."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.ivf_pairs(
        e, threshold=0.4, centroids=ivf_quantizer(spark, sf_dir)
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-accelerated kNN: queries probe their 2 nearest trained
    centroids and score only those buckets - the top-k shape that
    survives a corpus where brute force (|Q| x n GEMM) no longer does.
    Recall < 1 by construction; the oracle replays the same buckets."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.topk_neighbors_ivf(
        e, query_ids_below=10, k=5, n_probe=2,
        centroids=ivf_quantizer(spark, sf_dir),
    )


def q_ann_topk_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with the bucket GEMM on int8-quantized vectors - the
    8x-smaller-working-set variant of ann_topk_ivf (scales cancel in
    the cosine; integer dots keep the oracle bit-exact)."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.topk_neighbors_ivf(
        e, query_ids_below=10, k=5, n_probe=2, int8_verify=True,
        centroids=ivf_quantizer(spark, sf_dir),
    )


def q_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the bucket-local verify scored on symmetric int8
    quantized vectors (per-vector dequant scale cancels in the cosine):
    integer dot products are exact, so the oracle replays bit-for-bit,
    and the verify working set is 8x smaller than float64 — the memory/
    bandwidth shape you want when buckets hold millions of vectors."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.ivf_pairs(
        e, threshold=0.4, int8_verify=True, centroids=ivf_quantizer(spark, sf_dir)
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA monitor: per-vector L2 norm, corpus z-score, and an
    outlier flag (|z| > 2) — the pre-flight check before cosine-based
    dedup/ANN (a batch of near-zero or exploding norms usually means an
    upstream encoder bug, and it silently poisons every normalized
    dot product downstream).

    The norm is a JVM-side array fold (no UDF); the corpus moments ride
    ONE map-combined aggregate over integer micro-units (exact,
    order-independent — so the z-scores are bit-identical in the
    oracle) and come back as a 1-row broadcast. Nothing is ever
    single-partition."""
    e = load(spark, sf_dir, "embeddings")
    nrm = e.select(
        "vec_id",
        F.round(similarity._norm_expr("embedding"), 6).alias("nrm"),
    ).withColumn("m", F.round(F.col("nrm") * 1e6, 0).cast("long"))
    # sum of squares in DECIMAL(38,0): a long sum of m*m (~1e12 per
    # unit-norm row) wraps negative past ~9M rows and would silently
    # zero every z-score at exactly the scale the monitor exists for;
    # per-element m*m stays in long range for norms < ~3000
    tot = nrm.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("m").cast("double").alias("_s"),
        F.sum((F.col("m") * F.col("m")).cast("decimal(38,0)"))
        .cast("double")
        .alias("_ss"),
    )
    mean = (F.col("_s") / 1e6) / F.col("_n")
    # exact integer sums make the variance identical in both engines;
    # clamp at 0 (tiny negative from float subtraction) and define
    # z = 0 on a degenerate (all-equal-norm) corpus instead of erroring
    std = F.sqrt(
        F.greatest((F.col("_ss") / 1e12) / F.col("_n") - mean * mean, F.lit(0.0))
    )
    z = F.when(std <= 0.0, F.lit(0.0)).otherwise(
        F.round((F.col("nrm") - mean) / std, 6)
    )
    return nrm.crossJoin(F.broadcast(tot)).select(
        "vec_id",
        "nrm",
        z.alias("z"),
        (F.abs(z) > 2.0).cast("int").alias("is_outlier"),
    )


Q_EMBEDDING_NORMS_SQL = """
with e as (
  select vec_id,
         round(sqrt(list_dot_product([x::DOUBLE for x in embedding],
                                     [x::DOUBLE for x in embedding])), 6) nrm
  from embeddings
),
m as (select vec_id, nrm, round(nrm * 1e6, 0)::BIGINT mm from e),
tot as (
  select count(*)::DOUBLE n, sum(mm) s, sum(mm * mm) ss from m
),
z as (
  select vec_id, nrm,
         case when sqrt(greatest((ss / 1e12) / n
                                 - ((s / 1e6) / n) * ((s / 1e6) / n), 0.0)) <= 0
              then 0.0
              else round((nrm - (s / 1e6) / n)
                         / sqrt(greatest((ss / 1e12) / n
                                - ((s / 1e6) / n) * ((s / 1e6) / n), 0.0)), 6)
         end z
  from m cross join tot
)
select vec_id, nrm, z, (abs(z) > 2.0)::INT is_outlier
from z order by vec_id
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per-DIMENSION Welch
    z-score between two corpus snapshots (simulated: even vs odd
    vec_ids) — the encoder-regression alarm. A re-trained or silently
    re-versioned encoder shifts per-dimension means long before any
    downstream metric moves; this catches it at ingest.

    Per-dimension moments ride ONE map-combined aggregate over integer
    micro-units (exact, order-independent — sums of m and m² in
    decimal(38,0) so 100 TB of rows can't wrap a long), and the two
    snapshot profiles join on the tiny dim domain. Nothing data-sized
    shuffles beyond the (snapshot, dim)-keyed partials."""
    e = load(spark, sf_dir, "embeddings")
    exp = e.select(
        (F.col("vec_id") % 2).cast("int").alias("snap"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "snap",
        "dim",
        F.round(F.col("v").cast("double") * 1e6, 0).cast("long").alias("m"),
    )
    prof = exp.groupBy("snap", "dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("m").cast("decimal(38,0)").cast("double").alias("s"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m"))
        .cast("double")
        .alias("ss"),
    )
    a = prof.where(F.col("snap") == 0).select(
        "dim",
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = prof.where(F.col("snap") == 1).select(
        "dim",
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    mean_a = F.col("sa") / 1e6 / F.col("na")
    mean_b = F.col("sb") / 1e6 / F.col("nb")
    var_a = F.greatest(
        F.col("ssa") / 1e12 / F.col("na") - mean_a * mean_a, F.lit(0.0)
    )
    var_b = F.greatest(
        F.col("ssb") / 1e12 / F.col("nb") - mean_b * mean_b, F.lit(0.0)
    )
    se = F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    z = F.when(se <= 0.0, F.lit(0.0)).otherwise(
        F.round((mean_b - mean_a) / se, 6)
    )
    return (
        a.join(b, "dim")
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(mean_a, 6).alias("mean_a"),
            F.round(mean_b, 6).alias("mean_b"),
            F.round(mean_b - mean_a, 6).alias("shift"),
            z.alias("z"),
            (F.abs(z) > 3.0).cast("int").alias("is_drifted"),
        )
        .orderBy("dim")
    )


Q_EMBEDDING_DRIFT_SQL = """
with exp as (
  select (vec_id % 2)::INT snap, (i - 1) dim,
         round(embedding[i]::DOUBLE * 1e6, 0)::BIGINT m
  from (
    select vec_id, embedding,
           unnest(generate_series(1, len(embedding))) i
    from embeddings
  )
),
prof as (
  select snap, dim, count(*)::DOUBLE n, sum(m)::DOUBLE s,
         sum(m::HUGEINT * m)::DOUBLE ss
  from exp group by snap, dim
),
j as (
  select a.dim,
         a.s / 1e6 / a.n mean_a, b.s / 1e6 / b.n mean_b,
         greatest(a.ss / 1e12 / a.n - (a.s / 1e6 / a.n) * (a.s / 1e6 / a.n), 0.0) var_a,
         greatest(b.ss / 1e12 / b.n - (b.s / 1e6 / b.n) * (b.s / 1e6 / b.n), 0.0) var_b,
         a.n na, b.n nb
  from (select * from prof where snap = 0) a
  join (select * from prof where snap = 1) b using (dim)
),
zz as (
  select dim, mean_a, mean_b,
         case when sqrt(var_a / na + var_b / nb) <= 0.0 then 0.0
              else round((mean_b - mean_a) / sqrt(var_a / na + var_b / nb), 6)
         end z
  from j
)
select dim::INT dim, round(mean_a, 6) mean_a, round(mean_b, 6) mean_b,
       round(mean_b - mean_a, 6) shift, z,
       (abs(z) > 3.0)::INT is_drifted
from zz order by dim
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality monitor: per-query recall@5 of the IVF top-k against
    the exact brute-force top-k — the eval harness an index deployment
    runs before trusting an approximate path (and after every
    re-train). Composes two existing operators over the SAME shared
    quantizer; the oracle replays both sides and the join, so recall
    itself is value-gated, not just eyeballed.

    Cost is the two top-k runs (brute force bounded to the small query
    slice) + a k-row-per-query join — the monitor is as scalable as its
    inputs."""
    e = load(spark, sf_dir, "embeddings")
    exact = similarity.topk_neighbors(e, query_ids_below=10, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.topk_neighbors_ivf(
        e,
        query_ids_below=10,
        k=5,
        n_probe=2,
        centroids=ivf_quantizer(spark, sf_dir),
    ).select("query_id", F.col("neighbor_id").alias("_hit"))
    return (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.neighbor_id == approx._hit),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum(F.col("_hit").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("hits"),
            F.round(
                F.sum(F.col("_hit").isNotNull().cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def _ann_recall_duck() -> str:
    exact = similarity.topk_neighbors_duck(query_ids_below=10, k=5).strip()
    approx = similarity.topk_neighbors_ivf_duck(
        query_ids_below=10, k=5, n_centroids=None, iterations=COARSE_ITERS,
        n_probe=2,
    ).strip()
    return """
with exact as materialized (
{exact}
),
approx as materialized (
{approx}
)
select e.query_id, count(*)::BIGINT k,
       sum((a.neighbor_id is not null)::BIGINT)::BIGINT hits,
       round(sum((a.neighbor_id is not null)::BIGINT)::DOUBLE
             / count(*), 6) recall
from exact e
left join approx a
  on a.query_id = e.query_id and a.neighbor_id = e.neighbor_id
group by e.query_id order by e.query_id
""".format(exact=exact, approx=approx)


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding covariance matrix (upper triangle) — see
    :func:`bamboo_spark.operators.similarity.embedding_covariance`.
    One integer GEMM per Arrow batch, O(partitions·dim²) shuffle,
    decimal-exact reduction, closed-form oracle."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.embedding_covariance(e)


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: exact covariance reduce (integer GEMM partials)
    → driver-side eig of the dim×dim matrix (metadata-sized, the same
    driver hop as a centroid pull) → scan-speed projection with the
    components as codegen literals. Top-4 components over the
    embeddings table.

    No SQL oracle can replay eig, so this entry is rows-only in the
    driver gate (like q_approx_sketches); pytest gates it against
    numpy PCA on the collected table instead (orthonormality, explained
    variance ordering, projection equality —
    tests/test_similarity.py)."""
    e = load(spark, sf_dir, "embeddings")
    comps = similarity.pca_train(e, n_components=4)
    return similarity.pca_project(e, comps).orderBy("vec_id", "pc")


def q_contrastive_negatives(
    spark: SparkSession, sf_dir: str, n_neg: int = 3, buckets: int = 64
) -> DataFrame:
    """Deterministic negative mining for contrastive training: every
    anchor doc (a 5% md5-stable slice) gets ``n_neg`` pseudo-random
    negatives drawn by CONSISTENT HASHING — slot k of an anchor maps to
    a target point in hash space, and the negative is the candidate
    whose own hash is nearest to that point within the target's hash
    bucket. Exact-duplicate texts are excluded (digest inequality), so
    a copy of the anchor can never be its own negative.

    Hash-stable end to end: the same (anchor, k) picks the same
    negative on every run, cluster, and engine — training pairs are
    reproducible and diffable, the property rand() sampling destroys.
    Composes with the dedup layer: anti-join the pair list against
    near-dup components to harden "negative" into "not even similar".

    Scale: candidates pre-bucket by hash (one scan); each (anchor, k)
    equi-joins ONE bucket (~N/buckets candidates — size ``buckets`` ~
    N/1000 at corpus scale), and the pick is a min-struct argmax, no
    window. Output: (doc_id, k, neg_id)."""
    h = (
        "cast(conv(substr(md5(concat('neg:', cast(%s as string))), 1, 15),"
        " 16, 10) as bigint)"
    )
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("_dg"),
        F.expr(h % "doc_id").alias("_hc"),
    )
    cand = d.select(
        F.col("doc_id").alias("neg_id"),
        F.col("_dg").alias("_cdg"),
        "_hc",
        F.expr("pmod(_hc, %d)" % buckets).alias("_cb"),
    )
    anchors = (
        d.where(text.stable_sample_pct("doc_id") < 5)
        .select("doc_id", "_dg")
        .crossJoin(
            spark.range(1, n_neg + 1).select(F.col("id").cast("int").alias("k"))
        )
        .withColumn(
            "_tp",
            F.expr(
                h % "concat(doc_id, ':', k)"
            ),
        )
        .withColumn("_tb", F.expr("pmod(_tp, %d)" % buckets))
    )
    scored = (
        anchors.join(cand, anchors["_tb"] == cand["_cb"])
        .where(
            (F.col("neg_id") != F.col("doc_id"))
            & (F.col("_cdg") != F.col("_dg"))
        )
        .select(
            "doc_id",
            "k",
            F.struct(
                F.abs(F.col("_hc") - F.col("_tp")).alias("dist"),
                F.col("neg_id").alias("nid"),
            ).alias("z"),
        )
    )
    return (
        scored.groupBy("doc_id", "k")
        .agg(F.min("z").alias("b"))
        .select("doc_id", "k", F.col("b.nid").alias("neg_id"))
        .orderBy("doc_id", "k")
    )


Q_CONTRASTIVE_NEG_SQL = """
with d as (
  select doc_id, md5(text) _dg,
         ('0x' || substr(md5('neg:' || doc_id::VARCHAR), 1, 15))::BIGINT _hc
  from documents
),
cand as (
  select doc_id neg_id, _dg _cdg, _hc, _hc % 64 _cb from d
),
anch as (
  select d.doc_id, d._dg, k,
         ('0x' || substr(md5('neg:' || d.doc_id::VARCHAR || ':' || k),
          1, 15))::BIGINT _tp
  from d cross join (select unnest(range(1, 4)) k)
  where (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100) < 5
),
scored as (
  select a.doc_id, a.k, c.neg_id, abs(c._hc - a._tp) dist
  from anch a join cand c on c._cb = a._tp % 64
  where c.neg_id <> a.doc_id and c._cdg <> a._dg
)
select doc_id, k::INT k, neg_id from (
  select doc_id, k, neg_id,
         row_number() over (partition by doc_id, k
                            order by dist, neg_id) rn
  from scored
) where rn = 1
order by doc_id, k
"""


def q_ivf_margin_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assignment-confidence profile — the index-quality monitor
    ANN deployments watch after every retrain: per vector, the margin
    between its best and second-best centroid cosine (round-6), rolled
    into 0.05-wide bands. A mass of near-zero margins means vectors sit
    on bucket boundaries — exactly the population single-probe search
    misses — so this table is the evidence for raising ``n_probe`` (or
    re-training with more centroids); a wide-margin profile says the
    quantizer actually separates the space.

    Determinism: sims are round-6 (the engine's assignment rule), the
    margin is a difference of identical doubles, and bands floor to
    integers — both engines land on identical longs.

    Scale: one broadcast-centroid GEMM pass (the ``ivf_assign`` kernel
    shape) emitting (top1, top2) per vector; the rollup is a ≤21-row
    grid aggregate. Nothing data-sized shuffles."""
    import pandas as pd
    from pyspark.sql import types as T

    e = load(spark, sf_dir, "embeddings")
    cm = ivf_quantizer(spark, sf_dir)
    import numpy as np

    cmn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-30)
    bc = spark.sparkContext.broadcast(cmn)
    out_schema = T.StructType(
        [T.StructField("margin_ppm", T.LongType(), False)]
    )

    def gen(batches):
        b_cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-30
            )
            sims = similarity._round6_half_away(mat @ b_cm.T)
            part = np.sort(sims, axis=1)
            margin = part[:, -1] - part[:, -2]
            yield pd.DataFrame(
                {"margin_ppm": np.floor(margin * 1e6 + 0.5).astype(np.int64)}
            )

    margins = e.select("embedding").mapInPandas(gen, out_schema)
    return (
        margins.select(
            F.least(
                F.expr("margin_ppm div 50000").cast("int"), F.lit(20)
            ).alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("band")
    )


def _ivf_margin_profile_duck() -> str:
    return (
        similarity._kmeans_duck_ctes(None, COARSE_ITERS)
        + """,
scored as (
  select e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv) / (e.n * c.cn), 6) s
  from e cross join cf c
),
top2 as (
  select vec_id, s,
         row_number() over (partition by vec_id
                            order by s desc, cid asc) r
  from scored
),
m as (
  select a.vec_id,
         cast(round((a.s - b.s) * 1000000, 0) as bigint) margin_ppm
  from (select vec_id, s from top2 where r = 1) a
  join (select vec_id, s from top2 where r = 2) b using (vec_id)
)
select least(margin_ppm // 50000, 20)::INT band,
       count(*)::BIGINT n_vectors
from m group by band order by band
"""
    )
