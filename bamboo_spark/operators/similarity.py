"""Embedding similarity: exact cosine join / top-k, LSH-bucketed ANN.

The embedding column is ``array<float>``; all arithmetic casts to double
*before* multiplying and sums left-to-right in array order, which makes
the result bit-identical to the DuckDB oracle's ``list_dot_product`` on
``::DOUBLE[]`` lists (same order, same precision); a final round(6)
absorbs any platform ulp noise.

Scale paths:
* ``cosine_pairs_gemm`` / ``topk_neighbors``: exact. The pairwise join is
  O(n²) — right for modest candidate sets (post-LSH verify, dedup within
  a bucket) or a broadcast-able query side. For the all-pairs case at
  scale use ``hyperplane_buckets`` first.
* ``hyperplane_buckets``: random-hyperplane LSH — deterministic seeded
  planes broadcast to executors; bucket-local exact verify. Candidate
  recall is probabilistic (ANN), so it is benched, not oracle-gated.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, functions as F
from bamboo_spark._localdf import local_df as _local_df


def _norm_expr(col: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.col(col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _dot_expr(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("_norm", _norm_expr(vec))


def cosine_pairs_duck(threshold: float = 0.4) -> str:
    return """
with e as (
  select vec_id, [x::DOUBLE for x in embedding] v,
         sqrt(list_dot_product([x::DOUBLE for x in embedding],
                               [x::DOUBLE for x in embedding])) n
  from embeddings
)
select a.vec_id id_a, b.vec_id id_b,
       round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) cosine
from e a join e b on a.vec_id < b.vec_id
where round(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= {t}
""".format(t=threshold)


def _round6_half_away(x: "np.ndarray") -> "np.ndarray":
    """SQL ROUND(x, 6): half away from zero (both Spark and DuckDB)."""
    return np.where(x >= 0, np.floor(x * 1e6 + 0.5), np.ceil(x * 1e6 - 0.5)) / 1e6


def _quantize_rows(mat: "np.ndarray") -> "np.ndarray":
    """Symmetric per-row int8 quantization (quantize_embeddings' math:
    scale = max|x|/127, q = round-half-away(x/scale)) as int64 — the
    verify-side kernel twin, bit-replayable in SQL."""
    scale = np.maximum(np.abs(mat).max(axis=1, keepdims=True), 1e-30) / 127.0
    y = mat / scale
    return np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5)).astype(np.int64)


def cosine_pairs_bcast_gemm(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine with the *whole normalized matrix
    broadcast*: one mapInPandas pass, each Arrow batch runs a single
    BLAS matmul against the broadcast side, a pair is emitted exactly
    once by the partition owning its smaller id. Zero shuffle (the only
    exchange is the tiny result); the right plan whenever n·dim·8B fits
    executor memory (≈1M vectors at dim 64). Beyond that, use
    ``cosine_pairs_gemm``'s blocked path.
    """
    import pandas as pd
    from pyspark.sql import types as T

    rows = df.select(id_col, vec).collect()
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    mat = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def gen(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            a_mat /= np.linalg.norm(a_mat, axis=1, keepdims=True)
            sims = _round6_half_away(a_mat @ b_mat.T)
            ia, ib = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": a_ids[ia], "id_b": b_ids[ib], "cosine": sims[ia, ib]}
            )

    return df.select(id_col, vec).mapInPandas(gen, out_schema)


def cosine_pairs_gemm(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    strategy: str = "broadcast",
    n_blocks: int = 32,
) -> DataFrame:
    """Exact all-pairs cosine via GEMM — by contract O(n²); the right
    tool for modest n or as the bucket-local verify kernel. Two physical
    strategies, chosen by the CALLER (from catalog knowledge of n·dim —
    no count()/first() probe jobs):

    * ``strategy="broadcast"`` (default): whole normalized matrix
      broadcast, zero shuffle — right while n·dim·8B fits executor
      memory (≈1M vectors at dim 64);
    * ``strategy="blocked"``: rows bucketed into ``n_blocks`` blocks,
      every block-pair one applyInPandas group, one float64 matmul per
      group. Replication cost: each row ships to n_blocks groups; pick
      n_blocks ≈ n·dim·8B / (executor-memory budget).

    Identical output either way (round-half-away at 6 decimals in the
    kernel to match SQL ROUND). This is also the right *verify kernel*
    at 100 TB: ANN bucketing (``hyperplane_buckets``/IVF) bounds each
    bucket, and the bucket-local exact pass is this GEMM.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if strategy == "broadcast":
        return cosine_pairs_bcast_gemm(df, threshold, id_col, vec)
    if strategy != "blocked":
        raise ValueError("strategy must be 'broadcast' or 'blocked', got %r" % strategy)

    base = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec).alias("v")
    ).withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))

    # replicate each row into every block-pair it participates in:
    # as the "low" side for partners >= own block, "high" side otherwise
    pair_structs = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("bi"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bj"),
            )
            for j in range(n_blocks)
        ]
    )
    exploded = base.select(
        "id", "v", "blk", F.explode(F.array_distinct(pair_structs)).alias("p")
    ).select("id", "v", "blk", "p.bi", "p.bj")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        bi = int(pdf["bi"].iloc[0])
        bj = int(pdf["bj"].iloc[0])
        left = pdf[pdf["blk"] == bi]
        if not len(left) or not len(pdf[pdf["blk"] == bj]):
            return empty
        ids_l = left["id"].to_numpy()
        ml = np.array([np.asarray(x, dtype=np.float64) for x in left["v"]])
        ml /= np.linalg.norm(ml, axis=1, keepdims=True)
        if bi == bj:
            ids_r, mr = ids_l, ml
        else:
            right = pdf[pdf["blk"] == bj]
            ids_r = right["id"].to_numpy()
            mr = np.array([np.asarray(x, dtype=np.float64) for x in right["v"]])
            mr /= np.linalg.norm(mr, axis=1, keepdims=True)
        sims = ml @ mr.T
        # SQL ROUND is half-up; emitted cosines are >= threshold > 0
        sims = np.floor(sims * 1e6 + 0.5) / 1e6
        ia, ib = np.nonzero(sims >= threshold)
        if bi == bj:
            # same block: symmetric matrix — keep the upper triangle
            keep = ids_l[ia] < ids_r[ib]
            id_a, id_b = ids_l[ia][keep], ids_r[ib][keep]
            cos = sims[ia, ib][keep]
        else:
            # distinct blocks: every hit is one unordered pair; orient it
            id_a = np.minimum(ids_l[ia], ids_r[ib])
            id_b = np.maximum(ids_l[ia], ids_r[ib])
            cos = sims[ia, ib]
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cos})

    return exploded.groupBy("bi", "bj").applyInPandas(kernel, out_schema)


def topk_neighbors(
    df: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Brute-force top-k cosine neighbors for a small query set — the
    canonical distributed kNN shape: broadcast the query matrix, one
    BLAS matmul per Arrow batch, *per-partition partial top-k* (only
    n_partitions·|Q|·k rows survive the kernel), then a global window
    merge. The candidate side streams — no replication, no shuffle of
    the vectors themselves. Ties break on neighbor id, applied to the
    ROUNDed cosine in both the kernel and the merge, matching the
    oracle's rank-after-round.
    """
    import pandas as pd
    from pyspark.sql import Window, types as T

    q_rows = df.where(F.col(id_col) < query_ids_below).select(id_col, vec).collect()
    q_ids = np.fromiter((r[0] for r in q_rows), dtype=np.int64, count=len(q_rows))
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def gen(batches):
        qi, qm = bc.value
        for pdf in batches:
            if not len(pdf) or not len(qi):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = _round6_half_away(qm @ c_mat.T)  # |Q| × batch
            out_q, out_n, out_c = [], [], []
            for row, qid in enumerate(qi):
                s = sims[row]
                valid = c_ids != qid
                # partial top-k by (cosine desc, neighbor_id asc)
                order = np.lexsort((c_ids[valid], -s[valid]))[:k]
                out_q.append(np.full(len(order), qid))
                out_n.append(c_ids[valid][order])
                out_c.append(s[valid][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = df.select(id_col, vec).mapInPandas(gen, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def topk_neighbors_ivf(
    df: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    int8_verify: bool = False,
    centroids: Optional["np.ndarray"] = None,
) -> DataFrame:
    """IVF-accelerated top-k neighbors — the scale path brute-force
    ``topk_neighbors`` can't take: instead of scoring |Q|×n pairs, each
    query probes its ``n_probe`` nearest coarse centroids and scores
    ONLY those buckets (≈ n·n_probe/√n of the corpus per query).
    Corpus assignment and query probing both reuse ``ivf_assign``, so
    the bucket structure is the oracle-replayable one. Per-bucket
    kernels emit partial top-k per querying query; a |result|-sized
    window merge finishes. Recall < 1 by construction (the IVF
    tradeoff); emitted cosines are exact round-6.

    Scale: queries and centroids broadcast (both driver-sized by
    contract); the corpus shuffles ONCE on centroid id; each bucket
    kernel is a dense GEMM against the probing queries only. Nothing
    data-sized is collected. ``int8_verify`` scores buckets on the
    symmetric int8 quantization (scales cancel in the cosine; integer
    dots are exact, so the oracle stays bit-identical) — 8× smaller
    bucket working set, same as ``ivf_pairs``.
    """
    import pandas as pd
    from pyspark.sql import Window, types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )
    q_rows = (
        df.where(F.col(id_col) < query_ids_below).select(id_col, vec).collect()
    )
    if not q_rows:
        # empty query slice: 0-row result with the contract schema (a
        # bare np.array([]) is 1-D and would crash the axis=1 math)
        return _local_df(df.sparkSession, [], out_schema)
    if centroids is None:
        # pass a persisted quantizer to skip retraining (deterministic
        # training — identical output either way)
        centroids = kmeans_train(df, n_centroids, iterations, id_col, vec)
    assign = ivf_assign(df, centroids, id_col, vec, n_probe=1)
    probes = ivf_assign(
        df.where(F.col(id_col) < query_ids_below), centroids, id_col, vec,
        n_probe=n_probe,
    )
    q_ids = np.fromiter((r[0] for r in q_rows), dtype=np.int64, count=len(q_rows))
    q_raw = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    if int8_verify:
        q_mat = _quantize_rows(q_raw)
    else:
        q_mat = q_raw / np.linalg.norm(q_raw, axis=1, keepdims=True)
    # (cid -> row indices into q_mat); probe table is |Q|·n_probe rows
    probe_map: dict = {}
    for r in probes.collect():
        probe_map.setdefault(r["centroid"], []).append(
            int(np.nonzero(q_ids == r[id_col])[0][0])
        )
    bc = df.sparkSession.sparkContext.broadcast((q_ids, q_mat, probe_map))

    def kernel(key, pdf):
        qi, qm, pm = bc.value
        rows = pm.get(key[0], [])
        if not rows or not len(pdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        c_ids = pdf[id_col].to_numpy(dtype=np.int64)
        c_mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
        if int8_verify:
            cq = _quantize_rows(c_mat)
            qq = qm[rows]
            dots = (qq @ cq.T).astype(np.float64)
            qn = np.maximum(np.sqrt((qq * qq).sum(axis=1, keepdims=True)), 1e-30)
            cn = np.maximum(np.sqrt((cq * cq).sum(axis=1)), 1e-30)
            sims = _round6_half_away(dots / (qn * cn[None, :]))
        else:
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = _round6_half_away(qm[rows] @ c_mat.T)
        out_q, out_n, out_c = [], [], []
        for i, qrow in enumerate(rows):
            qid = qi[qrow]
            valid = c_ids != qid
            order = np.lexsort((c_ids[valid], -sims[i][valid]))[:k]
            out_q.append(np.full(len(order), qid))
            out_n.append(c_ids[valid][order])
            out_c.append(sims[i][valid][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q) if out_q else [],
                "neighbor_id": np.concatenate(out_n) if out_n else [],
                "cosine": np.concatenate(out_c) if out_c else [],
            }
        )

    assigned = df.select(id_col, vec).join(assign, id_col)
    scored = assigned.groupBy("centroid").applyInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def topk_neighbors_ivf_duck(
    query_ids_below: int = 10,
    k: int = 5,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    n_probe: int = 2,
    int8_verify: bool = False,
) -> str:
    """DuckDB oracle for ``topk_neighbors_ivf``: replays training,
    corpus assignment (r=1), query probing (r<=n_probe), then ranks
    only bucket-co-resident pairs (on int8-quantized vectors when
    ``int8_verify`` — exact integer dots over quantized norms)."""
    if int8_verify:
        scored = """,
q8 as materialized (
  select vec_id,
         [cast(round(x / s, 0) as double) for x in v] qv
  from (
    select vec_id, v,
           greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 s
    from e
  )
),
q8n as materialized (
  select vec_id, qv, greatest(sqrt(list_dot_product(qv, qv)), 1e-30) qn from q8
),
scored as (
  select p.query_id, a.vec_id neighbor_id,
         round(list_dot_product(qa.qv, qb.qv) / (qa.qn * qb.qn), 6) cosine
  from probes p
  join assign a on a.cid = p.cid and a.vec_id != p.query_id
  join q8n qa on qa.vec_id = p.query_id
  join q8n qb on qb.vec_id = a.vec_id
),"""
    else:
        scored = """,
scored as (
  select p.query_id, a.vec_id neighbor_id,
         round(list_dot_product(q.v, c.v) / (q.n * c.n), 6) cosine
  from probes p
  join assign a on a.cid = p.cid and a.vec_id != p.query_id
  join e q on q.vec_id = p.query_id
  join e c on c.vec_id = a.vec_id
),"""
    return (
        _kmeans_duck_ctes(n_centroids, iterations)
        + """,
scored_c as (
  select e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv) / (e.n * c.cn), 6) s
  from e cross join cf c
),
assign as (
  select vec_id, cid from (
    select *, row_number() over (partition by vec_id
                                 order by s desc, cid asc) r
    from scored_c
  ) where r = 1
),
probes as (
  select vec_id query_id, cid from (
    select *, row_number() over (partition by vec_id
                                 order by s desc, cid asc) r
    from scored_c where vec_id < {qb}
  ) where r <= {np}
)"""
        + scored
        + """
ranked as (
  select *, row_number() over (partition by query_id
                               order by cosine desc, neighbor_id asc) rank
  from scored
)
select query_id, rank::BIGINT rank, neighbor_id, cosine
from ranked where rank <= {k}
"""
    ).format(qb=query_ids_below, np=n_probe, k=k)


def topk_neighbors_duck(query_ids_below: int = 10, k: int = 5) -> str:
    return """
with e as (
  select vec_id, [x::DOUBLE for x in embedding] v,
         sqrt(list_dot_product([x::DOUBLE for x in embedding],
                               [x::DOUBLE for x in embedding])) n
  from embeddings
),
scored as (
  select q.vec_id query_id, c.vec_id neighbor_id,
         round(list_dot_product(q.v, c.v) / (q.n * c.n), 6) cosine
  from e q join e c on q.vec_id < {qb} and q.vec_id != c.vec_id
),
ranked as (
  select *, row_number() over (partition by query_id
                               order by cosine desc, neighbor_id asc) rank
  from scored
)
select query_id, rank::BIGINT rank, neighbor_id, cosine
from ranked where rank <= {k}
""".format(qb=query_ids_below, k=k)


def hyperplane_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (the ANN scale path).

    n_planes sign bits → one integer bucket; near-duplicate search then
    joins within buckets (optionally multi-probe across Hamming-1
    neighbors). Planes are seeded & generated on the driver, shipped as
    literals — no UDF, stays in codegen. The sign test rounds the dot
    at 6 decimals first so a cross-engine ulp on a near-zero projection
    can't flip a bucket bit (the oracle interpolates the same plane
    literals — see hyperplane_buckets_duck).
    """
    planes = _hyperplanes(dim, n_planes, seed)
    # ONE parsed expr string per plane set (the minhash-lane fix):
    # the nested-Column construction paid n_planes x dim py4j round
    # trips at every plan build. Literal doubles via repr + 'D' parse
    # to bit-identical values (Double.parseDouble is correctly
    # rounded), so bucket ids are unchanged.
    terms = " + ".join(
        "if(round(%s, 6) > 0, %dL, 0L)" % (_lit_dot_expr(vec, planes[i]), 1 << i)
        for i in range(n_planes)
    )
    return df.select(
        id_col, F.expr("cast(%s as bigint)" % terms).alias("bucket")
    )


def _lit_dot_expr(vec: str, coeffs) -> str:
    """Codegen dot product of array column ``vec`` with driver-side
    coefficients, as ONE SQL string parsed once in the JVM — O(1) py4j
    calls instead of one per coefficient. Python float repr is the
    shortest round-tripping decimal and Double.parseDouble is
    correctly rounded, so each ``<repr>D`` literal parses to the
    bit-identical double that ``F.lit(float(c))`` shipped."""
    cs = ",".join("%rD" % float(c) for c in coeffs)
    return (
        "aggregate(zip_with(%s, array(%s), (x, c) -> cast(x as double) * c),"
        " 0.0D, (acc, x) -> acc + x)" % (vec, cs)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> "np.ndarray":
    """Seeded random hyperplanes — shared by the Spark operator and the
    DuckDB oracle, which interpolates the same floats as literals."""
    return np.random.RandomState(seed).normal(size=(n_planes, dim))


def hyperplane_bucket_sql(dim: int, n_planes: int, seed: int, vec_expr: str) -> str:
    """DuckDB expression computing the same bucket id as
    hyperplane_buckets over ``vec_expr`` (a DOUBLE[] list). Python float
    repr round-trips, so the literals parse to bit-identical doubles."""
    terms = []
    for i in range(n_planes):
        coeffs = ", ".join(repr(float(c)) for c in _hyperplanes(dim, n_planes, seed)[i])
        terms.append(
            "(case when round(list_dot_product(%s, [%s]), 6) > 0 then %d else 0 end)"
            % (vec_expr, coeffs, 1 << i)
        )
    return "(" + " + ".join(terms) + ")"


def random_projection(
    df: DataFrame,
    dim: int,
    out_dim: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``dim`` → the
    ``out_dim`` that preserves pairwise distances within ~ε for the JL
    bound — the standard cheap pre-ANN compression (project, bucket in
    the small space, verify in the original). The seeded Gaussian
    matrix (scaled 1/√out_dim) ships as codegen literals — no UDF, no
    shuffle, scan-speed projection; the oracle interpolates the same
    floats (repr round-trips bit-exact). Output exploded to
    (id, out_pos, val round-6) scalars so the driver's value hash is
    engine-neutral."""
    rng = np.random.RandomState(seed)
    proj = rng.normal(size=(out_dim, dim)) / math.sqrt(out_dim)
    # one parsed expr for the whole projection (see hyperplane_buckets)
    rows = ",".join(
        "struct(cast(%d as bigint) as out_pos, round(%s, 6) as val)"
        % (j, _lit_dot_expr(vec, proj[j]))
        for j in range(out_dim)
    )
    return df.select(
        id_col, F.explode(F.expr("array(%s)" % rows)).alias("r")
    ).select(id_col, "r.out_pos", "r.val")


def random_projection_duck(dim: int, out_dim: int = 16, seed: int = 7) -> str:
    """DuckDB oracle: the same projection literals, same per-row dots."""
    rng = np.random.RandomState(seed)
    proj = rng.normal(size=(out_dim, dim)) / math.sqrt(out_dim)
    rows = []
    for j in range(out_dim):
        coeffs = ", ".join(repr(float(c)) for c in proj[j])
        rows.append(
            "select vec_id, %d::BIGINT out_pos,"
            " round(list_dot_product([x::DOUBLE for x in embedding], [%s]), 6) val"
            " from embeddings" % (j, coeffs)
        )
    return "\nunion all\n".join(rows)


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage transform
    for embedding tables at scale (4× smaller than float32, 8× than
    float64; brute-force/IVF scoring on int8 with one dequant scale per
    vector). Pure built-in expressions (codegen; no UDF):

        scale = max(|x|) / 127        (per vector)
        q_i   = round(x_i / scale)    ∈ [-127, 127]

    Output is exploded to scalars — (id, pos, q, err) with
    err = |q·scale − x| rounded at 6 — so the quantization error is
    directly queryable and the result is oracle-hashable.
    """
    maxabs = F.aggregate(
        F.col(vec),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.greatest(maxabs, F.lit(1e-30)) / F.lit(127.0)
    staged = df.select(id_col, vec, scale.alias("scale"))
    q = F.round(F.col("val").cast("double") / F.col("scale"), 0).cast("bigint")
    return (
        staged.select(
            id_col, "scale", F.posexplode(vec).alias("pos", "val")
        )
        .select(
            id_col,
            F.col("pos").cast("bigint").alias("pos"),
            q.alias("q"),
            F.round(
                F.abs(q.cast("double") * F.col("scale") - F.col("val").cast("double")),
                6,
            ).alias("err"),
        )
    )


def quantize_embeddings_duck() -> str:
    return """
with e as (
  select vec_id,
         greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
                  1e-30) / 127.0 scale,
         embedding
  from embeddings
),
ex as (
  select vec_id, scale,
         generate_subscripts(embedding, 1) - 1 pos,
         unnest(embedding) val
  from e
)
select vec_id, pos::BIGINT pos,
       round(val::DOUBLE / scale, 0)::BIGINT q,
       round(abs(round(val::DOUBLE / scale, 0) * scale - val::DOUBLE), 6) err
from ex
"""


def kmeans_train(
    df: DataFrame,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> "np.ndarray":
    """Distributed spherical k-means quantizer training — Lloyd
    iterations as joins + aggregates, the MLlib shape at any scale:

    * init: the ``k`` vectors with the smallest ``md5(id)`` — a
      deterministic, seed-free *hash-ranked sample* (k-means‖ flavor:
      uniform over the corpus regardless of how ids correlate with
      shards or insertion order, unlike lowest-id init which can seed
      all centroids from one shard's near-identical vectors).
      Replayable in ANSI SQL (``order by md5(cast(id as varchar))``),
      and distributed: rank-by-hash + limit is a per-partition partial
      top-k (TakeOrdered), not a global sort. ``k = ceil(sqrt(n))``
      when ``n_centroids`` is None — the standard IVF sizing, so
      per-bucket verify stays ~linear in n overall.
    * assign + partial update in ONE kernel: broadcast the (tiny)
      centroid matrix, one BLAS GEMM per Arrow batch, argmax of round-6
      cosine (ties → lower centroid id) — and the same batch immediately
      accumulates per-(centroid, dimension) INTEGER partial sums
      (vector values scaled ×10⁶, rounded half-away). Each batch emits
      at most k×dim partial rows; the reduce is a metadata-sized
      shuffle. Nothing data-sized is ever exploded or re-shuffled —
      at 1B × 1024-dim, the old explode-and-join update would shuffle
      10¹² rows per Lloyd step; this ships k·dim·partitions.
    * integer partial sums are *order-independent and exact*, so the
      DuckDB oracle reproduces training bit-for-bit with no
      float-accumulation drift. Empty clusters carry their previous
      centroid forward.

    Per iteration: one job + one k×dim collect (the centroid matrix is
    driver-sized by construction; the data never is). Returns the final
    centroid matrix (k × dim, round-6 values).
    """
    import pandas as pd
    from pyspark.sql import types as T

    k = n_centroids or int(math.ceil(math.sqrt(df.count())))
    init_rows = (
        df.select(id_col, vec)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    c_mat = _round6_half_away(
        np.array([np.asarray(r[1], dtype=np.float64) for r in init_rows])
    )
    dim = c_mat.shape[1]

    partial_schema = T.StructType(
        [
            T.StructField("centroid", T.IntegerType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("s", T.LongType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )

    for _ in range(iterations):
        cm = c_mat / np.maximum(np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-30)
        bc = df.sparkSession.sparkContext.broadcast(cm)

        def gen(batches):
            b_cm = bc.value
            kk = len(b_cm)
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
                mat = raw / np.maximum(
                    np.linalg.norm(raw, axis=1, keepdims=True), 1e-30
                )
                sims = _round6_half_away(mat @ b_cm.T)
                # argmax with ties → lower centroid id (lexsort on -sim)
                order = np.lexsort(
                    (np.broadcast_to(np.arange(kk), sims.shape), -sims), axis=1
                )
                a = order[:, 0]
                # exact integer partials of the ×1e6 half-away-rounded values
                scaled = np.where(
                    raw >= 0,
                    np.floor(raw * 1e6 + 0.5),
                    np.ceil(raw * 1e6 - 0.5),
                ).astype(np.int64)
                acc = np.zeros((kk, scaled.shape[1]), dtype=np.int64)
                np.add.at(acc, a, scaled)
                counts = np.bincount(a, minlength=kk).astype(np.int64)
                present = np.nonzero(counts)[0]
                cid = np.repeat(present, scaled.shape[1])
                pos = np.tile(np.arange(scaled.shape[1]), len(present))
                yield pd.DataFrame(
                    {
                        "centroid": cid.astype(np.int32),
                        "pos": pos.astype(np.int32),
                        "s": acc[present].ravel(),
                        "cnt": np.repeat(counts[present], scaled.shape[1]),
                    }
                )

        partials = (
            df.select(vec)
            .mapInPandas(gen, partial_schema)
            .groupBy("centroid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        # rows never assigned keep their previous centroid (the copy);
        # driver-side mean arithmetic mirrors the oracle exactly:
        # round6_half_away((s / 1e6) / cnt)
        new_mat = c_mat.copy()
        for r in partials:
            new_mat[r["centroid"], r["pos"]] = float(
                _round6_half_away(np.float64(r["s"]) / 1e6 / r["cnt"])
            )
        c_mat = new_mat
    return c_mat


def pq_train(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: Optional[int] = None,
) -> list:
    """Product-quantization codebook training (Jégou et al. 2011): the
    ``dim``-dim space splits into ``m`` contiguous subspaces and each
    trains its own ``n_codes``-word quantizer with the SAME distributed
    Lloyd kernel as the IVF coarse quantizer (``kmeans_train`` on the
    sliced column) — hash-ranked init, integer partial sums, round-6
    means, so every codebook is oracle-replayable. Returns a list of m
    (n_codes × dim/m) matrices.

    Training is FUSED across subspaces: the hash-ranked init is one
    collect (the ranking is id-based, so every subspace samples the
    same rows), and each Lloyd iteration is ONE scan whose kernel
    assigns and partial-sums all m subspaces per Arrow batch — 3 jobs
    total instead of 3·m, and each quantizer is bit-identical to
    training ``kmeans_train`` on the slice alone (same rounding, same
    integer partials; pinned by test and by the per-slice oracle
    replay). Driver holds m·k·d/m = k·d doubles — same footprint as
    one coarse quantizer.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if dim is None:
        dim = len(df.select(vec).first()[0])
    if dim % m:
        raise ValueError("dim %d not divisible by m=%d subspaces" % (dim, m))
    d_sub = dim // m
    init_rows = (
        df.select(id_col, vec)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    full = np.array([np.asarray(r[1], dtype=np.float64) for r in init_rows])
    books = [
        _round6_half_away(full[:, s * d_sub : (s + 1) * d_sub]) for s in range(m)
    ]

    partial_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("centroid", T.IntegerType(), False),
            T.StructField("pos", T.IntegerType(), False),
            T.StructField("s", T.LongType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )

    for _ in range(iterations):
        norm_books = [
            cb / np.maximum(np.linalg.norm(cb, axis=1, keepdims=True), 1e-30)
            for cb in books
        ]
        bc = df.sparkSession.sparkContext.broadcast(norm_books)

        def gen(batches):
            nb = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
                out = {"sub": [], "centroid": [], "pos": [], "s": [], "cnt": []}
                for si, cbn in enumerate(nb):
                    kk = cbn.shape[0]
                    sub = raw[:, si * d_sub : (si + 1) * d_sub]
                    mat = sub / np.maximum(
                        np.linalg.norm(sub, axis=1, keepdims=True), 1e-30
                    )
                    sims = _round6_half_away(mat @ cbn.T)
                    order = np.lexsort(
                        (np.broadcast_to(np.arange(kk), sims.shape), -sims), axis=1
                    )
                    a = order[:, 0]
                    scaled = np.where(
                        sub >= 0,
                        np.floor(sub * 1e6 + 0.5),
                        np.ceil(sub * 1e6 - 0.5),
                    ).astype(np.int64)
                    acc = np.zeros((kk, d_sub), dtype=np.int64)
                    np.add.at(acc, a, scaled)
                    counts = np.bincount(a, minlength=kk).astype(np.int64)
                    present = np.nonzero(counts)[0]
                    out["sub"].append(
                        np.full(len(present) * d_sub, si, dtype=np.int32)
                    )
                    out["centroid"].append(
                        np.repeat(present, d_sub).astype(np.int32)
                    )
                    out["pos"].append(
                        np.tile(np.arange(d_sub), len(present)).astype(np.int32)
                    )
                    out["s"].append(acc[present].ravel())
                    out["cnt"].append(np.repeat(counts[present], d_sub))
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in out.items()}
                )

        partials = (
            df.select(vec)
            .mapInPandas(gen, partial_schema)
            .groupBy("sub", "centroid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        new_books = [cb.copy() for cb in books]
        for r in partials:
            new_books[r["sub"]][r["centroid"], r["pos"]] = float(
                _round6_half_away(np.float64(r["s"]) / 1e6 / r["cnt"])
            )
        books = new_books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m-byte PQ code: per subspace, the
    round-6-cosine-nearest codeword (ties → lower code id — the same
    deterministic assignment rule as training, so codes are
    oracle-replayable). One Arrow-batched kernel, m small GEMMs per
    batch; output is (id, codes array<int>) — n·m bytes instead of
    n·dim floats, the 32× compression that lets a 100 TB embedding
    corpus fit scoring-resident."""
    import pandas as pd
    from pyspark.sql import types as T

    norm_books = [
        cb / np.maximum(np.linalg.norm(cb, axis=1, keepdims=True), 1e-30)
        for cb in codebooks
    ]
    d_sub = codebooks[0].shape[1]
    bc = df.sparkSession.sparkContext.broadcast(norm_books)
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("codes", T.ArrayType(T.IntegerType(), False), False),
        ]
    )

    def gen(batches):
        books = bc.value
        mm = len(books)
        for pdf in batches:
            if not len(pdf):
                continue
            raw = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            codes = np.empty((len(raw), mm), dtype=np.int32)
            for s, cbn in enumerate(books):
                sub = raw[:, s * d_sub : (s + 1) * d_sub]
                subn = sub / np.maximum(
                    np.linalg.norm(sub, axis=1, keepdims=True), 1e-30
                )
                sims = _round6_half_away(subn @ cbn.T)
                order = np.lexsort(
                    (np.broadcast_to(np.arange(cbn.shape[0]), sims.shape), -sims),
                    axis=1,
                )
                codes[:, s] = order[:, 0]
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec).mapInPandas(gen, out_schema)


def topk_neighbors_pq(
    df: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    rerank: int = 30,
    id_col: str = "vec_id",
    vec: str = "embedding",
    codebooks: Optional[list] = None,
) -> DataFrame:
    """PQ-compressed top-k neighbors with asymmetric distance
    computation (ADC) + exact re-rank — the memory-scale ANN path:
    the corpus is scored from its m-byte codes (lookup-table adds, no
    raw vectors touched), the top ``rerank`` ADC candidates per query
    are re-scored on the true embeddings, and the final top-k is
    EXACT round-6 cosine over that candidate set.

    Per Arrow batch the kernel does |Q|·m table lookups per candidate
    (the classic ADC inner loop, vectorized via fancy indexing) and
    emits only a per-partition partial top-``rerank`` — so the scoring
    pass streams the code table (n·m bytes, 32× smaller than the
    vectors) and shuffles |partitions|·|Q|·rerank rows. The re-rank
    join touches just |Q|·rerank raw vectors. Recall < 1 by
    construction (quantization error); ADC ranking is deterministic
    (round-6, ties → lower neighbor id) and the whole path — training,
    encoding, ADC, re-rank — replays in the DuckDB oracle."""
    import pandas as pd
    from pyspark.sql import Window, types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("adc", T.DoubleType(), False),
        ]
    )
    q_rows = (
        df.where(F.col(id_col) < query_ids_below).select(id_col, vec).collect()
    )
    if not q_rows:
        return _local_df(
            df.sparkSession,
            [],
            "query_id long, rank long, neighbor_id long, cosine double",
        )
    if codebooks is None:
        codebooks = pq_train(
            df, m, n_codes, iterations, id_col, vec,
            dim=len(np.asarray(q_rows[0][1])),
        )
    d_sub = codebooks[0].shape[1]
    codes = pq_encode(df, codebooks, id_col, vec)

    q_ids = np.fromiter((r[0] for r in q_rows), dtype=np.int64, count=len(q_rows))
    q_raw = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norm = np.maximum(np.linalg.norm(q_raw, axis=1), 1e-30)
    # ADC lookup tables: ip_lut[s] = <q_sub, codeword> (|Q| × K);
    # n2_lut[s][K] = |codeword|^2 — driver-sized (m·K·(|Q|+1) doubles)
    ip_lut = [
        q_raw[:, s * d_sub : (s + 1) * d_sub] @ codebooks[s].T
        for s in range(len(codebooks))
    ]
    n2_lut = [(cb * cb).sum(axis=1) for cb in codebooks]
    bc = df.sparkSession.sparkContext.broadcast((q_ids, q_norm, ip_lut, n2_lut))

    def adc_gen(batches):
        qi, qn, ipl, n2l = bc.value
        mm = len(ipl)
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cm = np.stack(pdf["codes"].to_numpy())  # B × m
            ip = np.zeros((len(qi), len(c_ids)))
            n2 = np.zeros(len(c_ids))
            for s in range(mm):
                ip += ipl[s][:, cm[:, s]]
                n2 += n2l[s][cm[:, s]]
            cn = np.maximum(np.sqrt(n2), 1e-30)
            sims = _round6_half_away(ip / (qn[:, None] * cn[None, :]))
            out_q, out_n, out_c = [], [], []
            for row, qid in enumerate(qi):
                s = sims[row]
                valid = c_ids != qid
                order = np.lexsort((c_ids[valid], -s[valid]))[:rerank]
                out_q.append(np.full(len(order), qid))
                out_n.append(c_ids[valid][order])
                out_c.append(s[valid][order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc": np.concatenate(out_c),
                }
            )

    scored = codes.mapInPandas(adc_gen, out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .where(F.col("r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank_topk(df, cand, q_ids, q_raw, q_norm, k, id_col, vec)


def _exact_rerank_topk(
    df: DataFrame,
    cand: DataFrame,
    q_ids: "np.ndarray",
    q_raw: "np.ndarray",
    q_norm: "np.ndarray",
    k: int,
    id_col: str,
    vec: str,
) -> DataFrame:
    """Exact re-rank of (query_id, neighbor_id) candidates: only the
    |Q|·rerank candidate vectors are touched — the candidate list
    broadcasts (driver-sized by construction), the corpus streams, and
    the final top-k is round-6 cosine with neighbor-id tie-break."""
    import pandas as pd
    from pyspark.sql import Window

    emb = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec).alias("_nv")
    )
    pairs = emb.join(F.broadcast(cand), "neighbor_id")
    qv = df.sparkSession.sparkContext.broadcast(
        {int(i): q_raw[row] / q_norm[row] for row, i in enumerate(q_ids)}
    )

    def rerank_gen(batches):
        qmap = qv.value
        for pdf in batches:
            if not len(pdf):
                continue
            nv = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_nv"]])
            nv /= np.maximum(np.linalg.norm(nv, axis=1, keepdims=True), 1e-30)
            qm = np.array([qmap[int(q)] for q in pdf["query_id"]])
            cos = _round6_half_away((qm * nv).sum(axis=1))
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(dtype=np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(dtype=np.int64),
                    "cosine": cos,
                }
            )

    exact = pairs.mapInPandas(
        rerank_gen,
        "query_id long, neighbor_id long, cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def topk_neighbors_ivfpq(
    df: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    coarse_iterations: Optional[int] = None,
    n_probe: int = 2,
    rerank: int = 30,
    id_col: str = "vec_id",
    vec: str = "embedding",
    centroids: Optional["np.ndarray"] = None,
    codebooks: Optional[list] = None,
) -> DataFrame:
    """IVF-PQ top-k — the faiss-style composition of both index tiers:
    the coarse IVF quantizer restricts each query to its ``n_probe``
    buckets, and INSIDE a bucket candidates are scored from their
    m-byte PQ codes via ADC lookup tables; the global top-``rerank``
    ADC candidates re-rank on exact round-6 cosine. Per query this
    touches ~n·n_probe/√n code rows (of m bytes each) instead of n·dim
    floats — the two compressions multiply.

    Everything reuses the oracle-replayable structures: ``kmeans_train``
    coarse centroids, ``ivf_assign`` bucket membership (corpus 1-probe,
    queries n_probe), ``pq_train``/``pq_encode`` codes — so the full
    composition replays in DuckDB. Recall < 1 twice over (bucket misses
    + quantization error); the exact re-rank repairs ordering within
    the surviving candidate set."""
    import pandas as pd
    from pyspark.sql import Window, types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("adc", T.DoubleType(), False),
        ]
    )
    q_rows = (
        df.where(F.col(id_col) < query_ids_below).select(id_col, vec).collect()
    )
    if not q_rows:
        return _local_df(
            df.sparkSession,
            [], "query_id long, rank long, neighbor_id long, cosine double"
        )
    if centroids is None:
        centroids = kmeans_train(
            df, None,
            iterations if coarse_iterations is None else coarse_iterations,
            id_col, vec,
        )
    if codebooks is None:
        codebooks = pq_train(
            df, m, n_codes, iterations, id_col, vec,
            dim=len(np.asarray(q_rows[0][1])),
        )
    d_sub = codebooks[0].shape[1]
    assign = ivf_assign(df, centroids, id_col, vec, n_probe=1)
    probes = ivf_assign(
        df.where(F.col(id_col) < query_ids_below), centroids, id_col, vec,
        n_probe=n_probe,
    )
    codes = pq_encode(df, codebooks, id_col, vec).join(
        assign.withColumnRenamed(id_col, "vec_id"), "vec_id"
    )

    q_ids = np.fromiter((r[0] for r in q_rows), dtype=np.int64, count=len(q_rows))
    q_raw = np.array([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norm = np.maximum(np.linalg.norm(q_raw, axis=1), 1e-30)
    ip_lut = [
        q_raw[:, s * d_sub : (s + 1) * d_sub] @ codebooks[s].T
        for s in range(len(codebooks))
    ]
    n2_lut = [(cb * cb).sum(axis=1) for cb in codebooks]
    probe_map: dict = {}
    for r in probes.collect():
        probe_map.setdefault(int(r["centroid"]), []).append(
            int(np.nonzero(q_ids == r[id_col])[0][0])
        )
    bc = df.sparkSession.sparkContext.broadcast(
        (q_ids, q_norm, ip_lut, n2_lut, probe_map)
    )

    def kernel(key, pdf):
        qi, qn, ipl, n2l, pm = bc.value
        rows = pm.get(int(key[0]), [])
        if not rows or not len(pdf):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "adc": []})
        c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        cm = np.stack(pdf["codes"].to_numpy())
        ip = np.zeros((len(rows), len(c_ids)))
        n2 = np.zeros(len(c_ids))
        for s in range(len(ipl)):
            ip += ipl[s][rows][:, cm[:, s]]
            n2 += n2l[s][cm[:, s]]
        cn = np.maximum(np.sqrt(n2), 1e-30)
        sims = _round6_half_away(ip / (qn[rows][:, None] * cn[None, :]))
        out_q, out_n, out_c = [], [], []
        for i, qrow in enumerate(rows):
            qid = qi[qrow]
            valid = c_ids != qid
            order = np.lexsort((c_ids[valid], -sims[i][valid]))[:rerank]
            out_q.append(np.full(len(order), qid))
            out_n.append(c_ids[valid][order])
            out_c.append(sims[i][valid][order])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q) if out_q else [],
                "neighbor_id": np.concatenate(out_n) if out_n else [],
                "adc": np.concatenate(out_c) if out_c else [],
            }
        )

    scored = codes.groupBy("centroid").applyInPandas(kernel, out_schema)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .where(F.col("r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank_topk(df, cand, q_ids, q_raw, q_norm, k, id_col, vec)


def _pq_enc_ctes(
    m: int, n_codes: int, iterations: int, dim: int, lead_with: bool = True
) -> str:
    """Shared oracle CTE prefix: m suffixed k-means chains (one per
    subspace slice) + the deterministic per-subspace encoding tables
    ``enc_s{i}`` (vec_id, code). ``lead_with=False`` lets the block
    append to an existing WITH chain (the IVF-PQ composition)."""
    d_sub = dim // m
    chains = []
    for s in range(m):
        vexpr = "list_slice([x::DOUBLE for x in embedding], %d, %d)" % (
            s * d_sub + 1,
            (s + 1) * d_sub,
        )
        chains.append(
            _kmeans_duck_ctes(
                n_codes,
                iterations,
                vec_expr=vexpr,
                suffix="_s%d" % s,
                with_prefix=(s == 0 and lead_with),
            )
        )
    enc = ",".join(
        """
enc_s{s} as materialized (
  select vec_id, cid code from (
    select e_s{s}.vec_id, c.cid,
           row_number() over (
             partition by e_s{s}.vec_id
             order by round(list_dot_product(e_s{s}.v, c.cv)
                            / (e_s{s}.n * c.cn), 6) desc,
                      c.cid asc) r
    from e_s{s} cross join cf_s{s} c
  ) where r = 1
)""".format(s=s)
        for s in range(m)
    )
    return ",".join(chains) + "," + enc


def pq_codes_duck(
    m: int = 8, n_codes: int = 16, iterations: int = 2, dim: int = 64
) -> str:
    """DuckDB oracle for the exploded PQ code table (vec_id, sub,
    code): replays training + deterministic encoding per subspace."""
    union = "\nunion all\n".join(
        "select vec_id, %d sub, code from enc_s%d" % (s, s) for s in range(m)
    )
    return (
        _pq_enc_ctes(m, n_codes, iterations, dim)
        + """
select vec_id, sub::BIGINT sub, code::BIGINT code from (
{u}
) order by vec_id, sub
""".format(u=union)
    )


def topk_neighbors_ivfpq_duck(
    query_ids_below: int = 10,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    coarse_iterations: Optional[int] = None,
    n_probe: int = 2,
    rerank: int = 30,
    dim: int = 64,
) -> str:
    """DuckDB oracle for ``topk_neighbors_ivfpq``: coarse k-means +
    assignment/probing + m subspace codebook replays + bucket-restricted
    ADC + candidate cut + exact re-rank, all in one statement."""
    d_sub = dim // m
    code_cols = ", ".join("s%d.code code%d" % (s, s) for s in range(m))
    code_joins = " ".join(
        "join enc_s%d s%d using (vec_id)" % (s, s) for s in range(1, m)
    )
    w_joins = " ".join(
        "join cf_s{s} w{s} on w{s}.cid = x.code{s}".format(s=s) for s in range(m)
    )
    ip_expr = " + ".join(
        "list_dot_product(list_slice(q.v, %d, %d), w%d.cv)"
        % (s * d_sub + 1, (s + 1) * d_sub, s)
        for s in range(m)
    )
    n2_expr = " + ".join(
        "list_dot_product(w{s}.cv, w{s}.cv)".format(s=s) for s in range(m)
    )
    return (
        _kmeans_duck_ctes(
            None, iterations if coarse_iterations is None else coarse_iterations
        )
        + ","
        + _pq_enc_ctes(m, n_codes, iterations, dim, lead_with=False)
        + """,
cscored as materialized (
  select e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv) / (e.n * c.cn), 6) s
  from e cross join cf c
),
assign as materialized (
  select vec_id, cid from (
    select *, row_number() over (partition by vec_id
                                 order by s desc, cid asc) r
    from cscored
  ) where r = 1
),
probes as (
  select vec_id, cid from (
    select *, row_number() over (partition by vec_id
                                 order by s desc, cid asc) r
    from cscored where vec_id < {Q}
  ) where r <= {np}
),
codes as materialized (
  select s0.vec_id, {code_cols} from enc_s0 s0 {code_joins}
),
adc as (
  select q.vec_id query_id, x.vec_id neighbor_id,
         round(({ip}) / (q.n * greatest(sqrt({n2}), 1e-30)), 6) adc
  from e q
  join probes p on p.vec_id = q.vec_id
  join assign a on a.cid = p.cid and a.vec_id != q.vec_id
  join codes x on x.vec_id = a.vec_id
  {w_joins}
  where q.vec_id < {Q}
),
cand as (
  select query_id, neighbor_id from (
    select *, row_number() over (
      partition by query_id order by adc desc, neighbor_id asc) r
    from adc
  ) where r <= {R}
),
rr as (
  select cand.query_id, cand.neighbor_id,
         round(list_dot_product(q.v, x.v) / (q.n * x.n), 6) cosine
  from cand
  join e q on q.vec_id = cand.query_id
  join e x on x.vec_id = cand.neighbor_id
)
select query_id,
       row_number() over (
         partition by query_id order by cosine desc, neighbor_id asc
       )::BIGINT rank,
       neighbor_id, cosine
from rr
qualify rank <= {k}
order by query_id, rank
""".format(
            code_cols=code_cols,
            code_joins=code_joins,
            ip=ip_expr,
            n2=n2_expr,
            w_joins=w_joins,
            Q=query_ids_below,
            np=n_probe,
            R=rerank,
            k=k,
        )
    )


def topk_neighbors_pq_duck(
    query_ids_below: int = 10,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 2,
    rerank: int = 30,
    dim: int = 64,
) -> str:
    """DuckDB oracle for ``topk_neighbors_pq``: replays all m subspace
    codebook trainings (suffixed k-means CTE chains), the deterministic
    encoding, the ADC scoring with the identical left-to-right subspace
    summation, the top-``rerank`` candidate cut, and the exact re-rank."""
    d_sub = dim // m
    code_cols = ", ".join("s%d.code code%d" % (s, s) for s in range(m))
    code_joins = " ".join(
        "join enc_s%d s%d using (vec_id)" % (s, s) for s in range(1, m)
    )
    w_joins = " ".join(
        "join cf_s{s} w{s} on w{s}.cid = c.code{s}".format(s=s) for s in range(m)
    )
    ip_expr = " + ".join(
        "list_dot_product(list_slice(q.v, %d, %d), w%d.cv)"
        % (s * d_sub + 1, (s + 1) * d_sub, s)
        for s in range(m)
    )
    n2_expr = " + ".join(
        "list_dot_product(w{s}.cv, w{s}.cv)".format(s=s) for s in range(m)
    )
    return (
        _pq_enc_ctes(m, n_codes, iterations, dim)
        + """,
ef as materialized (
  select vec_id, [x::DOUBLE for x in embedding] v,
         sqrt(list_dot_product([x::DOUBLE for x in embedding],
                               [x::DOUBLE for x in embedding])) n
  from embeddings
),
codes as materialized (
  select s0.vec_id, {code_cols} from enc_s0 s0 {code_joins}
),
adc as (
  select q.vec_id query_id, c.vec_id neighbor_id,
         round(({ip}) / (q.n * greatest(sqrt({n2}), 1e-30)), 6) adc
  from ef q
  join codes c on c.vec_id != q.vec_id
  {w_joins}
  where q.vec_id < {Q}
),
cand as (
  select query_id, neighbor_id from (
    select *, row_number() over (
      partition by query_id order by adc desc, neighbor_id asc) r
    from adc
  ) where r <= {R}
),
rr as (
  select cand.query_id, cand.neighbor_id,
         round(list_dot_product(q.v, x.v) / (q.n * x.n), 6) cosine
  from cand
  join ef q on q.vec_id = cand.query_id
  join ef x on x.vec_id = cand.neighbor_id
)
select query_id,
       row_number() over (
         partition by query_id order by cosine desc, neighbor_id asc
       )::BIGINT rank,
       neighbor_id, cosine
from rr
qualify rank <= {k}
order by query_id, rank
""".format(
            code_cols=code_cols,
            code_joins=code_joins,
            ip=ip_expr,
            n2=n2_expr,
            w_joins=w_joins,
            Q=query_ids_below,
            R=rerank,
            k=k,
        )
    )


def ivf_assign(
    df: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """IVF coarse assignment against a trained centroid matrix: each
    vector → its ``n_probe`` nearest centroids by cosine (rounded at 6
    decimals; ties → lower centroid index) — one output row per
    (vector, probed centroid). Broadcast centroid matrix, one GEMM per
    Arrow batch, top-n_probe. ``n_probe`` is THE recall/compute knob:
    each extra probe multiplies bucket memberships (and so candidate
    pairs) while closing the boundary-split misses of single-probe.
    Rounding before the argmax keeps cross-engine ulp noise from
    flipping near-ties."""
    import pandas as pd
    from pyspark.sql import types as T

    cm = np.asarray(centroids, dtype=np.float64)
    cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-30)
    ci = np.arange(len(cm), dtype=np.int64)
    bc = df.sparkSession.sparkContext.broadcast((ci, cm))
    probes = min(n_probe, len(cm))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("centroid", T.LongType(), False),
        ]
    )

    def gen(batches):
        b_ci, b_cm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            sims = _round6_half_away(mat @ b_cm.T)  # batch × C
            # rank by (sim desc, centroid id asc), take top n_probe
            order = np.lexsort((np.broadcast_to(b_ci, sims.shape), -sims), axis=1)
            top = order[:, :probes]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, probes),
                    "centroid": b_ci[top].ravel(),
                }
            )

    return df.select(id_col, vec).mapInPandas(gen, out_schema)


def ivf_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_probe: int = 1,
    bucket_cap: Optional[int] = None,
    int8_verify: bool = False,
    centroids: Optional["np.ndarray"] = None,
) -> DataFrame:
    """IVF-bucketed ANN near-dup pairs: train a √n-sized k-means coarse
    quantizer (kmeans_train), assign every vector to its ``n_probe``
    nearest centroids, then run the exact GEMM verify *inside each
    bucket* (one applyInPandas group per centroid). Pairs whose members
    share no probed bucket are missed — that's the IVF recall tradeoff,
    and raising ``n_probe`` buys recall with compute; pairs emitted are
    exact cosines (a pair found in several buckets dedupes to one row —
    identical cosine everywhere). At scale this is the standard shape:
    √n buckets bound the per-bucket quadratic verify at ~n overall work
    and buckets are data-parallel.

    ``bucket_cap`` hard-bounds any one bucket (members ranked by id;
    overflow is dropped from candidate generation — an *approximation*,
    documented, for adversarially skewed bucket distributions).

    ``int8_verify`` scores the bucket-local verify on the symmetric
    int8 quantization of each vector (``quantize_embeddings``'s
    transform) instead of the float64 values: q = round_half_away(x /
    (max|x|/127)). The per-vector dequant scale cancels in the cosine,
    so the score is dot_int(q_a, q_b) / (|q_a|·|q_b|) — the integer dot
    is EXACT (no float accumulation), which keeps the DuckDB oracle
    bit-identical, while the verify matrix holds int8-range values: 8×
    less memory/bandwidth than float64 buckets at 100 TB (and on real
    executors the GEMM runs int8/VNNI). Emitted cosines are the
    quantized approximation, round-6.
    """
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        # build-once-probe-many: pass a trained quantizer to skip the
        # Lloyd jobs; training is deterministic, so the output is
        # identical
        centroids = kmeans_train(df, n_centroids, iterations, id_col, vec)
    assign = ivf_assign(df, centroids, id_col, vec, n_probe=n_probe)
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("centroid").orderBy(F.col(id_col).asc())
        assign = (
            assign.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= bucket_cap)
            .drop("_r")
        )
    assigned = df.select(id_col, vec).join(assign, id_col)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
        if int8_verify:
            q = _quantize_rows(mat)
            dots = q @ q.T  # exact integer dot products
            norm = np.maximum(np.sqrt(np.diag(dots).astype(np.float64)), 1e-30)
            sims = _round6_half_away(dots / (norm[:, None] * norm[None, :]))
        else:
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            sims = _round6_half_away(mat @ mat.T)
        ia, ib = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cosine": sims[ia, ib]})

    out = assigned.groupBy("centroid").applyInPandas(kernel, out_schema)
    if n_probe > 1:
        out = out.distinct()  # a pair can surface in several probed buckets
    return out


def _kmeans_duck_ctes(
    n_centroids: Optional[int],
    iterations: int,
    vec_expr: str = "[x::DOUBLE for x in embedding]",
    suffix: str = "",
    with_prefix: bool = True,
) -> str:
    """CTE prefix reproducing kmeans_train exactly: MATERIALIZED per
    step (DuckDB inlines doubly-referenced CTEs otherwise — exponential
    for iterative unrolls). Produces ``cf{suffix}`` = final (cid, cv,
    cn). ``vec_expr``/``suffix`` let a caller replay several quantizers
    over different vector slices in ONE statement (the PQ oracle trains
    one per subspace)."""
    k_expr = (
        str(n_centroids)
        if n_centroids is not None
        else "(select cast(ceil(sqrt(count(*))) as int) from embeddings)"
    )
    x = suffix
    sql = """
{w}e{x} as materialized (
  select vec_id, {v} v,
         sqrt(list_dot_product({v}, {v})) n,
         row_number() over (order by md5(vec_id::VARCHAR), vec_id) - 1 rid
  from embeddings
),
ex{x} as materialized (
  select vec_id, generate_subscripts(v, 1) - 1 pos,
         cast(round(unnest(v) * 1000000, 0) as bigint) sv
  from e{x}
),
c0{x} as materialized (
  select rid cid, [round(y, 6) for y in v] cv from e{x} where rid < {k}
)""".format(k=k_expr, v=vec_expr, x=x, w="with " if with_prefix else "")
    prev = "c0%s" % x
    for i in range(1, iterations + 1):
        sql += """,
a{i}{x} as materialized (
  select vec_id, cid from (
    select e{x}.vec_id, c.cid,
           row_number() over (
             partition by e{x}.vec_id
             order by round(list_dot_product(e{x}.v, c.cv)
                            / (e{x}.n * sqrt(list_dot_product(c.cv, c.cv))), 6) desc,
                      c.cid asc) r
    from e{x} cross join {prev} c
  ) where r = 1
),
m{i}{x} as materialized (
  select cid, list(mv order by pos) cv from (
    select a.cid, p.pos,
           round((sum(p.sv)::DOUBLE / 1000000) / count(*), 6) mv
    from a{i}{x} a join ex{x} p using (vec_id)
    group by a.cid, p.pos
  ) group by cid
),
c{i}{x} as materialized (
  select p.cid, coalesce(m{i}{x}.cv, p.cv) cv
  from {prev} p left join m{i}{x} using (cid)
)""".format(i=i, prev=prev, x=x)
        prev = "c%d%s" % (i, x)
    sql += """,
cf{x} as materialized (
  select cid, cv, sqrt(list_dot_product(cv, cv)) cn from {prev}
)""".format(prev=prev, x=x)
    return sql


def ivf_pairs_duck(
    threshold: float = 0.4,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    n_probe: int = 1,
    bucket_cap: Optional[int] = None,
    int8_verify: bool = False,
) -> str:
    """DuckDB oracle for ``ivf_pairs``: replays the k-means training
    (decimal-exact means make it reproducible), then the same assign /
    cap / bucket-join / verify. With ``int8_verify`` the verify replays
    the symmetric int8 quantization and scores on integer dot products
    (exact — no accumulation drift), dividing by the quantized norms."""
    cap_clause = (
        ""
        if bucket_cap is None
        else """,
capped as (
  select vec_id, cid from (
    select *, row_number() over (partition by cid order by vec_id asc) cr
    from assign
  ) where cr <= %d
)"""
        % bucket_cap
    )
    assign_src = "assign" if bucket_cap is None else "capped"
    if int8_verify:
        verify = """,
q8 as materialized (
  select vec_id,
         [cast(round(x / s, 0) as double) for x in v] qv
  from (
    select vec_id, v,
           greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0 s
    from e
  )
),
q8n as materialized (
  select vec_id, qv, greatest(sqrt(list_dot_product(qv, qv)), 1e-30) qn from q8
),
j as (
  select a.vec_id id_a, b.vec_id id_b,
         round(list_dot_product(qa.qv, qb.qv) / (qa.qn * qb.qn), 6) cosine
  from {src} a
  join {src} b on a.cid = b.cid and a.vec_id < b.vec_id
  join q8n qa on qa.vec_id = a.vec_id
  join q8n qb on qb.vec_id = b.vec_id
)"""
    else:
        verify = """,
j as (
  select a.vec_id id_a, b.vec_id id_b,
         round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6) cosine
  from {src} a
  join {src} b on a.cid = b.cid and a.vec_id < b.vec_id
  join e ea on ea.vec_id = a.vec_id
  join e eb on eb.vec_id = b.vec_id
)"""
    return (
        _kmeans_duck_ctes(n_centroids, iterations)
        + """,
scored as (
  select e.vec_id, c.cid,
         round(list_dot_product(e.v, c.cv) / (e.n * c.cn), 6) s
  from e cross join cf c
),
assign as (
  select vec_id, cid from (
    select *, row_number() over (partition by vec_id
                                 order by s desc, cid asc) r
    from scored
  ) where r <= {np}
){cap}"""
        + verify
        + """
select distinct id_a, id_b, cosine from j where cosine >= {t}
"""
    ).format(np=n_probe, t=threshold, cap=cap_clause, src=assign_src)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    n_probe: int = 1,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec: str = "embedding",
    centroids: Optional["np.ndarray"] = None,
) -> DataFrame:
    """SemDeDup-style semantic corpus pruning (Abbas et al. 2023):
    cluster the embedding space with the IVF coarse quantizer, then
    inside each cluster drop every vector that is ≥ ``threshold``
    cosine-similar to a LOWER-id vector — the deterministic version of
    "keep one representative per semantic duplicate group". Returns one
    row per input vector: (id, is_kept, dup_of) with ``dup_of`` the
    lowest qualifying lower id (null when kept), so the caller can
    either filter (is_kept) or audit what was dropped and why.

    Scale: candidate generation + verify is :func:`ivf_pairs` (bucketed
    GEMM, nothing data-sized collected); the drop table is a doc-keyed
    min-aggregate of the pair list; the final left join is
    corpus ⋈ (dup docs only) — at real dup rates the right side is the
    small side and broadcasts. Pass a shared/persisted ``centroids``
    quantizer to skip retraining (build-once-probe-many)."""
    pairs = ivf_pairs(
        df,
        threshold,
        n_centroids=n_centroids,
        iterations=iterations,
        id_col=id_col,
        vec=vec,
        n_probe=n_probe,
        centroids=centroids,
    )
    drops = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        df.select(id_col)
        .join(F.broadcast(drops), id_col, "left")
        .select(
            id_col,
            F.col("dup_of").isNull().alias("is_kept"),
            "dup_of",
        )
    )


def semantic_dedup_duck(
    threshold: float = 0.4,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    n_probe: int = 1,
) -> str:
    """DuckDB oracle for ``semantic_dedup``: the ivf_pairs replay as a
    nested CTE, then the same min-lower-id drop rule."""
    inner = ivf_pairs_duck(threshold, n_centroids, iterations, n_probe)
    return """
with pairs as ({inner})
select e.vec_id as vec_id, d.dup_of is null as is_kept, d.dup_of as dup_of
from embeddings e left join (
  select id_b as vec_id, min(id_a) as dup_of from pairs group by id_b
) d using (vec_id)
order by vec_id
""".format(inner=inner.strip().rstrip(";"))


def ann_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    dim: int = 64,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Bucketed approximate near-dup pairs: hyperplane bucket join +
    exact cosine verify inside buckets. Recall < 1 by construction."""
    e = with_norm(df.select(id_col, vec)).join(
        hyperplane_buckets(df, dim, n_planes), id_col
    )
    a = e.select(
        F.col(id_col).alias("id_a"),
        F.col(vec).alias("va"),
        F.col("_norm").alias("na"),
        "bucket",
    )
    b = e.select(
        F.col(id_col).alias("id_b"),
        F.col(vec).alias("vb"),
        F.col("_norm").alias("nb"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b"))
    )
    cos = F.round(_dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def ann_pairs_duck(
    threshold: float = 0.4, dim: int = 64, n_planes: int = 12, seed: int = 42
) -> str:
    """DuckDB oracle for ``ann_pairs``: the same seeded hyperplane
    literals (bit-identical doubles via repr round-trip), same round-6
    sign test, same bucket-equality join + exact verify — so the
    LSH candidate set itself is deterministic and oracle-checkable,
    not just benched."""
    bucket = hyperplane_bucket_sql(dim, n_planes, seed, "v")
    return """
with e as materialized (
  select vec_id, [x::DOUBLE for x in embedding] v,
         sqrt(list_dot_product([x::DOUBLE for x in embedding],
                               [x::DOUBLE for x in embedding])) n
  from embeddings
),
bkt as materialized (
  select vec_id, {bucket} bucket from e
)
select a.vec_id id_a, b.vec_id id_b,
       round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6) cosine
from bkt a
join bkt b on a.bucket = b.bucket and a.vec_id < b.vec_id
join e ea on ea.vec_id = a.vec_id
join e eb on eb.vec_id = b.vec_id
where round(list_dot_product(ea.v, eb.v) / (ea.n * eb.n), 6) >= {t}
""".format(bucket=bucket, t=threshold)


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec: str = "embedding",
    exact: bool = False,
    n_probe: int = 2,
    n_centroids: Optional[int] = None,
    iterations: int = 2,
    bucket_cap: Optional[int] = None,
    centroids: Optional["np.ndarray"] = None,
) -> DataFrame:
    """Embedding near-duplicate pairs. DEFAULT is the bucketed scale
    path: √n-centroid trained IVF with multi-probe assignment and exact
    GEMM verify inside buckets — per-bucket work is bounded, buckets are
    data-parallel, and nothing data-sized ever reaches the driver.
    ``exact=True`` is the escape hatch for the all-pairs O(n²) kernel
    (broadcast GEMM) — the right tool only for modest n or as a
    post-candidate verify. ``centroids`` takes a pre-trained quantizer
    (:func:`kmeans_train`) instead of retraining."""
    if exact:
        return cosine_pairs_gemm(df, threshold, id_col, vec)
    return ivf_pairs(
        df,
        threshold,
        n_centroids=n_centroids,
        iterations=iterations,
        id_col=id_col,
        vec=vec,
        n_probe=n_probe,
        bucket_cap=bucket_cap,
        centroids=centroids,
    )


def embedding_covariance(
    df: DataFrame, vec: str = "embedding"
) -> DataFrame:
    """Exact per-dimension-pair covariance of the embedding cloud — the
    PCA/whitening precursor (and the correlation audit that catches a
    collapsed encoder: blocks of ~1.0 off-diagonal correlation).
    Output: one row per (dim_i <= dim_j) with the covariance at 6
    decimals.

    Scale shape: each Arrow batch computes ONE integer GEMM (µ-unit
    int64 MᵀM — exact; |v| < 30 keeps a 10k-row batch under int64) and
    emits a dim²/2-sized partial — so the shuffle carries
    O(partitions · dim²) rows, never O(rows · dim²). Global partials
    sum in decimal(38,0) (order-independent, overflow-proof), and the
    final covariance is closed-form over exact integers — the DuckDB
    oracle replays it bit-for-bit from an unnest self-join."""
    import pyarrow as pa

    spark = df.sparkSession
    dim_probe = df.select(F.size(vec).alias("d")).first()
    if dim_probe is None:
        raise ValueError("embedding_covariance: empty input")
    dim = dim_probe.d
    iu, ju = np.triu_indices(dim)

    def gemm(batches):
        for b in batches:
            tb = pa.Table.from_batches([b])
            col = tb.column(0).to_pylist()
            if not col:
                continue
            # half-AWAY rounding to µ-units, matching Spark F.round /
            # DuckDB round and the drift-baseline quantizer — np.rint
            # (half-to-even) diverges on exact .5 µ-unit boundaries
            x = np.asarray(col, dtype=np.float64) * 1e6
            m = np.where(
                x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
            ).astype(np.int64)
            g = m.T @ m  # exact: µ-unit int64 GEMM
            s = m.sum(axis=0, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.concatenate([iu, np.arange(dim), [-1]]).astype(
                            "int32"
                        )
                    ),
                    pa.array(
                        np.concatenate(
                            [ju, np.full(dim, -1), [-1]]
                        ).astype("int32")
                    ),
                    pa.array(
                        np.concatenate(
                            [g[iu, ju], s, [np.int64(len(col))]]
                        ).astype("int64")
                    ),
                ],
                names=["i", "j", "p"],
            )

    partials = df.select(F.col(vec).cast("array<double>").alias(vec)).mapInArrow(
        gemm, "i int, j int, p long"
    )
    sums = partials.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).cast("double").alias("s")
    )
    n = sums.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("_n")
    )
    col = sums.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("_ci"), F.col("s").alias("_cs")
    )
    pairs = sums.where(F.col("j") >= 0)
    a = col.select(F.col("_ci").alias("i"), F.col("_cs").alias("si"))
    b = col.select(F.col("_ci").alias("j"), F.col("_cs").alias("sj"))
    cov = F.round(
        (
            F.col("s") / F.col("_n")
            - (F.col("si") / F.col("_n")) * (F.col("sj") / F.col("_n"))
        )
        / 1e12,
        6,
    )
    return (
        pairs.join(F.broadcast(a), "i")
        .join(F.broadcast(b), "j")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("i").cast("int").alias("dim_i"),
            F.col("j").cast("int").alias("dim_j"),
            cov.alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )


def embedding_covariance_duck() -> str:
    """DuckDB oracle for ``embedding_covariance``: the same µ-unit
    integer moments from an unnest self-join."""
    return """
with exp as materialized (
  select vec_id, (i - 1) i,
         round(embedding[i]::DOUBLE * 1e6, 0)::BIGINT m
  from (
    select vec_id, embedding,
           unnest(generate_series(1, len(embedding))) i
    from embeddings
  )
),
n as (select count(distinct vec_id)::DOUBLE nn from exp),
cs as (select i, sum(m)::DOUBLE s from exp group by i),
pp as (
  select a.i i, b.i j, sum(a.m::HUGEINT * b.m)::DOUBLE p
  from exp a join exp b on a.vec_id = b.vec_id and a.i <= b.i
  group by a.i, b.i
)
select pp.i::INT dim_i, pp.j::INT dim_j,
       round((pp.p / nn - (ca.s / nn) * (cb.s / nn)) / 1e12, 6) cov
from pp
join cs ca on ca.i = pp.i
join cs cb on cb.i = pp.j
cross join n
order by dim_i, dim_j
"""


def pca_train(
    df: DataFrame, n_components: int = 4, vec: str = "embedding"
) -> "np.ndarray":
    """Distributed PCA fit: the exact covariance reduce
    (:func:`embedding_covariance` — integer GEMM partials, nothing
    data-sized collected) followed by a driver-side eigendecomposition
    of the dim×dim matrix (metadata-sized, like a k-means centroid
    pull). Returns the top ``n_components`` eigenvectors (rows),
    deterministic sign convention: each component's
    largest-|coefficient| entry is positive.

    No SQL oracle exists for eig — the operator is gated in pytest
    against numpy PCA on the collected table instead (rows-only check
    in the driver gate, like q_approx_sketches)."""
    cov_rows = embedding_covariance(df, vec).collect()
    dim = max(r.dim_j for r in cov_rows) + 1
    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r.dim_i, r.dim_j] = r.cov
        c[r.dim_j, r.dim_i] = r.cov
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:n_components]
    comps = v[:, order].T.copy()
    for k in range(comps.shape[0]):
        j = np.argmax(np.abs(comps[k]))
        if comps[k, j] < 0:
            comps[k] = -comps[k]
    return comps


def pca_project(
    df: DataFrame,
    components: "np.ndarray",
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Project embeddings onto trained PCA components — the components
    ship as codegen literals exactly like the JL projection (no UDF, no
    shuffle, scan speed). Output: (id, pc, val round-6) scalars."""
    comps = np.asarray(components, dtype=np.float64)
    # one parsed expr for the whole projection (see hyperplane_buckets)
    rows = ",".join(
        "struct(cast(%d as bigint) as pc, round(%s, 6) as val)"
        % (k, _lit_dot_expr(vec, comps[k]))
        for k in range(comps.shape[0])
    )
    return df.select(
        id_col, F.explode(F.expr("array(%s)" % rows)).alias("r")
    ).select(id_col, "r.pc", "r.val")
