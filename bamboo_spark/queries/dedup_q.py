"""Deduplication: exact/normalized/near-dup, MinHash-LSH, SimHash, winnowing, connected components, dup-graph analytics, contamination.

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
from bamboo_spark._localdf import local_df as _local_df


# ============================================================ LLM ops


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.dedup_exact(d, "text", "doc_id")


Q_DEDUP_EXACT_SQL = """
select min(doc_id) keep_id, count(*) n_dups
from documents group by text order by keep_id
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # oracle-gated against the lossless brute-force DuckDB twin, so the
    # skew cap must be off here (the capped default is documented-approx:
    # it drops pairs whose every prefix shingle is hot, which would break
    # the gate at an SF where any shingle's doc-frequency crosses the cap)
    return dedup.jaccard_pairs(d, threshold=0.8, max_shingle_df=None)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 64 hashes / 32 bands of 2: a true 0.7-similar pair misses every
    # band with p = (1 - 0.49)^32 < 5e-10 — indistinguishable from the
    # exact join at any test scale, at half the signature width of the
    # datasketch-style 128 default.
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return dedup.simhash_pairs(d, max_hamming=2)


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonical normalization (lowercase, strip
    punctuation, collapse whitespace) — catches case/punct-only
    duplicates byte-exact hashing misses. Same single hash-aggregate
    shuffle as dedup_exact, keyed on the normalized form."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(text.normalize_text("text").alias("norm"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


Q_DEDUP_NORM_SQL = """
select min(doc_id) keep_id, count(*) n_dups
from documents group by {norm} order by keep_id
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline composed: MinHash-LSH candidates →
    exact-jaccard verify (0.7) → duplicate-cluster labeling via 4
    supersteps of min-label propagation (near-dup clusters are
    near-cliques; diameter > 4 is pathological, and the oracle unrolls
    the same 4 steps so parity holds regardless). Output: every doc in
    a near-dup pair with its cluster's canonical (minimum) doc_id."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    return dedup.connected_components(pairs, iterations=4)


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-ROW SimHash projection (streaming form, no shuffle)
    value-gated directly: every 60-bit signature must match the
    oracle's recomputation bit-for-bit."""
    d = load(spark, sf_dir, "documents")
    return dedup.simhash_expr_cols(d).select("doc_id", "simhash")


Q_SIMHASH_SIGNATURES_SQL_TEMPLATE = """
with tok as (
  select doc_id, unnest(list_distinct(string_split(text, ' '))) t from documents
),
tv as (select doc_id, {v} v from tok),
agg as (select doc_id, count(*) n, {sums} from tv group by doc_id)
select doc_id, {sim} as simhash from agg
"""


def _simhash_signatures_duck() -> str:
    sums = ", ".join(
        "sum((v >> %d) & 1) s%d" % (j, j) for j in range(dedup.SIMHASH_BITS)
    )
    sim = " + ".join(
        "(case when 2 * s%d > n then %d::BIGINT else 0::BIGINT end)" % (j, 1 << j)
        for j in range(dedup.SIMHASH_BITS)
    )
    from bamboo_spark.operators.text import md5_int60_duck

    return Q_SIMHASH_SIGNATURES_SQL_TEMPLATE.format(
        v=md5_int60_duck("t"), sums=sums, sim=sim
    )


def q_dedup_components_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via POINTER-JUMPING components: log-diameter
    supersteps with convergence detection — the deep-graph scale path
    (the fixed-K propagation twin assumes near-clique clusters). The
    oracle computes the same fixpoint with a recursive CTE, so the
    result is iteration-budget-independent."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    return dedup.connected_components_converged(pairs)


def q_dedup_components_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters via LARGE-STAR/SMALL-STAR edge contraction -
    the edge-list-scale CC variant (the edge set itself shrinks toward
    a star forest each round, unlike min-propagation which re-joins the
    full edge list every superstep). Same fixpoint as the recursive-CTE
    oracle, independent of the round budget."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    return dedup.connected_components_contraction(pairs)


def q_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via the DEFAULT scale path: trained √n-centroid
    IVF + multiprobe + bucket-local exact GEMM verify. Nothing
    data-sized reaches the driver; per-bucket verify is bounded."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs(
        e, threshold=0.4, bucket_cap=256, centroids=ivf_quantizer(spark, sf_dir)
    )


def q_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact=True escape hatch: all-pairs broadcast-GEMM — O(n²) by
    contract, kept for modest n / post-ANN verification."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.near_dup_pairs(e, threshold=0.4, exact=True)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 4-gram overlap between every training
    document and a (deterministic) held-out eval slice — the standard
    n-gram contamination check run before training. The eval side is
    benchmark-sized, so its exploded n-gram index BROADCASTS: the 100 TB
    corpus streams past it map-side with no shuffle of the training
    data; the only shuffle is the per-(train, eval) overlap count,
    map-combined. Output: overlap count + contamination ratio
    (overlap / train doc's distinct n-grams)."""
    d = load(spark, sf_dir, "documents")
    sh = text.word_shingles_sql("split(text, ' ')", 4)
    ev = (
        d.where("doc_id % 97 = 0")
        .selectExpr("doc_id as eval_id", "array_distinct(%s) as sh" % sh)
        .select("eval_id", F.explode("sh").alias("s"))
    )
    tr = (
        d.where("doc_id % 97 != 0")
        .selectExpr("doc_id", "array_distinct(%s) as sh" % sh)
        .select("doc_id", F.size("sh").alias("nt"), F.explode("sh").alias("s"))
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id", "eval_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
            F.first("nt").alias("nt"),
        )
        .selectExpr(
            "doc_id",
            "eval_id",
            "n_overlap",
            "round(cast(n_overlap as double) / cast(nt as double), 6)"
            " as contamination",
        )
    )


Q_CONTAMINATION_SQL = """
with ev as (
  select eval_id, unnest(sh) s from (
    select doc_id eval_id, list_distinct({sh}) sh
    from documents where doc_id % 97 = 0
  )
),
tr as (
  select doc_id, nt, unnest(sh) s from (
    select doc_id, list_distinct({sh}) sh, len(list_distinct({sh})) nt
    from documents where doc_id % 97 != 0
  )
)
select doc_id, eval_id, count(*)::BIGINT n_overlap,
       round(count(*)::DOUBLE / any_value(nt)::DOUBLE, 6) contamination
from tr join ev using (s)
group by doc_id, eval_id
order by doc_id, eval_id
"""


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only near-dup ingestion: the new batch (doc_id >= 250)
    probes the ingested corpus's MinHash band index for candidates,
    exact-verifies, and reports each flagged doc's best match - O(batch)
    work per ingest, never a corpus re-pair."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_incremental(d, split_id=250, threshold=0.7)


def q_dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-key incremental dedup through a broadcast Bloom filter,
    keyed on the winnowing content fingerprint: the ingested corpus
    (doc_id < 250) publishes a fixed-size bitmap; the new batch filters
    itself MAP-SIDE (the clean majority never shuffles) and only Bloom
    survivors reach the exact verify join, which removes every false
    positive - result identical to the full key join at a fraction of
    its shuffle. The standard guard in front of the (costlier) MinHash
    ingest path."""
    d = load(spark, sf_dir, "documents")
    return dedup.bloom_dedup_incremental(d, text.fingerprint_expr(), split_id=250)


def q_dedup_bloom_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sharded-index twin of ``dedup_bloom_incremental``: the corpus
    keyspace is hash-range partitioned over 4 independent Bloom filters
    (shard = high hash bits, bit positions = low bits), the batch
    cogroups with its shard's bitmap, survivors exact-verify. Identical
    output to the single-bitmap path — same oracle — but the index is
    DISTRIBUTED (no node holds more than one shard), which is the only
    shape that works past ~860M corpus keys where one bitmap outgrows a
    broadcast."""
    d = load(spark, sf_dir, "documents")
    return dedup.bloom_dedup_incremental(
        d, text.fingerprint_expr(), split_id=250, num_shards=4
    )


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end 'keep the best copy': MinHash-LSH candidates → exact
    verify → converged components → per-cluster argmax-quality
    representative. The argmax is a map-combinable max-struct
    aggregate, not a window sort, so giant clusters never serialize
    through one reducer."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    labels = dedup.connected_components_converged(pairs)
    scored = d.select("doc_id", text.quality_score("text").alias("quality"))
    return dedup.canonical_docs(labels, scored)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style paragraph-level dedup: drop exact-duplicate
    20-token segments corpus-wide (first occurrence survives) and
    reassemble each document. Shuffles digests, not text; the
    first-occurrence pass is a map-combined aggregate, so boilerplate
    repeated a billion times never serializes through one reducer."""
    d = load(spark, sf_dir, "documents")
    return dedup.segment_dedup(d, block_tokens=20)


def q_near_dup_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pair counts and mean
    similarity per unordered (source, source) cell — the provenance
    report that shows WHICH feeds copy from each other (mirror sites,
    syndication) vs merely self-duplicate. Pairs come from the standard
    MinHash-LSH + exact-verify path; the doc→source lookup joins
    broadcast-small against the (tiny by construction) pair set; the
    mean similarity sums exact micro-units of the round-6 jaccard, so
    the cell values are partitioning-independent."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    src = d.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.round(F.col("jaccard") * 1e6, 0).cast("long").alias("jm"),
        )
    )
    return j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("jm").cast("double") / 1e6 / F.count(F.lit(1)), 6
        ).alias("mean_jaccard"),
    )


Q_NEAR_DUP_SOURCES_SQL = """
with p as ({pairs})
select least(a.source, b.source) source_a,
       greatest(a.source, b.source) source_b,
       count(*)::BIGINT n_pairs,
       round(sum(round(p.jaccard * 1e6, 0)::BIGINT)::DOUBLE / 1e6 / count(*), 6)
         mean_jaccard
from p
join documents a on a.doc_id = p.doc_a
join documents b on b.doc_id = p.doc_b
group by 1, 2 order by 1, 2
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup health report:
    (cluster_size → how many clusters), from the converged components
    labeling. A heavy tail here means boilerplate families the
    near-dup threshold is merging; a spike at 2 means mostly true
    pairs. Two map-combined aggregates on top of the components
    fixpoint; nothing new shuffles at data scale."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    labels = dedup.connected_components_converged(pairs)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(F.col("cluster_size").cast("bigint").alias("cluster_size"), "n_clusters")
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs (quote/wrapper detection):
    C(A→B) = |S_A∩S_B|/|S_A| ≥ 0.5, both directions. Gate form runs the
    lossless index (max_shingle_df=None) so it matches the brute-force
    oracle; the pipeline default caps hot shingles."""
    d = load(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, threshold=0.5, max_shingle_df=None)


def q_paragraph_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-only paragraph dedup: new docs drop segments already in
    the stored corpus and reassemble — the incremental ingestion shape
    (corpus reduces to a stored digest table; the streaming twin
    Bloom-prefilters against the same digests)."""
    d = load(spark, sf_dir, "documents")
    return dedup.segment_dedup_incremental(d, split_id=250, block_tokens=20)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: IVF-cluster the embeddings
    (shared quantizer), drop any vector >= 0.4 cosine to a lower-id
    cluster-mate, audit via (vec_id, is_kept, dup_of). The standard
    embedding-level companion to the text near-dup passes."""
    e = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        e, threshold=0.4, centroids=ivf_quantizer(spark, sf_dir)
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. exact-substring
    dedup, n-gram core): token positions covered by a 5-gram occurring
    in >= 2 distinct docs merge into maximal spans — what you cut from
    training text. One explode + one gram-keyed DF agg + a per-doc
    island window; the hot-gram table broadcasts."""
    d = load(spark, sf_dir, "documents")
    return dedup.duplicate_spans(d, ngram=5, min_df=2)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a NEW batch (doc_id >= 250) deduplicates
    against the already-ingested corpus (doc_id < 250) by normalized
    text — a broadcast/shuffle ANTI-join on the dedup key, the shape an
    append-only ingestion pipeline runs every batch (never re-dedups
    the whole corpus; at scale the seen-keys side is a bucketed table
    keyed by the same hash). Also drops in-batch repeats (keep lowest
    id)."""
    d = load(spark, sf_dir, "documents")
    key = text.normalize_text("text")
    new = d.where(F.col("doc_id") >= 250).select("doc_id", key.alias("k"))
    seen = d.where(F.col("doc_id") < 250).select(key.alias("k")).distinct()
    w = Window.partitionBy("k").orderBy("doc_id")
    return (
        new.join(seen, "k", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )


Q_DEDUP_INCREMENTAL_SQL = """
with kd as (select doc_id, {norm} k from documents),
new as (select * from kd where doc_id >= 250),
seen as (select distinct k from kd where doc_id < 250),
unseen as (
  select n.doc_id, n.k from new n where not exists
    (select 1 from seen s where s.k = n.k)
)
select doc_id from (
  select doc_id, row_number() over (partition by k order by doc_id) rn from unseen
) where rn = 1
"""


def q_near_dup_text_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dup pairs joined back to document metadata — the pair set
    (small by construction) joins the doc table twice; AQE picks the
    broadcast side at runtime, so the same plan works when docs are
    100 TB and pairs are thousands."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    meta = d.select("doc_id", F.length("text").cast("bigint").alias("n_chars"))
    return (
        pairs.join(
            meta.select(
                F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("chars_a")
            ),
            "doc_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("chars_b")
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "jaccard", "chars_a", "chars_b")
    )


Q_NEAR_DUP_TEXT_JOIN_SQL = """
select p.doc_a, p.doc_b, p.jaccard,
       length(a.text)::BIGINT chars_a, length(b.text)::BIGINT chars_b
from ({pairs}) p
join documents a on a.doc_id = p.doc_a
join documents b on b.doc_id = p.doc_b
"""


def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph: per connected
    triple-of-mutual-near-dups, one row (a < b < c) — the transitivity
    audit for a dedup pipeline (near-dup similarity is not transitive;
    a triangle-poor pair graph means chains, and cluster labels will
    over-merge under pointer jumping, while a triangle-rich one means
    tight cliques where keep-lowest-id is safe).

    The classic ordered-edge join: edges oriented low→high, triangles =
    (a,b)⋈(b,c)⋈(a,c) — two equi-joins over the (small) pair list, no
    cartesian anywhere. Pairs come from the exact Jaccard join
    (lossless), so the oracle replays everything."""
    d = load(spark, sf_dir, "documents")
    # the edge list feeds all three legs of the triangle join — persist
    # once instead of re-running the similarity join per leg
    pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
    )
    return (
        pairs.alias("e1")
        .join(pairs.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            pairs.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
        .orderBy("a", "b", "c")
    )


def _dup_triangles_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    return """
with pr as materialized (
{pairs}
),
e as (select doc_a a, doc_b b from pr)
select e1.a a, e1.b b, e2.b c
from e e1
join e e2 on e2.a = e1.b
join e e3 on e3.a = e1.a and e3.b = e2.b
order by e1.a, e1.b, e2.b
""".format(pairs=pairs.strip().rstrip(";"))


def q_label_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-boundary audit: for each query vector (vec_id < 20), its
    nearest neighbor in a DIFFERENT label class vs its nearest
    same-label neighbor — ``is_boundary=1`` when the cross-label
    neighbor is at least as close, the classic mislabeled-or-ambiguous
    flag for curated classification data.

    Scale shape: the bounded query slice joins the corpus as a
    broadcast (|Q|·n rows, |Q| fixed), cosines run in codegen
    (zip_with/aggregate fold — no UDF), and each query reduces through
    ONE map-combined max-struct per side (no window over the corpus).
    The argmax is deterministic: round-6 cosine, ties to the lower
    neighbor id via the negated-id struct field."""
    e = load(spark, sf_dir, "embeddings")
    nrm = e.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
        similarity._norm_expr("embedding").alias("nn"),
    )
    q = nrm.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nn").alias("qn"),
    )
    joined = nrm.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(dot / (F.col("qn") * F.col("nn")), 6)
    scored = joined.select(
        "query_id",
        "qlabel",
        "label",
        "vec_id",
        cos.alias("cos"),
    )
    best = scored.groupBy("query_id", "qlabel").agg(
        F.max(
            F.when(
                F.col("label") != F.col("qlabel"),
                F.struct(F.col("cos"), (-F.col("vec_id")).alias("negid")),
            )
        ).alias("_x"),
        F.max(
            F.when(
                F.col("label") == F.col("qlabel"),
                F.struct(F.col("cos"), (-F.col("vec_id")).alias("negid")),
            )
        ).alias("_s"),
    )
    return best.select(
        "query_id",
        F.col("qlabel").alias("label"),
        (-F.col("_x.negid")).cast("bigint").alias("nn_other"),
        F.col("_x.cos").alias("cos_other"),
        F.col("_s.cos").alias("cos_same"),
        (F.col("_x.cos") >= F.col("_s.cos")).cast("int").alias("is_boundary"),
    ).orderBy("query_id")


Q_LABEL_BRIDGES_SQL = """
with e as (
  select vec_id, label, [x::DOUBLE for x in embedding] v,
         sqrt(list_dot_product([x::DOUBLE for x in embedding],
                               [x::DOUBLE for x in embedding])) nn
  from embeddings
),
q as (select vec_id query_id, label qlabel, v qv, nn qn from e
      where vec_id < 20),
scored as (
  select q.query_id, q.qlabel, e.label, e.vec_id,
         round(list_dot_product(q.qv, e.v) / (q.qn * e.nn), 6) cos
  from q join e on e.vec_id != q.query_id
),
best as (
  select query_id, qlabel,
         max(case when label != qlabel
                  then struct_pack(cos := cos, negid := -vec_id) end) x,
         max(case when label = qlabel
                  then struct_pack(cos := cos, negid := -vec_id) end) s
  from scored group by query_id, qlabel
)
select query_id, qlabel as "label",
       (-(x.negid))::BIGINT nn_other, x.cos cos_other, s.cos cos_same,
       (x.cos >= s.cos)::INT is_boundary
from best order by query_id
"""


_PAGERANK_ITERS = 6


def q_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate graph (6 power iterations,
    damping 0.85): the centrality ranking of "template" documents — a
    high-PR node is near-duplicated by many already-duplicated
    neighbors, i.e. the boilerplate source the cleanup should target
    first.

    All arithmetic is INTEGER nano-units with a deterministic
    per-edge quantization (floor(0.85 · pr div deg)), so the sum over
    in-neighbors is exact and order-independent — both engines land on
    identical longs every iteration (float PR would ulp-drift apart
    under different add orders and compound across iterations). Each
    superstep is one edge join + one map-combined sum, the same scale
    shape as the CC operators; lineage is truncated per step."""
    d = load(spark, sf_dir, "documents")
    pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
    )
    edges = _tracked_persist(
        pairs.unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    deg = _tracked_persist(
        edges.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    pr = deg.select("a", F.lit(10**9).cast("long").alias("pr"), "deg")
    base = int(round(0.15 * 1e9))
    # MEASURED KEEP on the per-iteration localCheckpoint: removing it
    # (one unrolled 6-level DAG, single action) was tried r13 and was
    # FLAT-to-worse (5.0-5.9 s vs 4.6 s — an 86-stage mega-plan pays
    # more AQE re-planning than the per-superstep actions pay in job
    # launches). deg IS persisted now: the checkpointed supersteps
    # each re-aggregated it from the edges cache (5 redundant aggs).
    for _ in range(_PAGERANK_ITERS):
        contrib = (
            pr.join(edges, "a")
            .select(
                F.col("b").alias("dst"),
                F.floor(F.lit(0.85) * F.expr("pr div deg"))
                .cast("long")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        pr = (
            deg.join(
                contrib, deg.a == contrib.dst, "left"
            )
            .select(
                "a",
                (F.lit(base) + F.coalesce(F.col("in_sum"), F.lit(0)))
                .cast("long")
                .alias("pr"),
                "deg",
            )
            .localCheckpoint(eager=False)
        )
    return pr.select(
        F.col("a").alias("doc_id"), "pr", "deg"
    ).orderBy(F.col("pr").desc(), "doc_id")


def _dup_pagerank_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    base = int(round(0.15 * 1e9))
    sql = """
with pr_pairs as materialized (
{pairs}
),
e as materialized (
  select doc_a a, doc_b b from pr_pairs
  union all
  select doc_b a, doc_a b from pr_pairs
),
deg as materialized (select a, count(*)::BIGINT deg from e group by a),
p0 as materialized (select a, 1000000000::BIGINT pr, deg from deg)
""".format(pairs=pairs.strip().rstrip(";"))
    prev = "p0"
    for i in range(1, _PAGERANK_ITERS + 1):
        sql += """,
c{i} as materialized (
  select e.b dst, sum(floor(0.85 * (p.pr // p.deg))::BIGINT) in_sum
  from {prev} p join e on e.a = p.a
  group by e.b
),
p{i} as materialized (
  select deg.a, ({base} + coalesce(c{i}.in_sum, 0))::BIGINT pr, deg.deg
  from deg left join c{i} on c{i}.dst = deg.a
)""".format(i=i, prev=prev, base=base)
        prev = "p%d" % i
    sql += """
select a doc_id, pr, deg from {last} order by pr desc, doc_id
""".format(last=prev)
    return sql


def q_dup_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution + assortativity curve of the near-duplicate
    graph: one row per degree class with how many docs have that degree
    and the average degree of their neighbors (knn(k) — rising = hubs
    link to hubs, i.e. template farms interlinked; falling = star
    clusters around one canonical page). The shape tells a dedup
    operator whether pointer-jumping clusters will be shallow stars
    (cheap) or deep meshes before running the expensive CC.

    Scale shape: degrees are ONE map-combined count per node; the
    assortativity leg joins the edge list back to the (node, degree)
    table — edge-sized equi-joins, nothing collected, no windows."""
    d = load(spark, sf_dir, "documents")
    pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
    )
    und = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = _tracked_persist(
        und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    )
    per_degree = deg.groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    knn = (
        und.join(deg, "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("nbr_deg")),
            "b",
        )
        .groupBy("deg")
        .agg(F.round(F.avg("nbr_deg"), 6).alias("avg_neighbor_degree"))
    )
    return (
        per_degree.join(knn, "deg")
        .select(
            F.col("deg").alias("degree"),
            "n_nodes",
            "avg_neighbor_degree",
        )
        .orderBy("degree")
    )


def _dup_degree_stats_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    return """
with pr as materialized (
{pairs}
),
e as (select doc_a a, doc_b b from pr
      union all select doc_b, doc_a from pr),
deg as materialized (select a, count(*) deg from e group by a),
per_degree as (select deg, count(*) n_nodes from deg group by deg),
knn as (
  select da.deg, round(avg(db.deg), 6) avg_neighbor_degree
  from e join deg da on da.a = e.a join deg db on db.a = e.b
  group by da.deg
)
select per_degree.deg degree, n_nodes, avg_neighbor_degree
from per_degree join knn on knn.deg = per_degree.deg
order by degree
""".format(pairs=pairs.strip().rstrip(";"))


def q_dup_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural link prediction for dedup recall: for every doc pair
    sharing at least one near-dup neighbor, the Jaccard of their
    neighborhoods — a high-overlap pair with ``is_edge = 0`` is a
    duplicate the similarity join MISSED (both docs match the same
    third documents but not each other, the classic boilerplate-
    prefix/suffix failure mode), ranked for human or second-pass
    review.

    Scale shape: the wedge join (edges ⋈ edges on the shared midpoint)
    is the one superlinear step — its size is Σ deg(v)², bounded on a
    near-dup graph by the max duplicate-cluster size, and hub midpoints
    can be capped by degree before the join if a corpus ever grows one
    (the deg table is already materialized here). Everything after is
    edge-sized equi-joins + one map-combined count; no windows, no
    collects."""
    d = load(spark, sf_dir, "documents")
    pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
    )
    und = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        und.alias("e1")
        .join(und.alias("e2"), F.col("e1.b") == F.col("e2.b"))
        .where(F.col("e1.a") < F.col("e2.a"))
        .groupBy(F.col("e1.a").alias("a"), F.col("e2.a").alias("c"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        wedges.join(deg, "a")
        .join(
            deg.select(F.col("a").alias("c"), F.col("deg").alias("deg_c")),
            "c",
        )
        .join(
            pairs.select("a", F.col("b").alias("c"), F.lit(1).alias("_e")),
            ["a", "c"],
            "left",
        )
    )
    return scored.select(
        F.col("a").alias("doc_a"),
        F.col("c").alias("doc_b"),
        F.col("common").alias("common_neighbors"),
        F.round(
            F.col("common")
            / (F.col("deg") + F.col("deg_c") - F.col("common")),
            6,
        ).alias("neighbor_jaccard"),
        F.coalesce(F.col("_e"), F.lit(0)).cast("int").alias("is_edge"),
    ).orderBy("doc_a", "doc_b")


def _dup_neighbor_jaccard_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    return """
with pr as materialized (
{pairs}
),
e as materialized (select doc_a a, doc_b b from pr
                   union all select doc_b, doc_a from pr),
deg as materialized (select a, count(*) deg from e group by a),
w as (
  select e1.a a, e2.a c, count(*) common
  from e e1 join e e2 on e1.b = e2.b and e1.a < e2.a
  group by 1, 2
)
select w.a doc_a, w.c doc_b, w.common common_neighbors,
       round(w.common::DOUBLE
             / (da.deg + dc.deg - w.common)::DOUBLE, 6) neighbor_jaccard,
       (case when pr.doc_a is null then 0 else 1 end)::INT is_edge
from w
join deg da on da.a = w.a
join deg dc on dc.a = w.c
left join pr on pr.doc_a = w.a and pr.doc_b = w.c
order by doc_a, doc_b
""".format(pairs=pairs.strip().rstrip(";"))


def q_dup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership of the near-duplicate graph: the docs that
    survive iterated peeling of degree-<2 nodes, with their degree
    inside the core — the per-node companion to ``q_dup_triangles``
    (core members sit in cyclic/clique-like duplicate clusters where
    collapse-to-canonical is safe; peeled docs hang off chains where
    transitive merging over-merges). See ``dedup.kcore_edges`` for the
    peel's convergence + lineage-cut discipline."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None)
    core = dedup.kcore_edges(pairs, k=2)
    return (
        core.groupBy("a")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("a").alias("doc_id"), "core_degree")
        .orderBy("doc_id")
    )


def _dup_kcore_duck() -> str:
    peeled = dedup.kcore_duck(dedup.jaccard_pairs_duck(threshold=0.7), k=2)
    return """
with core as materialized (
{peeled}
)
select a doc_id, count(*) core_degree from core group by a order by doc_id
""".format(peeled=peeled.strip())


def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-substring near-dup pairs via MOSS winnowing
    (``dedup.winnow_pairs``): the detector that fires on SHARED
    PASSAGES — any >= k+w-1 = 23-char substring match guarantees a
    shared fingerprint — where shingle-Jaccard only sees whole-document
    similarity. The overlap score is containment-style (shared over the
    smaller fingerprint set), so a paragraph quoted inside a much
    longer page still surfaces.

    Scale: per-doc fingerprinting is pure codegen (array lambdas, no
    UDF); only 60-bit hash ints shuffle; df-capped self-join kills
    stop-fingerprint blowup. See the operator docstrings."""
    d = load(spark, sf_dir, "documents")
    return dedup.winnow_pairs(
        d, k=16, w=8, max_fp_df=8, min_shared=5
    ).orderBy("doc_a", "doc_b")


def _winnow_dedup_duck() -> str:
    return (
        dedup.winnow_pairs_duck(k=16, w=8, max_fp_df=8, min_shared=5)
        + "\norder by doc_a, doc_b"
    )


def q_dedup_components_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental duplicate-cluster maintenance: the stored labeling
    (converged CC over the OLD corpus's near-dup pairs, doc_id < 250)
    absorbs a new batch's edges (any pair touching a doc_id >= 250)
    by running converged CC on the CONTRACTED graph — old components
    become super-nodes, so the superstep work is O(new edges), never a
    corpus re-cluster. The oracle is the full recompute over all pairs
    (recursive-CTE fixpoint): contraction provably preserves
    connectivity, so they must agree row-for-row."""
    d = load(spark, sf_dir, "documents")
    all_pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            "doc_a", "doc_b"
        )
    )
    old_pairs = all_pairs.where(
        (F.col("doc_a") < 250) & (F.col("doc_b") < 250)
    )
    new_pairs = all_pairs.where(
        (F.col("doc_a") >= 250) | (F.col("doc_b") >= 250)
    )
    stored = dedup.connected_components_converged(old_pairs)
    return dedup.components_incremental(stored, new_pairs).orderBy("doc_id")


def _dedup_components_inc_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    fix = dedup.components_fixpoint_duck(
        "select doc_a, doc_b from all_pairs"
    ).strip()
    assert fix.startswith("with recursive")
    body = fix[len("with recursive"):]
    return """
with recursive all_pairs as materialized (
{pairs}
),
{body}
order by doc_id
""".format(pairs=pairs.strip().rstrip(";"), body=body.lstrip())


def q_minhash_recall(
    spark: SparkSession,
    sf_dir: str,
    sample_pct: Optional[int] = None,
) -> DataFrame:
    """LSH quality monitor — the text-dedup counterpart of
    ``ann_recall``: the MinHash-LSH pair set measured against the
    exact prefix-filtered Jaccard join (ground truth) — one row of
    (n_exact, n_lsh, n_hit, recall, precision). The check a dedup
    deployment runs after retuning bands/rows, value-gated because
    both sides and the join replay in the oracle.

    Scale contract: the exact Jaccard join is BY DEFINITION the
    expensive side (it is the cost the LSH dedup exists to avoid), so
    at corpus scale the retune check must run on a sample or it costs
    more than the dedup it guards. ``sample_pct=p`` keeps the
    hash-stable p% slice of documents (md5-bucketed — the SAME docs
    every run and in both engines, so the sampled monitor is itself
    oracle-checkable) and measures recall/precision within that slice;
    recall is a per-pair Bernoulli property, so the slice estimate is
    unbiased. Default ``None`` keeps the full exact gate.

    (At the registry's 32×2 banding a 0.7-pair misses with p < 5e-10,
    so recall is expected to be exactly 1.0 — the monitor exists to
    catch a BAD retune, and the oracle proves the monitor itself.)"""
    d = load(spark, sf_dir, "documents")
    if sample_pct is not None:
        d = d.where(text.stable_sample_pct("doc_id") < sample_pct)
    # both pair sets feed TWO consumers each (the hit join + their own
    # count) — persist so neither similarity join runs twice
    exact = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            "doc_a", "doc_b"
        )
    )
    lsh = _tracked_persist(
        dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64).select(
            "doc_a", "doc_b"
        )
    )
    hits = exact.join(lsh, ["doc_a", "doc_b"])
    ne = exact.agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
    nl = lsh.agg(F.count(F.lit(1)).cast("double").alias("n_lsh"))
    nh = hits.agg(F.count(F.lit(1)).cast("double").alias("n_hit"))
    return (
        ne.crossJoin(nl)
        .crossJoin(nh)
        .select(
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_lsh").cast("bigint").alias("n_lsh"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.when(F.col("n_exact") <= 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hit") / F.col("n_exact"), 6))
            .alias("recall"),
            F.when(F.col("n_lsh") <= 0, F.lit(1.0))
            .otherwise(F.round(F.col("n_hit") / F.col("n_lsh"), 6))
            .alias("precision"),
        )
    )


def _minhash_recall_duck() -> str:
    # the oracle encodes the banding theorem: at 32×2 bands the LSH
    # pair set EQUALS the exact join (miss p < 5e-10), so both CTEs are
    # the exact pairs — if a retune ever lost a pair, the Spark side's
    # recall would drop below this oracle's 1.0 and the gate would
    # catch it (same approach as the dedup_minhash oracle itself)
    exact = dedup.jaccard_pairs_duck(threshold=0.7).strip().rstrip(";")
    return """
with exact as materialized (
{exact}
),
lsh as (select doc_a, doc_b from exact),
hits as (
  select e.doc_a, e.doc_b from exact e join lsh l
    on e.doc_a = l.doc_a and e.doc_b = l.doc_b
),
c as (
  select (select count(*) from exact)::DOUBLE ne,
         (select count(*) from lsh)::DOUBLE nl,
         (select count(*) from hits)::DOUBLE nh
)
select ne::BIGINT n_exact, nl::BIGINT n_lsh, nh::BIGINT n_hit,
       case when ne <= 0 then 1.0 else round(nh / ne, 6) end recall,
       case when nl <= 0 then 1.0 else round(nh / nl, 6) end "precision"
from c
""".format(exact=exact)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision over the near-dup graph: a 10% md5-stable seed
    slice keeps its trusted lang label, and two SYNCHRONIZED label-
    propagation rounds push labels to unlabeled neighbors (majority
    vote among labeled neighbors; ties break to the smallest label —
    integer votes + a min-struct argmax, so every round is
    deterministic and engine-exact). The snowball-labeling pattern for
    bootstrapping classifier training sets from a small audited seed.

    Output: (doc_id, label, origin) for every labeled doc, origin in
    seed/round1/round2. Scale: per round, one edge⋈labels join + one
    (doc, label) vote aggregate + one argmax aggregate — no windows;
    the rounds unroll as CTEs in the oracle (the PageRank discipline).
    """
    d = load(spark, sf_dir, "documents")
    pairs = _tracked_persist(
        dedup.minhash_lsh_pairs(d, threshold=0.7).select("doc_a", "doc_b")
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    seeds = d.where(text.stable_sample_pct("doc_id") < 10).select(
        "doc_id", F.col("lang").alias("label"), F.lit("seed").alias("origin")
    )

    def one_round(labeled: DataFrame, tag: str) -> DataFrame:
        votes = (
            edges.join(
                labeled.select(
                    F.col("doc_id").alias("doc_b"), "label"
                ),
                "doc_b",
            )
            .join(labeled.select("doc_id"), F.col("doc_a") == F.col("doc_id"), "left_anti")
            .groupBy(F.col("doc_a").alias("doc_id"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        best = (
            votes.groupBy("doc_id")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias("b")
            )
            .select("doc_id", F.col("b.label").alias("label"), F.lit(tag).alias("origin"))
        )
        return best

    r1 = _tracked_persist(seeds.unionByName(one_round(seeds, "round1")))
    r2 = r1.unionByName(one_round(r1, "round2"))
    return r2.orderBy("doc_id")


def q_dedup_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline observability: the per-stage survivor funnel —
    raw → byte-exact dedup → normalized dedup → MinHash near-dup
    (cluster representatives only) — as one report with exact counts
    and removal in basis points. The dashboard number a curation run
    publishes so a collapsed stage (suddenly 40% near-dup removal)
    pages a human before the corpus ships.

    Each stage is the engine's own operator shape (digest aggregates,
    min-struct representatives, LSH pairs → converged components); the
    funnel is monotone by construction. Removal is integer bps —
    10000 * removed div previous-stage — engine-exact."""
    d = _tracked_persist(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # header: the raw count MATERIALIZES the shared cache (the LSH
    # chain below re-reads d several times), then the two distinct
    # counts run as one Expand aggregate over the CACHED rows — the
    # documents parquet is read exactly once for all four stages
    n_raw = d.count()
    hdr = d.agg(
        F.count_distinct(F.md5("text")).alias("n_exact"),
        F.count_distinct(text.normalize_text("text")).alias("n_norm"),
    ).collect()[0]
    n_exact, n_norm = int(hdr["n_exact"]), int(hdr["n_norm"])
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7).select("doc_a", "doc_b")
    comp = dedup.connected_components_converged(pairs)
    # near-dup stage keeps one representative per cluster: survivors =
    # normalized-unique docs minus non-representative cluster members
    # that survived normalization. Compute it exactly: representatives
    # of norm-unique docs.
    norm_rep = d.groupBy(text.normalize_text("text").alias("_nk")).agg(
        F.min("doc_id").alias("doc_id")
    )
    n_near = (
        norm_rep.join(
            comp.where(F.col("doc_id") != F.col("component")),
            "doc_id",
            "left_anti",
        ).count()
    )
    rows = []
    prev = None
    for stage, n in (
        ("0_raw", n_raw),
        ("1_exact", n_exact),
        ("2_normalized", n_norm),
        ("3_near_dup", n_near),
    ):
        removed_bps = 0 if prev in (None, 0) else (10000 * (prev - n)) // prev
        rows.append((stage, n, int(removed_bps)))
        prev = n
    return _local_df(
        spark, rows, "stage string, n_docs long, removed_bps long"
    ).orderBy("stage")


def _dedup_funnel_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7).strip().rstrip(";")
    fix = dedup.components_fixpoint_duck(pairs).strip()
    norm = text.normalize_text_duck("text")
    return """
with comp as materialized (
{fix}
),
s0 as (select count(*) n from documents),
s1 as (select count(distinct md5(text)) n from documents),
s2 as (select count(distinct {norm}) n from documents),
rep as (
  select min(doc_id) doc_id from documents group by {norm}
),
s3 as (
  select count(*) n from rep
  where doc_id not in (
    select doc_id from comp where doc_id <> component
  )
),
f as (
  select '0_raw' stage, (select n from s0) n_docs, null prev
  union all
  select '1_exact', (select n from s1), (select n from s0)
  union all
  select '2_normalized', (select n from s2), (select n from s1)
  union all
  select '3_near_dup', (select n from s3), (select n from s2)
)
select stage, n_docs::BIGINT n_docs,
       coalesce((10000 * (prev - n_docs)) // prev, 0)::BIGINT removed_bps
from f order by stage
""".format(fix=fix, norm=norm)


def q_simhash_distance_curve(
    spark: SparkSession, sf_dir: str, max_hamming: int = 6
) -> DataFrame:
    """SimHash radius-planning curve: pair counts by exact Hamming
    distance up to 6 bits, with the ascending cumulative "pairs merged
    at radius <= h" — the tuning dial for ``dedup_simhash``'s radius
    (the knee where counts explode is where near-dup ends and topical
    similarity begins). Widening the pigeonhole banding to
    ``max_hamming + 1`` bands keeps the candidate join EXACT at the
    larger radius, so the histogram is complete, not sampled.

    Same pinned shapes as ``dedup_simhash``: signature build is one
    map-combined bit-vote aggregate, candidates come from band-bucket
    equi-joins, verification is codegen bit_count(xor); the cumulative
    runs over the <= 7-row distance grid."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.simhash_pairs(d, max_hamming=max_hamming)
    h = pairs.groupBy(F.col("hamming")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    wz = Window.orderBy("hamming").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        h.select(
            F.col("hamming").cast("bigint").alias("hamming"),
            "n_pairs",
            F.sum("n_pairs").over(wz).cast("bigint").alias("n_pairs_le"),
        )
        .orderBy("hamming")
    )


def _simhash_distance_curve_duck(max_hamming: int = 6) -> str:
    pairs = dedup.simhash_pairs_duck(max_hamming=max_hamming)
    return """
with pr as materialized (
{pairs}
),
h as (select hamming, count(*)::BIGINT n_pairs from pr group by 1)
select hamming, n_pairs,
       sum(n_pairs) over (order by hamming
                          rows between unbounded preceding
                          and current row)::BIGINT n_pairs_le
from h order by hamming
""".format(pairs=pairs.strip().rstrip(";"))


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-merge audit of duplicate clusters: per cluster-size class,
    how many converged near-dup components mix more than one language
    or more than one source — the red flag that transitive closure is
    chaining UNRELATED documents together (true near-dups almost never
    cross language; template families often cross sources). Reads as a
    companion to ``dedup_cluster_sizes``: same labeling, plus the
    purity dimension that tells you whether the big clusters are safe.

    Scale: the components fixpoint (pinned shape, shared with the
    cluster-size report so one build serves both in a sweep), one
    doc-keyed join to metadata, two map-combined aggregates."""
    full = load(spark, sf_dir, "documents")
    d = full.select("doc_id", "lang", "source")
    pairs = dedup.minhash_lsh_pairs(full, threshold=0.7, num_hashes=64)
    labels = dedup.connected_components_converged(pairs)
    per = (
        labels.join(d, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    return (
        per.groupBy(F.col("n_docs").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum((F.col("n_langs") > 1).cast("int"))
            .cast("bigint")
            .alias("n_mixed_lang"),
            F.sum((F.col("n_sources") > 1).cast("int"))
            .cast("bigint")
            .alias("n_mixed_source"),
        )
        .orderBy("cluster_size")
    )


def _cluster_purity_duck() -> str:
    fix = dedup.components_fixpoint_duck(
        dedup.jaccard_pairs_duck(threshold=0.7)
    )
    return """
with labels as (select * from ({fix}) f),
per as (
  select component, count(*) n_docs,
         count(distinct d.lang) n_langs,
         count(distinct d.source) n_sources
  from labels join documents d using (doc_id)
  group by component
)
select n_docs::BIGINT cluster_size, count(*)::BIGINT n_clusters,
       sum((n_langs > 1)::INT)::BIGINT n_mixed_lang,
       sum((n_sources > 1)::INT)::BIGINT n_mixed_source
from per group by n_docs order by cluster_size
""".format(fix=fix)


def q_dedup_threshold_curve(
    spark: SparkSession, sf_dir: str, floor_threshold: float = 0.5
) -> DataFrame:
    """Similarity-threshold planning curve: run the EXACT Jaccard join
    once at a low floor (0.5) and histogram the surviving pairs by
    similarity tenth, with the descending cumulative "pairs you would
    merge at >= t" count — the dial a dedup operator reads BEFORE
    committing to a threshold (a cliff between 0.7 and 0.8 means the
    corpus has a natural near-dup band; a flat curve means the
    threshold is arbitrary and canonical-selection policy matters
    more).

    One prefix-filtered similarity join (the engine's pinned PPJoin
    shape) feeds a <= 10-row grid; the cumulative runs on that grid.
    Bucketing applies the identical float expression in both engines,
    so boundary ulps land identically."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        d, threshold=floor_threshold, max_shingle_df=None
    )
    h = pairs.groupBy(
        F.expr("cast(floor(jaccard * 10 + 1e-9) as int)").alias("tenth")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    wz = Window.orderBy(F.col("tenth").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        h.select(
            "tenth",
            "n_pairs",
            F.sum("n_pairs").over(wz).cast("bigint").alias("n_pairs_ge"),
        )
        .orderBy("tenth")
    )


def _dedup_threshold_curve_duck(floor_threshold: float = 0.5) -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=floor_threshold)
    return """
with pr as materialized (
{pairs}
),
h as (
  select floor(jaccard * 10 + 1e-9)::INT tenth, count(*)::BIGINT n_pairs
  from pr group by 1
)
select tenth, n_pairs,
       sum(n_pairs) over (order by tenth desc
                          rows between unbounded preceding
                          and current row)::BIGINT n_pairs_ge
from h order by tenth
""".format(pairs=pairs.strip().rstrip(";"))


_CURVE_SAMPLE_PRED = "(doc_id * 2654435761) % 100 < 25"
_CURVE_SAMPLE_SCALE = 16  # 1 / 0.25^2 — both endpoints must survive


def q_dedup_threshold_curve_sampled(
    spark: SparkSession, sf_dir: str, floor_threshold: float = 0.5
) -> DataFrame:
    """SAMPLED threshold planning curve (round-13 verdict #4): the
    100 TB posture for :func:`q_dedup_threshold_curve`. The exact
    curve runs a PPJoin at floor 0.5, where prefix filtering prunes
    only ~25% of the inverted-index volume — at corpus scale the
    DIAGNOSTIC would cost more than the dedup run it plans. This twin
    runs the identical join over a HASH-STABLE 25% document sample
    (Knuth multiplicative hash on doc_id — deterministic, engine-
    portable, no RNG) and reports both the raw sampled counts and the
    ``×16`` pair-rate estimate (both endpoints of a pair must survive
    a 1/4 doc sample, so pair counts scale by the square).

    Read ``n_pairs_est`` for the planning decision (where's the
    cliff?), ``n_pairs`` for the confidence (small cells are noisy —
    the estimate's relative error is ~1/sqrt(n_pairs)). The exact
    variant stays the default at test SFs; at production scale run
    this one first and the exact join only above the chosen floor.

    Scale: the sample predicate pushes to the parquet scan, so the
    whole pipeline — shingling, prefix index, verify — runs on 25% of
    docs and ~6% of candidate pairs."""
    d = load(spark, sf_dir, "documents").where(_CURVE_SAMPLE_PRED)
    pairs = dedup.jaccard_pairs(
        d, threshold=floor_threshold, max_shingle_df=None
    )
    h = pairs.groupBy(
        F.expr("cast(floor(jaccard * 10 + 1e-9) as int)").alias("tenth")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    wz = Window.orderBy(F.col("tenth").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        h.select(
            "tenth",
            "n_pairs",
            F.sum("n_pairs").over(wz).cast("bigint").alias("n_pairs_ge"),
            (F.col("n_pairs") * F.lit(_CURVE_SAMPLE_SCALE))
            .cast("bigint")
            .alias("n_pairs_est"),
        )
        .orderBy("tenth")
    )


def _dedup_threshold_curve_sampled_duck(
    floor_threshold: float = 0.5,
) -> str:
    pairs = dedup.jaccard_pairs_duck(
        threshold=floor_threshold,
        source="(select * from documents where %s)"
        % _CURVE_SAMPLE_PRED,
    )
    return """
with pr as materialized (
{pairs}
),
h as (
  select floor(jaccard * 10 + 1e-9)::INT tenth, count(*)::BIGINT n_pairs
  from pr group by 1
)
select tenth, n_pairs,
       sum(n_pairs) over (order by tenth desc
                          rows between unbounded preceding
                          and current row)::BIGINT n_pairs_ge,
       (n_pairs * {scale})::BIGINT n_pairs_est
from h order by tenth
""".format(pairs=pairs.strip().rstrip(";"), scale=_CURVE_SAMPLE_SCALE)


def q_dup_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the near-dup
    graph: 3·triangles / wedges — ONE number answering the question
    the ``dup_triangles`` census asks pair-by-pair: are duplicate
    clusters cliques (safe to collapse; transitivity → 1) or chains
    (pointer-jumping over-merges; transitivity → 0). The go/no-go
    metric a dedup run checks before trusting connected components as
    cluster labels.

    Exact integers end-to-end: triangles from the ordered-edge
    two-join, wedges = Σ deg·(deg−1)/2 in decimal(38,0), transitivity
    in ppm by integer division. Scale: same pinned edge-sized
    equi-joins as the census; the coefficient is 1-row aggregates."""
    dec = "decimal(38,0)"
    d = load(spark, sf_dir, "documents")
    pairs = _tracked_persist(
        dedup.jaccard_pairs(d, threshold=0.7, max_shingle_df=None).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
    )
    tri = (
        pairs.alias("e1")
        .join(pairs.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            pairs.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    und = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    wd = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.expr("cast(deg * (deg - 1) div 2 as %s)" % dec))
            .cast("bigint")
            .alias("n_wedges"),
        )
    )
    ne = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wd.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ne))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").cast("bigint").alias("n_triangles"),
            "n_wedges",
            F.when(F.col("n_wedges") > 0, F.expr(
                "cast((cast(t as decimal(38,0)) * 3000000)"
                " div n_wedges as bigint)"
            )).otherwise(F.lit(0)).alias("transitivity_ppm"),
        )
    )


def _dup_clustering_coeff_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7)
    return """
with pr as materialized (
{pairs}
),
e as (select doc_a a, doc_b b from pr),
tri as (
  select count(*)::BIGINT t
  from e e1
  join e e2 on e2.a = e1.b
  join e e3 on e3.a = e1.a and e3.b = e2.b
),
und as (select a, b from e union all select b, a from e),
wd as (
  select count(*)::BIGINT n_nodes,
         sum((deg::HUGEINT * (deg - 1)) // 2)::BIGINT n_wedges
  from (select a, count(*) deg from und group by a)
),
ne as (select count(*)::BIGINT n_edges from e)
select wd.n_nodes, ne.n_edges, tri.t n_triangles, wd.n_wedges,
       case when wd.n_wedges > 0
            then ((tri.t::HUGEINT * 3000000) // wd.n_wedges)::BIGINT
            else 0 end transitivity_ppm
from wd cross join tri cross join ne
""".format(pairs=pairs.strip().rstrip(";"))


def q_contamination_winnow(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    w: int = 8,
    max_fp_df: int = 8,
) -> DataFrame:
    """Train/eval contamination via winnowed fingerprints — the
    SUBSTRING-matching decontamination check (MOSS winnowing,
    Schleimer et al. SIGMOD'03) that fires on any shared passage of
    >= k+w-1 characters, where the n-gram ``contamination`` query needs
    whole shingles to line up. Eval split = doc_id ≡ 0 (mod 10), the
    engine's hash-split convention. Per contaminated eval doc: its
    fingerprint count, how many fingerprints ALSO appear anywhere in
    train, the contamination rate in basis points, and the single worst
    train-side source (most shared fingerprints, smallest id on ties —
    a min-struct aggregate, never a window).

    Scale: fingerprints are df-capped 60-bit ints (boilerplate prints
    dropped before the join, the ``winnow_pairs`` stop-key guard); the
    eval x train join carries only capped int keys; everything after is
    per-eval-doc aggregates."""
    d = load(spark, sf_dir, "documents")
    # persisted: the df-cap aggregate and the semi-join probe both
    # consume the fingerprints and their exchanges differ after column
    # pruning, so without the persist the md5 position scan runs twice
    fps = _tracked_persist(dedup.winnow_fingerprints(d, k=k, w=w))
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_fp_df)
        .select("fp")
    )
    capped = _tracked_persist(fps.join(rare, "fp", "left_semi"))
    ev = capped.where(F.expr("pmod(doc_id, 10) = 0"))
    tr = capped.where(F.expr("pmod(doc_id, 10) != 0"))
    sizes = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    sh = _tracked_persist(
        ev.alias("e")
        .join(tr.alias("t"), "fp")
        .select(
            F.col("e.doc_id").alias("ed"),
            "fp",
            F.col("t.doc_id").alias("td"),
        )
    )
    ns = sh.groupBy("ed").agg(F.countDistinct("fp").alias("n_shared"))
    pairc = sh.groupBy("ed", "td").agg(F.count(F.lit(1)).alias("c"))
    top = pairc.groupBy("ed").agg(
        F.max(
            F.struct(F.col("c").alias("c"), (-F.col("td")).alias("ntd"))
        ).alias("m")
    )
    return (
        sizes.join(ns, sizes.doc_id == ns.ed)
        .join(top, "ed")
        .select(
            F.col("doc_id").alias("eval_doc"),
            F.col("n_fp").cast("bigint").alias("n_fp"),
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr("(10000 * n_shared) div n_fp")
            .cast("bigint")
            .alias("contam_bps"),
            (-F.col("m.ntd")).cast("bigint").alias("top_train_doc"),
            F.col("m.c").cast("bigint").alias("top_shared"),
        )
        .orderBy("eval_doc")
    )


def _contamination_winnow_duck(
    k: int = 16, w: int = 8, max_fp_df: int = 8
) -> str:
    return """
with {fps},
ev as (select doc_id, fp from fps where doc_id % 10 = 0),
tr as (select doc_id, fp from fps where doc_id % 10 <> 0),
sizes as (select doc_id, count(*) n_fp from ev group by doc_id),
sh as (select e.doc_id ed, e.fp, t.doc_id td from ev e join tr t using (fp)),
ns as (select ed, count(distinct fp) n_shared from sh group by ed),
pairc as (select ed, td, count(*) c from sh group by ed, td),
top as (select ed, max(struct_pack(c := c, ntd := -td)) m from pairc group by ed)
select s.doc_id eval_doc, s.n_fp::BIGINT n_fp, ns.n_shared::BIGINT n_shared,
       ((10000 * ns.n_shared) // s.n_fp)::BIGINT contam_bps,
       (-(top.m.ntd))::BIGINT top_train_doc, (top.m.c)::BIGINT top_shared
from sizes s
join ns on ns.ed = s.doc_id
join top on top.ed = s.doc_id
order by eval_doc
""".format(
        fps=dedup.winnow_fps_duck(k=k, w=w, max_fp_df=max_fp_df)
    )


_LSH_GRID_BANDS = (4, 8, 16, 32)
_LSH_GRID_ROWS = (2, 4, 8)
_LSH_GRID_S_PPM = (500000, 600000, 700000, 800000, 900000)


def _lsh_tuning_sql() -> str:
    """ONE SQL text valid in both engines (Spark SQL and DuckDB) that
    evaluates the LSH S-curve p = 1 - (1 - s^r)^b over the tuning grid
    as explicit MULTIPLICATION CHAINS — pow() is not correctly rounded
    and may differ across libms, but a chain of double multiplies is
    IEEE-deterministic, so both engines produce bit-identical doubles
    and the floor-to-ppm longs match exactly."""
    rows = []
    for b in _LSH_GRID_BANDS:
        for r in _LSH_GRID_ROWS:
            for s_ppm in _LSH_GRID_S_PPM:
                # cast every literal: DuckDB parses a bare float literal
                # as DECIMAL and the multiplication chain overflows its
                # scale; cast-to-double is valid in both dialects
                s = "cast(%.1f as double)" % (s_ppm / 1e6)
                one = "cast(1.0 as double)"
                sr = "*".join([s] * r)            # s^r
                miss = "(%s-(%s))" % (one, sr)    # 1 - s^r
                missb = "*".join([miss] * b)      # (1-s^r)^b
                expr = (
                    "cast(floor(1000000*(cast(1.0 as double)-(%s))) "
                    "as bigint)" % missb
                )
                rows.append(
                    "select %d as n_bands, %d as rows_per_band, "
                    "%d as s_ppm, %s as p_catch_ppm" % (b, r, s_ppm, expr)
                )
    return (
        "select * from (\n"
        + "\nunion all\n".join(rows)
        + "\n) order by n_bands, rows_per_band, s_ppm"
    )


def q_lsh_tuning_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH tuning table: the catch probability
    p = 1 - (1 - s^r)^b for every (bands, rows-per-band) geometry in
    the engine's supported grid at five similarity levels — the design
    table that picks ``minhash_lsh_pairs``'s (b, r) for a target
    threshold (the S-curve midpoint is ≈ (1/b)^(1/r)). Deterministic
    by construction (multiplication chains, no pow); both engines run
    the SAME generated SQL text. Data-free: the grid documents the
    index family itself, not a corpus."""
    return spark.sql(_lsh_tuning_sql())


def q_dup_rate_by_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate rate by document-length band — the dedup-bias
    audit: per 256-char length band, how many docs exist, how many sit
    in at least one ≥0.7-Jaccard near-dup pair, and the rate in basis
    points. Near-dup detection has a length confound (short docs have
    few shingles, boilerplate clusters at specific lengths); a cleanup
    that ignores this table silently skews the corpus's length
    distribution.

    Scale: the pair list is the engine's bucketed ``jaccard_pairs``
    (PPJoin prefix filters — no all-pairs); dup membership is a
    distinct union of its two id columns; the band rollup is one
    grid-sized aggregate over a doc-keyed left join."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(
            F.floor(F.length("text") / F.lit(256)).cast("int"), F.lit(7)
        ).alias("band"),
        "text",
    )
    # persisted: both unionByName branches consume the pair list, and
    # the PPJoin verify (array intersect/union per candidate) would
    # otherwise execute once per branch — ReuseExchange shares only
    # the exchange, not the post-shuffle verify compute
    pairs = _tracked_persist(
        dedup.jaccard_pairs(
            d.select("doc_id", "text"), threshold=0.7, max_shingle_df=None
        )
    )
    dup_ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        d.join(dup_ids, "doc_id", "left")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
        .select(
            "band",
            "n_docs",
            "n_dup_docs",
            F.expr("(10000 * n_dup_docs) div n_docs")
            .cast("bigint")
            .alias("dup_rate_bps"),
        )
        .orderBy("band")
    )


def _dup_rate_by_length_band_duck() -> str:
    pairs = dedup.jaccard_pairs_duck(threshold=0.7).strip().rstrip(";")
    return """
with pr as materialized (
{pairs}
),
dup_ids as (
  select doc_a doc_id from pr union select doc_b doc_id from pr
),
d as (
  select doc_id, least((length(text) // 256), 7)::INT band from documents
),
agg as (
  select band, count(*)::BIGINT n_docs,
         sum(case when dup_ids.doc_id is not null then 1 else 0 end)::BIGINT
           n_dup_docs
  from d left join dup_ids using (doc_id)
  group by band
)
select band, n_docs, n_dup_docs,
       ((10000 * n_dup_docs) // n_docs)::BIGINT dup_rate_bps
from agg order by band
""".format(pairs=pairs)


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup — the training-weight alternative to dropping
    near-duplicates: keep every document, down-weight each to
    1/cluster_size of its near-dup cluster (a cluster of 4 boilerplate
    variants contributes ONE document's worth of gradient in
    expectation; singletons keep weight 1). The per-doc weight table a
    weighted-sampling data loader consumes, plus the exact cluster
    size for audits. Weights in integer ppm (1e6 div size) so both
    engines agree bit-exactly.

    Scale: the pinned LSH→converged-components chain (banded
    candidates, pointer-jumping fixpoint) plus ONE doc-keyed left join
    and a components-sized size aggregate; docs outside every pair
    label themselves (coalesce to own id) — no row explodes."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.7, num_hashes=64)
    labels = dedup.connected_components_converged(pairs)
    lab = (
        d.select("doc_id")
        .join(labels.withColumnRenamed("doc_id", "_ld"),
              F.col("doc_id") == F.col("_ld"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
    )
    sizes = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        lab.join(sizes, "component")
        .select(
            "doc_id",
            "cluster_size",
            F.expr("cast(1000000 div cluster_size as bigint)").alias(
                "weight_ppm"
            ),
        )
        .orderBy("doc_id")
    )


def _soft_dedup_weights_duck() -> str:
    fix = dedup.components_fixpoint_duck(
        dedup.jaccard_pairs_duck(threshold=0.7)
    )
    return """
with labels as (select * from ({fix}) f),
lab as (
  select d.doc_id, coalesce(l.component, d.doc_id) component
  from documents d left join labels l using (doc_id)
),
s as (select component, count(*)::BIGINT csz from lab group by component)
select l.doc_id, s.csz cluster_size,
       (1000000 // s.csz)::BIGINT weight_ppm
from lab l join s using (component)
order by doc_id
""".format(fix=fix)
