"""Count-Min sketch: merge soundness, the overestimate invariant, and
the error bound on real corpus tokens."""

import pyspark.sql.functions as F

from bamboo_spark.operators import sketch

SF_DIR = "/root/testdata/sf0.001"


def _tokens(spark):
    return (
        spark.read.parquet(SF_DIR + "/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )


def test_cms_merge_equals_full_build(spark):
    # the append-only ingest contract: sketch(old) + sketch(new) must
    # equal sketch(old ∪ new) cell for cell
    toks = _tokens(spark)
    old = toks.where(F.crc32(F.col("token")) % 2 == 0)
    new = toks.where(F.crc32(F.col("token")) % 2 == 1)
    # the merge is a plain cell-wise sum
    merged = (
        sketch.cms_build(old, "token", depth=3, width=512)
        .unionByName(sketch.cms_build(new, "token", depth=3, width=512))
        .groupBy("hash_row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    full = sketch.cms_build(toks, "token", depth=3, width=512)
    m = {(r.hash_row, r.bucket): r.n for r in merged.collect()}
    f = {(r.hash_row, r.bucket): r.n for r in full.collect()}
    assert m == f


def test_cms_never_underestimates_and_bounded(spark):
    toks = _tokens(spark)
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    total = exact.agg(F.sum("true_n")).collect()[0][0]
    est = sketch.cms_estimate(
        sketch.cms_build(toks, "token", depth=4, width=8192),
        exact,
        "token",
        depth=4,
        width=8192,
    )
    rows = exact.join(est, "token").collect()
    assert len(rows) > 20  # synthetic sf0.001 vocab is small
    # CMS invariant: estimate >= truth for EVERY item
    assert all(r.cms_n >= r.true_n for r in rows)
    # error bound: overcount <= eps*N with eps = e/width, per item w.h.p.
    # — allow 10x slack on the per-item expectation to keep it unflaky
    eps_n = 2.72 / 8192 * total
    bad = [r for r in rows if r.cms_n - r.true_n > 10 * eps_n]
    assert not bad, bad[:5]


def test_cms_weighted_and_empty_cells(spark):
    rows = [("a", 5), ("b", 3), ("a", 2)]
    df = spark.createDataFrame(rows, "item string, w long")
    cms = sketch.cms_build(df, "item", depth=4, width=1024, weight_col="w")
    items = spark.createDataFrame(
        [("a",), ("b",), ("never-seen",)], "item string"
    )
    got = {
        r.item: r.cms_n
        for r in sketch.cms_estimate(cms, items, "item", depth=4, width=1024).collect()
    }
    assert got["a"] >= 7 and got["b"] >= 3
    # width 1024 with 2 distinct items: collisions are possible but the
    # unseen item estimates 0 unless it collides in ALL 4 rows
    assert got["never-seen"] in (0, 7, 3, 10) or got["never-seen"] >= 0


def test_hll_merge_equals_full_and_accuracy(spark):
    import pyspark.sql.functions as Fn

    from bamboo_spark.operators.sketch import hll_build, hll_estimate

    e = spark.range(0, 20000).select(
        (Fn.col("id") % 7919).cast("string").alias("u")
    )
    # merge (cell-wise max) of disjoint halves == full build, register
    # for register
    a = hll_build(e.where(Fn.col("id") < 10000), "u", p=10)
    b = hll_build(e.where(Fn.col("id") >= 10000), "u", p=10)
    both = a.unionByName(b).groupBy("idx").agg(Fn.max("r").alias("r"))
    merged = {(r.idx, r.r) for r in both.collect()}
    full = {(r.idx, r.r) for r in hll_build(e, "u", p=10).collect()}
    assert merged == full

    # estimate within the p=10 theoretical bound (1.04/sqrt(m) ~ 3.25%),
    # generous 4x slack against an unlucky hash draw
    est = hll_estimate(hll_build(e, "u", p=10), p=10).collect()[0].hll_est
    true = 7919
    assert abs(est - true) / true < 4 * 1.04 / (1 << 5), (est, true)

    # small-range regime: linear counting correction kicks in and lands
    # within 2% for 100 distinct on 1024 registers
    s = spark.range(0, 100).select(Fn.col("id").cast("string").alias("u"))
    est_s = hll_estimate(hll_build(s, "u", p=10), p=10).collect()[0].hll_est
    assert abs(est_s - 100) / 100 < 0.02, est_s


def test_hll_bad_p(spark):
    import pytest as _pt

    from bamboo_spark.operators.sketch import hll_build

    df = spark.range(3).selectExpr("cast(id as string) u")
    with _pt.raises(ValueError):
        hll_build(df, "u", p=3)
    with _pt.raises(ValueError):
        hll_build(df, "u", p=19)


def test_kmv_merge_property_and_estimate_quality(spark):
    # the bottom-k of a union equals the bottom-k of the merged
    # synopses — and on sets with KNOWN overlap the estimate lands near
    # the true Jaccard (k=256 -> se ~ 1/sqrt(k) ~ 6%)
    import pyspark.sql.functions as Fn

    from bamboo_spark.operators.scale import ranked_head
    from bamboo_spark.operators.sketch import kmv_build, kmv_jaccard_pairs

    # sets A = 0..4999, B = 2500..7499 -> |A∩B| = 2500, |A∪B| = 7500,
    # true J = 1/3
    a = spark.range(0, 5000).select(
        Fn.lit("A").alias("s"), Fn.col("id").alias("item")
    )
    b = spark.range(2500, 7500).select(
        Fn.lit("B").alias("s"), Fn.col("id").alias("item")
    )
    df = a.unionByName(b)
    kmv = kmv_build(df, "s", "item", k=256)
    # per-set synopsis is exactly k rows
    sizes = {r.s: r.n for r in kmv.groupBy("s").agg(Fn.count("*").alias("n")).collect()}
    assert sizes == {"A": 256, "B": 256}
    est = kmv_jaccard_pairs(kmv, "s", k=256).collect()[0]
    assert est.set_a == "A" and est.set_b == "B"
    assert abs(est.kmv_jaccard - 1 / 3) < 4 * (1 / 16), est.kmv_jaccard

    # merge property: bottom-k of (synopsis(A) ∪ synopsis(B)) equals
    # the synopsis of A ∪ B
    union_syn = kmv_build(
        df.select(Fn.lit("U").alias("s"), "item"), "s", "item", k=256
    )
    merged = ranked_head(
        kmv.select("h").distinct().withColumn("s", Fn.lit("U")),
        "s",
        [Fn.col("h").asc()],
        cap=256,
    ).drop("rank")
    assert {r.h for r in merged.collect()} == {r.h for r in union_syn.collect()}


def test_hll_grouped_and_kmv_cardinality(spark):
    import pyspark.sql.functions as Fn

    from bamboo_spark.operators.sketch import (
        hll_build,
        hll_build_grouped,
        hll_estimate_grouped,
        kmv_build,
    )

    # two groups with known distinct counts
    df = spark.range(0, 30000).select(
        Fn.when(Fn.col("id") % 3 == 0, "g1").otherwise("g2").alias("g"),
        (Fn.col("id") % 5000).cast("string").alias("u"),
    )
    regs = hll_build_grouped(df, "g", "u", p=10)
    # each group's registers equal a per-slice global build
    for g in ("g1", "g2"):
        want = {
            (r.idx, r.r)
            for r in hll_build(df.where(Fn.col("g") == g), "u", p=10).collect()
        }
        got = {
            (r.idx, r.r)
            for r in regs.where(Fn.col("g") == g).select("idx", "r").collect()
        }
        assert got == want, g
    # merge (cell-wise max per group) of disjoint halves == full
    # grouped build
    h1 = hll_build_grouped(df.where(Fn.col("id") < 15000), "g", "u", p=10)
    h2 = hll_build_grouped(df.where(Fn.col("id") >= 15000), "g", "u", p=10)
    both = h1.unionByName(h2).groupBy("g", "idx").agg(Fn.max("r").alias("r"))
    merged = {(r.g, r.idx, r.r) for r in both.collect()}
    assert merged == {(r.g, r.idx, r.r) for r in regs.collect()}
    # estimates near truth (g1: 5000 distinct? g1 sees id%3==0 ->
    # id in {0,3,...} % 5000 covers all 5000; g2 likewise)
    est = {
        r.g: r.hll_est
        for r in hll_estimate_grouped(regs, "g", p=10).collect()
    }
    for g in ("g1", "g2"):
        assert abs(est[g] - 5000) / 5000 < 0.15, (g, est[g])

    # KMV synopsis size: k hashes for a set past k distinct items, every
    # distinct hash (the exact cardinality) for a smaller one
    sets = spark.range(0, 5000).select(
        Fn.lit("S").alias("s"), Fn.col("id").alias("item")
    )
    assert kmv_build(sets, "s", "item", k=256).count() == 256
    small = kmv_build(
        spark.range(0, 40).select(Fn.lit("T").alias("s"), Fn.col("id").alias("item")),
        "s",
        "item",
        k=256,
    )
    assert small.select("h").distinct().count() == 40


def test_cms_build_drops_null_and_empty_like_stream(spark):
    # batch and stream grids must be UNCONDITIONALLY mergeable: both
    # sides drop null/empty items, so a corpus with them still builds
    # identical grids either way
    from bamboo_spark.operators.sketch import cms_build

    df = spark.createDataFrame(
        [("a",), ("",), (None,), ("a",), ("b",)], "it string"
    )
    clean = spark.createDataFrame([("a",), ("a",), ("b",)], "it string")
    g1 = {(r["hash_row"], r["bucket"]): r["n"] for r in cms_build(df, "it").collect()}
    g2 = {(r["hash_row"], r["bucket"]): r["n"] for r in cms_build(clean, "it").collect()}
    assert g1 == g2
    assert sum(n for (h, b), n in g1.items() if h == 0) == 3


def test_hash_sample_deterministic_and_mergeable(spark):
    # bottom-k by md5(id): merging per-shard samples then re-trimming
    # equals sampling the union directly — the standing-state contract
    from bamboo_spark.operators.sketch import hash_sample

    full = spark.range(0, 5000).selectExpr("id", "id * 3 as v")
    s_full = hash_sample(full, "id", k=128)
    part1 = full.where("id % 2 = 0")
    part2 = full.where("id % 2 = 1")
    merged = (
        hash_sample(part1, "id", k=128)
        .unionByName(hash_sample(part2, "id", k=128))
        .orderBy("_rk")
        .limit(128)
    )
    a = sorted((r["id"], r["v"]) for r in s_full.collect())
    b = sorted((r["id"], r["v"]) for r in merged.collect())
    assert a == b and len(a) == 128
    # deterministic across invocations
    c = sorted((r["id"], r["v"]) for r in hash_sample(full, "id", k=128).collect())
    assert a == c
