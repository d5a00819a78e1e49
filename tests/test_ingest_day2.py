"""The append-only day-2 ingestion story, composed end to end: a stored
day-1 corpus absorbs a day-2 batch through the incremental operators —
Bloom exact-key guard, MinHash band-index probe, super-node component
contraction, sketch merges, atomic snapshot publish — and EVERY stage
is asserted equal to the full-recompute twin. The per-operator tests
pin each piece; this proves the COMPOSITION (state handed from stage to
stage) stays exact."""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_day2_incremental_ingest_equals_full_recompute(spark, tmp_path):
    from bamboo_spark.operators import dedup, sketch
    from bamboo_spark.operators.publish import (
    live_files,
    published_rows,
        atomic_publish,
        current_version,
        read_published,
    )
    from bamboo_spark.operators.text import md5_int60_sql  # noqa: F401

    docs = spark.read.parquet(SF + "/documents.parquet").select(
        "doc_id", "text"
    )
    # hash-stable split: 70% stored corpus, 30% new batch
    bucket = F.expr(
        "pmod(cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10)"
        " as bigint), 100)"
    )
    day1 = docs.where(bucket < 70)
    day2 = docs.where(bucket >= 70)
    assert day1.count() > 0 and day2.count() > 0

    # -- stage 1: near-dup ingest via the stored band index ------------
    index = dedup.build_band_index(day1, num_hashes=64)
    split = day1.agg(F.max("doc_id")).collect()[0][0] + 1
    # re-key day2 above the split so minhash_incremental's id-split
    # contract holds (ids are arbitrary labels; the mapping is stable)
    d2 = day2.select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text")
    merged_ids = day1.unionByName(d2)
    inc = dedup.minhash_incremental(
        merged_ids, split_id=10_000_000, num_hashes=64, index=index
    )
    # full recompute: all cross pairs old x new from the batch operator
    full_pairs = dedup.minhash_lsh_pairs(merged_ids, threshold=0.7, num_hashes=64)
    cross = full_pairs.where(
        (F.col("doc_b") >= 10_000_000) & (F.col("doc_a") < 10_000_000)
    )
    want_flagged = {
        r.doc_b: True for r in cross.collect()
    }
    got_flagged = {r.doc_id: True for r in inc.collect()}
    assert set(got_flagged) == set(want_flagged)

    # -- stage 2: cluster maintenance ----------------------------------
    old_pairs = full_pairs.where(F.col("doc_b") < 10_000_000)
    stored = dedup.connected_components_converged(old_pairs)
    new_pairs = full_pairs.where(F.col("doc_b") >= 10_000_000)
    if new_pairs.count() > 0:
        incr = {
            (r.doc_id, r.component)
            for r in dedup.components_incremental(stored, new_pairs).collect()
        }
        full = {
            (r.doc_id, r.component)
            for r in dedup.connected_components_converged(full_pairs).collect()
        }
        # incremental must agree with full recompute on every doc it labels
        assert incr == full

    # -- stage 3: standing sketch state merges -------------------------
    def toks(d):
        return d.select(F.explode(F.split("text", " ")).alias("t")).where(
            F.col("t") != ""
        )

    # merges are plain cell-wise sums (CMS) and maxima (HLL)
    cms_merged = (
        sketch.cms_build(toks(day1), "t", depth=3, width=1024)
        .unionByName(sketch.cms_build(toks(day2), "t", depth=3, width=1024))
        .groupBy("hash_row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    cms_full = sketch.cms_build(toks(docs), "t", depth=3, width=1024)
    assert {
        (r.hash_row, r.bucket): r.n for r in cms_merged.collect()
    } == {(r.hash_row, r.bucket): r.n for r in cms_full.collect()}

    hll_merged = (
        sketch.hll_build(day1, "doc_id", p=10)
        .unionByName(sketch.hll_build(day2, "doc_id", p=10))
        .groupBy("idx")
        .agg(F.max("r").alias("r"))
    )
    assert {
        (r.idx, r.r) for r in hll_merged.collect()
    } == {(r.idx, r.r) for r in sketch.hll_build(docs, "doc_id", p=10).collect()}

    # -- stage 4: atomic publish of both snapshots ---------------------
    tbl = str(tmp_path / "corpus")
    v1 = atomic_publish(day1, tbl)
    assert read_published(spark, tbl).count() == day1.count()
    v2 = atomic_publish(merged_ids, tbl)
    assert v2 == v1 + 1 and current_version(tbl) == v2
    assert read_published(spark, tbl).count() == docs.count()


def test_table_lifecycle_ingest_compact_retain_erase(spark, tmp_path):
    """The full 100 TB table-maintenance loop over the incremental
    publish family, end to end: micro-batch APPENDS fragment the table
    → COMPACTION folds each partition to one file → RETENTION
    drops expired day partitions (empty replace) → GDPR ERASE deletes
    one user rewriting only their partitions → reference-aware VACUUM
    reclaims unreferenced version dirs. Row-exactness asserted at every
    stage; after the compaction, untouched files carry by reference."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from bamboo_spark.operators.publish import (
        append_publish,
        compact,
        delete_publish,
        live_files,
        published_rows,
        read_published,
        replace_partitions_publish,
        snapshots,
        vacuum,
    )

    t = str(tmp_path / "life")
    days = ["2024-01-0%d" % i for i in (1, 2, 3)]

    def batch(day, lo, hi):
        return spark.range(lo, hi).select(
            F.lit(day).alias("d"),
            F.col("id").alias("v"),
            (F.col("id") % 7).alias("user_id"),
        ).coalesce(1)

    # stage 1: append ingest — day 1 fragments across three batches
    append_publish(batch(days[0], 0, 20), t, partition_by="d")
    append_publish(batch(days[0], 20, 40), t)
    append_publish(batch(days[1], 100, 130), t)
    append_publish(batch(days[0], 40, 50), t)
    append_publish(batch(days[2], 200, 220), t)
    files = live_files(t, spark)
    assert len([f for f in files if "d=%s" % days[0] in f]) == 3
    assert published_rows(t) == 100

    # stage 2: compaction folds the fragmented day to one file
    v_compact = compact(spark, t)
    files = live_files(t, spark)
    assert all(f.startswith("_v%d/" % v_compact) for f in files)
    for day in days:
        assert len([f for f in files if "d=%s" % day in f]) == 1
    assert read_published(spark, t).count() == 100

    # stage 3: retention — drop the expired oldest day (empty replace)
    empty = spark.createDataFrame([], "d string, v long, user_id long")
    replace_partitions_publish(empty, t, values=[days[0]])
    cur = read_published(spark, t)
    assert cur.count() == 50
    assert cur.where(F.col("d") == days[0]).count() == 0

    # stage 4: GDPR erase — user 4's rows vanish, day partitions not
    # containing them carry by reference
    n_u4 = cur.where("user_id = 4").count()
    assert n_u4 > 0
    delete_publish(spark, t, "user_id = 4")
    assert read_published(spark, t).where("user_id = 4").count() == 0
    assert published_rows(t) == 50 - n_u4

    # stage 5: GC — vacuum keeps every dir a retained snapshot cites,
    # removes the rest; the table still reads row-exact
    vacuum(t, keep=1, spark=spark)
    live = [m["version"] for m in snapshots(t, spark)]
    assert len(live) == 1
    final = read_published(spark, t)
    assert final.count() == 50 - n_u4
    assert final.where("user_id = 4").count() == 0
    # every file the final manifest cites exists on disk
    for f in live_files(t, spark):
        assert os.path.exists(os.path.join(t, f)), f
