"""Table-format demo: the full life of a published table.

    python examples/table_format_demo.py

Walks one table through the protocol end to end:

1. clustered first publish with WRITE-TIME per-file min/max stats and
   equality blooms (distributed index jobs over the batch)
2. micro-batch appends — O(delta) commits: one segment sidecar each,
   the top manifest stays constant-size
3. range skipping (``skip=``) and point skipping (``skip_eq=``) —
   file counts printed
4. an indexed GDPR point delete that rewrites ONLY the files holding
   the user (``delete_publish(point=...)``)
5. maintenance: ``set_index_columns`` + ``compact`` (one byte-sized
   rewrite that indexes every file from the table's index spec) +
   ``vacuum``
6. time travel (read any retained snapshot)
7. the table as a Spark DATA SOURCE: batch read, opt-in pushdown, and
   the version-offset streaming source delivering exactly the appended
   rows per micro-batch
8. merge-on-read: a predicate ``delete_publish(delete_vectors=True)``
   (positions land in executor-written parquet sidecars; zero data
   files rewritten), a conditional ``merge_into`` that WIDENS the
   schema (``schema_evolution=True``), the change feed
   (``read_changes``) and ``compact`` applying the accumulated
   vectors in one dataChange=false commit
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from bamboo_spark.operators.publish import (  # noqa: E402
    append_publish,
    atomic_publish,
    compact,
    delete_publish,
    live_files,
    read_published,
    set_index_columns,
    snapshots,
    table_meta,
    vacuum,
)
from bamboo_spark.sources.published import register  # noqa: E402


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    t = tempfile.mkdtemp() + "/events_table"

    def mk(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.xxhash64("id").alias("sk"),
                F.col("id").alias("user_id"),
                (F.col("id") % 4).cast("string").alias("g"),
                (F.col("id") * 3).alias("v"),
            )
            .repartition(4, "sk")
            .drop("sk")
        )

    # 1. first publish, indexed at write time
    atomic_publish(
        mk(0, 4000), t, partition_by="g",
        stats_cols=["v"], bloom_cols=["user_id"],
        meta={"last_bid": 0},
    )
    # 2. micro-batch appends — note the manifest size staying flat
    for i, lo in enumerate((4000, 4800, 5600)):
        append_publish(
            mk(lo, lo + 800), t,
            stats_cols=["v"], bloom_cols=["user_id"],
            meta={"last_bid": i + 1},
        )
        print(
            "append v%d: manifest %d bytes, %d live files"
            % (
                i + 2,
                os.path.getsize(os.path.join(t, "manifest.json")),
                len(live_files(t, spark)),
            )
        )

    # 3. skipping
    full = read_published(spark, t)
    rng = read_published(spark, t, skip={"v": (0, 3000)})
    pt = read_published(spark, t, skip_eq={"user_id": 1234})
    print(
        "files: full=%d  range-skip=%d  point-skip=%d"
        % (len(full.inputFiles()), len(rng.inputFiles()), len(pt.inputFiles()))
    )

    # 4. indexed point delete
    before = set(live_files(t, spark))
    delete_publish(spark, t, "user_id = 1234", point={"user_id": 1234})
    rewritten = before - set(live_files(t, spark))
    print(
        "point delete rewrote %d of %d files; rows=%d"
        % (len(rewritten), len(before), read_published(spark, t).count())
    )

    # 5. maintenance (meta — the ingest HWM — survives)
    set_index_columns(t, stats_cols=["v"], bloom_cols=["user_id"], spark=spark)
    v_c = compact(spark, t)
    removed = vacuum(t, spark=spark)
    print(
        "compact -> v%d: %d files, point-skip=%d; vacuum removed %s; meta: %s"
        % (
            v_c,
            len(live_files(t, spark)),
            len(read_published(spark, t, skip_eq={"user_id": 777}).inputFiles()),
            json.dumps(removed),
            table_meta(t),
        )
    )

    # 6. time travel
    print("snapshots:", [(s["version"], s["n_rows"]) for s in snapshots(t, spark)])
    v = snapshots(t, spark)[0]["version"]
    print("v%d -> rows=%d" % (v, read_published(spark, t, version=v).count()))

    # 7. data source
    b = spark.read.format("bamboo_published").load(t)
    pruned = (
        spark.read.format("bamboo_published")
        .option("pushdown", "true")
        .load(t)
        .where("user_id = 777")
    )
    print(
        "datasource: rows=%d; pushdown scan partitions=%d"
        % (b.count(), pruned.rdd.getNumPartitions())
    )
    ck = tempfile.mkdtemp() + "/ck"
    got = []
    q = (
        spark.readStream.format("bamboo_published")
        .load(t)
        .writeStream.foreachBatch(lambda bdf, bid: got.append(bdf.count()))
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    append_publish(mk(9000, 9400), t)
    q.processAllAvailable()
    q.stop()
    print("streaming micro-batch row counts (post-start appends):", got)

    # 8. merge-on-read + schema evolution + change feed
    from bamboo_spark.operators.publish import (
        describe_table,
        merge_into,
        read_changes,
    )

    v_before = snapshots(t, spark)[-1]["version"]
    before_files = set(live_files(t, spark))
    delete_publish(spark, t, "v % 7 = 0", delete_vectors=True)
    print(
        "dv delete: rows=%d, files rewritten=%d (positions live in "
        "parquet sidecars)"
        % (
            read_published(spark, t).count(),
            len(before_files - set(live_files(t, spark))),
        )
    )
    src = mk(3990, 4010).withColumn("tag", F.lit("merged"))
    merge_into(
        src, t, "user_id",
        when_matched_update={"v": "s.v + t.v", "tag": "s.tag"},
        when_not_matched_insert=True,
        schema_evolution=True,  # 'tag' widens the table in this commit
    )
    tagged = read_published(spark, t)
    print(
        "merge_into(schema_evolution): rows=%d, tagged=%d, "
        "pre-widening rows read tag as NULL=%d"
        % (
            tagged.count(),
            tagged.where("tag = 'merged'").count(),
            tagged.where("tag is null").count(),
        )
    )
    ch = read_changes(spark, t, from_version=v_before)
    print(
        "change feed since v%d:" % v_before,
        {
            r["_change_type"]: r["count"]
            for r in ch.groupBy("_change_type").count().collect()
        },
    )
    folded = compact(spark, t)
    print(
        "compact -> v%d; rows unchanged=%d, delete-vector rows left=%d"
        % (
            folded,
            read_published(spark, t).count(),
            describe_table(t, spark)["dv_rows"],
        )
    )


def round12_surface() -> None:
    """Round-12 additions: row-level UPDATE (MOR + CoW), replaceWhere
    backfills, dynamic partition overwrite, the persisted index spec
    applied by ``compact``, and the fsck audit."""
    import tempfile

    from pyspark.sql import SparkSession, functions as F

    from bamboo_spark.operators.publish import (
        append_publish,
        atomic_publish,
        compact,
        delete_publish,
        fsck_table,
        overwrite_partitions_publish,
        read_published,
        replace_where_publish,
        set_index_columns,
        update_publish,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    t = tempfile.mkdtemp(prefix="bamboo_r12_demo_") + "/t"
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 7).cast("int").alias("day"),
    )
    # explicit cols on the creating publish persist as the INDEX SPEC
    atomic_publish(df, t, partition_by=["day"], bloom_cols=["k"])
    set_index_columns(t, stats_cols=["v"], spark=spark)

    # row-level UPDATE: merge-on-read (default) and copy-on-write
    update_publish(spark, t, "v % 30 = 0", {"v": "v + 1"})
    update_publish(
        spark, t, "k < 10", {"v": "-v"}, delete_vectors=False
    )

    # replaceWhere: recompute one day from source and swap it in
    day3 = df.where("day = 3").select(
        "k", (F.col("v") * 2).alias("v"), "day"
    )
    replace_where_publish(day3, t, "day = 3")

    # dynamic partition overwrite: partitions discovered from the frame
    fresh = spark.createDataFrame(
        [(5000, 1, 5), (5001, 2, 6)], "k long, v long, day int"
    )
    overwrite_partitions_publish(fresh, t)

    # dv delete, then one compaction: vectors applied, every file
    # indexed under the spec (stats on v, blooms on k)
    delete_publish(spark, t, "v % 11 = 0", delete_vectors=True)
    compact(spark, t)

    rep = fsck_table(t, spark=spark, check_sizes=True)
    print(
        "rows=%d ok=%s files=%d orphans=%d"
        % (
            read_published(spark, t).count(),
            rep["ok"],
            rep["files_checked"],
            len(rep["orphan_dirs"]),
        )
    )

    # the property sheet shows everything an operator needs in one
    # call; a dry-run vacuum shows what keep=2 would reclaim
    from bamboo_spark.operators.publish import describe_table, vacuum

    would = vacuum(t, keep=2, spark=spark, dry_run=True)
    det = describe_table(t, spark=spark)
    print(
        "describe: v%d rows=%d files=%d dv_rows=%d index=%s; "
        "vacuum(keep=2) would reclaim %d dirs"
        % (
            det["version"], det["n_rows"], det["n_files"],
            det["dv_rows"], det["index_cols"], len(would),
        )
    )


if __name__ == "__main__":
    main()
    round12_surface()
