"""Round-13 table-format suite: HIDDEN PARTITIONING (Iceberg-style
partition transforms reduced to the hive case) — days/months/years/
hours/bucket/truncate specs as manifest metadata, derived columns
materialized inside every write flavor and dropped on read,
transform-aware read-time directory pruning, spec evolution /
rename / widen / drop interactions, clone carry — plus the
r12 ADVICE fixes (streaming overwrite_partitions setup validation,
explicit first-batch existence probe, ClaimBeat join-before-delete,
clone property carry) and rename_column following the persisted
index spec.

Reference parity: the reference (mvilim/bamboo) has no table format;
these pin Iceberg's partition-transform semantics (spec as metadata,
source-predicate pruning, type-sensitive bucket hashing) re-expressed
Spark-first.
"""

import datetime as dt
import glob

import pytest

from pyspark.sql import functions as F, types as T

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    delete_publish,
    read_published,
)


def _ts_rows(spark, n=60, mod=1, rem=0):
    """n rows spread over 6 days × 4 hours, keyed k, value v."""
    return (
        spark.range(n)
        .where(F.col("id") % mod == rem if mod > 1 else F.lit(True))
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 100).cast("double").alias("v"),
            F.expr(
                "timestamp '2024-03-01 00:30:00' + make_interval("
                "0, 0, 0, cast(id % 6 as int), cast(id % 4 as int), 0, 0)"
            ).alias("ts"),
            F.concat(F.lit("cat"), (F.col("id") % 3).cast("string")).alias(
                "tag"
            ),
        )
    )


def _day_dirs(table_dir):
    return sorted(
        {
            seg
            for p in glob.glob(str(table_dir) + "/_v*/*/*.parquet")
            for seg in p.split("/")
            if seg.startswith("ts_day=")
        }
    )


# ------------------------------------------------------------- spec parsing


def test_parse_transform_syntax_and_validation():
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("uid", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    ).json()
    parts, spec = P._parse_partition_by(["days(ts)", "bucket(8, uid)"], schema)
    assert parts == ["ts_day", "uid_bucket"]
    assert spec[0]["transform"] == "days" and spec[0]["source"] == "ts"
    assert spec[1]["arg"] == 8 and spec[1]["source_type"] == "integer"
    # identity-only layouts produce NO spec (legacy manifest shape)
    parts, spec = P._parse_partition_by(["uid"], schema)
    assert parts == ["uid"] and spec is None
    with pytest.raises(ValueError, match="not supported"):
        P._parse_partition_by(["median(ts)"], schema)
    with pytest.raises(ValueError, match="timestamp/date"):
        P._parse_partition_by(["days(uid)"], schema)
    with pytest.raises(ValueError, match="string or integral"):
        P._parse_partition_by(["truncate(2, ts)"], schema)
    with pytest.raises(ValueError, match="N >= 1"):
        P._parse_partition_by(["bucket(0, uid)"], schema)
    with pytest.raises(ValueError, match="not a table column"):
        P._parse_partition_by(["days(nope)"], schema)
    # derived-name collision with a real column is refused
    schema2 = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("ts_day", T.DateType()),
        ]
    ).json()
    with pytest.raises(ValueError, match="collides"):
        P._parse_partition_by(["days(ts)"], schema2)


# ------------------------------------------------- write + read round trips


def test_days_layout_paths_schema_and_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, partition_by=["days(ts)"])
    # physical layout: day directories; logical schema: NO derived col
    assert _day_dirs(t) == [
        "ts_day=2024-03-0%d" % d for d in range(1, 7)
    ]
    out = read_published(spark, t)
    assert out.columns == ["k", "v", "ts", "tag"]
    assert out.count() == 60
    assert (
        out.orderBy("k").toPandas().equals(df.orderBy("k").toPandas())
    )


def test_append_lands_in_day_dirs_and_reads_back(spark, tmp_path):
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark, mod=2, rem=0), t, partition_by=["days(ts)"])
    append_publish(_ts_rows(spark, mod=2, rem=1), t)
    assert read_published(spark, t).count() == 60
    # appended files landed under the derived layout too (v2 dirs)
    v2 = {
        seg
        for p in glob.glob(t + "/_v2/*/*.parquet")
        for seg in p.split("/")
        if seg.startswith("ts_day=")
    }
    assert v2  # day-partitioned, not flat


def test_append_strict_schema_unaffected_by_derived_col(spark, tmp_path):
    """The derived column is NOT part of the append contract — a batch
    with exactly the logical schema commits."""
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark), t, partition_by=["hours(ts)"])
    append_publish(_ts_rows(spark).limit(5), t)
    assert read_published(spark, t).count() == 65


# --------------------------------------------------------- read-time pruning


def test_ts_range_prunes_day_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark), t, partition_by=["days(ts)"])
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 3, 23)
    pruned = read_published(spark, t, skip={"ts": (lo, hi)})
    days = {
        seg
        for p in pruned.inputFiles()
        for seg in p.split("/")
        if seg.startswith("ts_day=")
    }
    assert days == {"ts_day=2024-03-02", "ts_day=2024-03-03"}
    # conservative: pruning never loses in-range rows
    exp = (
        _ts_rows(spark)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    assert (
        pruned.where(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
        ).count()
        == exp
    )


def test_bucket_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _ts_rows(spark).withColumn("uid", (F.col("k") % 17).cast("int"))
    atomic_publish(df, t, partition_by=["bucket(4, uid)"])
    pruned = read_published(spark, t, skip_eq={"uid": 5})
    buckets = {
        seg
        for p in pruned.inputFiles()
        for seg in p.split("/")
        if seg.startswith("uid_bucket=")
    }
    assert len(buckets) == 1
    assert (
        pruned.where("uid = 5").count()
        == df.where("uid = 5").count()
    )


def test_bucket_probe_type_parity_long_vs_int(spark, tmp_path):
    """xxhash64 is type-sensitive; the probe literal must cast to the
    PINNED source type or a Python int (long) probe against an int
    column would hash into the wrong bucket."""
    t = str(tmp_path / "t")
    df = _ts_rows(spark).withColumn("uid", (F.col("k") % 17).cast("int"))
    atomic_publish(df, t, partition_by=["bucket(4, uid)"])
    for probe in range(7):
        got = read_published(spark, t, skip_eq={"uid": probe}).where(
            F.col("uid") == probe
        ).count()
        assert got == df.where(F.col("uid") == probe).count(), probe


def test_truncate_string_and_numeric_pruning(spark, tmp_path):
    ts = str(tmp_path / "s")
    df = _ts_rows(spark)
    atomic_publish(df, ts, partition_by=["truncate(4, tag)"])
    pruned = read_published(spark, ts, skip_eq={"tag": "cat1"})
    assert len(pruned.inputFiles()) < len(
        read_published(spark, ts).inputFiles()
    )
    assert (
        pruned.where("tag = 'cat1'").count()
        == df.where("tag = 'cat1'").count()
    )
    tn = str(tmp_path / "n")
    atomic_publish(df, tn, partition_by=["truncate(20, k)"])
    pr = read_published(spark, tn, skip={"k": (25, 30)})
    segs = {
        seg
        for p in pr.inputFiles()
        for seg in p.split("/")
        if seg.startswith("k_trunc=")
    }
    assert segs == {"k_trunc=20"}
    assert pr.where("k between 25 and 30").count() == 6


def test_months_years_hours_transforms(spark, tmp_path):
    df = _ts_rows(spark)
    for pb, phys in (
        (["months(ts)"], "ts_month=2024-03"),
        (["years(ts)"], "ts_year=2024"),
        (["hours(ts)"], "ts_hour=2024-03-01-00"),
    ):
        t = str(tmp_path / pb[0].split("(")[0])
        atomic_publish(df, t, partition_by=pb)
        files = read_published(spark, t).inputFiles()
        assert any(phys in p for p in files), (pb, files[:2])
        assert read_published(spark, t).count() == 60


def test_pruning_stays_conservative_on_mixed_layout(spark, tmp_path):
    """Files that predate the transform layout have no ts_day path
    segment — a skip on ts must still read them."""
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark, mod=2, rem=0), t, partition_by=["tag"])
    P.set_partition_layout(t, ["days(ts)"], spark=spark)
    append_publish(_ts_rows(spark, mod=2, rem=1), t)
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    pruned = read_published(spark, t, skip={"ts": (lo, hi)})
    exp = (
        _ts_rows(spark)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    got = pruned.where(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    assert got == exp
    # era-1 files (tag= paths) all survive pruning; era-2 pruned to 1 day
    era1 = [p for p in pruned.inputFiles() if "/tag=" in p]
    assert len(era1) == len(
        [p for p in read_published(spark, t).inputFiles() if "/tag=" in p]
    )


# ------------------------------------------------------ lifecycle operators


def test_dv_delete_update_compact_on_hidden_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, partition_by=["days(ts)"])
    delete_publish(spark, t, "k % 5 = 0", delete_vectors=True)
    P.update_publish(spark, t, "k % 7 = 0", {"v": "v + 100"})
    exp = (
        df.where("k % 5 != 0")
        .withColumn(
            "v",
            F.when(F.expr("k % 7 = 0"), F.col("v") + 100).otherwise(
                F.col("v")
            ),
        )
    )
    got = read_published(spark, t)
    assert got.count() == exp.count()
    assert (
        got.agg(F.sum("v")).first()[0] == exp.agg(F.sum("v")).first()[0]
    )
    compact(spark, t)
    got2 = read_published(spark, t)
    assert got2.count() == exp.count()
    assert _day_dirs(t)  # compacted files still day-partitioned
    assert got2.columns == ["k", "v", "ts", "tag"]


def test_dynamic_partition_overwrite_by_derived_day(spark, tmp_path):
    """overwrite_partitions_publish discovers the touched DAYS from the
    source column — the caller never materializes ts_day."""
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, partition_by=["days(ts)"])
    day2 = df.where(F.to_date("ts") == F.lit(dt.date(2024, 3, 2)))
    P.overwrite_partitions_publish(
        day2.withColumn("v", F.lit(0.0)), t
    )
    got = read_published(spark, t)
    assert got.count() == 60
    assert (
        got.where(F.to_date("ts") == F.lit(dt.date(2024, 3, 2)))
        .agg(F.sum("v"))
        .first()[0]
        == 0.0
    )
    other = got.where(F.to_date("ts") != F.lit(dt.date(2024, 3, 2)))
    expo = df.where(F.to_date("ts") != F.lit(dt.date(2024, 3, 2)))
    assert (
        other.agg(F.sum("v")).first()[0]
        == expo.agg(F.sum("v")).first()[0]
    )


def test_merge_into_preserves_hidden_layout(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, partition_by=["days(ts)"])
    changes = df.where("k < 10").withColumn("v", F.lit(-1.0))
    P.merge_into(
        changes, t, "k",
        when_matched_update={"v": "s.v"}, when_not_matched_insert=True,
    )
    got = read_published(spark, t)
    assert got.count() == 60
    assert got.where("v = -1.0").count() == 10
    # post-merge files still carry the day layout
    assert _day_dirs(t)


# -------------------------------------------------- spec × schema evolution


def test_rename_transform_source_updates_spec_keeps_paths(spark, tmp_path):
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark), t, partition_by=["days(ts)"])
    P.rename_column(t, "ts", "event_ts", spark=spark)
    d = P.describe_table(t, spark)
    assert d["partition_spec"][0]["source"] == "event_ts"
    assert d["partition_spec"][0]["name"] == "ts_day"  # paths stable
    append_publish(
        _ts_rows(spark).withColumnRenamed("ts", "event_ts").limit(5), t
    )
    # pruning works under the NEW logical name across both eras
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23)
    pr = read_published(spark, t, skip={"event_ts": (lo, hi)})
    assert {
        seg
        for p in pr.inputFiles()
        for seg in p.split("/")
        if seg.startswith("ts_day=")
    } == {"ts_day=2024-03-02"}


def test_rename_follows_persisted_index_spec(spark, tmp_path):
    """VERDICT r12 #4: renaming an indexed column rekeys the persisted
    index spec in the same commit, so the next write still records
    stats/blooms for it under the new name."""
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, stats_cols=["k"], bloom_cols=["tag"])
    P.rename_column(t, "k", "key", spark=spark)
    d = P.describe_table(t, spark)
    assert d["index_cols"] == {"stats": ["key"], "bloom": ["tag"]}
    append_publish(
        df.withColumnRenamed("k", "key").limit(7), t
    )
    man = P._read_manifest(t, P._PosixFS())
    res = P._resolve_entry(P._PosixFS(), t, man)
    new_files = [f for f in res["files"] if f.startswith("_v3/")]
    assert new_files
    for f in new_files:
        assert "key" in (res["file_stats"].get(f) or {}), f


def test_widen_bucket_source_refused_other_sources_ok(spark, tmp_path):
    t = str(tmp_path / "t")
    df = _ts_rows(spark).withColumn("uid", (F.col("k") % 9).cast("int"))
    atomic_publish(df, t, partition_by=["bucket(4, uid)"])
    with pytest.raises(ValueError, match="bucket"):
        P.widen_column(t, "uid", "long", spark=spark)
    # widening a TRUNCATE source is fine (floor arithmetic is
    # width-independent) and the spec's pinned type follows
    t2 = str(tmp_path / "t2")
    atomic_publish(
        df.withColumn("uid", F.col("uid").cast("int")),
        t2,
        partition_by=["truncate(3, uid)"],
    )
    P.widen_column(t2, "uid", "long", spark=spark)
    d = P.describe_table(t2, spark)
    assert d["partition_spec"][0]["source_type"] == "long"
    append_publish(
        df.withColumn("uid", F.col("uid").cast("long")).limit(5), t2
    )
    assert read_published(spark, t2).count() == 65


def test_drop_transform_source_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    atomic_publish(_ts_rows(spark), t, partition_by=["days(ts)"])
    with pytest.raises(ValueError, match="partition transform"):
        P.drop_column(t, "ts", spark=spark)


def test_concurrent_spec_change_refuses_rebase(spark, tmp_path):
    """An optimistic commit planned under one transform spec must not
    rebase onto a different one (rows would land in wrong dirs)."""
    base = {"version": 1, "partition_by": ["ts_day"],
            "partition_spec": [{"name": "ts_day", "transform": "days",
                                "source": "ts"}],
            "schema": "{}"}
    cur = dict(base, version=2,
               partition_spec=[{"name": "ts_day", "transform": "days",
                                "source": "other"}])
    with pytest.raises(P.ConcurrentWriteError, match="transform"):
        P._check_rebase(base, cur, "test")


# ------------------------------------------------ clone and table properties


def test_clone_carries_spec_and_retention(spark, tmp_path):
    """ADVICE r12: clone copies table PROPERTIES (Delta CLONE
    semantics) — the index spec included, so writes on the clone keep
    indexing what the source declared."""
    src = str(tmp_path / "src")
    df = _ts_rows(spark)
    atomic_publish(df, src, partition_by=["days(ts)"])
    P.set_index_columns(src, stats_cols=["k"], spark=spark)
    dst = str(tmp_path / "dst")
    P.clone_table(spark, src, dst)
    d = P.describe_table(dst, spark)
    assert d["partition_spec"][0]["transform"] == "days"
    assert d["index_cols"] == {"stats": ["k"]}
    # clone writes land under the derived layout
    append_publish(df.limit(5), dst)
    assert read_published(spark, dst).count() == 65


# ----------------------------------------------------------- streaming fixes


def test_publish_stream_overwrite_partitions_rejects_multi_col(spark):
    """ADVICE r12: a multi-column partition_by must fail AT SETUP, not
    seed the table and then kill the stream on batch 2."""
    from bamboo_spark.streaming.core import publish_stream

    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="SINGLE partition column"):
        publish_stream(
            sdf, "/tmp/never", mode="overwrite_partitions",
            partition_by=["a", "b"],
        )
    # a hidden daily layout is ONE physical column — accepted
    publish_stream(
        sdf, "/tmp/never", mode="overwrite_partitions",
        partition_by=["days(timestamp)"],
    )


def test_claimbeat_stop_joins_no_claim_resurrection(tmp_path):
    """ADVICE r12: stop() joins the beat thread, so deleting the claim
    right after stop() can never race a final touch()."""
    fs = P._PosixFS()
    t = str(tmp_path)
    seg = "_v1"
    claim = fs.join(t, seg + ".claim")
    fs.create_exclusive(claim, "x")
    for _ in range(20):
        beat = P._ClaimBeat(fs, t, seg, ttl_ms=1).start()
        import time

        time.sleep(0.01)
        beat.stop()
        fs.delete_file(claim)
        time.sleep(0.005)
        assert not __import__("os").path.exists(claim)
        fs.create_exclusive(claim, "x")
    fs.delete_file(claim)


# ------------------------------------------- streaming × hidden partitioning


def test_publish_stream_overwrite_partitions_hidden_daily(spark, tmp_path):
    """The idempotent streaming-recompute sink works on a HIDDEN daily
    layout: partition_by=['days(ts)'] seeds the table on batch 1, and
    every later batch replaces exactly the DAYS it carries — the
    stream never names or materializes ts_day."""
    from bamboo_spark.operators.publish import (
        append_publish,
        atomic_publish,
        describe_table,
        read_published,
    )
    from bamboo_spark.sources.published import register
    from bamboo_spark.streaming.core import publish_stream

    register(spark)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")

    def kvt(rows):
        return spark.createDataFrame(rows, "k long, v long, ts timestamp")

    d1 = dt.datetime(2024, 3, 1, 5)
    d2 = dt.datetime(2024, 3, 2, 6)
    atomic_publish(kvt([(1, 10, d1), (2, 20, d2)]), bronze)
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(bronze)
    )
    q = (
        publish_stream(
            sdf, silver, mode="overwrite_partitions",
            partition_by=["days(ts)"],
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert describe_table(silver, spark)["partition_by"] == ["ts_day"]
        got = {(r.k, r.v) for r in read_published(spark, silver).collect()}
        assert got == {(1, 10), (2, 20)}
        # batch 2 carries only day 1 — it replaces day 1 WHOLESALE,
        # day 2 carries by reference
        append_publish(kvt([(3, 30, d1)]), bronze)
        q.processAllAvailable()
        got = {(r.k, r.v) for r in read_published(spark, silver).collect()}
        assert got == {(3, 30), (2, 20)}
    finally:
        q.stop()


# ------------------------------------------------- DataSource integration


def test_datasource_reads_hidden_layout_and_prunes(spark, tmp_path):
    """bamboo_published batch reads a hidden-partitioned table under
    the logical schema, and the skip/skip_eq load options prune
    partition directories through the transform spec."""
    import json as _json

    from bamboo_spark.sources.published import register

    register(spark)
    t = str(tmp_path / "t")
    df = _ts_rows(spark)
    atomic_publish(df, t, partition_by=["days(ts)"])
    got = spark.read.format("bamboo_published").load(t)
    assert got.columns == ["k", "v", "ts", "tag"]
    assert got.count() == 60
    pruned = (
        spark.read.format("bamboo_published")
        .option(
            "skip",
            _json.dumps({"ts": ["2024-03-02 00:00:00",
                                "2024-03-02 23:59:59"]}),
        )
        .load(t)
    )
    assert (
        pruned.where(
            "ts between '2024-03-02 00:00:00' and '2024-03-02 23:59:59'"
        ).count()
        == 10
    )
    # a Python-DataSource frame exposes no inputFiles — pin the prune
    # on the reader's own partition plan
    from bamboo_spark.sources.published import _PublishedBatchReader

    fs = P._PosixFS()
    man = P._read_manifest(t, fs)
    res = P._resolve_entry(fs, t, man)
    pinned = {
        "schema": man["schema"],
        "partition_by": list(man.get("partition_by") or []),
        "partition_spec": man.get("partition_spec"),
        "files": res["files"],
        "stats": res["file_stats"],
        "blooms": res["file_blooms"],
        "dv": {},
        "evo": None,
    }
    reader = _PublishedBatchReader(
        t, pinned,
        skip={"ts": ("2024-03-02 00:00:00", "2024-03-02 23:59:59")},
    )
    rels = [pt.rel for pt in reader.partitions()]
    assert rels and all("ts_day=2024-03-02" in r for r in rels)

