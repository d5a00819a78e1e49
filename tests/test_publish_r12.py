"""Round-12 table-format suite: the r11 ADVICE fixes (CDF resolution
across rename-then-compact, dv race staging reclaim), type widening,
partition-spec evolution, the merge x dv race matrix, bitmap dv
sidecars — plus this round's new write surface and its contracts:
update_publish (MOR + CoW), replace_where_publish,
overwrite_partitions_publish, compact as the one maintenance writer,
fsck_table, vacuum
dry-run, the persisted index spec, NULL-condition three-valued-logic
semantics, and staging reclaim on every lost optimistic race.

Reference parity: the reference (mvilim/bamboo) has no table format;
this suite pins the Delta-style contracts re-expressed Spark-first.
"""

import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    delete_publish,
    merge_into,
    read_published,
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _fs():
    return P._PosixFS()


# ------------------------------------------------- CDF across rename+compact


def test_cdf_delta_resolves_pre_compact_files_of_renamed_table(
    spark, tmp_path
):
    """ADVICE r11 (medium): a CDF plan whose range delivers PRE-COMPACT
    files of a formerly-renamed table must resolve their physical
    columns from the WALKED entries — the post-compact planning
    manifest has schema_evolved cleared, and resolving against it alone
    yields fields=None (identity), silently reading the renamed column
    as NULL."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 5).coalesce(1), d)       # v1 phys "v"
    P.rename_column(d, "v", "amount", spark=spark)          # v2
    compact(spark, d)                                       # v3 dataChange=False
    fs = _fs()
    man = P._read_manifest(d, fs)
    assert not man.get("schema_evolved")  # compact cleared the flag
    plan = P._cdf_delta(fs, d, man, 0, 3)
    inserts = [p for p in plan if p["kind"] == "insert"]
    assert len(inserts) == 1  # v1's file; v2/v3 contribute nothing
    fields = dict(inserts[0]["fields"] or ())
    assert fields.get("amount") == "v", (
        "pre-compact file must resolve logical 'amount' to physical "
        "'v'; got fields=%r" % (inserts[0]["fields"],)
    )


def test_cdf_stream_catching_up_across_rename_then_compact(
    spark, tmp_path
):
    """End-to-end through the bamboo_published streaming source: a
    readChangeFeed stream starting at 0 on a rename-then-compacted
    table delivers the pre-rename inserts with the renamed column's
    DATA under the new name (not NULL)."""
    from bamboo_spark.sources.published import register

    register(spark)
    d = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(_rows(spark, 0, 5).coalesce(1), d)       # v1
    P.rename_column(d, "v", "amount", spark=spark)          # v2
    compact(spark, d)                                       # v3
    seen = []

    def sink(batch_df, bid):
        seen.extend(
            (r["_commit_version"], r["_change_type"], r["k"], r["amount"])
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .option("readChangeFeed", "true")
        .load(d)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [(1, "insert", k, k * 10) for k in range(5)]


def test_cdf_delta_refuses_broken_id_space(spark, tmp_path):
    """A full rewrite that re-assigned field ids (drop a middle column,
    then compact re-stamps positionally) makes exact cross-era
    resolution impossible — the CDF planner must refuse like
    read_changes does, not guess."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(0, 5).select(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            (F.col("id") * 3).alias("c"),
        ).coalesce(1),
        d,
    )                                                       # v1 ids a:1 b:2 c:3
    P.drop_column(d, "b", spark=spark)                      # v2 ids a:1 c:3
    compact(spark, d)                                       # v3 ids a:1 c:2 (!)
    fs = _fs()
    man = P._read_manifest(d, fs)
    with pytest.raises(ValueError, match="re-assigned field ids"):
        P._cdf_delta(fs, d, man, 0, 3)
    # the batch CDF refuses the same range identically
    with pytest.raises(ValueError, match="re-assigned field ids"):
        P.read_changes(spark, d, from_version=0, to_version=3)


# -------------------------------------------------- dv race staging reclaim


def test_dv_retry_conflict_reclaims_staging(spark, tmp_path, monkeypatch):
    """ADVICE r11 (low): a dv-delete attempt that loses its optimistic
    race must reclaim its claimed ``_v<N>`` staging dir + ``.claim``
    marker before the retry — lost races are ROUTINE under the bounded
    retry, and leaking one orphan dir per attempt until vacuum's TTL
    ages it out bloats contended tables."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 300).coalesce(1), d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            delete_publish(spark, d, "k % 5 = 1", delete_vectors=True)
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    ver = delete_publish(spark, d, "k % 5 = 0", delete_vectors=True)
    monkeypatch.undo()
    assert state["raced"] and ver == 3
    # no stray claim markers, and every _v dir is referenced (v1 data
    # seg + the two committed dv sidecar dirs) — the failed attempt's
    # staging dir was reclaimed at conflict time, not left for vacuum
    names = sorted(x.name for x in Path(d).iterdir())
    assert not [n for n in names if n.endswith(".claim")], names
    vdirs = [n for n in names if n.startswith("_v")]
    assert len(vdirs) == 3, (
        "expected exactly 3 referenced _v dirs (data seg + 2 dv "
        "commits); orphan staging leaked: %s" % vdirs
    )
    got = sorted(r.k for r in read_published(spark, d).collect())
    assert got == [k for k in range(300) if k % 5 not in (0, 1)]


# ----------------------------------------------------------- type widening


def test_widen_column_metadata_only(spark, tmp_path):
    """widen_column commits a wider schema with ZERO data IO: the live
    file set is untouched, narrow files read natively upcast, earlier
    versions time-travel under their own narrow types, and appends
    after the commit land wide."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(1.5)).cast("float").alias("v"),
        ),
        d,
    )
    files_before = P.live_files(d)
    assert P.widen_column(d, "k", "long", spark=spark) == 2
    assert P.widen_column(d, "v", "double", spark=spark) == 3
    assert P.live_files(d) == files_before  # metadata-only
    out = read_published(spark, d)
    assert out.schema.simpleString() == "struct<k:bigint,v:double>"
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (k, float(np_f32(k * 1.5))) for k in range(10)
    ]
    # time travel: v1 keeps the narrow schema
    old = read_published(spark, d, version=1)
    assert old.schema.simpleString() == "struct<k:int,v:float>"
    # appends land wide
    append_publish(
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
        ),
        d,
    )
    assert read_published(spark, d).count() == 12


def np_f32(x: float) -> float:
    import numpy as np

    return float(np.float32(x))


def test_widen_column_rejects_illegal(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        ),
        d,
    )
    with pytest.raises(ValueError, match="not a supported widening"):
        P.widen_column(d, "k", "int", spark=spark)       # narrowing
    with pytest.raises(ValueError, match="not a supported widening"):
        P.widen_column(d, "k", "double", spark=spark)    # long→double lossy
    with pytest.raises(ValueError, match="already"):
        P.widen_column(d, "k", "long", spark=spark)
    with pytest.raises(KeyError):
        P.widen_column(d, "nope", "long", spark=spark)


def test_merge_schema_evolution_widens_types(spark, tmp_path):
    """merge_into(schema_evolution=True) adopts a source's WIDER types
    (int→long, float→double) and casts a NARROWER source up — only
    genuinely incompatible changes raise."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(0, 6).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(10)).cast("float").alias("v"),
        ),
        d,
    )
    src = spark.range(3, 9).select(
        F.col("id").alias("k"),                       # long: widens
        (F.col("id") * F.lit(100.0)).alias("v"),      # double: widens
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        merge_into(src, d, "k", when_matched_update={"v": "s.v"})
    ver = merge_into(
        src, d, "k",
        when_matched_update={"v": "s.v + t.v"},
        when_not_matched_insert=True,
        schema_evolution=True,
    )
    assert ver == 2
    out = read_published(spark, d)
    assert out.schema.simpleString() == "struct<k:bigint,v:double>"
    got = dict((r.k, r.v) for r in out.collect())
    assert got == {
        0: 0.0, 1: 10.0, 2: 20.0,                 # untouched, upcast
        3: 330.0, 4: 440.0, 5: 550.0,             # updated: 100k + 10k
        6: 600.0, 7: 700.0, 8: 800.0,             # inserted
    }
    # a NARROWER source casts up instead of raising
    src2 = spark.createDataFrame([(0, 7)], "k int, v int")
    merge_into(
        src2, d, "k", when_matched_update={"v": "s.v"},
        schema_evolution=True, when_not_matched_insert=False,
    )
    assert dict(
        (r.k, r.v) for r in read_published(spark, d).collect()
    )[0] == 7.0
    # incompatible change still raises
    src3 = spark.createDataFrame([(0, "x")], "k long, v string")
    with pytest.raises(ValueError, match="neither a supported widening"):
        merge_into(
            src3, d, "k", when_matched_update={"v": "s.v"},
            schema_evolution=True,
        )


def test_widen_composes_with_rename_dv_and_indexes(spark, tmp_path):
    """Widening on an already-RENAMED table (field ids untouched), then
    dv deletes, skip_eq bloom pruning, stats backfill and batch CDF —
    the whole governance surface stays green on the widened table."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(0, 100).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(2)).cast("int").alias("v"),
        ).coalesce(1),
        d,
        bloom_cols=["k"],
    )                                                        # v1
    P.rename_column(d, "v", "amount", spark=spark)           # v2
    assert P.widen_column(d, "amount", "long", spark=spark) == 3
    append_publish(
        spark.range(100, 200).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(2)).cast("long").alias("amount"),
        ).coalesce(1),
        d,
    )                                                        # v4
    delete_publish(spark, d, "amount % 10 = 0", delete_vectors=True)  # v5
    got = sorted(r.k for r in read_published(spark, d).collect())
    assert got == [k for k in range(200) if (2 * k) % 10 != 0]
    # stats backfill on the widened+renamed table: index spec + compact
    P.set_index_columns(d, stats_cols=["amount"], spark=spark)     # v6
    size = P.describe_table(d, spark)["size_bytes"]
    compact(spark, d, target_file_bytes=-(-size // 2))             # v7
    fs = _fs()
    man = P._read_manifest(d, fs)
    res = P._resolve_entry(fs, d, man)
    assert len(res["files"]) == 2
    assert all("amount" in res["file_stats"][f] for f in res["files"])
    # the rewritten files keep their blooms and prune (k=150 was
    # deleted above, so the compacted files prove it absent)
    assert P._prune_eq(res, res["files"], {"k": 150}) == []
    kept = P._prune_eq(res, res["files"], {"k": 151})
    assert len(kept) == 1
    # CDF across the widen: every change row surfaces under the END
    # schema (amount long), pre-widen inserts upcast
    ch = P.read_changes(spark, d, from_version=0)
    assert dict(ch.dtypes)["amount"] == "bigint"
    by = {}
    for r in ch.collect():
        by.setdefault((r._commit_version, r._change_type), []).append(r.k)
    assert sorted(by[(1, "insert")]) == list(range(100))
    assert sorted(by[(5, "delete")]) == [
        k for k in range(200) if (2 * k) % 10 == 0
    ]


def test_widen_streams_through_datasource(spark, tmp_path):
    """The bamboo_published streaming source on a widened table: the
    executor Arrow path casts each file's narrow columns to the pinned
    wide schema (both append and readChangeFeed modes)."""
    from bamboo_spark.sources.published import register

    register(spark)
    d = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(
        spark.range(0, 5).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(10)).cast("float").alias("v"),
        ),
        d,
    )                                                        # v1
    P.widen_column(d, "k", "long", spark=spark)              # v2
    P.widen_column(d, "v", "double", spark=spark)            # v3
    append_publish(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10.0).alias("v")
        ),
        d,
    )                                                        # v4
    seen = []

    def sink(batch_df, bid):
        seen.extend((r["k"], r["v"]) for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(d)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [(k, k * 10.0) for k in range(8)]


# ------------------------------------------------- merge x dv race matrix


def _two_file_table(spark, d):
    """keys 0-99 in file 1, 100-199 in file 2 (separate appends)."""
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d, bloom_cols=["k"])
    append_publish(_rows(spark, 100, 200).coalesce(1), d, bloom_cols=["k"])


def test_merge_rebases_over_disjoint_dv_delete(spark, tmp_path, monkeypatch):
    """A merge racing a dv-delete that touched a DIFFERENT file rebases
    and commits — both effects land (the address-validity check is
    file-granular, not table-granular)."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            # racer: dv-delete in the OTHER file (k=150), landing
            # between the victim merge's build and its lease
            delete_publish(spark, d, "k = 150", delete_vectors=True)
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    src = spark.createDataFrame([(50, 1)], "k long, v long")
    ver = merge_into(
        src, d, "k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )
    monkeypatch.undo()
    assert state["raced"] and ver == 4  # v3 = racer, v4 = rebased merge
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got[50] == 1          # merge landed
    assert 150 not in got        # racer's delete landed
    assert len(got) == 199


def test_merge_raises_on_overlapping_dv_delete(spark, tmp_path, monkeypatch):
    """A merge racing a dv-delete on the SAME file cannot prove its row
    addresses are still exact — it must raise (re-run), never silently
    merge stale positions."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            delete_publish(spark, d, "k = 60", delete_vectors=True)
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    src = spark.createDataFrame([(50, 1)], "k long, v long")
    with pytest.raises(P.ConcurrentWriteError, match="delete vectors"):
        merge_into(
            src, d, "k", when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
        )
    monkeypatch.undo()
    # the racer's commit is intact; the victim left no claim markers
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 60 not in got and got[50] == 50 * 10
    # re-running the merge against the fresh snapshot succeeds
    assert merge_into(
        src, d, "k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    ) is not None
    assert {r.k: r.v for r in read_published(spark, d).collect()}[50] == 1


def test_merge_raises_on_racing_merge_same_file(spark, tmp_path, monkeypatch):
    """merge vs merge on the same file: the second committer sees the
    first's dv change on its matched file and raises — updates can
    never be silently lost to a lost race."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            merge_into(
                spark.createDataFrame([(51, 2)], "k long, v long"),
                d, "k", when_matched_update={"v": "s.v"},
                when_not_matched_insert=False,
            )
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    with pytest.raises(P.ConcurrentWriteError):
        merge_into(
            spark.createDataFrame([(50, 1)], "k long, v long"),
            d, "k", when_matched_update={"v": "s.v"},
            when_not_matched_insert=False,
        )
    monkeypatch.undo()
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got[51] == 2 and got[50] == 500  # racer won, victim refused


def test_merge_rebases_over_disjoint_merge(spark, tmp_path, monkeypatch):
    """merge vs merge touching DIFFERENT files: the loser rebases onto
    the winner's snapshot and both updates land."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            merge_into(
                spark.createDataFrame([(150, 2)], "k long, v long"),
                d, "k", when_matched_update={"v": "s.v"},
                when_not_matched_insert=False,
            )
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    ver = merge_into(
        spark.createDataFrame([(50, 1)], "k long, v long"),
        d, "k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )
    monkeypatch.undo()
    assert state["raced"] and ver == 4
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got[50] == 1 and got[150] == 2
    assert len(got) == 200


# ------------------------------------------- partition-spec evolution: rename


def _parted(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("d"),
        (F.col("id") * 10).alias("v"),
    )


def test_rename_partition_column_reads_both_eras(spark, tmp_path):
    """Renaming a hive partition column evolves the spec per-segment:
    old files keep their ``d=val`` paths and resolve the value under
    the physical key; appends land under ``bucket=val``; plain reads,
    partition filters and dv deletes span both eras; partition-LEVEL
    maintenance refuses the mixed layout until compact()."""
    d = str(tmp_path / "t")
    atomic_publish(_parted(spark, 0, 20), d, partition_by=["d"])  # v1
    P.rename_column(d, "d", "bucket", spark=spark)                # v2
    out = read_published(spark, d)
    assert out.schema.simpleString() == "struct<k:bigint,bucket:bigint,v:bigint>"
    assert sorted((r.k, r.bucket) for r in out.collect()) == [
        (k, k % 4) for k in range(20)
    ]
    append_publish(
        _parted(spark, 20, 24).withColumnRenamed("d", "bucket"),
        d, partition_by=["bucket"],
    )                                                             # v3
    # old era wrote d=, new era writes bucket=
    v1 = {x.name for x in Path(d, "_v1").iterdir()}
    v3 = {x.name for x in Path(d, "_v3").iterdir()}
    assert any(n.startswith("d=") for n in v1)
    assert any(n.startswith("bucket=") for n in v3)
    # partition filter under the NEW name spans both eras
    assert sorted(
        r.k for r in read_published(spark, d).where("bucket = 2").collect()
    ) == [2, 6, 10, 14, 18, 22]
    # merge-on-read delete over the mixed layout
    delete_publish(spark, d, "k % 7 = 0", delete_vectors=True)    # v4
    expect = [k for k in range(24) if k % 7 != 0]
    assert sorted(r.k for r in read_published(spark, d).collect()) == expect
    # partition-level maintenance refuses the mixed table...
    bucket2 = spark.createDataFrame(
        [(2, 2, 20)], "k long, bucket long, v long"
    )
    with pytest.raises(ValueError, match="predate the current partition"):
        P.replace_partitions_publish(
            bucket2, d, values=[2], partition_col="bucket"
        )
    # ...until compact() unifies the layout under the new spec
    compact(spark, d)                                             # v5
    assert sorted(r.k for r in read_published(spark, d).collect()) == expect
    P.replace_partitions_publish(
        read_published(spark, d).where("bucket = 2"), d, values=[2],
        partition_col="bucket",
    )
    assert sorted(r.k for r in read_published(spark, d).collect()) == expect


def test_rename_partition_column_through_datasource(spark, tmp_path):
    """The bamboo_published DataSource (batch + streaming) on a MIXED
    spec-evolved table: the executor Arrow path resolves each file's
    partition value under its physical path key via the field map."""
    from bamboo_spark.sources.published import register

    register(spark)
    d = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(_parted(spark, 0, 8), d, partition_by=["d"])   # v1
    P.rename_column(d, "d", "bucket", spark=spark)                # v2
    append_publish(
        _parted(spark, 8, 12).withColumnRenamed("d", "bucket"),
        d, partition_by=["bucket"],
    )                                                             # v3
    got = spark.read.format("bamboo_published").load(d)
    assert sorted((r.k, r.bucket) for r in got.collect()) == [
        (k, k % 4) for k in range(12)
    ]
    seen = []

    def sink(batch_df, bid):
        seen.extend((r["k"], r["bucket"]) for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(d)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(seen) == [(k, k % 4) for k in range(12)]


# ---------------------------------------------------- bitmap dv sidecars


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def test_dv_bitmap_pack_unpack_roundtrip(spark):
    """_dv_pack/_dv_unpack are exact inverses over adversarial position
    sets (chunk boundaries, word boundaries, bit 63, sparse + dense)."""
    pos = sorted(
        {0, 1, 63, 64, 1023, 1024, 1025, 2047, 4096, 999_999}
        | set(range(100, 300, 2))
    )
    df = spark.createDataFrame(
        [("f1", "b1", "s1", p) for p in pos],
        P._DV_POS_SCHEMA,
    )
    packed = P._dv_pack(df, 2)
    rows = packed.collect()
    assert all(len(r._dv_bits) == P._DV_WORDS for r in rows)
    back = sorted(r._dv_pos for r in P._dv_unpack(packed).collect())
    assert back == pos


def test_dv_bitmap_sidecar_compresses_dense_deletes(spark, tmp_path):
    """VERDICT r11 #5: a 50%-deleted file's sidecar must be >=10x
    smaller than the row-per-position layout; masked reads stay
    value-exact."""
    d = str(tmp_path / "t")
    n = 100_000
    atomic_publish(_rows(spark, 0, n).coalesce(1), d)
    delete_publish(spark, d, "k % 2 = 0", delete_vectors=True)
    fs = _fs()
    man = P._read_manifest(d, fs)
    dv = P._load_dv(fs, d, man)
    ref = next(iter(dv.values()))
    assert ref["fmt"] == "bm" and ref["n"] == n // 2
    packed_bytes = _dir_bytes(Path(d) / ref["ds"])
    # the row-per-position layout of the SAME positions, for comparison
    positional = P._dv_unpack(spark.read.parquet(str(Path(d) / ref["ds"])))
    positional.coalesce(1).write.parquet(str(tmp_path / "positional"))
    positional_bytes = _dir_bytes(tmp_path / "positional")
    assert packed_bytes * 10 <= positional_bytes, (
        "bitmap sidecar %d B vs positional %d B — expected >=10x"
        % (packed_bytes, positional_bytes)
    )
    got = read_published(spark, d)
    assert got.count() == n // 2
    assert [r.k for r in got.orderBy("k").limit(3).collect()] == [1, 3, 5]


def test_dv_bitmap_through_datasource_and_cdf(spark, tmp_path):
    """Bitmap refs resolve on the Python-DataSource executor path:
    masked batch reads, streaming readChangeFeed take-diffs, and a
    shallow clone's externalized bitmap refs."""
    from bamboo_spark.operators.publish import clone_table
    from bamboo_spark.sources.published import register

    register(spark)
    d = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(_rows(spark, 0, 2000).coalesce(2), d)          # v1
    delete_publish(spark, d, "k % 3 = 0", delete_vectors=True)    # v2
    got = spark.read.format("bamboo_published").load(d)
    assert got.count() == 2000 - 667
    assert sorted(r.k for r in got.limit(0).collect()) == []
    # streaming CDF: the v2 delete surfaces as exact bitmap-diff rows
    seen = []

    def sink(batch_df, bid):
        seen.extend(
            (r["_commit_version"], r["_change_type"], r["k"])
            for r in batch_df.collect()
        )

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "1")
        .option("readChangeFeed", "true")
        .load(d)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(k for v, t, k in seen if t == "delete") == [
        k for k in range(2000) if k % 3 == 0
    ]
    # clone externalizes bitmap refs; the clone reads masked
    c = str(tmp_path / "c")
    clone_table(spark, d, c)
    assert read_published(spark, c).count() == 2000 - 667
    # and compacting the clone applies its external bitmap refs
    compact(spark, c)
    assert not P._read_manifest(c, _fs()).get("dv")
    assert read_published(spark, c).count() == 2000 - 667


def test_masked_read_is_chunk_native(spark, tmp_path):
    """The dv mask joins the STORED bitmap chunk rows and bit-tests per
    row — no position explode (Generate) in the masked-read plan, so
    the join side stays ~1000x smaller than the position form."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 5000).coalesce(1), d)
    delete_publish(spark, d, "k % 2 = 0", delete_vectors=True)
    df = read_published(spark, d)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_dv_bits" in plan, "mask must join the packed chunk rows"
    assert "Generate" not in plan, (
        "masked read exploded dv positions — the chunk-native bit-test "
        "regressed to the position join"
    )
    assert df.count() == 2500


def test_append_merge_mode_widens_types(spark, tmp_path):
    """append_publish(schema_mode='merge') follows the same widening
    rules as widen_column / merge schema_evolution: a wider batch type
    widens the table, a narrower batch casts up, anything else raises."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.range(0, 4).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(10)).cast("float").alias("v"),
        ),
        d,
    )
    append_publish(
        spark.range(4, 6).select(
            F.col("id").alias("k"),                    # long: widens
            (F.col("id") * F.lit(10.0)).alias("v"),    # double: widens
        ),
        d, schema_mode="merge",
    )
    out = read_published(spark, d)
    assert out.schema.simpleString() == "struct<k:bigint,v:double>"
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (k, k * 10.0) for k in range(6)
    ]
    # narrower batch casts up
    append_publish(
        spark.createDataFrame([(6, 60)], "k int, v int"),
        d, schema_mode="merge",
    )
    assert sorted(r.k for r in read_published(spark, d).collect()) == list(
        range(7)
    )
    # incompatible change still raises
    with pytest.raises(ValueError, match="neither a supported widening"):
        append_publish(
            spark.createDataFrame([(7, "x")], "k long, v string"),
            d, schema_mode="merge",
        )


# ------------------------------------------------------ update_publish (MOR)


def test_update_publish_basic(spark, tmp_path):
    """UPDATE = one merge-on-read commit: matched rows' addresses fold
    into the delete vectors, post-SET rows append — no pre-existing
    file rewritten, table row count unchanged."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d, bloom_cols=["k"])
    fs = _fs()
    before = set(P.live_files(d, spark=spark))
    ver = P.update_publish(spark, d, "k % 10 = 0", {"v": "v + 1"})
    assert ver == 2
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert len(got) == 100
    assert got[0] == 1 and got[10] == 101 and got[5] == 50
    after = set(P.live_files(d, spark=spark))
    assert before <= after                       # nothing rewritten
    man = P._read_manifest(d, fs)
    assert man["operation"] == "update"
    assert man.get("dv")                         # addresses went to dv


def test_update_publish_no_match_returns_none(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    assert P.update_publish(spark, d, "k = -1", {"v": "0"}) is None
    assert P.current_version(d, spark=spark) == 1


def test_update_publish_unknown_column_raises(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    with pytest.raises(ValueError, match="unknown column"):
        P.update_publish(spark, d, "k = 1", {"zz": "0"})


def test_update_publish_casts_to_declared_type(spark, tmp_path):
    """SET expressions cast back to the column's declared type — the
    table schema never drifts even when the expression's natural type
    is wider."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    P.update_publish(spark, d, "k = 3", {"v": "v / 2.0 + 0.9"})  # double expr
    out = read_published(spark, d)
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r.v for r in out.where("k = 3").collect()} == {15}


def test_update_publish_never_resurrects_dv_rows(spark, tmp_path):
    """A row already masked by a delete vector must NOT match the
    UPDATE condition — re-emitting it would resurrect an erased row."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    delete_publish(spark, d, "k = 20", delete_vectors=True)
    P.update_publish(spark, d, "k % 20 = 0", {"v": "v + 1000"})
    ks = sorted(
        r.k for r in read_published(spark, d).where("k % 20 = 0").collect()
    )
    assert ks == [0, 40, 60, 80]
    assert P.published_rows(d, spark=spark) == 99


def test_update_publish_moves_partition(spark, tmp_path):
    """Updating a hive partition column relocates the row: the old
    address is masked, the replacement lands under the new partition
    directory, and partition-pruned reads find it there."""
    d = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    atomic_publish(df, d, partition_by=["p"])
    P.update_publish(spark, d, "k = 7", {"p": "'z'"})
    out = read_published(spark, d)
    assert out.where("p = 'z'").collect()[0].k == 7
    assert out.where("k = 7").count() == 1
    assert out.count() == 60


def test_update_publish_point_prunes_candidates(spark, tmp_path):
    """point={col: val} equality pruning shrinks the candidate scan to
    bloom/stats-matching files before any data IO."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)  # file1 k:0-99, file2 k:100-199, bloomed
    fs = _fs()
    man = P._read_manifest(d, fs)
    res = P._resolve_entry(fs, d, man)
    pruned = P._prune_eq(res, res["files"], {"k": 150})
    assert len(pruned) == 1  # the prune the update path reuses
    ver = P.update_publish(
        spark, d, "k = 150", {"v": "-1"}, point={"k": 150}
    )
    assert ver == 3
    assert read_published(spark, d).where("k = 150").collect()[0].v == -1


def test_update_publish_on_renamed_table(spark, tmp_path):
    """UPDATE on a schema-evolved table: condition and SET reference
    LOGICAL names; old files resolve physically by field id."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 20).coalesce(1), d)
    P.rename_column(d, "v", "amount", spark=spark)
    P.update_publish(spark, d, "amount = 50", {"amount": "amount * 2"})
    got = {r.k: r.amount for r in read_published(spark, d).collect()}
    assert got[5] == 100 and got[6] == 60 and len(got) == 20


def test_update_publish_retries_disjoint_race(spark, tmp_path, monkeypatch):
    """An update losing the optimistic race to a dv-delete on the SAME
    file re-RUNS against the fresh snapshot (bounded retry) — the
    serialized result reflects both effects."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    orig_build = P._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            delete_publish(spark, d, "k = 50", delete_vectors=True)
        return out

    monkeypatch.setattr(P, "_dv_build", racing_build)
    ver = P.update_publish(spark, d, "k in (50, 60)", {"v": "v + 1"})
    monkeypatch.undo()
    assert state["raced"]
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 50 not in got          # racer's erase survives the retry
    assert got[60] == 601         # update landed on the re-run
    assert len(got) == 199


def test_update_publish_cdf_sees_update_as_delete_plus_insert(
    spark, tmp_path
):
    """read_changes over an UPDATE commit reports the masked old row as
    a delete and the replacement as an insert — the CDC contract a
    downstream sync needs."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    P.update_publish(spark, d, "k = 4", {"v": "99"})
    ch = P.read_changes(spark, d, 1, 2)
    rows = {( r.k, r.v, r._change_type) for r in ch.collect()}
    assert (4, 40, "delete") in rows
    assert (4, 99, "insert") in rows


# ---------------------------------------- partition-spec evolution: combined


def test_three_era_partition_evolution(spark, tmp_path):
    """Layout change + partition-column rename on one table: the final
    read spans three path layouts (b=…, g=…, grp=…), the dv mask spans
    the first two, and an UPDATE works over the whole mix."""
    d = str(tmp_path / "t")
    o = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("int").alias("b"),
        (F.col("id") % 7).cast("int").alias("g"),
    )
    atomic_publish(o.where("k % 10 = 4"), d, partition_by=["b"])
    P.set_partition_layout(d, ["g"], spark=spark)
    append_publish(o.where("k % 10 = 9"), d)
    delete_publish(spark, d, "v % 7 = 0", delete_vectors=True)
    P.rename_column(d, "g", "grp", spark=spark)
    append_publish(o.where("k % 10 = 0").withColumnRenamed("g", "grp"), d)
    got = [
        (r.k, r.v, r.b, r.grp)
        for r in read_published(spark, d).orderBy("k").collect()
    ]
    exp = sorted(
        [
            (k, k * 10, k % 3, k % 7)
            for k in range(200)
            if (k % 10 in (4, 9) and (k * 10) % 7 != 0) or k % 10 == 0
        ]
    )
    assert got == exp
    P.update_publish(spark, d, "k = 104", {"v": "v + 1"})
    assert (
        read_published(spark, d).where("k = 104").collect()[0].v == 1041
    )


def test_update_publish_copy_on_write(spark, tmp_path):
    """delete_vectors=False rewrites exactly the files containing
    matches — the post-state snapshot carries no dv for them, unmatched
    rows of rewritten files survive, untouched files carry by ref."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)  # file1 k:0-99, file2 k:100-199
    fs = _fs()
    before = P.live_files(d, spark=spark)
    ver = P.update_publish(
        spark, d, "k in (5, 6)", {"v": "v + 1"}, delete_vectors=False
    )
    assert ver == 3
    man = P._read_manifest(d, fs)
    assert man["operation"] == "update"
    assert not man.get("dv")                  # CoW: no vectors
    after = P.live_files(d, spark=spark)
    kept = set(before) & set(after)
    assert len(kept) == 1                     # file2 carried by ref
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert len(got) == 200
    assert got[5] == 51 and got[6] == 61 and got[7] == 70
    assert got[150] == 1500


def test_update_publish_cow_respects_prior_dv(spark, tmp_path):
    """A CoW update rewriting a file that carries delete vectors must
    not resurrect the dv'd rows — and the rewrite clears that file's
    vectors along with the file."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    delete_publish(spark, d, "k = 8", delete_vectors=True)
    P.update_publish(
        spark, d, "k = 9", {"v": "-1"}, delete_vectors=False
    )
    fs = _fs()
    man = P._read_manifest(d, fs)
    assert not man.get("dv")                  # old file's dv retired
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 8 not in got and got[9] == -1 and len(got) == 99


# ------------------------------------------------------- replace_where


def test_replace_where_swaps_slice_atomically(spark, tmp_path):
    """replaceWhere: one commit deletes the matching slice and inserts
    its recomputed replacement; non-matching rows of rewritten files
    survive, untouched files carry by reference."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)  # file1 k:0-99, file2 k:100-199
    repl = spark.createDataFrame(
        [(k, k * 100) for k in range(0, 50)], "k long, v long"
    )
    before = set(P.live_files(d, spark=spark))
    ver = P.replace_where_publish(repl, d, "k < 50")
    assert ver == 3
    after = set(P.live_files(d, spark=spark))
    assert len(before & after) == 1           # file2 untouched
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert len(got) == 200
    assert got[10] == 1000 and got[60] == 600 and got[150] == 1500
    man = P._read_manifest(d, _fs())
    assert man["operation"] == "replace_where"


def test_replace_where_rejects_out_of_slice_rows(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    bad = spark.createDataFrame([(99, 0)], "k long, v long")
    with pytest.raises(ValueError, match="outside the condition"):
        P.replace_where_publish(bad, d, "k < 50")
    assert P.current_version(d, spark=spark) == 1


def test_replace_where_no_match_is_pure_insert(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    ins = spark.createDataFrame([(500, 1)], "k long, v long")
    ver = P.replace_where_publish(ins, d, "k >= 500")
    assert ver == 2
    assert P.published_rows(d, spark=spark) == 11


def test_replace_where_can_shrink_or_grow_slice(spark, tmp_path):
    """The replacement needn't be row-for-row: replacing a 100-row
    slice with 3 rows (or 0) is a legal backfill."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    repl = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "k long, v long"
    )
    P.replace_where_publish(repl, d, "k < 100")
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert len(got) == 103
    assert got[0] == 1 and 99 not in got and got[199] == 1990
    # empty replacement = predicate delete via the same primitive
    empty = spark.createDataFrame([], "k long, v long")
    P.replace_where_publish(empty, d, "k < 100")
    assert P.published_rows(d, spark=spark) == 100


def test_replace_where_respects_dv_mask(spark, tmp_path):
    """Rows already erased by delete vectors stay erased through a
    replaceWhere that rewrites their file."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    delete_publish(spark, d, "k = 70", delete_vectors=True)
    repl = spark.createDataFrame([(5, -5)], "k long, v long")
    P.replace_where_publish(repl, d, "k < 10")
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 70 not in got and got[5] == -5
    assert len(got) == 90  # 99 live - 10 replaced-out + 1 inserted


def test_cow_update_race_reclaims_staging(spark, tmp_path, monkeypatch):
    """A CoW update losing its optimistic race (the targeted file's dv
    changed underneath) re-runs AND reclaims the failed attempt's
    staging dir + claim — no orphans for vacuum to age out."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    import bamboo_spark.operators.publish as Pm
    orig_scan = Pm._scan_written
    state = {"raced": False}

    def racing_scan(*a, **kw):
        out = orig_scan(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            # racer dv-deletes in the SAME (only) file between the
            # victim's write and its commit lease
            delete_publish(spark, d, "k = 90", delete_vectors=True)
        return out

    monkeypatch.setattr(Pm, "_scan_written", racing_scan)
    ver = P.update_publish(
        spark, d, "k < 3", {"v": "v + 1"}, delete_vectors=False
    )
    monkeypatch.undo()
    assert state["raced"] and ver == 3
    names = sorted(x.name for x in Path(d).iterdir())
    assert not [n for n in names if n.endswith(".claim")], names
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 90 not in got and got[0] == 1 and got[2] == 21
    assert len(got) == 99


def test_mor_update_race_reclaims_staging(spark, tmp_path, monkeypatch):
    """A MOR update losing its race reclaims staging the same way."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    import bamboo_spark.operators.publish as Pm
    orig_build = Pm._dv_build
    state = {"raced": False}

    def racing_build(*a, **kw):
        out = orig_build(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            delete_publish(spark, d, "k = 90", delete_vectors=True)
        return out

    monkeypatch.setattr(Pm, "_dv_build", racing_build)
    ver = P.update_publish(spark, d, "k < 3", {"v": "v + 1"})
    monkeypatch.undo()
    assert state["raced"] and ver == 3
    names = sorted(x.name for x in Path(d).iterdir())
    assert not [n for n in names if n.endswith(".claim")], names
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert 90 not in got and got[0] == 1
    assert len(got) == 99


# ------------------------------------------------------------ fsck_table


def test_fsck_clean_table(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 50).coalesce(1), d)
    append_publish(_rows(spark, 50, 100).coalesce(1), d)
    delete_publish(spark, d, "k = 3", delete_vectors=True)
    rep = P.fsck_table(d, spark=spark, check_sizes=True)
    assert rep["ok"] and rep["version"] == 3
    assert rep["snapshots_checked"] == 3
    assert rep["files_checked"] >= 2
    assert not rep["missing_files"] and not rep["missing_dv"]
    assert not rep["orphan_dirs"] and not rep["stray_claims"]


def test_fsck_detects_missing_file_and_dv(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 50).coalesce(1), d)
    append_publish(_rows(spark, 50, 100).coalesce(1), d)
    delete_publish(spark, d, "k = 3", delete_vectors=True)
    # vandalize: remove one data file and the dv sidecar dataset
    import shutil
    f1 = [f for f in P.live_files(d, spark=spark) if f.startswith("_v2")][0]
    (Path(d) / f1).unlink()
    dvds = [p for p in (Path(d) / "_v3").iterdir() if p.name == "_dvp"]
    if dvds:
        shutil.rmtree(dvds[0])
    rep = P.fsck_table(d, spark=spark)
    assert not rep["ok"]
    assert any(m["file"] == f1 for m in rep["missing_files"])
    assert rep["missing_dv"]


def test_fsck_classifies_orphans_and_claims(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    # a crashed writer's leftovers: unreferenced dir + stale claim
    (Path(d) / "_v9").mkdir()
    (Path(d) / "_v9" / "junk.parquet").write_bytes(b"x")
    (Path(d) / "_v7.claim").write_text("{}")
    import os, time
    old = time.time() - 3600
    os.utime(Path(d) / "_v7.claim", (old, old))
    rep = P.fsck_table(d, spark=spark)
    assert rep["ok"]                       # health of RETAINED refs
    assert rep["orphan_dirs"] == ["_v9"]
    assert rep["stray_claims"] == ["_v7.claim"]
    # a FRESH claim marks in-flight, not orphan
    (Path(d) / "_v9.claim").write_text("{}")
    rep2 = P.fsck_table(d, spark=spark)
    assert rep2["in_flight_dirs"] == ["_v9"] and not rep2["orphan_dirs"]


def test_fsck_size_mismatch(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 50).coalesce(1), d)
    f1 = P.live_files(d, spark=spark)[0]
    p = Path(d) / f1
    p.write_bytes(p.read_bytes() + b"garbage")
    rep = P.fsck_table(d, spark=spark, check_sizes=True)
    assert not rep["ok"] and rep["size_mismatches"]


def test_replace_where_rebases_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """replaceWhere racing an append commits both: the rebase keeps
    the appended file (it isn't targeted) and swaps the slice."""
    d = str(tmp_path / "t")
    _two_file_table(spark, d)
    import bamboo_spark.operators.publish as Pm
    orig_scan = Pm._scan_written
    state = {"raced": False}

    def racing_scan(*a, **kw):
        out = orig_scan(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            append_publish(_rows(spark, 200, 210).coalesce(1), d)
        return out

    monkeypatch.setattr(Pm, "_scan_written", racing_scan)
    repl = spark.createDataFrame([(0, -1)], "k long, v long")
    ver = P.replace_where_publish(repl, d, "k < 100")
    monkeypatch.undo()
    assert state["raced"] and ver == 4  # v3 = racer append, v4 = replace
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got[0] == -1 and 1 not in got     # slice swapped
    assert got[205] == 2050                  # racer's append survived
    assert len(got) == 111                   # 1 + 100 + 10


# ------------------------------------------- change feed of rewrites


def test_read_changes_exact_diff_for_rewrite_commits(spark, tmp_path):
    """Batch read_changes computes EXACT multiset diffs for rewrite
    commits — a CoW update and a replaceWhere each surface as their
    delete+insert pairs (the streaming CDF refuses these honestly and
    points here)."""
    d = str(tmp_path / "t")
    atomic_publish(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "k long, v long"
        ).coalesce(1),
        d,
    )
    P.update_publish(spark, d, "k = 3", {"v": "99"}, delete_vectors=False)
    repl = spark.createDataFrame([(1, -1)], "k long, v long")
    P.replace_where_publish(repl, d, "k = 1")
    rows = sorted(
        (r._commit_version, r._change_type, r.k, r.v)
        for r in P.read_changes(spark, d, 1, 3).collect()
    )
    assert rows == [
        (2, "delete", 3, 30),
        (2, "insert", 3, 99),
        (3, "delete", 1, 10),
        (3, "insert", 1, -1),
    ]


# -------------------------------------------- dynamic partition overwrite


def test_overwrite_partitions_dynamic(spark, tmp_path):
    """Dynamic overwrite replaces exactly the partitions present in
    df — discovered from the frame, never named by hand."""
    d = str(tmp_path / "t")
    df = spark.range(0, 90).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    atomic_publish(df, d, partition_by=["p"])
    fresh = spark.createDataFrame(
        [(1000, 1, "0"), (1001, 2, "2")], "k long, v long, p string"
    )
    ver = P.overwrite_partitions_publish(fresh, d)
    assert ver == 2
    out = read_published(spark, d)
    assert out.where("p = '1'").count() == 30         # untouched
    assert out.where("p = '0'").count() == 1          # replaced
    assert out.where("p = '2'").count() == 1
    assert {r.k for r in out.where("p = '0'").collect()} == {1000}
    man = P._read_manifest(d, _fs())
    assert man["operation"] == "overwrite_partitions"


def test_overwrite_partitions_empty_df_noop(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.range(0, 9).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    )
    atomic_publish(df, d, partition_by=["p"])
    empty = spark.createDataFrame([], "k long, p string")
    assert P.overwrite_partitions_publish(empty, d) is None
    assert P.current_version(d, spark=spark) == 1


def test_overwrite_partitions_requires_partitioned(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    with pytest.raises(ValueError, match="hive-partitioned"):
        P.overwrite_partitions_publish(_rows(spark, 0, 5), d)


# ---------------------------------------------------------- index spec


def _seg_blooms(d, seg):
    return P._load_seg(_fs(), d, seg).get("file_blooms") or {}


def test_index_spec_from_creating_publish(spark, tmp_path):
    """Explicit stats/bloom cols on the creating atomic_publish DEFINE
    the table's index spec: later appends/merges/updates index their
    new files without passing the args."""
    d = str(tmp_path / "t")
    atomic_publish(
        _rows(spark, 0, 50).coalesce(1), d,
        stats_cols=["k"], bloom_cols=["k"],
    )
    man = P._read_manifest(d, _fs())
    assert man["index_cols"] == {"stats": ["k"], "bloom": ["k"]}
    append_publish(_rows(spark, 50, 100).coalesce(1), d)     # no args!
    assert _seg_blooms(d, "_v2"), "append did not inherit the spec"
    seg = P._load_seg(_fs(), d, "_v2")
    assert seg.get("file_stats"), "append did not inherit stats"
    # MOR update's new files index too
    P.update_publish(spark, d, "k = 60", {"v": "0"})
    seg3 = P._load_seg(_fs(), d, "_v3")
    assert seg3.get("file_blooms")
    # explicit override still wins per-write
    append_publish(
        _rows(spark, 100, 110).coalesce(1), d, bloom_cols=[]
    )
    assert not _seg_blooms(d, "_v4")


def test_set_index_columns_metadata_commit(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 20).coalesce(1), d)       # no spec
    append_publish(_rows(spark, 20, 40).coalesce(1), d)
    assert not _seg_blooms(d, "_v2")
    ver = P.set_index_columns(d, bloom_cols=["k"], spark=spark)
    assert ver == 3
    append_publish(_rows(spark, 40, 60).coalesce(1), d)
    assert _seg_blooms(d, "_v4")
    with pytest.raises(ValueError, match="unknown column"):
        P.set_index_columns(d, bloom_cols=["zz"], spark=spark)
    # [] clears
    P.set_index_columns(d, bloom_cols=[], spark=spark)
    append_publish(_rows(spark, 60, 80).coalesce(1), d)
    assert not _seg_blooms(d, "_v6")


def test_index_spec_survives_compact_and_clone(spark, tmp_path):
    d = str(tmp_path / "t")
    c = str(tmp_path / "c")
    atomic_publish(
        _rows(spark, 0, 50).coalesce(1), d, bloom_cols=["k"]
    )
    compact(spark, d)
    man = P._read_manifest(d, _fs())
    assert man["index_cols"]["bloom"] == ["k"]
    # the compacted files themselves got blooms from the spec
    seg = P._load_seg(_fs(), d, man["segments"][-1])
    assert seg.get("file_blooms")
    P.clone_table(spark, d, c)
    append_publish(_rows(spark, 50, 60).coalesce(1), c)
    cman = P._read_manifest(c, _fs())
    assert cman["index_cols"]["bloom"] == ["k"]


def test_index_spec_tolerates_rename(spark, tmp_path):
    """ROUND 13 (r12 verdict #4): the persisted index spec FOLLOWS a
    rename in the same commit — the next defaulted write blooms the
    column under its NEW name, so the table's point-lookup SLA never
    silently degrades. (Round 12 merely skipped the vanished name;
    the old pin is superseded.)"""
    d = str(tmp_path / "t")
    atomic_publish(
        _rows(spark, 0, 20).coalesce(1), d, bloom_cols=["v"]
    )
    P.rename_column(d, "v", "amount", spark=spark)
    assert P.describe_table(d, spark)["index_cols"]["bloom"] == [
        "amount"
    ]
    ver = append_publish(
        spark.range(20, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("amount")
        ).coalesce(1),
        d,
    )
    assert ver == 3
    blooms = _seg_blooms(d, "_v3")
    assert blooms and all("amount" in b for b in blooms.values())
    # and set_index_columns still re-arms explicitly as before
    P.set_index_columns(d, bloom_cols=["amount"], spark=spark)
    append_publish(
        spark.range(30, 40).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("amount")
        ).coalesce(1),
        d,
    )
    assert _seg_blooms(d, "_v5")


# ------------------------------------------------------------- vacuum dry-run


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)       # v1
    atomic_publish(_rows(spark, 0, 20).coalesce(1), d)       # v2 (v1 garbage-able)
    atomic_publish(_rows(spark, 0, 30).coalesce(1), d)       # v3
    before = sorted(x.name for x in Path(d).iterdir())
    would = P.vacuum(d, keep=1, spark=spark, dry_run=True)
    assert would == ["_v1", "_v2"]
    # nothing moved: dirs intact, history intact, old version readable
    assert sorted(x.name for x in Path(d).iterdir()) == before
    assert len(P.snapshots(d, spark)) == 3
    assert read_published(spark, d, version=1).count() == 10
    # the real vacuum then removes exactly what the dry run reported
    assert P.vacuum(d, keep=1, spark=spark) == would
    assert not (Path(d) / "_v1").exists()


def test_replace_where_overlap_serializes_by_rerun(
    spark, tmp_path, monkeypatch
):
    """Two replaceWheres on the SAME slice: the loser's commit-time
    still-live check fails, the bounded re-run recomputes against the
    winner's snapshot, and the slice ends as the loser's df wholesale —
    serialized overwrite semantics, never a merge of both."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), d)
    import bamboo_spark.operators.publish as Pm
    orig_scan = Pm._scan_written
    state = {"raced": False}

    def racing_scan(*a, **kw):
        out = orig_scan(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            racer = spark.createDataFrame(
                [(0, 111)], "k long, v long"
            )
            P.replace_where_publish(racer, d, "k < 50")
        return out

    monkeypatch.setattr(Pm, "_scan_written", racing_scan)
    victim = spark.createDataFrame(
        [(1, 222), (2, 223)], "k long, v long"
    )
    ver = P.replace_where_publish(victim, d, "k < 50")
    monkeypatch.undo()
    assert state["raced"] and ver == 3  # v2 racer, v3 victim re-run
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    # victim's re-run replaced the slice the racer had just written
    assert got == {
        **{1: 222, 2: 223},
        **{k: k * 10 for k in range(50, 100)},
    }


def test_overwrite_partitions_racing_append_same_partition_raises(
    spark, tmp_path, monkeypatch
):
    """Dynamic overwrite racing an append INTO a replaced partition
    must raise (the disjointness check) — the appended rows can never
    be silently dropped by the overwrite."""
    d = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    )
    atomic_publish(df, d, partition_by=["p"])
    import bamboo_spark.operators.publish as Pm
    orig_scan = Pm._scan_written
    state = {"raced": False}

    def racing_scan(*a, **kw):
        out = orig_scan(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            append_publish(
                spark.createDataFrame([(900, "0")], "k long, p string"),
                d,
            )
        return out

    monkeypatch.setattr(Pm, "_scan_written", racing_scan)
    fresh = spark.createDataFrame([(100, "0")], "k long, p string")
    with pytest.raises(P.ConcurrentWriteError):
        P.overwrite_partitions_publish(fresh, d)
    monkeypatch.undo()
    # the racer's append survived; the overwrite left no trace
    got = read_published(spark, d)
    assert got.where("k = 900").count() == 1
    assert got.where("k = 100").count() == 0
    assert got.count() == 31


# --------------------------------------------- review fixes (round 12)


def test_delete_and_replace_keep_null_condition_rows(spark, tmp_path):
    """SQL three-valued logic: a row whose condition evaluates NULL
    does NOT match — it must survive a CoW delete/replace exactly as it
    survives the dv path (a bare NOT(cond) filter would silently drop
    it when it shares a file with real matches)."""
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, None)], "k long, v long"
    )
    atomic_publish(df.coalesce(1), d)
    # unpartitioned CoW delete: v=30 goes, NULL-v rows stay
    delete_publish(spark, d, "v = 30")
    got = {r.k for r in read_published(spark, d).collect()}
    assert got == {1, 2, 4}
    # replaceWhere: NULL-v rows share the file with the v=10 match
    repl = spark.createDataFrame([(9, 10)], "k long, v long")
    P.replace_where_publish(repl, d, "v = 10")
    got = {r.k for r in read_published(spark, d).collect()}
    assert got == {9, 2, 4}


def test_delete_point_path_keeps_null_condition_rows(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    atomic_publish(df.coalesce(1), d, bloom_cols=["v"])
    delete_publish(spark, d, "v = 10", point={"v": 10})
    got = {r.k for r in read_published(spark, d).collect()}
    assert got == {2, 3}


def test_replace_where_flags_null_condition_df_rows_as_stray(
    spark, tmp_path
):
    """A df row whose condition evaluates NULL does not SATISFY the
    slice — it must be rejected, not written outside the guard."""
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10).coalesce(1), d)
    bad = spark.createDataFrame([(1, None)], "k long, v long")
    with pytest.raises(ValueError, match="outside the condition"):
        P.replace_where_publish(bad, d, "v = 10")


def test_overwrite_partitions_refuses_multi_column_layout(
    spark, tmp_path
):
    """Dynamic overwrite by parts[0] on a multi-column layout would
    erase sibling sub-partitions df doesn't carry — refused."""
    d = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("d"),
        (F.col("id") % 4).cast("string").alias("h"),
    )
    atomic_publish(df, d, partition_by=["d", "h"])
    fresh = spark.createDataFrame(
        [(100, "0", "0")], "k long, d string, h string"
    )
    with pytest.raises(ValueError, match="single-column"):
        P.overwrite_partitions_publish(fresh, d)
    assert P.published_rows(d, spark=spark) == 40  # untouched


def test_overwrite_partitions_refuses_null_partition_values(
    spark, tmp_path
):
    d = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    atomic_publish(df, d, partition_by=["p"])
    withnull = spark.createDataFrame(
        [(100, None)], "k long, p string"
    )
    with pytest.raises(ValueError, match="NULL values in"):
        P.overwrite_partitions_publish(withnull, d)


# ---------------------------------------------------------- describe_table


def test_describe_table_property_sheet(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(
        _rows(spark, 0, 50).coalesce(1), d, bloom_cols=["k"]
    )
    P.set_index_columns(d, stats_cols=["k"], spark=spark)
    delete_publish(spark, d, "k = 7", delete_vectors=True)
    det = P.describe_table(d, spark=spark)
    # v1 publish, v2 index spec, v3 dv delete
    assert det["version"] == 3 and det["n_rows"] == 49
    assert det["partition_by"] == []
    assert det["schema"].startswith("struct<k:bigint")
    assert det["index_cols"]["stats"] == ["k"]
    assert det["index_cols"]["bloom"] == ["k"]
    assert det["dv_files"] == 1 and det["dv_rows"] == 1
    assert det["operation"] == "delete"
    assert det["external_refs"] == 0 and det["n_snapshots"] == 3


# ------------------------------------------------- round-12 writers × clones


def test_round12_writers_on_shallow_clone(spark, tmp_path):
    """The new writers operate on a shallow clone without touching the
    source: MOR update addresses EXTERNAL files, CoW update rewrites an
    external file into a local one (its dv retiring with it),
    replaceWhere swaps a slice, compact folds externals into local
    files, and fsck validates the external refs throughout."""
    t = str(tmp_path / "t")
    c = str(tmp_path / "c")
    atomic_publish(_rows(spark, 0, 100).coalesce(1), t)
    P.clone_table(spark, t, c)
    P.update_publish(spark, c, "k = 5", {"v": "-5"})                # MOR
    P.update_publish(
        spark, c, "k = 6", {"v": "-6"}, delete_vectors=False
    )                                                               # CoW
    got = {r.k: r.v for r in read_published(spark, c).collect()}
    assert got[5] == -5 and got[6] == -6 and len(got) == 100
    # the CoW rewrite of the (single) external file carried the MOR
    # update's replacement row and dropped the stale dv with the file
    man = P._read_manifest(c, _fs())
    assert not man.get("dv")
    repl = spark.createDataFrame([(0, 1)], "k long, v long")
    P.replace_where_publish(repl, c, "k < 3")
    assert P.published_rows(c, spark=spark) == 98
    compact(spark, c)
    assert P.describe_table(c, spark)["external_refs"] == 0
    rep = P.fsck_table(c, spark=spark, check_sizes=True)
    assert rep["ok"]
    # source never touched by any of it
    src = {r.k: r.v for r in read_published(spark, t).collect()}
    assert len(src) == 100 and src[5] == 50 and src[0] == 0


def test_dv_bitmap_algebra_property(spark):
    """Property: over random position sets, pack→unpack is the
    identity and merging two packings equals packing the union —
    the two invariants every dv commit and every dv fold rely on."""
    from hypothesis import given, settings, strategies as st

    posset = st.sets(
        st.integers(min_value=0, max_value=5_000), min_size=0,
        max_size=120,
    )

    @settings(max_examples=8, deadline=None)
    @given(a=posset, b=posset)
    def prop(a, b):
        def pack(ps):
            if not ps:
                return None
            df = spark.createDataFrame(
                [("f", "b", "s", p) for p in sorted(ps)],
                P._DV_POS_SCHEMA,
            )
            return P._dv_pack(df, 2)

        pa, pb = pack(a), pack(b)
        if pa is not None:
            back = sorted(r._dv_pos for r in P._dv_unpack(pa).collect())
            assert back == sorted(a)
        if pa is not None and pb is not None:
            merged = P._dv_merge_chunks(pa.unionByName(pb))
            got = sorted(
                r._dv_pos for r in P._dv_unpack(merged).collect()
            )
            assert got == sorted(a | b)

    prop()
