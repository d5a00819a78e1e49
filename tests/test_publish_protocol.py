"""Commit-protocol hardening: CAS-validated manifest swap (a
TTL-evicted writer can never clobber a committed snapshot), ABA-safe
lease breaking, lease scoping for maintenance ops, strict schema type
checking, and table-meta carry-forward through every publish flavor."""

import json
import os
import time

import pytest

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    ConcurrentWriteError,
    append_publish,
    atomic_publish,
    compact,
    current_version,
    delete_publish,
    read_published,
    replace_partitions_publish,
    table_meta,
    vacuum,
)


def _backdate_lock(table_dir, by_ms=400_000):
    lock = os.path.join(table_dir, "_commit.lock")
    old = time.time() - by_ms / 1000.0
    os.utime(lock, (old, old))


@pytest.mark.parametrize("backend", ["posix", "hadoop-file-uri"])
def test_evicted_writer_commit_raises_and_breaker_snapshot_survives(
    spark, tmp_path, backend
):
    """THE lost-update scenario: writer A acquires the lease and starts
    a long write; the lease expires (backdated lock); writer B breaks
    the stale lock and commits; A finishes and tries to swap the
    manifest built against the pre-B version — the CAS must make A
    RAISE, and B's committed snapshot must survive with the version
    number moving only forward. Exercised through BOTH filesystem
    backends (the Hadoop JVM path is what hdfs:// tables take)."""
    local = str(tmp_path / "tbl")
    t = "file://" + local if backend == "hadoop-file-uri" else local
    atomic_publish(spark.range(5).selectExpr("id", "id as x"), t)  # v1
    fs = P._fs_for(t, spark)

    # writer A: lease acquired, snapshot plan built against v1
    lease_a = P._Lease(fs, t).acquire()
    prev_a = P._read_manifest(t, fs)
    version_a = P._next_version(fs, t, prev_a)

    # A's lease expires mid-write (the lock file is local under both
    # backends here; file: routes its METADATA ops through the JVM)
    _backdate_lock(local)

    # writer B: breaks the stale lock and commits the next version
    v_b = append_publish(spark.range(3).selectExpr("id", "id as x"), t)
    assert v_b == 2 and current_version(t) == 2

    # A finishes its write and tries to commit → must raise, not clobber
    entry_a = {
        "files": [],
        "n_rows": 0,
        "size_bytes": 0,
        "file_sizes": {},
        "schema": prev_a["schema"],
        "partition_by": [],
    }
    with pytest.raises(ConcurrentWriteError):
        P._commit(fs, t, prev_a, version_a, entry_a, lease=lease_a)

    # B's snapshot is intact; version never went backwards
    assert current_version(t) == 2
    assert read_published(spark, t).count() == 8
    # A's release must not delete B's (or a later writer's) lock:
    # the lock was A's once, but the break replaced it
    lease_a.release()


def test_still_mine_false_after_break(spark, tmp_path):
    t = str(tmp_path / "tbl")
    os.makedirs(t, exist_ok=True)
    fs = P._PosixFS()
    a = P._Lease(fs, t).acquire()
    assert a.still_mine()
    _backdate_lock(t)
    b = P._Lease(fs, t).acquire()  # breaks A's stale lock
    assert b.still_mine() and not a.still_mine()
    a.release()  # must NOT remove B's lock
    assert b.still_mine()
    b.release()


def test_strict_append_rejects_type_change(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(4).selectExpr("id", "cast(id as double) as amount"), t
    )
    # same column NAMES, retyped amount → strict mode must refuse
    bad = spark.range(2).selectExpr("id", "cast(id as string) as amount")
    with pytest.raises(ValueError, match="types"):
        append_publish(bad, t)
    # identical schema still appends fine
    ok = spark.range(2).selectExpr("id", "cast(id as double) as amount")
    assert append_publish(ok, t) == 2


def test_meta_carries_through_maintenance_commits(spark, tmp_path):
    """A streaming sink's exactly-once HWM (manifest meta) must survive
    maintenance (index spec, compact, vacuum) — a maintenance commit
    that erased it would make the next replayed batch double-append."""
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(10).selectExpr("id", "id % 3 as g"),
        t,
        meta={"last_bid": 7},
    )
    append_publish(
        spark.range(5).selectExpr("id", "id % 3 as g"),
        t,
        meta={"last_bid": 8},
    )
    assert table_meta(t)["last_bid"] == 8
    compact(spark, t)  # maintenance passes no meta
    assert table_meta(t)["last_bid"] == 8, "compact erased the HWM"
    P.set_index_columns(t, stats_cols=["id"], spark=spark)
    compact(spark, t)
    vacuum(t, keep=1)
    assert table_meta(t)["last_bid"] == 8
    # an explicit meta write still overrides per-key and adds new keys
    append_publish(
        spark.range(2).selectExpr("id", "id % 3 as g"),
        t,
        meta={"last_bid": 9, "owner": "ingest"},
    )
    m = table_meta(t)
    assert m["last_bid"] == 9 and m["owner"] == "ingest"


def test_publish_stream_hwm_survives_compact(spark, tmp_path):
    """End-to-end ADVICE scenario: publish_stream batches, a compact()
    between them, then a REPLAYED batch id — the replay must still be
    skipped (no double rows)."""
    t = str(tmp_path / "tbl")

    def run_batch(df, bid):
        # publish_stream's exact sink contract, batch ids under our
        # control (foreachBatch ids aren't replayable in a unit test)
        hwm = table_meta(t, spark).get("last_bid")
        if hwm is not None and int(bid) <= int(hwm):
            return
        append_publish(df, t, meta={"last_bid": int(bid)})

    run_batch(spark.range(4).selectExpr("id"), 0)
    run_batch(spark.range(4, 7).selectExpr("id"), 1)
    assert read_published(spark, t).count() == 7
    compact(spark, t)  # maintenance between micro-batches
    run_batch(spark.range(4, 7).selectExpr("id"), 1)  # replayed batch
    assert read_published(spark, t).count() == 7, "replay double-appended"
    run_batch(spark.range(7, 9).selectExpr("id"), 2)  # stream continues
    assert read_published(spark, t).count() == 9


def test_maintenance_ops_respect_held_lease(spark, tmp_path, monkeypatch):
    """vacuum / compact / delete_publish take the table lease — with
    another writer holding it past their wait they must refuse, not race.
    (Commit waits shrink so refusal is fast; production keeps 30 s to
    ride out committer pile-ups.)"""
    monkeypatch.setattr(P, "_COMMIT_WAIT_MS", 500)
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(10).selectExpr("id", "cast(id % 2 as string) as g"),
        t,
        partition_by="g",
    )
    fs = P._PosixFS()
    other = P._Lease(fs, t).acquire()
    try:
        with pytest.raises(ConcurrentWriteError):
            vacuum(t, keep=1)
        with pytest.raises(ConcurrentWriteError):
            compact(spark, t)
        with pytest.raises(ConcurrentWriteError):
            delete_publish(spark, t, "id = 3")
    finally:
        other.release()
    # and with the lease free they all work
    assert delete_publish(spark, t, "id = 3") == 2
    assert read_published(spark, t).count() == 9


# ---------------------------------------------------------------- segments


def _manifest_bytes(t):
    return os.path.getsize(os.path.join(t, "manifest.json"))


def test_segmented_manifest_stays_small_under_append_loop(spark, tmp_path):
    """The scale contract of the segmented manifest: the TOP manifest's
    byte size stays ~constant as appended versions (and files)
    accumulate — per-file detail lives in per-version sidecars, so a
    1M-file table's per-commit metadata IO is O(batch), not O(table)."""
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(8).selectExpr("id", "id as x").repartition(4), t
    )
    vacuum_keep_sizes = []
    for i in range(8):
        append_publish(
            spark.range(8).selectExpr("id", "id as x").repartition(4), t
        )
        vacuum(t, keep=2)  # steady-state retention, as deployed
        vacuum_keep_sizes.append(_manifest_bytes(t))
    # 4 files per version x 9 versions: manifest growth must NOT track
    # file count — allow bookkeeping drift, forbid O(files) growth
    assert vacuum_keep_sizes[-1] < vacuum_keep_sizes[0] * 2
    # per-file detail is really in the sidecars
    man = json.load(open(os.path.join(t, "manifest.json")))
    assert man.get("files") is None and man.get("segments")
    assert read_published(spark, t).count() == 8 * 9
    # and commit IO is O(delta): the latest version dir's sidecar lists
    # only ITS files
    seg = json.load(
        open(os.path.join(t, "_v%d" % man["version"], "_seg.json"))
    )
    assert len(seg["files"]) == 4


def test_segmented_time_travel_and_replace(spark, tmp_path):
    t = str(tmp_path / "tbl")
    import pyspark.sql.functions as F

    df = spark.range(30).select(
        (F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("v")
    )
    atomic_publish(df, t, partition_by="k")
    append_publish(
        spark.range(30, 36).select(
            (F.col("id") % 3).cast("string").alias("k"),
            F.col("id").alias("v"),
        ),
        t,
    )
    repl = spark.createDataFrame(
        [("1", 1000)], "k string, v long"
    )
    v3 = replace_partitions_publish(repl, t, values=["1"])
    assert v3 == 3
    cur = read_published(spark, t)
    assert cur.where("k = '1'").count() == 1
    # k=0: 10+2, k=2: 10+2 carried; k=1 replaced by a single row
    assert cur.count() == 12 + 12 + 1
    # time travel still resolves every retained snapshot exactly
    assert read_published(spark, t, version=1).count() == 30
    assert read_published(spark, t, version=2).count() == 36


def test_segment_prune_drops_fully_replaced_versions(spark, tmp_path):
    """After a partition's files are all replaced, the segment that
    owned only those files leaves the snapshot's segment list and its
    entries leave 'removed' — the manifest doesn't accumulate tombstone
    lists over the table's lifetime."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    base = spark.range(10).select(
        F.lit("a").alias("k"), F.col("id").alias("v")
    ).coalesce(1)
    atomic_publish(base, t, partition_by="k")
    # append a second version touching ONLY k=b
    append_publish(
        spark.range(5).select(
            F.lit("b").alias("k"), F.col("id").alias("v")
        ).coalesce(1),
        t,
    )
    # replace k=b entirely: _v2's segment is fully shadowed → pruned
    replace_partitions_publish(
        spark.createDataFrame([("b", 99)], "k string, v long"),
        t,
        values=["b"],
    )
    man = json.load(open(os.path.join(t, "manifest.json")))
    assert "_v2" not in (man.get("segments") or [])
    assert man.get("removed") == []
    got = read_published(spark, t)
    assert got.count() == 11
    assert got.where("k = 'b'").count() == 1


def _refused_shapes(table_dir):
    """Every legacy shape the shared loaders refuse, found by walking
    the table's manifest, each ``_seg.json`` and each ``_dv.json``."""
    found = []
    man = json.load(open(os.path.join(table_dir, "manifest.json")))
    if not man.get("snapshots"):
        found.append("manifest without snapshots")
    for v, e in [("top", man), *man.get("snapshots", {}).items()]:
        if "files" in e:
            found.append("inline files in snapshot %s" % v)
        if not e.get("field_ids"):
            found.append("no field_ids in snapshot %s" % v)
        if e.get("n_files") is None or e.get("size_bytes") is None:
            found.append("no n_files/size_bytes in snapshot %s" % v)
    for root, _, names in os.walk(table_dir):
        for name in names:
            path = os.path.join(root, name)
            if name == "_seg.json":
                seg = json.load(open(path))
                per_file = seg.get("file_fields") or {}
                if not seg.get("field_names") and any(
                    f not in per_file for f in seg["files"]
                ):
                    found.append("unstamped segment %s" % path)
            elif name == "_dv.json":
                for f, val in json.load(open(path)).items():
                    if not isinstance(val, dict):
                        found.append("position list %s" % path)
                    elif val.get("fmt") != "bm":
                        found.append("row-per-position sidecar %s" % path)
                    elif val["ds"].rstrip("/").endswith("/_dvp"):
                        found.append("hidden _dvp root %s" % path)
    return found


def test_every_writer_writes_one_table_format(spark, tmp_path):
    """Every writer in the package, run on one table (and a clone of
    it), leaves only the current on-disk shape: snapshot history,
    segmented entries with field ids, stamped segments and bitmap
    delete-vector sidecars below ``_v<N>/_dvp/dvp`` — none of the
    shapes the readers refuse."""
    t = str(tmp_path / "tbl")
    c = str(tmp_path / "clone")

    def rows(pairs, x=0):
        return spark.createDataFrame(
            [(k, v, x, "p%d" % (k % 2)) for k, v in pairs],
            "k long, v long, x long, p string",
        )

    atomic_publish(
        rows([(k, k) for k in range(20)]), t, partition_by="p",
        stats_cols=["k"], bloom_cols=["k"],
    )
    append_publish(rows([(k, k) for k in range(20, 30)]), t)
    P.merge_into(
        rows([(1, 100), (40, 40)]), t, "k",
        when_matched_update={"v": "s.v"},
    )
    P.merge_publish_incremental(
        spark.createDataFrame(
            [(2, 200, 0, "p0", "upsert"), (7, 700, 0, "p1", "delete")],
            "k long, v long, x long, p string, op string",
        ),
        t, "k", ["v"], op_col="op",
    )
    delete_publish(spark, t, "k = 3", delete_vectors=True)
    delete_publish(spark, t, "k = 8", delete_vectors=True)
    compact(spark, t)
    delete_publish(spark, t, "k = 4", delete_vectors=False)
    P.update_publish(spark, t, "k = 5", {"v": "v + 1000"})
    P.update_publish(
        spark, t, "k = 6", {"v": "v + 1000"}, delete_vectors=False
    )
    P.replace_where_publish(rows([(50, 50), (51, 51)]), t, "k >= 50")
    replace_partitions_publish(
        rows([(k, k) for k in range(1, 30, 2)]), t, values=["p1"],
        partition_col="p",
    )
    vacuum(t, keep=100, spark=spark)  # history for the checks
    delete_publish(spark, t, "k = 10", delete_vectors=True)
    P.rename_column(t, "v", "w", spark=spark)
    P.drop_column(t, "x", spark=spark)
    P.set_partition_layout(t, ["p", "bucket(2, k)"], spark=spark)
    append_publish(
        spark.createDataFrame([(60, 60, "p0")], "k long, w long, p string"),
        t,
    )
    compact(spark, t)
    delete_publish(spark, t, "k = 14", delete_vectors=True)
    P.clone_table(spark, t, c)
    delete_publish(spark, c, "k = 12", delete_vectors=True)

    ops = {r.operation for r in P.table_history(spark, t).collect()}
    assert {"delete", "compact", "rename_column"} <= ops
    # the head carries delete vectors after the compact, and the clone
    # externalized them
    assert json.load(open(os.path.join(t, "manifest.json"))).get("dv")
    assert any(
        os.path.isdir(os.path.join(root, "_dvp", "dvp"))
        for root, _, _ in os.walk(c)
    )
    assert _refused_shapes(t) == []
    assert _refused_shapes(c) == []
    got = {r.k for r in read_published(spark, c).collect()}
    assert not got & {4, 8, 10, 12, 14} and {3, 50, 60} <= got


def test_compact_is_the_maintenance_writer(spark, tmp_path):
    """The maintenance contract on a renamed, dv-deleted shallow clone:
    after ``set_index_columns`` + ``compact`` every live file is local
    and carries stats and a bloom, a point read opens one file, no
    delete vector is left, and the rows are unchanged."""
    t = str(tmp_path / "src")
    c = str(tmp_path / "clone")
    atomic_publish(
        spark.range(0, 100).selectExpr("id as k", "id * 10 as v")
        .coalesce(1),
        t,
    )
    append_publish(
        spark.range(100, 200).selectExpr("id as k", "id * 10 as v")
        .coalesce(1),
        t,
    )
    P.clone_table(spark, t, c)
    P.rename_column(c, "v", "amount", spark=spark)
    delete_publish(spark, c, "k % 7 = 0", delete_vectors=True)
    P.set_index_columns(
        c, stats_cols=["amount"], bloom_cols=["k"], spark=spark
    )
    before = sorted(
        (r.k, r.amount) for r in read_published(spark, c).collect()
    )
    assert len(before) == 200 - 29
    size = P.describe_table(c, spark)["size_bytes"]
    compact(spark, c, target_file_bytes=size // 3 + 1)

    fs = P._PosixFS()
    res = P._resolve_entry(fs, c, P._read_manifest(c, fs))
    assert len(res["files"]) == 3
    assert not any(P._is_ext(f) for f in res["files"])
    for f in res["files"]:
        assert "amount" in res["file_stats"][f]
        assert "k" in res["file_blooms"][f]
    det = P.describe_table(c, spark)
    assert det["dv_files"] == 0 and det["dv_rows"] == 0
    assert det["external_refs"] == 0
    assert not P._read_manifest(c, fs).get("dv")
    point = read_published(spark, c, skip_eq={"k": 150})
    assert len(point.inputFiles()) == 1
    assert [r.amount for r in point.where("k = 150").collect()] == [1500]
    assert sorted(
        (r.k, r.amount) for r in read_published(spark, c).collect()
    ) == before


def test_append_rebases_across_a_compact(spark, tmp_path, monkeypatch):
    """A compact that lands while an append is staged keeps the schema
    up to nullability (it re-reads the table, and reads come back
    nullable), so the append rebases onto it instead of raising."""
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id", "id * 2 as x"), t)
    real = P._scan_written
    fired = []

    def hook(*a, **kw):
        if not fired:
            fired.append(True)
            compact(spark, t)
        return real(*a, **kw)

    monkeypatch.setattr(P, "_scan_written", hook)
    v = append_publish(spark.range(10, 12).selectExpr("id", "id * 2 as x"), t)
    monkeypatch.undo()
    assert fired and v == 3
    assert P.table_history(spark, t).first().operation == "append"
    assert sorted(r.id for r in read_published(spark, t).collect()) == list(
        range(12)
    )


def test_segmented_stats_skipping_still_prunes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(10000).selectExpr("id", "id as v")
        .repartitionByRange(10, "v").sortWithinPartitions("v"),
        t, stats_cols=["v"],
    )
    full = read_published(spark, t)
    pruned = read_published(spark, t, skip={"v": (0, 500)})
    # skipping is conservative: the pruned read is a SUPERSET of the
    # matching rows and reads strictly fewer files
    assert (
        pruned.where("v <= 500").count()
        == full.where("v <= 500").count()
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # stats survive an append (per-segment sidecars), and the append
    # indexes its own file under the table's index spec
    append_publish(spark.range(10000, 10100).selectExpr("id", "id as v"), t)
    pruned2 = read_published(spark, t, skip={"v": (0, 500)})
    assert len(pruned2.inputFiles()) < len(
        read_published(spark, t).inputFiles()
    )


# ---------------------------------------------------------- write-time stats


@pytest.mark.parametrize("backend", ["posix", "hadoop-file-uri"])
def test_write_time_stats_prune_on_both_backends(spark, tmp_path, backend):
    """stats_cols= on the publish records per-file min/max during the
    commit via a distributed job — so skip= prunes files on a Hadoop
    ``file:`` URI table too (where the old driver footer loop returned
    no stats and skipping silently degraded to a no-op)."""
    local = str(tmp_path / "tbl")
    t = "file://" + local if backend == "hadoop-file-uri" else local
    atomic_publish(
        spark.range(8000).selectExpr("id", "id as v")
        .repartitionByRange(8, "v").sortWithinPartitions("v"),
        t, stats_cols=["v"],
    )
    full = read_published(spark, t)
    pruned = read_published(spark, t, skip={"v": (0, 400)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert (
        pruned.where("v <= 400").count()
        == full.where("v <= 400").count()
    )


def test_append_write_time_stats_cover_only_new_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(100).selectExpr("id", "id as v").coalesce(1), t,
        stats_cols=["v"],
    )
    append_publish(
        spark.range(100, 200).selectExpr("id", "id as v").coalesce(1), t,
        stats_cols=["v"],
    )
    man = json.load(open(os.path.join(t, "manifest.json")))
    for seg in man["segments"]:
        s = json.load(open(os.path.join(t, seg, "_seg.json")))
        assert s.get("file_stats"), "segment %s missing write-time stats" % seg
        for f in s["files"]:
            assert f in s["file_stats"]
    # range skip over the appended half opens only its file
    pruned = read_published(spark, t, skip={"v": (150, None)})
    assert len(pruned.inputFiles()) == 1


def test_write_time_stats_on_partition_column(spark, tmp_path):
    """Partition columns are path-borne, but under a basePath-anchored
    read they are real attributes — write-time stats must cover them so
    a day-bounded skip prunes without any partition_by-specific code."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.concat(F.lit("2024-01-0"), (F.col("id") % 4 + 1)).alias("d"),
        F.col("id").alias("v"),
    )
    atomic_publish(df, t, partition_by="d", stats_cols=["d"])
    pruned = read_published(
        spark, t, skip={"d": ("2024-01-03", "2024-01-04")}
    )
    assert set(
        r[0] for r in pruned.select("d").distinct().collect()
    ) == {"2024-01-03", "2024-01-04"}
    full = read_published(spark, t)
    assert len(pruned.inputFiles()) < len(full.inputFiles())


# ------------------------------------------------- optimistic concurrency


def _seed_days(spark, t):
    import pyspark.sql.functions as F

    df = spark.range(20).select(
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("k"),
        F.col("id").alias("v"),
    )
    atomic_publish(df, t, partition_by="k")


def test_disjoint_append_merges_into_moved_manifest(spark, tmp_path,
                                                    monkeypatch):
    """An append whose data write raced a concurrent commit REBASES:
    both snapshots' rows land, nothing raises (appends commute)."""
    t = str(tmp_path / "tbl")
    _seed_days(spark, t)
    injected = {"done": False}
    orig = P._scan_written

    def hook(fs, vdir, vname):
        if not injected["done"]:
            injected["done"] = True
            # a concurrent writer commits BETWEEN our base read and our
            # commit (we are mid-write right now)
            repl = spark.createDataFrame([("b", 777)], "k string, v long")
            replace_partitions_publish(repl, t, values=["b"])
        return orig(fs, vdir, vname)

    monkeypatch.setattr(P, "_scan_written", hook)
    v = append_publish(
        spark.createDataFrame([("a", 555)], "k string, v long"), t
    )
    monkeypatch.setattr(P, "_scan_written", orig)
    assert v == 3  # rebased onto the replace's version 2
    got = read_published(spark, t)
    assert got.where("v = 555").count() == 1  # our append landed
    assert got.where("v = 777").count() == 1  # their replace survived
    assert got.where("k = 'b'").count() == 1  # replace semantics intact


def test_disjoint_replace_merges_into_moved_manifest(spark, tmp_path,
                                                     monkeypatch):
    """replace on partition 'a' racing an append into partition 'b':
    disjoint partitions — both commits land exactly."""
    t = str(tmp_path / "tbl")
    _seed_days(spark, t)
    injected = {"done": False}
    orig = P._scan_written

    def hook(fs, vdir, vname):
        if not injected["done"]:
            injected["done"] = True
            append_publish(
                spark.createDataFrame([("b", 888)], "k string, v long"), t
            )
        return orig(fs, vdir, vname)

    monkeypatch.setattr(P, "_scan_written", hook)
    v = replace_partitions_publish(
        spark.createDataFrame([("a", 111)], "k string, v long"),
        t,
        values=["a"],
    )
    monkeypatch.setattr(P, "_scan_written", orig)
    assert v == 3
    got = read_published(spark, t)
    assert got.where("k = 'a'").count() == 1   # replace applied
    assert got.where("v = 111").count() == 1
    assert got.where("v = 888").count() == 1   # concurrent append kept
    assert P._read_manifest(t, P._PosixFS())["n_rows"] == got.count()


def test_same_partition_conflict_raises_not_drops(spark, tmp_path,
                                                  monkeypatch):
    """A concurrent commit into the partition being replaced is a REAL
    conflict: merging would silently drop its rows, so the replace must
    raise and leave the concurrent commit intact."""
    t = str(tmp_path / "tbl")
    _seed_days(spark, t)
    injected = {"done": False}
    orig = P._scan_written

    def hook(fs, vdir, vname):
        if not injected["done"]:
            injected["done"] = True
            append_publish(
                spark.createDataFrame([("a", 999)], "k string, v long"), t
            )
        return orig(fs, vdir, vname)

    monkeypatch.setattr(P, "_scan_written", hook)
    with pytest.raises(ConcurrentWriteError):
        replace_partitions_publish(
            spark.createDataFrame([("a", 111)], "k string, v long"),
            t,
            values=["a"],
        )
    monkeypatch.setattr(P, "_scan_written", orig)
    got = read_published(spark, t)
    assert got.where("v = 999").count() == 1  # their append survived
    assert got.where("v = 111").count() == 0  # our replace NOT committed


def test_two_thread_disjoint_replaces_both_commit(spark, tmp_path):
    """The VERDICT scenario verbatim: two writers on different
    partition values run CONCURRENTLY (threads, shared session) — both
    commits land; the commit lease only serializes the sub-second
    swaps."""
    import threading

    t = str(tmp_path / "tbl")
    _seed_days(spark, t)
    errs = []

    def do(day, val):
        try:
            replace_partitions_publish(
                spark.createDataFrame([(day, val)], "k string, v long"),
                t,
                values=[day],
            )
        except Exception as e:  # pragma: no cover - failure detail
            errs.append((day, e))

    th = [
        threading.Thread(target=do, args=("a", 100)),
        threading.Thread(target=do, args=("b", 200)),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    assert current_version(t) == 3  # two commits, monotonic versions
    got = read_published(spark, t)
    assert got.count() == 2
    assert {
        (r["k"], r["v"]) for r in got.collect()
    } == {("a", 100), ("b", 200)}



def test_ingest_concurrent_with_maintenance(spark, tmp_path, monkeypatch):
    """publish_stream-shaped append lands WHILE compact is rewriting the
    table: the append queues for compact's lease, commits on top of the
    compacted snapshot, and both survive — the 'streaming ingest +
    nightly compact' deployment."""
    import threading

    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    # fragment partition a across two appends; b has one file
    for lo in (0, 10):
        append_publish(
            spark.range(lo, lo + 10).select(
                F.lit("a").alias("k"), F.col("id").alias("v")
            ).coalesce(1),
            t,
            partition_by="k",
        )
    append_publish(
        spark.range(100, 105).select(
            F.lit("b").alias("k"), F.col("id").alias("v")
        ).coalesce(1),
        t,
    )
    errs = []

    def ingest():
        try:
            append_publish(
                spark.createDataFrame([("b", 500)], "k string, v long"), t
            )
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    batch = threading.Thread(target=ingest)
    orig = P._scan_written

    def hook(fs, vdir, vname):
        if not batch.is_alive() and batch.ident is None:
            # ingest commits a batch while the compactor is mid-rewrite
            batch.start()
        return orig(fs, vdir, vname)

    monkeypatch.setattr(P, "_scan_written", hook)
    v = compact(spark, t)
    batch.join(timeout=120)
    monkeypatch.setattr(P, "_scan_written", orig)
    assert not batch.is_alive() and not errs, errs
    assert current_version(t) == v + 1  # the batch committed after it
    got = read_published(spark, t)
    assert got.where("k = 'a'").count() == 20  # compaction exact
    assert got.where("v = 500").count() == 1   # concurrent batch kept
    a_files = [f for f in P.live_files(t, spark) if "k=a" in f]
    assert len(a_files) == 1  # folded


# --------------------------------------------------------- bloom skipping


def test_bloom_positions_python_matches_spark(spark):
    """The pure-Python position function and the Spark expression must
    agree bit-for-bit — the driver plans with one, executors built with
    the other."""
    import pyspark.sql.functions as F

    vals = ["alpha", "beta", "42", "x y"]
    m, k = P._BLOOM_M, P._BLOOM_K
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for i in range(k):
        pos = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("s"), F.lit(":%d" % i))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(m),
        ).cast("int")
        got = {
            r["s"]: r["p"] for r in df.select("s", pos.alias("p")).collect()
        }
        for v in vals:
            assert got[v] == P._bloom_positions_py(v, m, k)[i], (v, i)


def test_skip_eq_bloom_prunes_point_lookup(spark, tmp_path):
    """user_id = X on UNCLUSTERED data: min/max can't prune (every file
    spans the id range), the bloom can."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    # ids shuffled so every file's min/max covers ~the whole range
    df = spark.range(4000).select(
        F.xxhash64("id").alias("shuffle_key"),
        F.col("id").alias("user_id"),
        (F.col("id") * 3).alias("v"),
    ).repartition(8, "shuffle_key").drop("shuffle_key")
    atomic_publish(df, t, stats_cols=["user_id"], bloom_cols=["user_id"])
    full = read_published(spark, t)
    assert len(full.inputFiles()) == 8
    pruned = read_published(spark, t, skip_eq={"user_id": 1234})
    # one value lives in exactly one file; bloom fpp may keep ~1 extra
    assert len(pruned.inputFiles()) <= 2
    assert pruned.where("user_id = 1234").count() == 1


def test_point_delete_rewrites_only_matching_files(spark, tmp_path):
    """VERDICT done-criterion: an indexed point delete rewrites ONLY
    the files that contain matches; untouched files carry by reference
    (audited via the manifest file list), and the result is row-exact."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.xxhash64("id").alias("sk"),
        F.col("id").alias("user_id"),
        (F.col("id") * 3).alias("v"),
    ).repartition(8, "sk").drop("sk")
    atomic_publish(df, t, bloom_cols=["user_id"])
    before = set(P.live_files(t, spark))
    assert len(before) == 8
    v = delete_publish(
        spark, t, "user_id = 77", point={"user_id": 77}
    )
    assert v == 2
    after = set(P.live_files(t, spark))
    rewritten_away = before - after
    # the value lives in one file; bloom fpp may admit ~1 false pos,
    # but false-positive candidate files contain no matches and are NOT
    # rewritten
    assert len(rewritten_away) == 1
    assert before & after == before - rewritten_away  # rest carried
    got = read_published(spark, t)
    assert got.where("user_id = 77").count() == 0
    assert got.count() == 3999
    assert P._read_manifest(t, P._PosixFS())["n_rows"] == 3999


def test_point_delete_conservative_without_blooms(spark, tmp_path):
    """No blooms recorded → every file is a candidate (conservative),
    but still only files CONTAINING matches are rewritten."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(2000).select(
        F.col("id").alias("user_id"), (F.col("id") * 3).alias("v")
    ).repartitionByRange(4, "user_id")
    atomic_publish(df, t)  # no indexes at all
    before = set(P.live_files(t, spark))
    v = delete_publish(spark, t, "user_id = 99", point={"user_id": 99})
    assert v == 2
    after = set(P.live_files(t, spark))
    assert len(before - after) == 1  # range-partitioned: 1 file matched
    got = read_published(spark, t)
    assert got.count() == 1999 and got.where("user_id = 99").count() == 0


def test_collect_file_blooms_backfill(spark, tmp_path):
    """A table written without indexes gets its blooms backfilled by
    ``set_index_columns`` + ``compact``: every rewritten file carries a
    bloom, and a point read prunes to the file holding the key."""
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(3000).select(
        F.xxhash64("id").alias("sk"), F.col("id").alias("user_id")
    ).repartition(6, "sk").drop("sk")
    atomic_publish(df, t)
    P.set_index_columns(t, bloom_cols=["user_id"], spark=spark)
    size = P.describe_table(t, spark)["size_bytes"]
    compact(spark, t, target_file_bytes=size // 6 + 1)
    fs = P._PosixFS()
    res = P._resolve_entry(fs, t, P._read_manifest(t, fs))
    assert len(res["files"]) == 6
    assert all("user_id" in res["file_blooms"][f] for f in res["files"])
    pruned = read_published(spark, t, skip_eq={"user_id": 500})
    assert len(pruned.inputFiles()) <= 2
    assert pruned.where("user_id = 500").count() == 1


def test_optimize_table_refreshes_blooms(spark, tmp_path):
    """``compact`` writes blooms from the persisted index spec, so the
    maintenance rewrite refreshes them for a table that had none."""
    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(100).selectExpr("id as user_id", "id * 2 as v"), t
    )
    P.set_index_columns(t, bloom_cols=["user_id"], spark=spark)
    compact(spark, t)
    fs = P._PosixFS()
    res = P._resolve_entry(fs, t, P._read_manifest(t, fs))
    assert res["files"]
    assert all("user_id" in res["file_blooms"][f] for f in res["files"])
    pruned = read_published(spark, t, skip_eq={"user_id": 5})
    assert pruned.where("user_id = 5").count() == 1


# ------------------------------------------------------------ read_appends


def test_read_appends_exact_delta(spark, tmp_path):
    from bamboo_spark.operators.publish import read_appends

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)        # v1
    append_publish(spark.range(10, 14).selectExpr("id"), t)    # v2
    append_publish(spark.range(14, 20).selectExpr("id"), t)    # v3
    delta = read_appends(spark, t, from_version=1)
    assert sorted(r["id"] for r in delta.collect()) == list(range(10, 20))
    d23 = read_appends(spark, t, from_version=2, to_version=3)
    assert sorted(r["id"] for r in d23.collect()) == list(range(14, 20))
    assert read_appends(spark, t, 3, 3).count() == 0


def test_read_appends_across_compaction_and_refusals(spark, tmp_path):
    from bamboo_spark.operators.publish import read_appends

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)        # v1
    append_publish(spark.range(10, 14).selectExpr("id"), t)    # v2
    compact(spark, t)                                          # v3 folds v2
    # the compaction is marked dataChange=false and the pre-fold files
    # are still retained, so the exact delta KEEPS delivering — from
    # the original v2 files, no duplicates, no over-delivery
    d = read_appends(spark, t, from_version=1)
    assert sorted(r["id"] for r in d.collect()) == [10, 11, 12, 13]
    # append AFTER the fold: delta spans the compaction, both appends
    append_publish(spark.range(20, 22).selectExpr("id"), t)    # v4
    d = read_appends(spark, t, from_version=1)
    assert sorted(r["id"] for r in d.collect()) == [10, 11, 12, 13, 20, 21]
    d = read_appends(spark, t, from_version=3)
    assert sorted(r["id"] for r in d.collect()) == [20, 21]
    # deletes are never an append delta
    delete_publish(spark, t, "id = 20")                        # v5
    with pytest.raises(ValueError, match="shrank|append-only"):
        read_appends(spark, t, from_version=3)


def test_heartbeat_keeps_live_writer_from_eviction(spark, tmp_path):
    """A live long holder's heartbeat refreshes the lock mtime, so a
    contender NEVER breaks it inside the TTL window — eviction is for
    crashed writers only. (Without the heartbeat this exact sequence
    breaks the lock: see test_still_mine_false_after_break.)"""
    import time

    t = str(tmp_path / "tbl")
    os.makedirs(t, exist_ok=True)
    fs = P._PosixFS()
    holder = P._Lease(fs, t, ttl_ms=1_000, heartbeat=True).acquire()
    try:
        time.sleep(2.5)  # well past the 1 s TTL
        with pytest.raises(ConcurrentWriteError):
            P._Lease(fs, t, ttl_ms=1_000).acquire()
        assert holder.still_mine()
    finally:
        holder.release()
    # released: the next writer acquires immediately
    P._Lease(fs, t, ttl_ms=1_000).acquire().release()


def test_read_appends_across_schema_merge(spark, tmp_path):
    """An append that widened the schema: the delta reads with the
    WIDENED schema (old snapshots' absent column never leaks in)."""
    from bamboo_spark.operators.publish import read_appends

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(6).selectExpr("id"), t)            # v1
    append_publish(
        spark.range(6, 9).selectExpr("id", "id * 2 as extra"),
        t,
        schema_mode="merge",
    )                                                             # v2
    d = read_appends(spark, t, from_version=1)
    assert sorted(d.columns) == ["extra", "id"]
    assert d.count() == 3 and d.where("extra is null").count() == 0


def test_skip_and_skip_eq_compose(spark, tmp_path):
    import pyspark.sql.functions as F

    t = str(tmp_path / "tbl")
    df = spark.range(4000).select(
        F.col("id").alias("v"), (F.col("id") % 997).alias("uid")
    )
    atomic_publish(
        df.repartitionByRange(8, "v").sortWithinPartitions("v"), t,
        stats_cols=["v"], bloom_cols=["uid"],
    )
    both = read_published(
        spark, t, skip={"v": (0, 500)}, skip_eq={"uid": 123}
    )
    full = read_published(spark, t)
    assert len(both.inputFiles()) <= 1
    assert (
        both.where("v <= 500 and uid = 123").count()
        == full.where("v <= 500 and uid = 123").count()
    )
