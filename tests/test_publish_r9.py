"""Round-9 protocol hardening: the maintenance lost-update window is
CLOSED (plan snapshot threaded into the commit baseline via _base=),
vacuum can no longer reap an in-flight optimistic writer's staging
dir, orphan-claim reclaim is age-based, bloom hashing is canonical
across the driver/executor sides, delete vectors give merge-on-read
point deletes, and read_appends keeps delivering across marked
compactions (tested in test_publish_protocol)."""

import datetime
import json
import os
import time

import pytest

from pyspark.sql import functions as F

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    ConcurrentWriteError,
    append_publish,
    atomic_publish,
    compact,
    current_version,
    delete_publish,
    live_files,
    read_published,
    vacuum,
)


def _seed_days(spark, t, frag=2):
    for i in range(frag):
        append_publish(
            spark.createDataFrame(
                [("a", 10 * i + j) for j in range(3)], "k string, v long"
            ).coalesce(1),
            t,
            partition_by="k",
        )
    append_publish(
        spark.createDataFrame([("b", 100)], "k string, v long").coalesce(1), t
    )


# ---------------------------------------------------------------------------
# the lost-update window (VERDICT r8 #1): a commit landing into a TOUCHED
# partition between the maintenance caller's plan read and the commit
# baseline read must RAISE, never be silently folded away
# ---------------------------------------------------------------------------


def test_delete_publish_raises_on_append_into_touched_partition(
    spark, tmp_path, monkeypatch
):
    """The GDPR-erase path: ingest keeps flowing during a delete; a
    batch into a partition the delete is rewriting raises instead of
    being dropped."""
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
        delete_publish(spark, t, "v = 0")
    monkeypatch.setattr(P, "_scan_written", orig)
    got = read_published(spark, t)
    assert got.where("v = 999").count() == 1  # appended row survived
    assert got.where("v = 0").count() == 1  # delete NOT committed


# ---------------------------------------------------------------------------
# vacuum vs in-flight optimistic writers (ADVICE r8 high + medium)
# ---------------------------------------------------------------------------


def test_vacuum_spares_fresh_claimed_staging_dir(spark, tmp_path):
    """An optimistic writer staging with NO lease is represented only
    by its fresh .claim marker — vacuum must treat claim-age < TTL as
    live, never garbage."""
    t = str(tmp_path / "tbl")
    for n in (3, 4, 5):
        atomic_publish(spark.range(n), t)
    # simulate an in-flight optimistic writer: claimed dir + data,
    # no commit yet (fresh claim marker)
    staging = os.path.join(t, "_v99")
    os.makedirs(staging)
    open(os.path.join(staging, "part-0.parquet"), "w").write("x")
    open(os.path.join(t, "_v99.claim"), "w").write("")
    vacuum(t, keep=1)
    assert os.path.isdir(staging), "vacuum reaped an in-flight staging dir"
    # once the claim goes stale (writer died) AND a newer dir exists
    # (the keep horizon never dooms the newest), vacuum reclaims it
    old = time.time() - 400
    os.utime(os.path.join(t, "_v99.claim"), (old, old))
    atomic_publish(spark.range(7), t)  # claims _v100
    vacuum(t, keep=1)
    assert not os.path.isdir(staging)


def test_vacuum_orphan_claim_reclaim_is_age_based(spark, tmp_path):
    """A claim marker with no directory: reclaimed only once its age
    passes the lease TTL — comparing claim numbers to the committed
    version says nothing now that dir names are decoupled from
    snapshot versions."""
    t = str(tmp_path / "tbl")
    for n in (3, 4):
        atomic_publish(spark.range(n), t)
    fresh = os.path.join(t, "_v1.claim")  # number < committed, but FRESH
    open(fresh, "w").write("")
    vacuum(t, keep=1)
    assert os.path.exists(fresh), "live claimer's marker reclaimed early"
    old = time.time() - 400
    os.utime(fresh, (old, old))
    vacuum(t, keep=1)
    assert not os.path.exists(fresh)


def test_vacuum_during_slow_staging_write_commit_survives(
    spark, tmp_path, monkeypatch
):
    """ADVICE's requested chaos shape, made deterministic: vacuum runs
    WHILE an append is staging (hooked between its data write and its
    commit); the staged dir survives (fresh claim) and the append's
    commit lands with all rows readable."""
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(5), t)
    atomic_publish(spark.range(5, 11), t)  # superseded dirs for vacuum
    orig = P._scan_written
    ran = {"done": False}

    def hook(fs, vdir, vname):
        out = orig(fs, vdir, vname)
        if not ran["done"]:
            ran["done"] = True
            vacuum(t, keep=0)  # maintenance fires mid-staging
        return out

    monkeypatch.setattr(P, "_scan_written", hook)
    append_publish(spark.range(11, 14), t)
    monkeypatch.setattr(P, "_scan_written", orig)
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == list(range(5, 14))


def test_committed_dirs_release_their_claims(spark, tmp_path):
    """After a successful commit the staging claim is deleted, so
    vacuum can tell committed dirs from in-flight ones (and the test
    above's freshness shield doesn't block routine GC)."""
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(3), t)
    append_publish(spark.range(3, 6), t)
    claims = [e for e in os.listdir(t) if e.endswith(".claim")]
    assert claims == []
    removed = []
    atomic_publish(spark.range(9), t)
    removed = vacuum(t, keep=1)
    assert removed  # superseded dirs reclaimed promptly


# ---------------------------------------------------------------------------
# bloom canonicalization (ADVICE r8 medium): one formatter on both sides
# ---------------------------------------------------------------------------


def test_bloom_cross_type_round_trip_no_false_negatives(spark, tmp_path):
    """Booleans, ints, strings and dates: every published value's file
    must survive skip_eq pruning (false positives are fine, false
    NEGATIVES are data loss)."""
    t = str(tmp_path / "tbl")
    rows = [
        (i, "u%d" % i, i % 2 == 0, datetime.date(2024, 1, 1 + i))
        for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "id long, name string, flag boolean, d date"
    ).repartition(4)
    atomic_publish(df, t, bloom_cols=["id", "name", "flag", "d"])
    for col, val, want in [
        ("id", 3, 1),
        ("name", "u5", 1),
        ("flag", True, 4),
        ("flag", False, 4),
        ("d", datetime.date(2024, 1, 4), 1),
    ]:
        got = read_published(spark, t, skip_eq={col: val}).where(
            F.col(col) == F.lit(val)
        )
        assert got.count() == want, (col, val)


def test_bloom_rejects_unreproducible_types(spark, tmp_path):
    """A float bloom column would hash differently on the two sides
    ('1e-07' vs '1.0E-7') and silently skip matching files — building
    one is rejected with a clear error instead."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 1e-7), (2, 2.5)], "id long, x double")
    with pytest.raises(ValueError, match="bloom_cols"):
        atomic_publish(df, t, bloom_cols=["x"])


def test_bloom_lookup_unsupported_value_stays_conservative():
    """A lookup value with no canonical form answers 'might contain' —
    never skip on an unreproducible hash."""
    bloom = {"m": 64, "k": 2, "b64": "AAAAAAAAAA=="}  # all-zero bits
    assert P._bloom_might_contain(bloom, 1e-7) is True
    assert P._bloom_might_contain(bloom, "x") is False  # str still prunes


def test_skip_range_incomparable_bound_reads_conservatively(spark, tmp_path):
    """ADVICE low: a datetime.date bound against ISO-string stats must
    conservatively read the file, not raise TypeError."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(datetime.date(2024, 1, d), d) for d in range(1, 6)],
        "d date, v long",
    )
    atomic_publish(df, t, stats_cols=["d"])
    got = read_published(
        spark, t, skip={"d": (datetime.date(2024, 1, 2), None)}
    )
    assert got.count() == 5  # conservative: nothing skipped, nothing lost


# ---------------------------------------------------------------------------
# delete vectors: merge-on-read point deletes (VERDICT r8 #5)
# ---------------------------------------------------------------------------


def test_dv_delete_zero_rewrites_and_read_parity(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(20).selectExpr("id"), t)
    files_before = sorted(live_files(t))
    v = delete_publish(spark, t, "id in (3, 7)", delete_vectors=True)
    assert v == 2
    # ZERO data files written or rewritten — the commit is metadata
    assert sorted(live_files(t)) == files_before
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(20) if i not in (3, 7)
    ]
    assert P.published_rows(t) == 18
    # time travel: the pre-delete snapshot still reads in full
    assert read_published(spark, t, version=1).count() == 20


def test_dv_delete_merges_with_prior_vectors(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    delete_publish(spark, t, "id = 1", delete_vectors=True)
    delete_publish(spark, t, "id = 4", delete_vectors=True)
    # deleting an already-deleted row is a no-op commit (None)
    assert delete_publish(spark, t, "id = 4", delete_vectors=True) is None
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [0, 2, 3, 5, 6, 7, 8, 9]
    assert P.published_rows(t) == 8


def test_dv_with_point_pruning_on_blooms(spark, tmp_path):
    """delete_vectors composes with point= bloom pruning: only
    candidate files are scanned for addresses."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "u%d" % (i % 5)) for i in range(50)], "id long, user string"
    ).repartition(5)
    atomic_publish(df, t, bloom_cols=["user"])
    v = delete_publish(
        spark, t, "user = 'u3'", point={"user": "u3"}, delete_vectors=True
    )
    assert v == 2
    got = read_published(spark, t)
    assert got.where("user = 'u3'").count() == 0
    assert got.count() == 40


def test_dv_carries_through_append_and_folds_on_compact(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    delete_publish(spark, t, "id = 5", delete_vectors=True)
    append_publish(spark.range(20, 23).selectExpr("id"), t)
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [
        0, 1, 2, 3, 4, 6, 7, 8, 9, 20, 21, 22,
    ]
    assert P.published_rows(t) == 12
    # compaction reads the MASKED rows and publishes fresh files: the
    # vectors fold away physically
    compact(spark, t)
    man = P._read_manifest(t, P._PosixFS())
    assert not man.get("dv")
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [
        0, 1, 2, 3, 4, 6, 7, 8, 9, 20, 21, 22,
    ]


def test_dv_on_partitioned_table_and_partition_rewrite_respects_mask(
    spark, tmp_path
):
    t = str(tmp_path / "tbl")
    _seed_days(spark, t)
    delete_publish(spark, t, "k = 'a' and v = 0", delete_vectors=True)
    assert read_published(spark, t).where("v = 0").count() == 0
    # a later rewrite of 'a' must NOT resurrect the dv'd row
    compact(spark, t)
    got = read_published(spark, t)
    assert got.where("v = 0").count() == 0
    assert got.where("k = 'a'").count() == 5


def test_dv_rewrite_conflict_retries_then_raises(spark, tmp_path, monkeypatch):
    """A concurrent commit that rewrites a file the dv delete addresses
    makes the positions stale — the attempt must NOT commit them. Since
    round 11 delete_publish(dv) auto-retries the commuting conflict
    against the fresh snapshot (bounded), so a single race succeeds
    with re-scanned addresses; a persistent conflict still raises."""
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    orig = P._claim_vdir
    fired = {"n": 0}

    def hook(fs, table_dir, start):
        # between the dv scan (before claim) and the commit: compact
        # rewrites every file
        fired["n"] += 1
        if fired["n"] == 1:
            out = orig(fs, table_dir, start)
            compact(spark, t)
            return out
        return orig(fs, table_dir, start)

    monkeypatch.setattr(P, "_claim_vdir", hook)
    ver = delete_publish(spark, t, "id = 3", delete_vectors=True)
    assert ver is not None and fired["n"] >= 2  # retried, then landed
    got = sorted(r["id"] for r in read_published(spark, t).collect())
    assert got == [i for i in range(10) if i != 3]

    # persistent conflict: every attempt loses the race -> raises, and
    # NOTHING stale ever commits
    always = {"n": 0}

    def hostile(fs, table_dir, start):
        always["n"] += 1
        out = orig(fs, table_dir, start)
        compact(spark, t)
        return out

    monkeypatch.setattr(P, "_claim_vdir", hostile)
    with pytest.raises(ConcurrentWriteError):
        delete_publish(spark, t, "id = 4", delete_vectors=True)
    monkeypatch.setattr(P, "_claim_vdir", orig)
    got = sorted(r["id"] for r in read_published(spark, t).collect())
    assert got == [i for i in range(10) if i != 3]  # id=4 intact


def test_dv_point_rewrite_path_does_not_resurrect(spark, tmp_path):
    """The copy-on-write point delete of a file that already carries a
    vector reads the MASKED rows — dv'd rows stay deleted."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "u%d" % i) for i in range(10)], "id long, user string"
    ).coalesce(1)
    atomic_publish(df, t, bloom_cols=["user"])
    delete_publish(spark, t, "user = 'u2'", delete_vectors=True)
    # now a REWRITE delete of another user in the same file
    delete_publish(spark, t, "user = 'u7'", point={"user": "u7"})
    got = read_published(spark, t)
    users = sorted(r["user"] for r in got.collect())
    assert "u2" not in users and "u7" not in users
    assert len(users) == 8


def test_dv_restore_and_vacuum_keep_dv_dirs(spark, tmp_path):
    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)            # v1
    delete_publish(spark, t, "id = 2", delete_vectors=True)        # v2
    append_publish(spark.range(30, 33).selectExpr("id"), t)        # v3
    got = read_published(spark, t)
    assert sorted(r["id"] for r in got.collect()) == [
        0, 1, 3, 4, 5, 6, 7, 8, 9, 30, 31, 32,
    ]
    # time travel to the dv delete's snapshot
    old = read_published(spark, t, version=2)
    assert sorted(r["id"] for r in old.collect()) == [0, 1, 3, 4, 5, 6, 7, 8, 9]
    # vacuum keeps the dir hosting the dv file the head carries forward
    vacuum(t, keep=1)
    got = read_published(spark, t)
    assert got.count() == 12


def test_read_appends_refuses_dv_deletes(spark, tmp_path):
    from bamboo_spark.operators.publish import read_appends

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(5).selectExpr("id"), t)
    delete_publish(spark, t, "id = 1", delete_vectors=True)
    with pytest.raises(ValueError, match="shrank|append-only"):
        read_appends(spark, t, from_version=1)


# ---------------------------------------------------------------------------
# observability (VERDICT r8 #9)
# ---------------------------------------------------------------------------


def test_acquire_wait_timeout_message_carries_holder_detail(tmp_path):
    t = str(tmp_path / "tbl")
    os.makedirs(t)
    fs = P._PosixFS()
    holder = P._Lease(fs, t).acquire()
    try:
        with pytest.raises(ConcurrentWriteError) as ei:
            P._Lease(fs, t).acquire_wait(wait_ms=300, poll_ms=50)
        msg = str(ei.value)
        assert "wait exhausted" in msg and "held by token" in msg
        assert "retrying the commit is safe" in msg
    finally:
        holder.release()


# ---------------------------------------------------------------------------
# ignoreDeletes + change data feed
# ---------------------------------------------------------------------------


def test_read_appends_ignore_deletes_skips_dv_commits(spark, tmp_path):
    from bamboo_spark.operators.publish import read_appends

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(5).selectExpr("id"), t)           # v1
    append_publish(spark.range(10, 13).selectExpr("id"), t)      # v2
    delete_publish(spark, t, "id = 11", delete_vectors=True)     # v3
    append_publish(spark.range(20, 22).selectExpr("id"), t)      # v4
    # strict mode still refuses
    with pytest.raises(ValueError, match="shrank|delete vectors"):
        read_appends(spark, t, from_version=1)
    # ignore_deletes: both appends deliver; the delete isn't propagated
    d = read_appends(spark, t, from_version=1, ignore_deletes=True)
    assert sorted(r["id"] for r in d.collect()) == [10, 11, 12, 20, 21]
    # a REWRITE delete (file replace) still raises even with the flag
    delete_publish(spark, t, "id = 4")                           # v5 rewrite
    with pytest.raises(ValueError):
        read_appends(spark, t, from_version=4, ignore_deletes=True)


def test_read_changes_inserts_and_deletes(spark, tmp_path):
    from bamboo_spark.operators.publish import read_changes

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(5).selectExpr("id"), t)           # v1
    append_publish(spark.range(10, 13).selectExpr("id"), t)      # v2 inserts
    delete_publish(spark, t, "id = 11", delete_vectors=True)     # v3 dv del
    compact(spark, t)                                            # v4 no-op
    delete_publish(spark, t, "id = 3")                           # v5 rewrite
    ch = read_changes(spark, t, from_version=1)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in ch.collect()
    )
    assert got == [
        (2, "insert", 10),
        (2, "insert", 11),
        (2, "insert", 12),
        (3, "delete", 11),
        (5, "delete", 3),
    ]
    # full-history feed from the empty table includes the v1 load
    ch0 = read_changes(spark, t, from_version=0, to_version=1)
    assert sorted(r["id"] for r in ch0.collect()) == [0, 1, 2, 3, 4]
    assert {r["_change_type"] for r in ch0.collect()} == {"insert"}


def test_read_changes_replace_is_exact_multiset_diff(spark, tmp_path):
    """A partition rewrite that UPDATES rows surfaces as delete+insert
    pairs — and duplicate rows diff by exact multiset count."""
    from bamboo_spark.operators.publish import (
        read_changes,
        replace_partitions_publish,
    )

    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 2), ("b", 9)], "k string, v long"
        ),
        t,
        partition_by="k",
    )
    # rewrite partition a: one of the duplicate (a,1) rows becomes 5
    replace_partitions_publish(
        spark.createDataFrame(
            [("a", 1), ("a", 5), ("a", 2)], "k string, v long"
        ),
        t,
        values=["a"],
    )
    ch = read_changes(spark, t, from_version=1)
    got = sorted(
        (r["_change_type"], r["k"], r["v"]) for r in ch.collect()
    )
    assert got == [("delete", "a", 1), ("insert", "a", 5)]


def test_stream_ignore_deletes_option(spark, tmp_path):
    from bamboo_spark.sources.published import register

    register(spark)
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(spark.range(5).selectExpr("id"), t)
    seen = []

    def sink(batch_df, bid):
        seen.extend(r["id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .option("ignoreDeletes", "true")
        .load(t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4]
        delete_publish(spark, t, "id = 2", delete_vectors=True)
        append_publish(spark.range(50, 52).selectExpr("id"), t)
        q.processAllAvailable()
        assert sorted(seen) == [0, 1, 2, 3, 4, 50, 51]
    finally:
        q.stop()


def test_vacuum_time_based_retention(spark, tmp_path):
    """vacuum(older_than_ms=...) retains every snapshot committed
    within the horizon even past the count limit; retention counts
    SNAPSHOTS, not directory names."""
    t = str(tmp_path / "tbl")
    for i in range(4):
        (atomic_publish if i == 0 else append_publish)(
            spark.range(i * 10, i * 10 + 3).selectExpr("id"), t
        )
    # everything just committed: a 1-hour horizon retains all history
    removed = vacuum(t, keep=1, older_than_ms=3_600_000)
    assert removed == []
    assert read_published(spark, t, version=2).count() == 6  # time travel
    # horizon 0: only the count rule applies -> history collapses
    vacuum(t, keep=1, older_than_ms=0)
    with pytest.raises(KeyError):
        read_published(spark, t, version=2)
    assert read_published(spark, t).count() == 12  # current intact


# ---------------------------------------------------------------------------
# merge-on-read upsert
# ---------------------------------------------------------------------------


def _kv(spark, rows, with_op=False):
    schema = "k long, ver long, val string" + (", op string" if with_op else "")
    return spark.createDataFrame(rows, schema)


def test_merge_incremental_upsert_delete_one_commit(spark, tmp_path):
    from bamboo_spark.operators.publish import (
        merge_publish_incremental,
        published_rows,
        snapshots,
    )

    t = str(tmp_path / "tbl")
    atomic_publish(
        _kv(spark, [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]), t
    )
    files_before = sorted(live_files(t))
    v = merge_publish_incremental(
        _kv(
            spark,
            [
                (2, 2, "B", "upsert"),     # update key 2
                (4, 2, "d", "upsert"),     # insert key 4
                (3, 2, None, "delete"),    # delete key 3
                (5, 2, "x", "upsert"),     # insert+delete nets absent
                (5, 3, None, "delete"),
            ],
            with_op=True,
        ),
        t,
        key_cols="k",
        version_cols="ver",
        op_col="op",
    )
    assert v == 2
    got = {
        r["k"]: (r["ver"], r["val"])
        for r in read_published(spark, t).collect()
    }
    assert got == {1: (1, "a"), 2: (2, "B"), 4: (2, "d")}
    assert published_rows(t) == 3
    # merge-on-read: the original files were NOT rewritten
    assert set(files_before) <= set(live_files(t))
    # exactly one new snapshot
    assert [s["version"] for s in snapshots(t)] == [1, 2]
    # a second merge composes with the existing vectors
    merge_publish_incremental(
        _kv(spark, [(1, 2, None, "delete")], with_op=True),
        t, key_cols="k", version_cols="ver", op_col="op",
    )
    got = {r["k"] for r in read_published(spark, t).collect()}
    assert got == {2, 4}
    # compaction folds it all physically
    compact(spark, t)
    assert {r["k"] for r in read_published(spark, t).collect()} == {2, 4}


def test_merge_incremental_cdf_and_appends_semantics(spark, tmp_path):
    from bamboo_spark.operators.publish import (
        merge_publish_incremental,
        read_appends,
        read_changes,
    )

    t = str(tmp_path / "tbl")
    atomic_publish(_kv(spark, [(1, 1, "a"), (2, 1, "b")]), t)
    merge_publish_incremental(
        _kv(spark, [(2, 2, "B"), (3, 2, "c")]),
        t, key_cols="k", version_cols="ver",
    )
    # strict append read refuses the mixed commit…
    with pytest.raises(ValueError, match="delete vectors"):
        read_appends(spark, t, from_version=1)
    # …ignore_deletes delivers the merged post-state rows as appends…
    d = read_appends(spark, t, from_version=1, ignore_deletes=True)
    assert sorted((r["k"], r["val"]) for r in d.collect()) == [
        (2, "B"), (3, "c"),
    ]
    # …and the change feed expresses it exactly
    ch = read_changes(spark, t, from_version=1)
    got = sorted(
        (r["_change_type"], r["k"], r["val"]) for r in ch.collect()
    )
    assert got == [("delete", 2, "b"), ("insert", 2, "B"), ("insert", 3, "c")]


def test_merge_incremental_bloom_pruned_probe(spark, tmp_path):
    from bamboo_spark.operators.publish import merge_publish_incremental

    t = str(tmp_path / "tbl")
    atomic_publish(
        _kv(spark, [(i, 1, "v%d" % i) for i in range(40)]).repartition(8),
        t,
        bloom_cols=["k"],
    )
    v = merge_publish_incremental(
        _kv(spark, [(7, 2, "NEW")]), t, key_cols="k", version_cols="ver",
        bloom_cols=["k"],
    )
    assert v == 2
    got = dict(
        (r["k"], r["val"]) for r in read_published(spark, t).collect()
    )
    assert got[7] == "NEW" and len(got) == 40


def test_merge_incremental_conflict_on_concurrent_rewrite(
    spark, tmp_path, monkeypatch
):
    from bamboo_spark.operators import publish as P
    from bamboo_spark.operators.publish import merge_publish_incremental

    t = str(tmp_path / "tbl")
    atomic_publish(_kv(spark, [(1, 1, "a"), (2, 1, "b")]), t)
    orig = P._scan_written
    fired = {"done": False}

    def hook(fs, vdir, vname):
        out = orig(fs, vdir, vname)
        if not fired["done"]:
            fired["done"] = True
            compact(spark, t)  # rewrites the file holding matched keys
        return out

    monkeypatch.setattr(P, "_scan_written", hook)
    with pytest.raises(ConcurrentWriteError):
        merge_publish_incremental(
            _kv(spark, [(2, 2, "B")]), t, key_cols="k",
            version_cols="ver",
        )
    monkeypatch.setattr(P, "_scan_written", orig)
    got = dict(
        (r["k"], r["val"]) for r in read_published(spark, t).collect()
    )
    assert got == {1: "a", 2: "b"}  # merge not committed


def test_publish_stream_merge_mode_end_to_end(spark, tmp_path):
    """Medallion CDC: bamboo_published stream over the bronze table ->
    publish_stream(mode='merge') into silver — each micro-batch
    dv-deletes the matched keys and appends post-state in one commit,
    exactly-once via the batch-id HWM."""
    from bamboo_spark.sources.published import register
    from bamboo_spark.streaming.core import publish_stream

    register(spark)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "k long, ver long, val string"
        ),
        bronze,
    )
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(bronze)
    )
    q = (
        publish_stream(
            sdf, silver, mode="merge", key_cols="k", version_cols="ver"
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["k"]: r["val"]
            for r in read_published(spark, silver).collect()
        }
        assert got == {1: "a", 2: "b"}
        append_publish(
            spark.createDataFrame(
                [(2, 2, "B"), (3, 2, "c")], "k long, ver long, val string"
            ),
            bronze,
        )
        q.processAllAvailable()
        got = {
            r["k"]: (r["ver"], r["val"])
            for r in read_published(spark, silver).collect()
        }
        assert got == {1: (1, "a"), 2: (2, "B"), 3: (2, "c")}
        # the silver upsert was merge-on-read: one dv + append commit,
        # no rewrite of the seed file
        man = P._read_manifest(silver, P._PosixFS())
        assert man.get("dv")
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# partition evolution
# ---------------------------------------------------------------------------


def test_partition_evolution_metadata_only(spark, tmp_path):
    from bamboo_spark.operators.publish import (
        published_rows,
        set_partition_layout,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)],
        "k string, d string, v long",
    )
    atomic_publish(df, t, partition_by="k")                      # v1: by k
    files_before = sorted(live_files(t))
    v = set_partition_layout(t, "d")                             # v2: by d
    assert v == 2
    assert sorted(live_files(t)) == files_before  # zero data movement
    # reads resolve every column on both sides of the evolution
    got = sorted(
        (r["k"], r["d"], r["v"]) for r in read_published(spark, t).collect()
    )
    assert got == [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)]
    # appends land under the NEW layout; reads stay exact across the mix
    append_publish(
        spark.createDataFrame([("c", "y", 4)], "k string, d string, v long"),
        t,
    )
    got = read_published(spark, t)
    assert got.count() == 4 and published_rows(t) == 4
    assert {r["k"] for r in got.where("d = 'y'").collect()} == {"a", "c"}
    new_files = set(live_files(t)) - set(files_before)
    assert all("d=" in f for f in new_files)  # new layout on disk
    # time travel across the evolution
    assert read_published(spark, t, version=1).count() == 3


def test_partition_evolution_guards(spark, tmp_path):
    from bamboo_spark.operators.publish import (
        replace_partitions_publish,
        set_partition_layout,
    )

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 2)], "k string, d string, v long"
    )
    atomic_publish(df, t, partition_by="k")
    with pytest.raises(ValueError, match="not a table column"):
        set_partition_layout(t, "nope")
    with pytest.raises(ValueError, match="non-empty"):
        set_partition_layout(t, [])
    set_partition_layout(t, "d")
    # partition-level maintenance refuses the mixed table…
    with pytest.raises(ValueError, match="predate the current"):
        replace_partitions_publish(
            spark.createDataFrame([("a", "x", 9)],
                                  "k string, d string, v long"),
            t, values=["x"],
        )
    with pytest.raises(ValueError, match="predate the current"):
        delete_publish(spark, t, "v = 1")
    # …file-granular deletes still work on the mixed table…
    delete_publish(spark, t, "v = 2", delete_vectors=True)
    assert read_published(spark, t).count() == 1
    # …and compact() rewrites under the new layout, re-enabling them
    compact(spark, t)
    assert all("d=" in f for f in live_files(t))
    append_publish(
        spark.createDataFrame([("z", "x", 7)], "k string, d string, v long"),
        t,
    )
    replace_partitions_publish(
        spark.createDataFrame([("a", "x", 1), ("z", "x", 7)],
                              "k string, d string, v long"),
        t, values=["x"],
    )
    got = sorted((r["k"], r["v"]) for r in read_published(spark, t).collect())
    assert got == [("a", 1), ("z", 7)]
