"""The row-level table writers' shared scans: the masked row-address
read (``publish._read_files_with_pos(dv=)``), the matched-files collect,
the merge key probe, and the sidecar datasets they read back.

Job counts are main-thread Spark jobs (``conftest.count_jobs``) on a
200-row, one-file table appended with stats and a bloom on the key."""

import os

import pytest

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    current_version,
    delete_publish,
    merge_into,
    merge_publish_incremental,
    read_published,
    replace_where_publish,
    update_publish,
)

from tests.conftest import count_jobs

_SCHEMA = "k long, v long, s string"


def _rows(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA).coalesce(1)


def _table(spark, d, dv_deleted=()):
    append_publish(
        _rows(spark, [(i, i * 10, "s%d" % i) for i in range(200)]), d,
        stats_cols=["k"], bloom_cols=["k"],
    )
    for k in dv_deleted:
        delete_publish(spark, d, "k = %d" % k, delete_vectors=True)


def _version_dirs(d):
    return sorted(p for p in os.listdir(d) if p.startswith("_v") and "." not in p)


def test_cow_point_delete_of_a_dv_deleted_key_commits_nothing(spark, tmp_path):
    """Copy-on-write point delete finds its matches on the MASKED read:
    a key a delete vector already erased matches no row, so nothing is
    rewritten and no version is committed (the unmasked find used to
    rewrite the file into a new, identical version)."""
    d = str(tmp_path / "t")
    _table(spark, d, dv_deleted=[5])
    v, dirs = current_version(d), _version_dirs(d)
    assert delete_publish(spark, d, "k = 5", point={"k": 5}) is None
    assert current_version(d) == v
    assert _version_dirs(d) == dirs
    assert read_published(spark, d).count() == 199


# (writer, call, main-thread jobs on the plain table, on a table whose
# file already carries a delete vector)
_WRITERS = [
    ("append", lambda spark, d: append_publish(
        _rows(spark, [(1000, 1, "a")]), d), 3, 3),
    ("dv_delete", lambda spark, d: delete_publish(
        spark, d, "k = 5", delete_vectors=True), 6, 9),
    ("merge_into", lambda spark, d: merge_into(
        _rows(spark, [(5, 1, "x"), (500, 2, "y")]), d, "k",
        when_matched_update={"v": "s.v", "s": "s.s"}), 11, 13),
    ("update_publish", lambda spark, d: update_publish(
        spark, d, "k = 5", {"v": "v + 1"}), 3, 6),
    ("replace_where_publish", lambda spark, d: replace_where_publish(
        _rows(spark, [(5, 7, "z")]), d, "k = 5"), 6, 10),
    # below the key-probe gate (_KEY_PRUNE_MIN_FILES/_BYTES) the probe's
    # key collect is skipped, as in merge_into
    ("merge_publish_incremental", lambda spark, d: merge_publish_incremental(
        _rows(spark, [(5, 1, "x"), (500, 2, "y")]), d, "k", "v"), 4, 4),
]


@pytest.mark.parametrize("dv_deleted", [(), (3,)], ids=["plain", "dv"])
def test_jobs_per_row_level_writer(spark, tmp_path, dv_deleted):
    got, want = {}, {}
    for i, (name, call, plain_jobs, dv_jobs) in enumerate(_WRITERS):
        d = str(tmp_path / ("t%d" % i))
        _table(spark, d, dv_deleted)
        v = current_version(d)
        got[name] = count_jobs(spark, lambda: call(spark, d))
        want[name] = dv_jobs if dv_deleted else plain_jobs
        assert current_version(d) == v + 1, name
    assert got == want, "jobs %s, pinned %s" % (got, want)


def test_small_table_merge_skips_the_key_probe(spark, tmp_path, monkeypatch):
    """Both merge writers share one key probe, gated on table size: a
    one-file table never collects the batch's keys to prune."""
    d = str(tmp_path / "t")
    _table(spark, d)
    pruned = []
    real = P._prune_key_candidates
    monkeypatch.setattr(
        P, "_prune_key_candidates",
        lambda *a: pruned.append(a) or real(*a),
    )
    merge_publish_incremental(_rows(spark, [(5, 1, "x")]), d, "k", "v")
    merge_into(_rows(spark, [(6, 1, "y")]), d, "k",
               when_matched_update={"v": "s.v"})
    assert pruned == []
    monkeypatch.setattr(P, "_KEY_PRUNE_MIN_FILES", 1)
    merge_publish_incremental(_rows(spark, [(7, 1, "x")]), d, "k", "v")
    merge_into(_rows(spark, [(8, 1, "y")]), d, "k",
               when_matched_update={"v": "s.v"})
    assert len(pruned) == 2
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert [got[k] for k in (5, 6, 7, 8)] == [1, 1, 1, 1]
    assert len(got) == 200


def test_sidecar_dataset_root_is_read_as_data_but_hidden_from_the_scan(
    spark, tmp_path
):
    """A delete-vector sidecar lives below the hidden ``_v<N>/_dvp``
    dir (never a data file), but its dataset root is not hidden: Spark
    judges a read's root paths by their own name and logged "All paths
    were ignored" for every sidecar read of a hidden root."""
    d = str(tmp_path / "t")
    _table(spark, d, dv_deleted=[5])
    dvmap = P._load_dv(P._fs_for(d), d, P._read_manifest(d, P._fs_for(d)))
    (ref,) = dvmap.values()
    _, rest = ref["ds"].split("/", 1)
    assert P._hidden(rest)
    assert not P._hidden(rest.rsplit("/", 1)[-1])
    assert all(not f.startswith(ref["ds"]) for f in P.live_files(d, spark))
    assert P.fsck_table(d)["ok"]
    assert sorted(P._dv_ds_counts(spark, os.path.join(d, ref["ds"])).values()) == [1]
