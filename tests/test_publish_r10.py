"""Round-10 table-format surface: the commit audit log
(``table_history`` — one row per retained snapshot with operation
label / timestamp / counters), TIMESTAMP AS OF time travel
(``read_published(as_of_ms=...)``), shallow clones, and conditional
merge. All pure-metadata features: one manifest read, no data IO."""

import datetime
import json as _json
import os
import re
import time

import pytest

from pyspark.sql import functions as F

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    delete_publish,
    read_published,
    table_history,
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_table_history_labels_every_flavor(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 10), d)                    # v1 overwrite
    append_publish(_rows(spark, 10, 15), d)                   # v2 append
    compact(spark, d)                                   # v3 compact
    delete_publish(spark, d, "k = 3")                         # v4 delete
    P.set_index_columns(d, stats_cols=["k"], spark=spark)     # v5 metadata

    h = table_history(spark, d).collect()
    assert [r.version for r in h] == [5, 4, 3, 2, 1]
    ops = {r.version: r.operation for r in h}
    assert ops == {
        1: "overwrite",
        2: "append",
        3: "compact",
        4: "delete",
        5: "set_index_columns",
    }
    by_v = {r.version: r for r in h}
    assert by_v[5].is_current and not by_v[4].is_current
    assert by_v[3].data_change is False  # pure rewrite
    assert by_v[5].data_change is False  # metadata only
    assert by_v[4].data_change is True
    # counters line up with the snapshots they describe
    assert by_v[2].n_rows == 15 and by_v[4].n_rows == by_v[5].n_rows == 14
    # commit timestamps are present and monotone over the sequence
    ts = [by_v[v].committed_at_ms for v in (1, 2, 3, 4, 5)]
    assert all(t is not None for t in ts)
    assert ts == sorted(ts)
    # metadata-only: a history read never lists data files
    assert by_v[1].n_files >= 1 and by_v[1].size_bytes > 0


def test_as_of_ms_picks_newest_snapshot_at_or_before(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 5), d)
    t1 = P.table_history(spark, d).collect()[0].committed_at_ms
    time.sleep(0.02)
    append_publish(_rows(spark, 5, 9), d)
    t2 = table_history(spark, d).collect()[0].committed_at_ms
    assert t2 > t1

    assert read_published(spark, d, as_of_ms=t1).count() == 5
    assert read_published(spark, d, as_of_ms=t2 - 1).count() == 5
    assert read_published(spark, d, as_of_ms=t2).count() == 9
    # datetime convenience
    dt = datetime.datetime.fromtimestamp(t2 / 1000.0 + 1)
    assert read_published(spark, d, as_of_ms=dt).count() == 9
    # before the first commit: the state is unknowable
    with pytest.raises(KeyError):
        read_published(spark, d, as_of_ms=t1 - 10_000)
    with pytest.raises(ValueError):
        read_published(spark, d, version=1, as_of_ms=t1)


def test_as_of_respects_vacuumed_history(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_rows(spark, 0, 5), d)
    t1 = table_history(spark, d).collect()[0].committed_at_ms
    time.sleep(0.02)
    atomic_publish(_rows(spark, 0, 7), d)
    atomic_publish(_rows(spark, 0, 9), d)
    P.vacuum(d, keep=1, spark=spark)
    # v1 pruned: its timestamp no longer resolves
    with pytest.raises(KeyError):
        read_published(spark, d, as_of_ms=t1)


def test_clone_is_zero_copy_and_reads_equal(spark, tmp_path):
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(_rows(spark, 0, 100), src)
    append_publish(_rows(spark, 100, 120), src)
    P.clone_table(spark, src, dst)

    got = sorted(r.k for r in read_published(spark, dst).collect())
    assert got == list(range(120))
    # zero copy: no parquet data files under the clone's dir
    data_files = [
        os.path.join(r, f)
        for r, _, fl in os.walk(dst)
        for f in fl
        if f.endswith(".parquet")
    ]
    assert data_files == []
    h = table_history(spark, dst).collect()
    assert len(h) == 1 and h[0].operation == "clone"
    assert P.table_meta(dst, spark=spark)["cloned_version"] == 2


def test_clone_writes_are_independent_of_source(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(_rows(spark, 0, 10), src)
    P.clone_table(spark, src, dst)

    append_publish(_rows(spark, 10, 14), dst)      # clone gains rows
    delete_publish(spark, dst, "k = 0")            # and loses one
    assert read_published(spark, src).count() == 10  # source untouched
    assert read_published(spark, dst).count() == 13
    append_publish(_rows(spark, 50, 60), src)      # source moves on
    assert read_published(spark, dst).count() == 13  # clone unaffected


def test_clone_carries_delete_vectors_and_stats(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(
        _rows(spark, 0, 50), src, stats_cols=["k"], bloom_cols=["k"]
    )
    delete_publish(spark, src, "k = 7", delete_vectors=True)
    P.clone_table(spark, src, dst)

    ks = {r.k for r in read_published(spark, dst).collect()}
    assert 7 not in ks and len(ks) == 49
    # stats carried: skip= prunes on the clone exactly as on the source
    assert read_published(spark, dst, skip={"k": (1000, None)}).count() == 0
    assert (
        read_published(spark, dst, skip_eq={"k": 3}).where("k = 3").count()
        == 1
    )


def test_clone_vacuum_never_touches_source_files(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(_rows(spark, 0, 30), src)
    P.clone_table(spark, src, dst)
    # a few clone-local commits, then vacuum the clone hard
    append_publish(_rows(spark, 30, 35), dst)
    append_publish(_rows(spark, 35, 40), dst)
    P.vacuum(dst, keep=1, spark=spark)
    # source files still present and both tables read fine
    assert read_published(spark, src).count() == 30
    assert read_published(spark, dst).count() == 40


def test_clone_of_retained_version_and_compact_cuts_dependency(
    spark, tmp_path
):
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(_rows(spark, 0, 10), src)       # v1
    append_publish(_rows(spark, 10, 20), src)      # v2
    P.clone_table(spark, src, dst, version=1)
    assert read_published(spark, dst).count() == 10

    compact(spark, dst)  # deep-copies: clone no longer cites src
    for f in P.live_files(dst, spark=spark):
        assert not f.startswith("/") or f.startswith(dst)
    # now vacuuming the source away doesn't break the clone
    atomic_publish(_rows(spark, 0, 3), src)
    atomic_publish(_rows(spark, 0, 4), src)
    P.vacuum(src, keep=1, spark=spark)
    assert read_published(spark, dst).count() == 10


def test_clone_partitioned_table_keeps_pruning(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df = _rows(spark, 0, 40).withColumn("p", (F.col("k") % 4).cast("int"))
    atomic_publish(df, src, partition_by="p")
    P.clone_table(spark, src, dst)
    out = read_published(spark, dst)
    assert out.count() == 40
    assert out.where("p = 2").count() == 10
    # partition column survives with the writer's type
    assert dict(out.dtypes)["p"] == "int"
    # a second-generation clone (clone of a clone) still resolves
    dst2 = str(tmp_path / "dst2")
    P.clone_table(spark, dst, dst2)
    assert read_published(spark, dst2).where("p = 3").count() == 10


def test_clone_refuses_existing_table(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    atomic_publish(_rows(spark, 0, 5), src)
    atomic_publish(_rows(spark, 0, 5), dst)
    with pytest.raises(ValueError, match="already holds a table"):
        P.clone_table(spark, src, dst)


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "k: long, v: long")


def test_merge_into_update_delete_insert_one_commit(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20), (3, 30), (4, 40)]), d)
    v = P.merge_into(
        _kv(spark, [(2, 99), (3, 1), (9, 90)]),
        d,
        "k",
        when_matched_update={"v": "s.v"},
        when_matched_update_condition="s.v > t.v",
        when_matched_delete_condition="s.v < 10",
        when_not_matched_insert=True,
    )
    assert v == 2  # ONE commit for the whole statement
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    # k=2 updated (99>20); k=3 deleted (1<10); k=9 inserted; 1,4 intact
    assert got == {1: 10, 2: 99, 4: 40, 9: 90}
    h = {r.version: r.operation for r in table_history(spark, d).collect()}
    assert h[2] == "merge"


def test_merge_into_untouched_matches_cost_nothing(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d)
    # source matches k=1 but the update condition does NOT fire
    v = P.merge_into(
        _kv(spark, [(1, 5)]),
        d,
        "k",
        when_matched_update={"v": "s.v"},
        when_matched_update_condition="s.v > t.v",
        when_not_matched_insert=False,
    )
    assert v is None  # nothing fired: no commit at all
    assert {r.k: r.v for r in read_published(spark, d).collect()} == {
        1: 10,
        2: 20,
    }


def test_merge_into_cardinality_violation_raises_before_write(
    spark, tmp_path
):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10)]), d)
    from bamboo_spark.operators.publish import current_version

    with pytest.raises(ValueError, match="cardinality"):
        P.merge_into(
            _kv(spark, [(1, 5), (1, 6)]),
            d,
            "k",
            when_matched_update={"v": "s.v"},
        )
    assert current_version(d, spark=spark) == 1  # nothing committed


def test_merge_into_insert_condition_and_key_guard(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10)]), d)
    P.merge_into(
        _kv(spark, [(7, 70), (8, 3)]),
        d,
        "k",
        when_not_matched_insert="s.v > 50",
    )
    assert {r.k for r in read_published(spark, d).collect()} == {1, 7}
    with pytest.raises(ValueError, match="key column"):
        P.merge_into(
            _kv(spark, [(1, 2)]), d, "k", when_matched_update={"k": "s.k + 1"}
        )


def test_merge_into_respects_prior_delete_vectors(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d)
    delete_publish(spark, d, "k = 1", delete_vectors=True)
    # k=1 is dv-deleted: the merge must treat it as NOT MATCHED
    P.merge_into(
        _kv(spark, [(1, 111)]),
        d,
        "k",
        when_matched_update={"v": "s.v + 1000"},
        when_not_matched_insert=True,
    )
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got == {1: 111, 2: 20}  # inserted fresh, not updated


def test_rename_column_is_metadata_only(spark, tmp_path):
    import os

    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d, stats_cols=["v"])
    before = {
        os.path.join(r, f)
        for r, _, fl in os.walk(d)
        for f in fl
        if f.endswith(".parquet")
    }
    ver = P.rename_column(d, "v", "amount", spark=spark)
    after = {
        os.path.join(r, f)
        for r, _, fl in os.walk(d)
        for f in fl
        if f.endswith(".parquet")
    }
    assert before == after  # zero data IO
    out = read_published(spark, d)
    assert out.columns == ["k", "amount"]
    assert {r.k: r.amount for r in out.collect()} == {1: 10, 2: 20}
    # stats rekey: pruning on the NEW name still hits files written
    # under the old one
    assert read_published(spark, d, skip={"amount": (1000, None)}).count() == 0
    # time travel: the pre-rename snapshot keeps its own names
    old = read_published(spark, d, version=ver - 1)
    assert old.columns == ["k", "v"]
    h = {r.version: r.operation for r in table_history(spark, d).collect()}
    assert h[ver] == "rename_column"


def test_rename_then_append_and_merge_use_new_name(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10)]), d)
    P.rename_column(d, "v", "amount", spark=spark)
    # strict append: old name refused, new name lands
    with pytest.raises(ValueError, match="schema"):
        append_publish(_kv(spark, [(2, 20)]), d)
    append_publish(
        spark.createDataFrame([(2, 20)], "k: long, amount: long"), d
    )
    got = {r.k: r.amount for r in read_published(spark, d).collect()}
    assert got == {1: 10, 2: 20}
    # predicate merge over MIXED segments (pre-rename file + post)
    P.merge_into(
        spark.createDataFrame([(1, 5), (3, 30)], "k: long, amount: long"),
        d,
        "k",
        when_matched_update={"amount": "s.amount + t.amount"},
        when_not_matched_insert=True,
    )
    got = {r.k: r.amount for r in read_published(spark, d).collect()}
    assert got == {1: 15, 2: 20, 3: 30}


def test_drop_column_and_resurrection_guards(spark, tmp_path):
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b")], "k: long, v: long, tag: string"
    )
    atomic_publish(df, d)
    P.drop_column(d, "tag", spark=spark)
    out = read_published(spark, d)
    assert out.columns == ["k", "v"]
    # re-adding the retired name via schema-merge is refused
    with pytest.raises(ValueError, match="dropped or renamed"):
        append_publish(
            spark.createDataFrame(
                [(3, 30, "x")], "k: long, v: long, tag: string"
            ),
            d,
            schema_mode="merge",
        )
    # renaming onto a retired name is refused too
    with pytest.raises(ValueError, match="resurrect"):
        P.rename_column(d, "v", "tag", spark=spark)
    # a FRESH name works, and old files read it as null
    append_publish(
        spark.createDataFrame(
            [(3, 30, "x")], "k: long, v: long, label: string"
        ),
        d,
        schema_mode="merge",
    )
    got = {r.k: (r.v, r.label) for r in read_published(spark, d).collect()}
    assert got == {1: (10, None), 2: (20, None), 3: (30, "x")}


def test_rename_guards_partition_col_and_unstamped_segments(
    spark, tmp_path
):
    import json as _json
    import os

    d = str(tmp_path / "t")
    df = _rows(spark, 0, 8).withColumn("p", (F.col("k") % 2).cast("int"))
    atomic_publish(df, d, partition_by="p")
    # round 12: renaming a partition column now EVOLVES the spec
    # per-segment instead of refusing — the logical layout follows the
    # rename and old files resolve values under their physical path key
    P.rename_column(d, "p", "bucket", spark=spark)
    man = P._read_manifest(d, P._PosixFS())
    assert man["partition_by"] == ["bucket"]
    assert sorted(
        (r.k, r.bucket) for r in read_published(spark, d).collect()
    ) == [(k, k % 2) for k in range(8)]
    # a pre-stamping segment (no field_names) is refused: its files
    # would resolve columns by name after the rename
    d2 = str(tmp_path / "t2")
    atomic_publish(_kv(spark, [(1, 10)]), d2)
    for root, _, fl in os.walk(d2):
        for f in fl:
            if f == "_seg.json":
                pth = os.path.join(root, f)
                seg = _json.load(open(pth))
                seg.pop("field_names", None)
                _json.dump(seg, open(pth, "w"))
    P._SEG_CACHE.clear()
    with pytest.raises(P.UnsupportedFormatError, match="unstamped segment"):
        P.rename_column(d2, "v", "w", spark=spark)
    assert P._read_manifest(d2, P._PosixFS())["version"] == 1


def test_rename_with_delete_vectors_and_restore(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20), (3, 30)]), d)
    delete_publish(spark, d, "v = 20", delete_vectors=True)   # v2
    v3 = P.rename_column(d, "v", "amount", spark=spark)       # v3
    got = {r.k: r.amount for r in read_published(spark, d).collect()}
    assert got == {1: 10, 3: 30}
    # the pre-rename snapshot reads back with its old names, dv still
    # applied
    out = read_published(spark, d, version=v3 - 1)
    assert out.columns == ["k", "v"]
    assert {r.k: r.v for r in out.collect()} == {1: 10, 3: 30}
    # evolve again after the time travel — the id space stays consistent
    P.rename_column(d, "amount", "w", spark=spark)
    assert {r.k: r.w for r in read_published(spark, d).collect()} == {
        1: 10,
        3: 30,
    }


def test_clone_of_evolved_table_reads_new_names(spark, tmp_path):
    d = str(tmp_path / "t")
    c = str(tmp_path / "c")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d)
    P.rename_column(d, "v", "amount", spark=spark)
    append_publish(
        spark.createDataFrame([(3, 30)], "k: long, amount: long"), d
    )
    P.clone_table(spark, d, c)
    got = {r.k: r.amount for r in read_published(spark, c).collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    # compact folds physical names to logical on the clone
    compact(spark, c)
    got = {r.k: r.amount for r in read_published(spark, c).collect()}
    assert got == {1: 10, 2: 20, 3: 30}


def test_datasource_reads_evolved_table(spark, tmp_path):
    from bamboo_spark.sources.published import register

    register(spark)
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d)
    P.rename_column(d, "v", "amount", spark=spark)
    append_publish(
        spark.createDataFrame([(3, 30)], "k: long, amount: long"), d
    )
    got = spark.read.format("bamboo_published").load(d)
    assert got.columns == ["k", "amount"]
    assert {r.k: r.amount for r in got.collect()} == {1: 10, 2: 20, 3: 30}


def test_read_appends_across_rename_delivers_new_name(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10)]), d)          # v1
    append_publish(_kv(spark, [(2, 20)]), d)          # v2
    P.rename_column(d, "v", "amount", spark=spark)    # v3 (no rows)
    append_publish(
        spark.createDataFrame([(3, 30)], "k: long, amount: long"), d
    )                                                  # v4
    delta = P.read_appends(spark, d, from_version=1)
    assert delta.columns == ["k", "amount"]
    got = {r.k: r.amount for r in delta.collect()}
    assert got == {2: 20, 3: 30}  # the pre-rename append too, renamed


def test_merge_into_not_matched_by_source_delete_full_sync(
    spark, tmp_path
):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20), (3, 30), (4, 40)]), d)
    # full mirror: source becomes the table exactly, in ONE commit
    P.merge_into(
        _kv(spark, [(2, 99), (5, 50)]),
        d,
        "k",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
        when_not_matched_by_source_delete=True,
    )
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got == {2: 99, 5: 50}


def test_merge_into_not_matched_by_source_delete_conditional(
    spark, tmp_path
):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20), (3, 30)]), d)
    # prune-only-small rows absent from the source; keep the rest
    P.merge_into(
        _kv(spark, [(3, 33)]),
        d,
        "k",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete="t.v < 15",
    )
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert got == {2: 20, 3: 33}  # k=1 (v=10) pruned; k=2 kept
    # the deletes are delete-vectors: no data file was rewritten
    import os

    n_parquet = sum(
        1
        for r, _, fl in os.walk(d)
        for f in fl
        if f.endswith(".parquet")
    )
    assert n_parquet >= 1


def test_merge_probe_prunes_by_stats_range(spark, tmp_path):
    """Monotone-keyed table: a merge batch touching only recent keys
    must open only the files whose min/max range intersects the batch
    (time/sequence-keyed ingest's probe cost at 100 TB)."""
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(i, i) for i in range(0, 50)]), d,
                   stats_cols=["k"])
    for lo in (50, 100, 150):
        append_publish(
            _kv(spark, [(i, i) for i in range(lo, lo + 50)]).coalesce(1),
            d,
            stats_cols=["k"],
        )
    from bamboo_spark.operators.publish import (
        _field_ids_of,  # noqa: F401 — module import for helper access
        _prune_key_candidates,
        _resolve_entry,
        _fs_for,
        _read_manifest,
    )

    fs = _fs_for(d, spark)
    res = _resolve_entry(fs, d, _read_manifest(d, fs))
    kept = _prune_key_candidates(res, res["files"], "k", [160, 170])
    assert len(kept) < len(res["files"])  # range-pruned
    for f in kept:
        st = res["file_stats"][f]["k"]
        assert st[0] <= 170 and st[1] >= 160
    # and the merge itself still lands correctly
    v = P.merge_into(
        _kv(spark, [(160, 1), (170, 1)]),
        d,
        "k",
        when_matched_update={"v": "t.v + s.v"},
        when_not_matched_insert=False,
    )
    assert v is not None
    got = {r.k: r.v for r in read_published(spark, d)
           .where("k in (160, 170)").collect()}
    assert got == {160: 161, 170: 171}


def test_publish_stream_merge_into_mode(spark, tmp_path):
    """Continuous PREDICATE merge: a bamboo_published stream feeds
    publish_stream(mode='merge_into') — per batch one merge-on-read
    commit applying conditional update / guarded delete / insert-if;
    the first batch seeds the table through the insert clause;
    exactly-once via the batch-id HWM."""
    from bamboo_spark.sources.published import register
    from bamboo_spark.streaming.core import publish_stream

    register(spark)
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(_kv(spark, [(1, 10), (2, 3)]), bronze)
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(bronze)
    )
    q = (
        publish_stream(
            sdf,
            silver,
            mode="merge_into",
            key_cols="k",
            merge_args={
                "when_matched_update": {"v": "s.v + t.v"},
                "when_matched_delete_condition": "s.v < 0",
                "when_not_matched_insert": "s.v >= 10",
            },
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.k: r.v for r in read_published(spark, silver).collect()}
        assert got == {1: 10}  # (2, 3) filtered by the insert guard
        append_publish(_kv(spark, [(1, 5), (4, 40)]), bronze)
        q.processAllAvailable()
        got = {r.k: r.v for r in read_published(spark, silver).collect()}
        assert got == {1: 15, 4: 40}  # update fired, insert guarded in
        append_publish(_kv(spark, [(1, -1)]), bronze)
        q.processAllAvailable()
        got = {r.k: r.v for r in read_published(spark, silver).collect()}
        assert got == {4: 40}  # guarded delete fired
        ops = [
            r.operation
            for r in table_history(spark, silver).collect()
        ]
        assert set(ops) == {"merge"}
    finally:
        q.stop()


def test_streaming_source_over_clone(spark, tmp_path):
    """The clone is a first-class table for the streaming source too:
    offsets are the CLONE's own versions; post-clone appends to the
    clone deliver, source commits never do."""
    from bamboo_spark.sources.published import register

    register(spark)
    src_t = str(tmp_path / "src")
    cln = str(tmp_path / "cln")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), src_t)
    P.clone_table(spark, src_t, cln)
    sdf = (
        spark.readStream.format("bamboo_published")
        .option("startingVersion", "0")
        .load(cln)
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        ks = sorted(r.k for r in spark.read.parquet(out).collect())
        assert ks == [1, 2]  # the cloned snapshot delivers (v0 -> v1)
        append_publish(_kv(spark, [(9, 90)]), src_t)  # SOURCE moves
        append_publish(_kv(spark, [(3, 30)]), cln)    # clone moves
        q.processAllAvailable()
        ks = sorted(r.k for r in spark.read.parquet(out).collect())
        assert ks == [1, 2, 3]  # clone's append only, never source's
    finally:
        q.stop()


def test_append_cluster_by_tightens_stats(spark, tmp_path):
    """Clustered appends: the batch range-partitions+sorts on the
    cluster column, so each new file covers a narrow range and skip=
    pruning on the landing table opens a strict subset of files."""
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(0, 0)]), d, stats_cols=["k"])
    shuffled = (
        spark.range(1, 2001)
        .select(
            (F.col("id") * 2654435761 % 2000).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(8)
    )
    append_publish(
        shuffled, d, stats_cols=["k"], cluster_by="k", cluster_files=8
    )
    from bamboo_spark.operators.publish import (
        _fs_for,
        _read_manifest,
        _resolve_entry,
    )

    fs = _fs_for(d, spark)
    res = _resolve_entry(fs, d, _read_manifest(d, fs))
    new_files = [f for f in res["files"] if res["file_stats"].get(f)]
    # clustered: per-file ranges are disjoint-ish — a narrow skip
    # bound must exclude most files
    hit = [
        f
        for f in new_files
        if res["file_stats"][f]["k"][0] <= 100
        and res["file_stats"][f]["k"][1] >= 50
    ]
    assert len(new_files) >= 4
    assert len(hit) <= max(1, len(new_files) // 3)
    got = read_published(spark, d, skip={"k": (50, 100)}).where(
        "k between 50 and 100"
    )
    assert got.count() == 51


def test_format_version_guard(spark, tmp_path):
    import json as _json
    import os

    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10)]), d)
    man_path = os.path.join(d, "manifest.json")
    man = _json.load(open(man_path))
    assert man["format_version"] == 1
    man["format_version"] = 99
    _json.dump(man, open(man_path, "w"))
    from bamboo_spark.operators.publish import UnsupportedFormatError

    with pytest.raises(UnsupportedFormatError, match="format_version=99"):
        read_published(spark, d).collect()
    with pytest.raises(UnsupportedFormatError):
        append_publish(_kv(spark, [(2, 20)]), d)


def _dv_positions(spark, d, man):
    """``{file: [positions]}`` of the committed snapshot's delete
    vectors, unpacked from their bitmap sidecars."""
    dv = P._load_dv(P._PosixFS(), d, man)
    out = {}
    for f, ref in dv.items():
        bits = spark.read.parquet(os.path.join(d, ref["ds"]))
        out[f] = sorted(
            r._dv_pos
            for r in P._dv_unpack(bits).where(F.col("_dv_file") == f)
            .collect()
        )
    return out


def _edit_json(path, edit):
    with open(path) as fh:
        data = _json.load(fh)
    edit(data)
    with open(path, "w") as fh:
        _json.dump(data, fh)


def _legacy_inline(spark, d, man):
    # an older snapshot lists its files inline instead of by segment
    e = man["snapshots"]["2"]
    e["files"] = P._entry_files(P._PosixFS(), d, e)
    e.pop("segments")
    e.pop("removed", None)


def _legacy_unstamped(spark, d, man):
    _edit_json(
        os.path.join(d, man["segments"][-1], "_seg.json"),
        lambda seg: seg.pop("field_names"),
    )


def _legacy_no_field_ids(spark, d, man):
    for e in [man, *man["snapshots"].values()]:
        e.pop("field_ids")


def _legacy_dv_positions(spark, d, man):
    pos = _dv_positions(spark, d, man)
    _edit_json(
        os.path.join(d, man["dv"]),
        lambda dv: dv.update({f: pos[f] for f in dv}),
    )


def _legacy_dv_rows(spark, d, man):
    # one row per deleted position, as sidecars were written before
    # the bitmap packing
    dv = P._load_dv(P._PosixFS(), d, man)
    for f, ref in dv.items():
        rows = ref["ds"] + "_rows"
        P._dv_unpack(
            spark.read.parquet(os.path.join(d, ref["ds"]))
        ).write.parquet(os.path.join(d, rows))
        dv[f] = {"ds": rows, "n": ref["n"]}
    _edit_json(os.path.join(d, man["dv"]), lambda old: old.update(dv))


def _legacy_dv_hidden_root(spark, d, man):
    # the sidecar dataset rooted at the hidden _dvp dir itself
    ds = next(iter(P._load_dv(P._PosixFS(), d, man).values()))["ds"]
    hidden = ds.rsplit("/", 1)[0]
    os.rename(os.path.join(d, ds), os.path.join(d, hidden + "_tmp"))
    os.rmdir(os.path.join(d, hidden))
    os.rename(os.path.join(d, hidden + "_tmp"), os.path.join(d, hidden))
    _edit_json(
        os.path.join(d, man["dv"]),
        lambda dv: dv.update({f: {**v, "ds": hidden} for f, v in dv.items()}),
    )


# shape -> (edit of a fresh 5-version table: manifest edits apply to
# the loaded manifest, which is written back; error text naming it)
_LEGACY_SHAPES = {
    "tags": (lambda s, d, m: m.update(tags={"freeze": 1}), "'tags'"),
    "branches": (
        lambda s, d, m: m.update(
            branches={
                "b": {"head": m["snapshots"]["1"], "base": 1, "seq": 1}
            }
        ),
        "'branches'",
    ),
    "constraints": (
        lambda s, d, m: m.update(constraints={"v_pos": "v > 0"}),
        "'constraints'",
    ),
    "retention": (
        lambda s, d, m: m.update(retention={"keep": 10}), "'retention'"
    ),
    "pre_history": (
        lambda s, d, m: m.pop("snapshots"), "pre-history manifest"
    ),
    "inline_files": (_legacy_inline, "inline 'files' list in snapshot 2"),
    "no_field_ids": (_legacy_no_field_ids, "no 'field_ids'"),
    "pre_size": (
        lambda s, d, m: m["snapshots"]["2"].pop("size_bytes"),
        "no 'n_files'/'size_bytes' in snapshot 2",
    ),
    "unstamped_segment": (_legacy_unstamped, "unstamped segment"),
    "dv_position_list": (
        _legacy_dv_positions, "position-list delete vector"
    ),
    "dv_row_sidecar": (
        _legacy_dv_rows, "row-per-position delete-vector sidecar"
    ),
    "dv_hidden_root": (_legacy_dv_hidden_root, "hidden '_dvp' dir"),
}


@pytest.mark.parametrize("key", list(_LEGACY_SHAPES))
def test_manifest_with_removed_feature_is_refused(spark, tmp_path, key):
    """Tags, branches, CHECK constraints and stored retention policies
    are gone, and so are the
    table shapes no writer produces any more (pre-history and inline
    manifests, entries without field ids or file/byte counters,
    unstamped segments, position
    lists, row-per-position and hidden-root delete-vector sidecars) —
    but tables written before may still carry them: every reader and
    writer refuses such a table by name rather than misreading it
    (unenforced constraints, a vacuum that deletes a branch head's
    files, a bare vacuum that keeps 2 snapshots where the stored
    policy kept 10, columns resolved by name after a rename)."""
    from bamboo_spark.operators.publish import UnsupportedFormatError
    from bamboo_spark.sources.published import register

    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20)]), d)            # v1
    for k in (3, 4):
        append_publish(_kv(spark, [(k, k * 10)]), d)            # v2-v3
    delete_publish(spark, d, "k = 2", delete_vectors=True)      # v4
    append_publish(_kv(spark, [(5, 50)]), d)                    # v5
    edit, named = _LEGACY_SHAPES[key]
    man_path = os.path.join(d, "manifest.json")
    _edit_json(man_path, lambda man: edit(spark, d, man))
    P._SEG_CACHE.clear()  # as a fresh process would see the table
    P._DV_CACHE.clear()
    named = re.escape(named)
    on_disk = sorted(os.listdir(d))
    man_text = open(man_path).read()
    with pytest.raises(UnsupportedFormatError, match=named):
        append_publish(_kv(spark, [(6, 60)]), d)
    with pytest.raises(UnsupportedFormatError, match=named):
        P.vacuum(d, keep=1, spark=spark)
    # neither the failed append nor vacuum changed anything
    assert sorted(os.listdir(d)) == on_disk
    assert open(man_path).read() == man_text
    with pytest.raises(UnsupportedFormatError, match=named):
        read_published(spark, d).collect()
    register(spark)
    with pytest.raises(Exception, match=named):
        spark.read.format("bamboo_published").load(d).count()
    # a ref load never silently reads main
    with pytest.raises(Exception, match="ref option is not supported"):
        spark.read.format("bamboo_published").option(
            "ref", "freeze"
        ).load(d).count()


def test_read_changes_update_pairing(spark, tmp_path):
    d = str(tmp_path / "t")
    atomic_publish(_kv(spark, [(1, 10), (2, 20), (3, 30)]), d)   # v1
    # one merge: update k=1, delete k=2, insert k=9
    P.merge_into(
        _kv(spark, [(1, 11), (2, -1), (9, 90)]),
        d,
        "k",
        when_matched_update={"v": "s.v"},
        when_matched_delete_condition="s.v < 0",
        when_not_matched_insert=True,
    )                                                            # v2
    ch = P.read_changes(spark, d, from_version=1, key_cols="k").collect()
    got = sorted((r.k, r.v, r._change_type) for r in ch)
    assert got == [
        (1, 10, "update_preimage"),
        (1, 11, "update_postimage"),
        (2, 20, "delete"),
        (9, 90, "insert"),
    ]
    # without key_cols the raw delete+insert contract is unchanged
    raw = {
        (r.k, r._change_type)
        for r in P.read_changes(spark, d, from_version=1).collect()
    }
    assert raw == {
        (1, "delete"),
        (1, "insert"),
        (2, "delete"),
        (9, "insert"),
    }
