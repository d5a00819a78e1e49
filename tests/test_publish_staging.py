"""The staged-commit pipeline (``publish._StagedCommit``) that every
table writer commits through: the staging layout (data in ``_v<N>``,
sidecars in hidden ``_v<N>/_<name>`` subdirs), the concurrent
delete-vector sidecar, and the one cleanup rule — a write that fails
or loses its race before the swap leaves no ``.claim`` and no
unreferenced ``_v<N>`` directory behind.

Races are forced by injected delays and faults, never waited for."""

import json
import os
import re
import shutil
import threading
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from bamboo_spark.operators import publish as P
from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    delete_publish,
    merge_into,
    read_published,
)

_VDIR = re.compile(r"/_v\d+$")


def _table(spark, d, n=2000, files=4):
    atomic_publish(
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        .repartition(files),
        d,
    )


def _updates(spark):
    return spark.range(100).select(
        F.col("id").alias("k"), (-F.col("id")).alias("v")
    )


def _merge(spark, d):
    return merge_into(
        _updates(spark), d, "k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )


def _assert_merged(spark, d):
    got = {r.k: r.v for r in read_published(spark, d).collect()}
    assert len(got) == 2000
    assert got == {k: (-k if k < 100 else k * 10) for k in range(2000)}
    assert read_published(spark, d).count() == 2000


def _assert_no_staging_left(d):
    names = os.listdir(d)
    assert not [n for n in names if n.endswith(".claim")], names
    if P._read_manifest(d, P._PosixFS()) is None:
        assert not [n for n in names if n.startswith("_v")], names
        return
    rep = P.fsck_table(d)
    assert rep["ok"], rep
    assert not rep["orphan_dirs"] and not rep["in_flight_dirs"], rep


def test_merge_commits_when_data_write_lags_its_sidecar(
    spark, tmp_path, monkeypatch
):
    """The delete-vector sidecar starts first and creates ``_v<N>/_dvp``
    while the data write is still to come: the data write must still
    land in its claimed directory (the old ``ErrorIfExists`` write
    failed with PATH_ALREADY_EXISTS)."""
    d = str(tmp_path / "t")
    _table(spark, d)
    real = DataFrameWriter.parquet
    delayed = []

    def slow(self, path, *a, **kw):
        if _VDIR.search(str(path)):
            delayed.append(path)
            time.sleep(4)
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", slow)
    assert _merge(spark, d) == 2
    monkeypatch.undo()
    assert delayed
    _assert_merged(spark, d)
    _assert_no_staging_left(d)


def test_merge_never_cites_its_sidecar_as_data(spark, tmp_path, monkeypatch):
    """The sidecar finishes before the data scan runs: its
    ``_dvp/part-*.parquet`` files must not be cited as data files (they
    were, and a full read then returned extra all-NULL rows)."""
    d = str(tmp_path / "t")
    _table(spark, d)
    real = P._scan_written

    def late_scan(*a, **kw):
        time.sleep(4)
        return real(*a, **kw)

    monkeypatch.setattr(P, "_scan_written", late_scan)
    assert _merge(spark, d) == 2
    monkeypatch.undo()
    cited = P.live_files(d, spark)
    assert not [f for f in cited if "/_dvp" in f], cited
    assert P.fsck_table(d)["ok"]
    _assert_merged(spark, d)


def test_failed_data_write_joins_sidecar_and_reclaims_staging(
    spark, tmp_path, monkeypatch
):
    """The data write fails while the sidecar build is in flight: the
    error propagates only after the sidecar thread is joined, and the
    staging directory and its claim are gone."""
    d = str(tmp_path / "t")
    _table(spark, d)
    before = sorted(n for n in os.listdir(d) if n.startswith("_v"))
    real_build = P._dv_build
    started = threading.Event()
    side = {}

    def slow_build(*a, **kw):
        side["thread"] = threading.current_thread()
        started.set()
        time.sleep(2)
        try:
            return real_build(*a, **kw)
        finally:
            side["done"] = True

    real_write = DataFrameWriter.parquet

    def failing(self, path, *a, **kw):
        if _VDIR.search(str(path)):
            assert started.wait(60)
            raise RuntimeError("injected data-write failure")
        return real_write(self, path, *a, **kw)

    monkeypatch.setattr(P, "_dv_build", slow_build)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected data-write failure"):
        _merge(spark, d)
    monkeypatch.undo()
    assert side.get("done") and not side["thread"].is_alive()
    assert sorted(n for n in os.listdir(d) if n.startswith("_v")) == before
    _assert_no_staging_left(d)
    assert P.current_version(d) == 1


# ---------------------------------------- one cleanup rule, every writer


def _partitioned(spark, d):
    atomic_publish(
        spark.createDataFrame(
            [("a", i) for i in range(5)] + [("b", 10 + i) for i in range(5)],
            "k string, v long",
        ),
        d,
        partition_by="k",
    )


def _race_on_scan(monkeypatch, racer):
    """Run ``racer()`` once, between a writer's data write and its
    commit (at its post-write scan)."""
    real = P._scan_written
    fired = []

    def hook(*a, **kw):
        if not fired:
            fired.append(True)
            racer()
        return real(*a, **kw)

    monkeypatch.setattr(P, "_scan_written", hook)


def _case_atomic_index_fault(spark, d, monkeypatch):
    _table(spark, d, 10)

    def broken(*a, **kw):
        raise OSError("injected index build failure")

    # fails after the data write, inside the held lease
    monkeypatch.setattr(P, "_enrich_seg", broken)
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    return OSError, lambda: atomic_publish(df, d, stats_cols=["v"])


def _case_append_schema_change(spark, d, monkeypatch):
    _table(spark, d, 10)
    _race_on_scan(
        monkeypatch, lambda: P.rename_column(d, "v", "w", spark=spark)
    )
    batch = spark.createDataFrame([(100, 1)], "k long, v long")
    return P.ConcurrentWriteError, lambda: append_publish(batch, d)


def _case_replace_partitions_overlap(spark, d, monkeypatch):
    _partitioned(spark, d)
    _race_on_scan(
        monkeypatch,
        lambda: append_publish(
            spark.createDataFrame([("a", 99)], "k string, v long"), d
        ),
    )
    repl = spark.createDataFrame([("a", 1)], "k string, v long")
    return P.ConcurrentWriteError, lambda: P.replace_partitions_publish(
        repl, d, values=["a"]
    )


def _case_replace_files_rewritten(spark, d, monkeypatch):
    _table(spark, d, 10)
    target = P.live_files(d, spark)[:1]
    _race_on_scan(monkeypatch, lambda: P.compact(spark, d))
    df = spark.createDataFrame([(1, 1)], "k long, v long")
    return P.ConcurrentWriteError, lambda: P.replace_files_publish(
        df, d, target
    )


def _case_clone_fault(spark, d, monkeypatch):
    src = d + "_src"
    _table(spark, src, 10)

    def broken(*a, **kw):
        raise OSError("injected sidecar write failure")

    monkeypatch.setattr(P, "_write_seg", broken)
    return OSError, lambda: P.clone_table(spark, src, d)


def _case_merge_dv_race(spark, d, monkeypatch):
    _table(spark, d, 200, files=1)  # both keys below in one file
    real = P._dv_build
    fired = []

    def racing(*a, **kw):
        out = real(*a, **kw)
        if not fired:
            fired.append(True)
            delete_publish(spark, d, "k = 60", delete_vectors=True)
        return out

    monkeypatch.setattr(P, "_dv_build", racing)
    src = spark.createDataFrame([(50, 1)], "k long, v long")
    return P.ConcurrentWriteError, lambda: merge_into(
        src, d, "k", when_matched_update={"v": "s.v"},
        when_not_matched_insert=False,
    )


def _case_dv_delete_rewritten(spark, d, monkeypatch):
    _table(spark, d, 10)
    real = P._claim_vdir
    busy = []

    def hostile(fs, table_dir, start):
        # every delete attempt: compact rewrites the addressed file
        # between the claim and the commit (not compact's own claim)
        out = real(fs, table_dir, start)
        if not busy:
            busy.append(True)
            try:
                P.compact(spark, d)
            finally:
                busy.pop()
        return out

    monkeypatch.setattr(P, "_claim_vdir", hostile)
    return P.ConcurrentWriteError, lambda: delete_publish(
        spark, d, "k = 4", delete_vectors=True
    )


@pytest.mark.parametrize(
    "case",
    [
        _case_atomic_index_fault,
        _case_append_schema_change,
        _case_replace_partitions_overlap,
        _case_replace_files_rewritten,
        _case_clone_fault,
        _case_merge_dv_race,
        _case_dv_delete_rewritten,
    ],
    ids=lambda c: c.__name__[len("_case_"):],
)
def test_failed_writer_leaves_no_staging(spark, tmp_path, monkeypatch, case):
    """Every writer, failing or losing its race before the swap, leaves
    no ``.claim`` and no unreferenced ``_v<N>`` directory."""
    d = str(tmp_path / "t")
    err, run = case(spark, d, monkeypatch)
    with pytest.raises(err):
        run()
    monkeypatch.undo()
    _assert_no_staging_left(d)


# ------------------------------------------------------------ fsck_table


def test_fsck_flags_a_sidecar_file_cited_as_data(spark, tmp_path):
    """A data file cited through a hidden path component (a dv sidecar
    part file, as the old sidecar race committed) resolves, but is not
    data: fsck reports it and the table is not ok."""
    d = str(tmp_path / "t")
    _table(spark, d, 20)
    fs = P._PosixFS()
    seg = P._read_manifest(d, fs)["segments"][0]
    part = next(Path(d, seg).glob("part-*.parquet"))
    planted = "%s/_dvp/%s" % (seg, part.name)
    Path(d, seg, "_dvp").mkdir()
    shutil.copy(part, Path(d, planted))
    sidecar = json.loads(Path(d, seg, "_seg.json").read_text())
    sidecar["files"].append(planted)
    Path(d, seg, "_seg.json").write_text(json.dumps(sidecar))
    P._SEG_CACHE.clear()
    rep = P.fsck_table(d)
    assert not rep["ok"]
    assert rep["hidden_files"] == [{"snapshot": 1, "file": planted}]
    assert not rep["missing_files"]
