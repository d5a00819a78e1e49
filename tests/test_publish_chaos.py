"""Concurrency chaos: several writer threads hammer ONE table through
the public API; the final state must exactly equal the ledger of
commits that REPORTED success — the table format's whole contract
(no lost updates, no phantom rows, monotonic versions, readable
history) under real thread interleaving, not injected schedules."""

import threading

import pyspark.sql.functions as F

from bamboo_spark.operators.publish import (
    ConcurrentWriteError,
    append_publish,
    atomic_publish,
    compact,
    current_version,
    published_rows,
    read_published,
    snapshots,
    vacuum,
)


def test_concurrent_writers_ledger_exact(spark, tmp_path):
    t = str(tmp_path / "tbl")
    # seed: 4 partitions, 40 rows
    atomic_publish(
        spark.range(40).select(
            (F.col("id") % 4).cast("string").alias("k"),
            F.col("id").alias("v"),
        ),
        t,
        partition_by="k",
    )
    ledger = []          # (thread, rows_added) for SUCCESSFUL commits
    errors = []
    lock = threading.Lock()

    def appender(tid, part, n_batches, rows_per_batch):
        # each appender owns ONE partition value — disjoint writers,
        # every commit should land (rebase, never conflict)
        base = 1000 * (tid + 1)
        for b in range(n_batches):
            lo = base + b * rows_per_batch
            df = spark.createDataFrame(
                [(part, lo + i) for i in range(rows_per_batch)],
                "k string, v long",
            )
            try:
                append_publish(df, t)
                with lock:
                    ledger.append((tid, rows_per_batch))
            except ConcurrentWriteError as e:
                with lock:
                    errors.append((tid, e))
            except Exception as e:  # pragma: no cover
                with lock:
                    errors.append((tid, e))

    def maintainer():
        # periodic compaction: queues for the lease behind in-flight
        # commits (a wait that runs out is a correct outcome), never
        # corrupts
        for _ in range(3):
            try:
                compact(spark, t)
            except ConcurrentWriteError:
                pass

    threads = [
        threading.Thread(target=appender, args=(i, str(i), 4, 5))
        for i in range(4)
    ] + [threading.Thread(target=maintainer)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors[:3]
    expected = 40 + sum(n for _, n in ledger)
    got = read_published(spark, t)
    assert got.count() == expected
    assert published_rows(t) == expected  # manifest bookkeeping exact
    # every appender's rows are all present exactly once
    for tid in range(4):
        base = 1000 * (tid + 1)
        assert (
            got.where(
                (F.col("v") >= base) & (F.col("v") < base + 1000)
            ).count()
            == 20
        )
    # versions moved monotonically: one commit per success + seed +
    # however many compactions landed
    n_compactions = current_version(t) - 1 - len(ledger)
    assert 0 <= n_compactions <= 3
    # history stays readable and vacuum stays safe afterwards
    for s in snapshots(t, spark):
        assert read_published(spark, t, version=s["version"]).count() >= 0
    vacuum(t, keep=1, spark=spark)
    assert read_published(spark, t).count() == expected


def test_concurrent_append_dv_delete_compact(spark, tmp_path):
    """Round-12 matrix: appenders + a compact maintainer + a
    dv-deleter hammer one UNPARTITIONED table. Appends always land
    (rebase); deletes may lose optimistic races and maintenance its
    lease wait (a ConcurrentWriteError is a correct outcome); the final
    state must equal the ledger exactly and fsck must report a healthy
    table with no leaked staging."""
    from bamboo_spark.operators.publish import delete_publish, fsck_table

    t = str(tmp_path / "tbl")
    atomic_publish(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        t,
    )
    appended, deleted, errors = [], [], []
    lock = threading.Lock()

    def appender(tid):
        base = 1000 * (tid + 1)
        for b in range(3):
            lo = base + b * 10
            df = spark.createDataFrame(
                [(lo + i, 0) for i in range(10)], "k long, v long"
            )
            try:
                append_publish(df.coalesce(1), t)
                with lock:
                    appended.append(10)
            except Exception as e:  # appends must never conflict
                with lock:
                    errors.append(("append", tid, e))

    def maintainer():
        for _ in range(3):
            try:
                compact(spark, t)
            except ConcurrentWriteError:
                pass
            except Exception as e:  # pragma: no cover
                with lock:
                    errors.append(("compact", 0, e))

    def deleter():
        for k in (5, 15, 25):
            try:
                if delete_publish(
                    spark, t, "k = %d" % k, delete_vectors=True
                ):
                    with lock:
                        deleted.append(k)
            except ConcurrentWriteError:
                pass  # lost all 3 bounded retries under contention: ok
            except Exception as e:  # pragma: no cover
                with lock:
                    errors.append(("delete", k, e))

    threads = (
        [threading.Thread(target=appender, args=(i,)) for i in range(3)]
        + [
            threading.Thread(target=maintainer),
            threading.Thread(target=deleter),
        ]
    )
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors[:3]
    expected = 100 + sum(appended) - len(deleted)
    got = read_published(spark, t)
    assert got.count() == expected
    assert published_rows(t) == expected
    live_keys = {r.k for r in got.select("k").collect()}
    for k in deleted:
        assert k not in live_keys
    for tid in range(3):
        base = 1000 * (tid + 1)
        assert (
            got.where(
                (F.col("k") >= base) & (F.col("k") < base + 1000)
            ).count()
            == 30
        )
    rep = fsck_table(t, spark=spark, check_sizes=True)
    assert rep["ok"], rep
    assert not rep["in_flight_dirs"], rep   # all writers joined
    vacuum(t, keep=1, spark=spark)
    assert read_published(spark, t).count() == expected
    rep2 = fsck_table(t, spark=spark)
    assert rep2["ok"] and not rep2["orphan_dirs"], rep2
