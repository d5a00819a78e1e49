"""The commit part of tables_mix: commits beside reads on a fresh table per cycle.

One cycle: K ``append_publish`` calls (stats + bloom on the key), M
``merge_into`` upserts each followed by a full ``read_published``
aggregate and a ``skip_eq`` point read, one
``delete_publish(delete_vectors=True)``, ``compact``, and a final full
read. Every read is checked against a pure-Python model of the table.
In a traced run the full reads and the once-a-cycle commits are always
traced, so that every full read of the merge sequence counts towards
``published.scan_growth``.
"""

from __future__ import annotations

import os
import zlib

import corpus
from measure import Recorder, Tracer, median

NOMINAL_CYCLE_S = 20.0
SIZES = {
    "full": {"n_keys": 2000, "n_appends": 2, "n_merges": 3},
    "tiny": {"n_keys": 120, "n_appends": 2, "n_merges": 2},
}
WARMUP = {"n_keys": 40, "n_appends": 1, "n_merges": 1}


def prepare(ctx):
    cycles = max(1, int(ctx.seconds // NOMINAL_CYCLE_S))
    return {
        "batches": [
            corpus.commit_batches(ctx.seed * 1000 + c, **SIZES[ctx.scale])
            for c in range(cycles)
        ],
        "tables": os.path.join(ctx.work, "tables"),
    }


def expect(ctx, st):
    """Expected table states are derived step by step in ``_cycle`` from
    the batches, with the same pure-Python model."""
    return None


def _row_hash(k, v, s) -> int:
    return zlib.crc32(("%d:%d:%s" % (k, v, s)).encode())


def _want_scan(model):
    return (len(model), len(model), sum(_row_hash(k, v, s) for k, (v, s) in model.items()))


def _dir_stats(path: str):
    files = nbytes = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            nbytes += os.path.getsize(os.path.join(base, n))
    return files, nbytes


def _cycle(ctx, rec, table: str, batches, out: dict, finish: bool = True) -> None:
    from pyspark.sql import functions as F, types as T

    from bamboo_spark.operators import publish as P

    spark, tr = ctx.spark, ctx.tracer
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    appends, merges, delete_mod = batches
    model = {}
    state = {"version": 0}

    def commit(sub, call, apply, alternate=True):
        plain = alternate and ctx.plain(sub)
        before = _dir_stats(table) if ctx.trace and not plain else None

        def fn():
            with tr.span("publish.%s" % sub), ctx.jobs.group("commit:" + sub):
                v = call()
            apply()
            return v

        def check(v):
            state["version"] += 1
            if v != state["version"]:
                return "committed version %r, expected %d" % (v, state["version"])
            return None

        with ctx.untraced(plain):
            rec.op("commit", fn, check, sub=sub, plain=plain)
        if before is not None:
            after = _dir_stats(table)
            out.setdefault("files", []).append(after[0] - before[0])

    def upsert(batch):
        def apply():
            model.update({k: (v, s) for k, v, s in batch})

        return apply

    def scan(merge_step: bool):
        want = _want_scan(model)

        def fn():
            with tr.span("published.scan"):
                r = (
                    P.read_published(spark, table)
                    .agg(
                        F.count(F.lit(1)),
                        F.countDistinct("k"),
                        F.sum(F.crc32(F.concat_ws(":", "k", "v", "s"))),
                    )
                    .collect()[0]
                )
            return (r[0], r[1], r[2] or 0)

        def check(got):
            if tuple(got) != want:
                return "scan (rows, keys, hash) %s, expected %s" % (tuple(got), want)
            return None

        got = rec.op("scan", fn, check, sub="scan")
        if merge_step and got is not None:
            merge_scans.append(rec.log[-1][-1])

    def point(key):
        want = [(key,) + model[key]] if key in model else []
        frames = []

        def fn():
            with tr.span("published.point"):
                df = P.read_published(spark, table, skip_eq={"k": key})
                frames.append(df)
                return [tuple(r) for r in df.where(F.col("k") == key).collect()]

        def check(rows):
            if ctx.trace and frames:
                out.setdefault("point_files", []).append(len(frames[0].inputFiles()))
            if rows != want:
                return "point read k=%d gave %s, expected %s" % (key, rows, want)
            return None

        plain = ctx.plain("point")
        with ctx.untraced(plain):
            rec.op("point", fn, check, sub="point", plain=plain)

    user_bytes = 0
    merge_scans = []
    for batch in appends:
        df = spark.createDataFrame(batch, schema)
        commit(
            "append",
            lambda df=df: P.append_publish(df, table, stats_cols=["k"], bloom_cols=["k"]),
            upsert(batch),
        )
        user_bytes += sum(16 + len(s) for _, _, s in batch)
    for batch in merges:
        df = spark.createDataFrame(batch, schema)
        commit(
            "merge",
            lambda df=df: P.merge_into(
                df,
                table,
                "k",
                when_matched_update={"v": "s.v", "s": "s.s"},
                when_not_matched_insert=True,
                stats_cols=["k"],
                bloom_cols=["k"],
            ),
            upsert(batch),
        )
        user_bytes += sum(16 + len(s) for _, _, s in batch)
        scan(merge_step=True)
        point(batch[0][0])
    if not finish:
        return

    def delete():
        for k in [k for k in model if k % 7 == delete_mod]:
            del model[k]

    commit(
        "delete",
        lambda: P.delete_publish(spark, table, "k %% 7 = %d" % delete_mod, delete_vectors=True),
        delete,
        alternate=False,
    )
    commit("compact", lambda: P.compact(spark, table), lambda: None, alternate=False)
    scan(merge_step=False)
    if len(merge_scans) > 1:
        out.setdefault("scan_growth", []).append(merge_scans[-1] / merge_scans[0])
    written = _dir_stats(table)[1]
    out.setdefault("bytes_written", []).append(written)
    out.setdefault("amplification", []).append(written / max(user_bytes, 1))


def warmup(ctx, st):
    """An append, a merge and the reads after it on a small table of its
    own, recorded by a throwaway recorder. The first commits in a session
    pay one-time costs; delete and compaction showed none."""
    batches = corpus.commit_batches(ctx.seed + 1, **WARMUP)
    table = os.path.join(st["tables"], "warmup")
    _cycle(ctx, Recorder(Tracer(False)), table, batches, {}, finish=False)


def measure(ctx, st, want):
    st["out"] = {}
    for i, batches in enumerate(st["batches"]):
        _cycle(ctx, ctx.rec, os.path.join(st["tables"], "cycle%d" % i), batches, st["out"])


def _traced(ctx, kind, sub):
    return [dt for k, s, plain, _, dt in ctx.rec.log if k == kind and s == sub and not plain]


def end_to_end(ctx, st):
    return {"bytes_written_per_user_byte": (median(st["out"].get("amplification", [])), "ratio")}


def per_layer(ctx, st):
    out = st["out"]
    return {
        "publish.append_s": median(_traced(ctx, "commit", "append")),
        "publish.merge_into_s": median(_traced(ctx, "commit", "merge")),
        "publish.delete_s": median(_traced(ctx, "commit", "delete")),
        "publish.compact_s": median(_traced(ctx, "commit", "compact")),
        "publish.files_per_commit": median(out.get("files", [])),
        "publish.bytes_written": median(out.get("bytes_written", [])),
        "published.scan_s": median(_traced(ctx, "scan", "scan")),
        "published.scan_growth": median(out.get("scan_growth", [])),
        "published.point_s": median(_traced(ctx, "point", "point")),
        "published.files_per_point": median(out.get("point_files", [])),
    }
