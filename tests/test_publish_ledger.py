"""Randomized LEDGER test for the table format: a seeded walk over the
full op mix — append, dv-delete, rewrite-delete, compaction,
time travel, vacuum — tracking the expected row multiset
in plain Python after every commit and asserting the committed
snapshot reads back EXACTLY that multiset (and that the manifest's
n_rows agrees). This is the bookkeeping differential: any drift in
n_rows math, dv carry/fold, segment shadowing, or time-travel/vacuum
interaction shows up as a multiset mismatch at the op that broke it."""

import random
from collections import Counter

import pytest

from pyspark.sql import functions as F

from bamboo_spark.operators.publish import (
    append_publish,
    atomic_publish,
    compact,
    current_version,
    delete_publish,
    published_rows,
    read_published,
    vacuum,
)

KEYS = ["a", "b", "c"]


def _read_multiset(spark, t) -> Counter:
    return Counter(
        (r["k"], r["v"]) for r in read_published(spark, t).collect()
    )


def _df(spark, rows):
    return spark.createDataFrame(list(rows), "k string, v long")


@pytest.mark.parametrize("seed,partitioned", [(7, True), (23, False)])
def test_random_op_walk_ledger_exact(spark, tmp_path, seed, partitioned):
    rng = random.Random(seed)
    t = str(tmp_path / "tbl")
    nxt = [0]

    def fresh_rows(n):
        out = [(rng.choice(KEYS), nxt[0] + i) for i in range(n)]
        nxt[0] += n
        return out

    rows = fresh_rows(8)
    atomic_publish(
        _df(spark, rows), t, partition_by="k" if partitioned else None
    )
    expected = Counter(rows)
    history = {current_version(t): Counter(expected)}

    def check(tag):
        got = _read_multiset(spark, t)
        assert got == expected, (tag, got, expected)
        assert published_rows(t) == sum(expected.values()), tag

    check("init")
    ops = ["append", "dv_delete", "rw_delete", "compact", "time_travel"]
    for step in range(14):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_rows(rng.randint(1, 5))
            append_publish(_df(spark, rows).coalesce(1), t)
            expected.update(rows)
        elif op == "dv_delete":
            live = [kv for kv, c in expected.items() if c > 0]
            if not live:
                continue
            k, v = rng.choice(live)
            got = delete_publish(
                spark, t, "v = %d" % v, delete_vectors=True
            )
            if got is not None or expected[(k, v)]:
                del expected[(k, v)]
        elif op == "rw_delete":
            live = [kv for kv, c in expected.items() if c > 0]
            if not live:
                continue
            k, v = rng.choice(live)
            delete_publish(spark, t, "v = %d" % v)
            del expected[(k, v)]
        elif op == "compact":
            compact(spark, t)
        elif op == "time_travel":
            # any retained older snapshot reads back exactly as it was
            # committed (vacuum may have pruned some)
            retained = [
                ver for ver in history if ver != current_version(t)
            ]
            if not retained:
                continue
            target = rng.choice(retained)
            try:
                old = read_published(spark, t, version=target).collect()
            except KeyError:
                history.pop(target, None)  # pruned by a vacuum below
                continue
            got = Counter((r["k"], r["v"]) for r in old)
            assert got == history[target], ("time travel", target)
        history[current_version(t)] = Counter(expected)
        check("step %d %s" % (step, op))
        if rng.random() < 0.25:
            vacuum(t, keep=3)
            # versions may have left history; our map can keep stale
            # entries (time travel handles KeyError) — reads must be exact
            check("step %d vacuum" % step)
    # final: compaction folds everything and the ledger still holds
    compact(spark, t)
    check("final compact")
    vacuum(t, keep=1)
    check("final vacuum")


@pytest.mark.parametrize("seed", [11, 42])
def test_random_merge_into_ledger_exact(spark, tmp_path, seed):
    """Differential for the predicate MERGE: a seeded walk of
    merge_into statements (update-if / delete-if / insert-if over a
    keyed table) against a plain-Python reimplementation of the MERGE
    semantics — any drift in clause order, condition scoping, dv
    bookkeeping, or the no-op path shows up as a dict mismatch at the
    statement that broke it. Interleaves appends and compactions so
    merges run over multi-segment + dv-carrying snapshots too."""
    from bamboo_spark.operators.publish import merge_into

    rng = random.Random(seed)
    t = str(tmp_path / "tbl")

    def kv_df(pairs):
        return spark.createDataFrame(list(pairs), "k: long, v: long")

    state = {k: k * 10 for k in range(6)}
    atomic_publish(kv_df(state.items()), t)

    def check(tag):
        got = {r.k: r.v for r in read_published(spark, t).collect()}
        assert got == state, (tag, got, state)
        assert published_rows(t) == len(state), tag

    for step in range(10):
        roll = rng.random()
        if roll < 0.2:
            rows = {rng.randrange(100, 200): rng.randrange(1000)}
            # fresh keyspace so the unique-key contract holds
            rows = {k: v for k, v in rows.items() if k not in state}
            if not rows:
                continue
            append_publish(kv_df(rows.items()), t)
            state.update(rows)
        elif roll < 0.35:
            compact(spark, t)
        else:
            src = {
                rng.randrange(0, 30): rng.randrange(100)
                for _ in range(rng.randint(1, 5))
            }
            thr = rng.randrange(100)
            merge_into(
                kv_df(src.items()),
                t,
                "k",
                when_matched_update={"v": "s.v + t.v"},
                when_matched_update_condition="s.v >= %d" % thr,
                when_matched_delete_condition="s.v < 10",
                when_not_matched_insert="s.v % 2 = 0",
            )
            for k, v in src.items():
                if k in state:
                    if v < 10:
                        del state[k]          # delete clause first
                    elif v >= thr:
                        state[k] = v + state[k]
                    # else: untouched
                else:
                    if v % 2 == 0:
                        state[k] = v
        check("step %d" % step)
    compact(spark, t)
    check("final compact")


def test_clone_ledger_diverges_independently(spark, tmp_path):
    """Fork a mid-history snapshot and walk BOTH tables with different
    op sequences: each ledger must stay exact, and neither table's
    maintenance (compact/vacuum on the clone, appends on the source)
    may bleed into the other."""
    from bamboo_spark.operators.publish import clone_table, merge_into

    src = str(tmp_path / "src")
    cln = str(tmp_path / "cln")

    def kv_df(pairs):
        return spark.createDataFrame(list(pairs), "k: long, v: long")

    s_state = {k: k for k in range(10)}
    atomic_publish(kv_df(s_state.items()), src)
    delete_publish(spark, src, "k = 4", delete_vectors=True)
    del s_state[4]
    clone_table(spark, src, cln)
    c_state = dict(s_state)

    # diverge: source gains rows, clone merges + compacts + vacuums
    append_publish(kv_df({20: 20}.items()), src)
    s_state[20] = 20
    merge_into(
        kv_df({1: 100, 30: 30}.items()),
        cln,
        "k",
        when_matched_update={"v": "s.v"},
        when_not_matched_insert=True,
    )
    c_state[1] = 100
    c_state[30] = 30
    compact(spark, cln)
    vacuum(cln, keep=1)
    delete_publish(spark, cln, "k = 2")
    del c_state[2]

    got_s = {r.k: r.v for r in read_published(spark, src).collect()}
    got_c = {r.k: r.v for r in read_published(spark, cln).collect()}
    assert got_s == s_state
    assert got_c == c_state


@pytest.mark.parametrize("seed", [5, 77])
def test_random_walk_with_renames_ledger_exact(spark, tmp_path, seed):
    """Schema evolution under churn: the merge_into walk with RANDOM
    column renames interleaved (the value column flips names
    mid-history). Merges, appends, compactions, dv deletes, and reads
    must all keep resolving — by field id — across every mix of
    pre/post-rename segments; the plain-Python ledger stays keyed by k
    so any resolution drift (nulled column, resurrected bytes, stale
    alias) breaks the dict compare."""
    from bamboo_spark.operators.publish import (
        merge_into,
        read_published,
        rename_column,
    )

    rng = random.Random(seed)
    t = str(tmp_path / "tbl")
    names = ["v", "w", "amount"]
    vc = "v"  # current logical name of the value column

    def kv_df(pairs, col):
        return spark.createDataFrame(list(pairs), "k: long, %s: long" % col)

    state = {k: k * 10 for k in range(8)}
    atomic_publish(kv_df(state.items(), vc), t)

    def check(tag):
        out = read_published(spark, t)
        assert out.columns == ["k", vc], (tag, out.columns)
        got = {r.k: r[vc] for r in out.collect()}
        assert got == state, (tag, got, state)

    for step in range(12):
        roll = rng.random()
        if roll < 0.25:
            nxt_name = rng.choice([n for n in names if n != vc])
            try:
                rename_column(t, vc, nxt_name, spark=spark)
            except ValueError:
                continue  # name retired earlier in this walk: refused
            vc = nxt_name
        elif roll < 0.45:
            rows = {k: rng.randrange(1000) for k in
                    (rng.randrange(100, 200),) if k not in state}
            if not rows:
                continue
            append_publish(kv_df(rows.items(), vc), t)
            state.update(rows)
        elif roll < 0.6:
            compact(spark, t)
        elif roll < 0.75:
            live = sorted(state)
            if not live:
                continue
            k = rng.choice(live)
            delete_publish(spark, t, "k = %d" % k, delete_vectors=True)
            del state[k]
        else:
            src = {rng.randrange(0, 24): rng.randrange(100)
                   for _ in range(rng.randint(1, 4))}
            merge_into(
                kv_df(src.items(), vc),
                t,
                "k",
                when_matched_update={vc: "s.%s + t.%s" % (vc, vc)},
                when_matched_delete_condition="s.%s < 5" % vc,
                when_not_matched_insert=True,
            )
            for k, v in src.items():
                if k in state:
                    if v < 5:
                        del state[k]
                    else:
                        state[k] = v + state[k]
                else:
                    state[k] = v
        check("step %d" % step)
    compact(spark, t)
    check("final compact")


@pytest.mark.parametrize("seed", [7, 23, 77])
def test_random_dv_evolution_walk_with_cdf_conservation(
    spark, tmp_path, seed
):
    """Round-11 op mix under a seeded walk: conditional merges,
    predicate dv-deletes (v2 sidecars), ONE mid-walk schema widening
    (merge_into schema_evolution), compaction — with
    TWO invariants checked after every commit:

    1. LEDGER: the committed snapshot reads back exactly the Python
       model's row multiset;
    2. CDF CONSERVATION: snapshot(v0) + inserts(v0..v] − deletes ==
       snapshot(v] as multisets, with snapshot(v0) aligned to the END
       schema (read_changes' contract) — any drift in dv-delta algebra,
       end-schema resolution, or dataChange exemptions breaks it."""
    from bamboo_spark.operators.publish import merge_into, read_changes

    rng = random.Random(seed)
    t = str(tmp_path / "tbl")
    state = {}  # k -> (v, tag)
    widened = [False]

    def model() -> Counter:
        if widened[0]:
            return Counter(
                (k, v, tag) for k, (v, tag) in state.items()
            )
        return Counter((k, v) for k, (v, tag) in state.items())

    def df_of(items, with_tag):
        if with_tag:
            return spark.createDataFrame(
                [(k, v, tag) for k, (v, tag) in items],
                "k long, v long, tag string",
            )
        return spark.createDataFrame(
            [(k, v) for k, (v, _) in items], "k long, v long"
        )

    def read_model() -> Counter:
        cols = ["k", "v", "tag"] if widened[0] else ["k", "v"]
        return Counter(
            tuple(r[c] for c in cols)
            for r in read_published(spark, t).collect()
        )

    init = {k: (k * 10, None) for k in range(10)}
    state.update(init)
    atomic_publish(df_of(sorted(init.items()), False), t)

    def check(tag):
        assert read_model() == model(), tag

    check("init")
    nxt = [1000]
    for step in range(12):
        roll = rng.random()
        if roll < 0.35:
            # conditional upsert batch (updates + inserts), honoring
            # the current (possibly widened) schema
            ks = rng.sample(range(20), rng.randint(1, 4))
            batch = {}
            for k in ks:
                nxt[0] += 1
                batch[k] = (
                    nxt[0],
                    "s%d" % step if widened[0] else None,
                )
            merge_into(
                df_of(sorted(batch.items()), widened[0]),
                t,
                "k",
                when_matched_update=(
                    {"v": "s.v", "tag": "s.tag"}
                    if widened[0]
                    else {"v": "s.v"}
                ),
                when_not_matched_insert=True,
            )
            state.update(batch)
        elif roll < 0.6:
            live_vs = sorted(v for v, _ in state.values())
            if not live_vs:
                continue
            v = rng.choice(live_vs)
            delete_publish(spark, t, "v = %d" % v, delete_vectors=True)
            state = {
                k: (sv, tag)
                for k, (sv, tag) in state.items()
                if sv != v
            }
        elif roll < 0.7 and not widened[0]:
            # the one-time widening merge: adds 'tag', updates some
            # rows with it, inserts a new tagged key
            ks = sorted(rng.sample(sorted(state), 2)) + [50 + step]
            batch = {k: (state.get(k, (999, None))[0], "w") for k in ks}
            merge_into(
                df_of(sorted(batch.items()), True),
                t,
                "k",
                when_matched_update={"tag": "s.tag"},
                when_not_matched_insert=True,
                schema_evolution=True,
            )
            widened[0] = True
            for k in ks:
                v_old, _ = state.get(k, (batch[k][0], None))
                state[k] = (v_old, "w")
        else:
            compact(spark, t)
        check("step %d (roll %.2f)" % (step, roll))
    # CDF conservation over the WHOLE walk, end-schema aligned
    end_cols = ["k", "v", "tag"] if widened[0] else ["k", "v"]
    base = Counter(
        tuple(r[c] for c in end_cols)
        for r in read_published(spark, t, version=1)
        .withColumns(
            {"tag": F.lit(None).cast("string")}
            if widened[0]
            else {}
        )
        .collect()
    )
    ch = read_changes(spark, t, from_version=1).collect()
    for r in ch:
        key = tuple(r[c] for c in end_cols)
        if r["_change_type"] == "insert":
            base[key] += 1
        else:
            base[key] -= 1
    base = Counter({k: c for k, c in base.items() if c})
    assert base == model(), "CDF conservation broke"


@pytest.mark.parametrize("seed,partitioned", [(11, True), (42, False)])
def test_random_update_replace_walk_ledger_exact(
    spark, tmp_path, seed, partitioned
):
    """Round-12 writers in the seeded ledger walk: MOR/CoW UPDATE,
    replaceWhere, dynamic partition overwrite, and compaction
    interleave with appends and dv deletes; after every
    commit the snapshot must read back exactly the Python model's
    multiset, n_rows must agree, and fsck must stay healthy."""
    from bamboo_spark.operators.publish import (
        fsck_table,
        overwrite_partitions_publish,
        replace_where_publish,
        update_publish,
    )

    rng = random.Random(seed)
    t = str(tmp_path / "tbl")
    nxt = [0]

    def fresh_rows(n, key=None):
        out = [
            (key or rng.choice(KEYS), nxt[0] + i) for i in range(n)
        ]
        nxt[0] += n
        return out

    rows = fresh_rows(8)
    atomic_publish(
        _df(spark, rows), t, partition_by="k" if partitioned else None
    )
    expected = Counter(rows)

    def check(tag):
        got = _read_multiset(spark, t)
        assert got == expected, (tag, got, expected)
        assert published_rows(t) == sum(expected.values()), tag

    check("init")
    ops = [
        "append", "dv_delete", "update_mor", "update_cow",
        "replace_where", "compact",
    ]
    if partitioned:
        ops.append("overwrite_partition")
    for step in range(12):
        op = rng.choice(ops)
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            append_publish(_df(spark, rows).coalesce(1), t)
            expected.update(rows)
        elif op == "dv_delete":
            live = [kv for kv, c in expected.items() if c > 0]
            if not live:
                continue
            k, v = rng.choice(live)
            delete_publish(spark, t, "v = %d" % v, delete_vectors=True)
            del expected[(k, v)]
        elif op in ("update_mor", "update_cow"):
            live = [kv for kv, c in expected.items() if c > 0]
            if not live:
                continue
            k, v = rng.choice(live)
            off = 10_000_000 + step  # collision-free shift
            got = update_publish(
                spark, t, "v = %d" % v, {"v": "v + %d" % off},
                delete_vectors=(op == "update_mor"),
            )
            assert got is not None
            expected[(k, v)] -= 1
            if not expected[(k, v)]:
                del expected[(k, v)]
            expected[(k, v + off)] += 1
        elif op == "replace_where":
            key = rng.choice(KEYS)
            rows = fresh_rows(rng.randint(1, 3), key=key)
            replace_where_publish(
                _df(spark, rows).coalesce(1), t, "k = '%s'" % key
            )
            expected = Counter(
                {kv: c for kv, c in expected.items() if kv[0] != key}
            )
            expected.update(rows)
        elif op == "compact":
            compact(spark, t)
        elif op == "overwrite_partition":
            key = rng.choice(KEYS)
            rows = fresh_rows(rng.randint(1, 3), key=key)
            got = overwrite_partitions_publish(
                _df(spark, rows).coalesce(1), t
            )
            assert got is not None
            expected = Counter(
                {kv: c for kv, c in expected.items() if kv[0] != key}
            )
            expected.update(rows)
        check("step %d %s" % (step, op))
        if rng.random() < 0.2:
            rep = fsck_table(t, spark=spark, check_sizes=True)
            assert rep["ok"], ("fsck step %d" % step, rep)
    compact(spark, t)
    check("final compact")
    vacuum(t, keep=1)
    check("final vacuum")
    rep = fsck_table(t, spark=spark)
    assert rep["ok"] and not rep["orphan_dirs"], rep
