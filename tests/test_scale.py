"""Scale utilities: partitioned sink layout/round-trip, per-key heads,
snapshot diffs, CDC apply, z-order keys and sharded prefix sums."""

import os

from pyspark.sql import functions as F

from bamboo_spark.operators.scale import write_partitioned


def test_write_partitioned_layout_and_roundtrip(spark, tmp_path):
    df = spark.range(0, 1000).select(
        (F.col("id") % 4).alias("part"), F.col("id").alias("v")
    )
    path = str(tmp_path / "out")
    write_partitioned(df, path, partition_by=["part"])
    dirs = sorted(d for d in os.listdir(path) if d.startswith("part="))
    assert dirs == ["part=0", "part=1", "part=2", "part=3"]
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)  # small-file control
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.groupBy("part").count().where(F.col("count") != 250).count() == 0


def _skewed_hashed(spark):
    # one pathological key with 20k rows + 20 tail keys with 10 each;
    # rank hash is the production md5-derived int60
    from bamboo_spark.operators.text import md5_int60_sql

    hot = spark.range(20000).selectExpr("'hot' as k", "id")
    tail = spark.range(200).selectExpr("concat('t', id % 20) as k", "id + 100000 as id")
    return (
        hot.unionByName(tail)
        .withColumn("_rk", F.expr(md5_int60_sql("cast(id as string)")))
    )


def test_hash_ranked_head_prefilter_exact_on_skew(spark):
    # the two-pass hash-range pre-filter must return EXACTLY the plain
    # windowed head — same keys, same ranks, same ids
    from bamboo_spark.operators.scale import hash_ranked_head

    df = _skewed_hashed(spark)
    plain = hash_ranked_head(
        df, "k", "_rk", hash_max=2**60, cap=7, tiebreak_cols=["id"]
    )
    pre = hash_ranked_head(
        df, "k", "_rk", hash_max=2**60, cap=7, hot_min=1000,
        buckets=256, tiebreak_cols=["id"],
    )
    a = {(r["k"], r["rank"], r["id"]) for r in plain.collect()}
    b = {(r["k"], r["rank"], r["id"]) for r in pre.collect()}
    assert a == b and len(a) == 7 + 20 * 7  # hot capped, tails have 10>7 rows


def test_hash_head_prefilter_bounds_hot_key(spark):
    # the pre-filter must cut the hot key's window input from 20k rows
    # to ~cap + n/buckets, and leave sub-threshold keys untouched
    from bamboo_spark.operators.scale import hash_head_prefilter

    df = _skewed_hashed(spark)
    surv = {
        r["k"]: r["n"]
        for r in hash_head_prefilter(
            df, ["k"], "_rk", hash_max=2**60, cap=7, hot_min=1000, buckets=256
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert surv["hot"] >= 7                     # superset of the true head
    assert surv["hot"] <= 600                   # ~78 expected; 20k without
    for k, n in surv.items():
        if k != "hot":
            assert n == 10                      # cold keys pass through whole


def test_ranked_head_warns_past_group_limit_threshold(spark):
    import warnings as _w

    from bamboo_spark.operators.scale import ranked_head

    df = spark.range(10).selectExpr("'a' as k", "id")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        ranked_head(df, "k", [F.col("id").asc()], cap=5000)
    assert any("windowGroupLimitThreshold" in str(r.message) for r in rec)


def test_snapshot_diff_statuses(spark):
    from bamboo_spark.operators.scale import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "keep"), (2, "a", "will-change"), (3, "b", "will-remove"),
         (5, "c", None)],
        "doc_id long, source string, text string",
    )
    new = spark.createDataFrame(
        [(1, "a", "keep"), (2, "a", "changed!"), (4, "b", "brand-new"),
         (5, "c", "was-null")],
        "doc_id long, source string, text string",
    )
    got = {r["doc_id"]: (r["status"], r["source"]) for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: ("unchanged", "a"),
        2: ("changed", "a"),
        3: ("removed", "b"),
        4: ("added", "b"),
        # NULL content must not fake an add/remove; NULL-vs-value digest
        # comparison is indeterminate -> 'unchanged' (oracle CASE parity)
        5: ("unchanged", "c"),
    }


def test_budget_head_prefilter_exact_on_skew(spark):
    # the weighted pre-filter must return EXACTLY the plain windowed
    # budget slice, and bound the hot key's window input
    from bamboo_spark.operators.scale import budget_head, hash_budget_prefilter

    df = _skewed_hashed(spark).withColumn(
        "w", (F.pmod(F.col("id"), F.lit(5)) + 1).cast("long")
    )
    kw = dict(
        key_cols="k", hash_col="_rk", weight_col="w", budget=40,
        tiebreak_cols=["id"],
    )
    plain = budget_head(df, **kw)
    pre = budget_head(df, hot_min=1000, hash_max=2**60, buckets=256, **kw)
    a = {(r["k"], r["id"], r["cum_weight"]) for r in plain.collect()}
    b = {(r["k"], r["id"], r["cum_weight"]) for r in pre.collect()}
    assert a == b and len(a) > 0
    # every key's kept slice stays within budget on the exclusive prefix
    for k, _id, cum in a:
        assert cum - 5 < 40 + 5
    surv = hash_budget_prefilter(
        df, ["k"], "_rk", 2**60, "w", 40, hot_min=1000, buckets=256
    ).groupBy("k").count().collect()
    surv = {r["k"]: r["count"] for r in surv}
    assert surv["hot"] <= 600  # ~budget/mean_w + n/buckets, not 20k


def test_cdc_apply_merge_semantics(spark):
    from bamboo_spark.operators.scale import cdc_apply

    base = spark.createDataFrame(
        [(1, 0, "alice", 1.0), (2, 0, "bob", 2.0), (3, 0, "carol", 3.0)],
        "k long, ver long, name string, score double",
    )
    changes = spark.createDataFrame(
        [
            # k=1: update then delete -> gone
            (1, 5, "alice2", 1.5, "upsert"),
            (1, 9, "alice2", 1.5, "delete"),
            # k=2: delete then re-insert -> latest wins
            (2, 4, "bob", 2.0, "delete"),
            (2, 8, "bob3", 9.0, "upsert"),
            # k=3 untouched; k=4 pure insert
            (4, 2, "dave", 4.0, "upsert"),
        ],
        "k long, ver long, name string, score double, op string",
    )
    out = cdc_apply(base, changes, "k", ["ver"], op_col="op")
    rows = {r.k: (r.ver, r.name, r.score) for r in out.collect()}
    assert rows == {
        2: (8, "bob3", 9.0),
        3: (0, "carol", 3.0),
        4: (2, "dave", 4.0),
    }


def test_cdc_apply_change_beats_base_regardless_of_version(spark):
    from bamboo_spark.operators.scale import cdc_apply

    # base carries a HIGHER version number than the change; the change
    # must still win (snapshot precedes its deltas by construction)
    base = spark.createDataFrame([(1, 100, "old")], "k long, ver long, v string")
    changes = spark.createDataFrame([(1, 1, "new")], "k long, ver long, v string")
    out = cdc_apply(base, changes, "k", ["ver"]).collect()
    assert [(r.k, r.ver, r.v) for r in out] == [(1, 1, "new")]


def test_cdc_apply_no_op_col_means_upsert_and_validates_columns(spark):
    import pytest as _pytest

    from bamboo_spark.operators.scale import cdc_apply

    base = spark.createDataFrame([(1, 0, "a")], "k long, ver long, v string")
    changes = spark.createDataFrame([(1, 3, "b")], "k long, ver long, v string")
    out = cdc_apply(base, changes, "k", ["ver"]).collect()
    assert [(r.k, r.ver, r.v) for r in out] == [(1, 3, "b")]
    bad = spark.createDataFrame([(1, 3)], "k long, ver long")
    with _pytest.raises(ValueError, match="missing column"):
        cdc_apply(base, bad, "k", ["ver"])


def test_cdc_apply_matches_dict_replay_random(spark):
    import random

    from bamboo_spark.operators.scale import cdc_apply

    rng = random.Random(42)
    keys = list(range(12))
    base_rows = [
        (k, 0, "b%d" % k, float(k)) for k in keys if rng.random() < 0.7
    ]
    changes_rows = []
    ver = 1
    for _ in range(120):
        k = rng.choice(keys)
        op = "delete" if rng.random() < 0.25 else "upsert"
        changes_rows.append((k, ver, "v%d" % ver, rng.random(), op))
        ver += 1
    # reference: dict replay in version order over the base snapshot
    # (plain replay IS last-writer-wins because versions are globally
    # increasing)
    state = {k: (v, n, s) for k, v, n, s in base_rows}
    for k, v, n, s, op in sorted(changes_rows, key=lambda r: r[1]):
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = (v, n, s)
    expected = dict(state)

    base = spark.createDataFrame(
        base_rows, "k long, ver long, name string, score double"
    )
    changes = spark.createDataFrame(
        changes_rows, "k long, ver long, name string, score double, op string"
    )
    got = {
        r.k: (r.ver, r.name, r.score)
        for r in cdc_apply(base, changes, "k", ["ver"], op_col="op").collect()
    }
    assert got == expected


def test_zorder_key_properties(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import zorder_key

    # bad shapes
    with _pt.raises(ValueError):
        zorder_key([], [], [])
    with _pt.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], ["l"] * 4, ["h"] * 4, bits=16)

    # locality: on a 2^8 x 2^8 grid, identity quantization — the z-key
    # of (x, y) is the exact Morton number, monotone in each dim slice
    rows = [(x, y) for x in (0, 1, 2, 255) for y in (0, 3, 255)]
    df = (
        spark.createDataFrame(rows, "x long, y long")
        .withColumn("lo", F.lit(0))
        .withColumn("hi", F.lit(255))
    )
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", zorder_key(["x", "y"], ["lo", "lo"], ["hi", "hi"], bits=8)
        ).collect()
    }

    def morton(x, y):
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b) | ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in rows}

    # degenerate dimension (min == max) contributes zero bits, no error
    one = (
        spark.createDataFrame([(5, 9)], "x long, y long")
        .withColumn("lo", F.lit(5))
        .withColumn("hi", F.lit(5))
        .withColumn("ylo", F.lit(0))
        .withColumn("yhi", F.lit(255))
    )
    r = one.withColumn(
        "z", zorder_key(["x", "y"], ["lo", "ylo"], ["hi", "yhi"], bits=8)
    ).collect()[0]
    assert r.z == morton(0, 9)


def test_zorder_layout_files_cover_tight_rectangles(spark):
    # the point of the layout: every output file's (user, time)
    # bounding box is a small fraction of the global range in at least
    # one dimension — so min/max manifest pruning works on both columns
    from bamboo_spark import queries as q

    sf = "/root/testdata/sf0.001"
    rows = q.q_zorder_layout(spark, sf).collect()
    assert rows and sum(r.n_rows for r in rows) > 0
    u_span = max(r.u_max for r in rows) - min(r.u_min for r in rows)
    t_span = max(r.t_max for r in rows) - min(r.t_min for r in rows)
    if u_span and t_span and len(rows) >= 16:
        # with >=16 of 256 tiles populated, the MEDIAN file rectangle
        # must be far tighter than the global box in both dims (z-curve
        # guarantees ~1/16 per dim at 256 tiles; allow generous slack)
        import statistics

        med_u = statistics.median((r.u_max - r.u_min) / u_span for r in rows)
        med_t = statistics.median((r.t_max - r.t_min) / t_span for r in rows)
        assert med_u <= 0.5 and med_t <= 0.5, (med_u, med_t)


def test_zorder_layout_improves_file_locality(spark, tmp_path):
    # end-to-end proof of the layout win: the same events written (a)
    # time-ordered and (b) z-ordered on (user, time); a narrow user
    # filter must touch far fewer files in the z-ordered layout
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import zorder_key

    sf = "/root/testdata/sf0.001"
    from bamboo_spark import queries as q

    e = q.load(spark, sf, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    stats = e.agg(
        F.min("user_id").alias("u_lo"), F.max("user_id").alias("u_hi"),
        F.min("us").alias("t_lo"), F.max("us").alias("t_hi"),
    )
    keyed = e.crossJoin(F.broadcast(stats)).withColumn(
        "zkey",
        zorder_key(["user_id", "us"], ["u_lo", "t_lo"], ["u_hi", "t_hi"], bits=16),
    ).select("event_id", "user_id", "us", "zkey")

    t_path = str(tmp_path / "by_time")
    z_path = str(tmp_path / "by_zkey")
    keyed.repartitionByRange(16, "us").write.parquet(t_path)
    keyed.repartitionByRange(16, "zkey").write.parquet(z_path)

    u_lo, u_hi = [
        (r.u_lo, r.u_hi) for r in stats.collect()
    ][0]
    span = max(u_hi - u_lo, 1)
    lo, hi = u_lo + span // 3, u_lo + span // 3 + span // 16  # ~6% slice

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(F.col("user_id").between(lo, hi))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    ft, fz = files_touched(t_path), files_touched(z_path)
    # identical rows both layouts
    n_t = spark.read.parquet(t_path).where(F.col("user_id").between(lo, hi)).count()
    n_z = spark.read.parquet(z_path).where(F.col("user_id").between(lo, hi)).count()
    assert n_t == n_z > 0
    # the time layout scatters a user slice across ~every file; the
    # z-layout confines it to a fraction
    assert fz < ft, (fz, ft)
    assert fz <= ft // 2, (fz, ft)


def test_zorder_key_three_columns(spark):
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import zorder_key

    df = (
        spark.createDataFrame([(1, 2, 3), (7, 7, 7)], "x long, y long, z long")
        .withColumn("lo", F.lit(0))
        .withColumn("hi", F.lit(7))
    )
    got = [
        r.zk
        for r in df.withColumn(
            "zk",
            zorder_key(
                ["x", "y", "z"], ["lo"] * 3, ["hi"] * 3, bits=3
            ),
        ).collect()
    ]

    def morton3(x, y, z):
        out = 0
        for b in range(3):
            out |= ((x >> b) & 1) << (3 * b)
            out |= ((y >> b) & 1) << (3 * b + 1)
            out |= ((z >> b) & 1) << (3 * b + 2)
        return out

    assert got == [morton3(1, 2, 3), morton3(7, 7, 7)]


def test_sharded_prefix_sums_matches_global_window(spark):
    # the distributed two-phase scan must equal the single-partition
    # global window it replaces, bit for bit — including negatives,
    # gaps, and a first-row-zero prefix
    import random

    from pyspark.sql import Window

    from bamboo_spark.operators.scale import sharded_prefix_sums

    rnd = random.Random(42)
    vals = rnd.sample(range(-50_000, 50_000), 3_000)
    df = spark.createDataFrame(
        [(v, v % 7 + 1, (v % 7 + 1) * v) for v in vals], "v long, c long, cv long"
    )
    got = sharded_prefix_sums(df, "v", ["c", "cv"], shards=8)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select(
        "v",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("pre_c"),
        F.coalesce(F.sum("cv").over(w), F.lit(0)).alias("pre_cv"),
    )
    g = {r["v"]: (r["pre_c"], r["pre_cv"]) for r in got.collect()}
    for r in want.collect():
        assert g[r["v"]] == (r["pre_c"], r["pre_cv"]), r["v"]
    # and no window in its plan runs unpartitioned
    s = got._jdf.queryExecution().executedPlan().toString()
    for line in s.splitlines():
        if "windowspecdefinition" in line:
            assert "__shard" in line, line


def test_sharded_prefix_sums_empty_input(spark):
    from bamboo_spark.operators.scale import sharded_prefix_sums

    df = spark.createDataFrame([], "v long, c long")
    out = sharded_prefix_sums(df, "v", ["c"])
    assert out.count() == 0
    assert "pre_c" in out.columns
