"""Streaming smoke tests: flatten on a stream, watermark windowed agg.

Uses the rate source + memory sink (no external systems)."""

import time

import pytest
from pyspark.sql import functions as F

from bamboo_spark.streaming import (
    flatten_stream,
    minhash_pairs_stream,
    windowed_counts,
)


def test_flatten_stream_plan(spark):
    # plan generation on a streaming frame must not require an action
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "10").load()
        .select(
            F.col("timestamp"),
            F.struct(
                F.array(F.col("value"), F.col("value") + 1).alias("xs"),
                (F.col("value") % 2).alias("flag"),
            ).alias("payload"),
        )
    )
    flat = flatten_stream(stream)
    assert flat.isStreaming
    assert set(flat.columns) == {"timestamp", "xs", "flag"}

    q = flat.writeStream.format("memory").queryName("flat_t").outputMode("append").start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("select count(*) c from flat_t").collect()[0].c >= 4:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "select flag, count(*) n from flat_t group by flag"
        ).collect()
        assert rows  # exploded rows arrived
    finally:
        q.stop()


def test_sessionize_stream_closes_sessions(spark):
    from bamboo_spark.streaming import sessionize_stream

    # synthetic event time: 2 minutes per tick, alternating users →
    # per-user events are 4 min apart, far beyond the 1-min gap, so
    # every event closes the previous session once the watermark
    # (0 s delay, driven by later ticks) passes its timeout.
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "20").load()
        .select(
            F.timestamp_millis(F.col("value") * 120_000).alias("ts"),
            (F.col("value") % 2).alias("user_id"),
        )
    )
    sess = sessionize_stream(stream, gap_ms=60_000, watermark="0 seconds")
    assert sess.isStreaming
    assert set(sess.columns) == {"user_id", "session_start", "session_end", "n_events"}
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            if spark.sql("select count(*) c from sess_t").collect()[0].c >= 2:
                break
            time.sleep(0.5)
        rows = spark.sql(
            "select user_id, n_events, session_start, session_end from sess_t"
        ).collect()
        assert len(rows) >= 2, "no sessions closed"
        assert {r.user_id for r in rows} <= {0, 1}
        for r in rows:
            assert r.n_events == 1  # 4-min spacing > 1-min gap
            assert r.session_start == r.session_end
    finally:
        q.stop()


def test_dedup_stream_drops_repeats(spark, tmp_path):
    import json, os
    from bamboo_spark.streaming import dedup_stream

    d = str(tmp_path / "in")
    os.makedirs(d)
    B = 100000  # clear of the epoch-0 initial watermark

    def emit(name, rows):
        with open(os.path.join(d, name), "w") as f:
            for ts_s, k in rows:
                f.write(json.dumps({"ts": B + ts_s, "k": k}) + "\n")

    # duplicate keys within one batch AND across batches inside the horizon
    emit("b1.json", [(1, "a"), (2, "a"), (3, "b")])
    stream = (
        spark.readStream.schema("ts long, k string").json(d)
        .select(F.timestamp_seconds("ts").alias("ts"), "k")
    )
    out = dedup_stream(stream, "k", watermark="10 minutes")
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("dd_t").outputMode("append").start()
    try:
        deadline = time.time() + 40
        while time.time() < deadline:
            if spark.sql("select count(*) c from dd_t").collect()[0].c >= 2:
                break
            time.sleep(0.5)
        emit("b2.json", [(5, "a"), (6, "c")])  # 'a' is a repeat within horizon
        deadline = time.time() + 40
        while time.time() < deadline:
            if spark.sql("select count(*) c from dd_t").collect()[0].c >= 3:
                break
            time.sleep(0.5)
        rows = spark.sql("select k, count(*) n from dd_t group by k").collect()
        got = {r.k: r.n for r in rows}
        assert got == {"a": 1, "b": 1, "c": 1}, got
    finally:
        q.stop()


# ----------------------------------------------- stream/batch parity
#
# Replay the REAL events table through a file stream and assert the
# streaming operators emit row-for-row what their batch twins compute.
# Mechanics: all real events ship in one file (one micro-batch, so the
# 0-delay watermark can't drop anything as late); a far-future sentinel
# event then advances the watermark past every real window/session, and
# (for the stateful sessionizer) one more sentinel batch makes the
# event-time timeouts actually fire (they fire on the batch AFTER the
# watermark passes).

SF_DIR = "/root/testdata/sf0.001"


def _events_batch(spark):
    from bamboo_spark import queries as q

    return q.load(spark, SF_DIR, "events").select("user_id", "ts", "event_type", "value")


def _replay_dir(spark, tmp_path):
    d = str(tmp_path / "replay")
    _events_batch(spark).coalesce(1).write.parquet(d)
    return d


def _emit_sentinel(spark, d, name, user_id, ts):
    spark.createDataFrame(
        [(user_id, ts, "sentinel", 0.0)], "user_id long, ts timestamp, event_type string, value double"
    ).coalesce(1).write.mode("append").parquet(d)


def test_stream_batch_parity_events_hourly(spark, tmp_path):
    import datetime as dt

    from bamboo_spark import queries as q

    batch = q.q_events_hourly(spark, SF_DIR).collect()
    expected = {
        (r["event_hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch
    }
    max_ts = _events_batch(spark).agg(F.max("ts")).collect()[0][0]

    d = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    agg = windowed_counts(
        stream, window="1 hour", watermark="0 seconds", value_col="value"
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:00:00").alias("event_hour"),
        "event_type",
        "n_events",
        "total_value",
    )
    qy = agg.writeStream.format("memory").queryName("par_hourly").outputMode("append").start()
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not qy.recentProgress:
            time.sleep(0.5)
        _emit_sentinel(spark, d, "s1", 10**6, max_ts + dt.timedelta(days=10))
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select count(*) c from par_hourly").collect()[0].c >= len(expected):
                break
            time.sleep(0.5)
        got = {
            (r["event_hour"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql(
                "select * from par_hourly where event_type != 'sentinel'"
            ).collect()
        }
        assert got == expected
    finally:
        qy.stop()


def _run_sessionize_parity(spark, tmp_path, op, sink):
    import datetime as dt

    from bamboo_spark import queries as q

    batch = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in q.q_sessionize(spark, SF_DIR).collect()
    }
    max_ts = _events_batch(spark).agg(F.max("ts")).collect()[0][0]

    d = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    sess = op(stream, gap_ms=30 * 60 * 1000, watermark="0 seconds")
    qy = sess.writeStream.format("memory").queryName(sink).outputMode("append").start()
    try:
        total_sessions = sum(n for n, _ in batch.values())
        sentinel_uid = 10**6
        for i in range(1, 4):
            # each sentinel batch advances the watermark AND gives the
            # state store a later batch in which timeouts can fire
            deadline = time.time() + 30
            while time.time() < deadline and len(qy.recentProgress) < i:
                time.sleep(0.5)
            _emit_sentinel(
                spark, d, "s%d" % i, sentinel_uid + i, max_ts + dt.timedelta(days=10 * i)
            )
        deadline = time.time() + 90
        while time.time() < deadline:
            c = spark.sql(
                "select count(*) c from %s where user_id < 1000000" % sink
            ).collect()[0].c
            if c >= total_sessions:
                break
            time.sleep(0.5)
        got_rows = spark.sql(
            "select user_id, count(*) n_sessions, sum(n_events) n_events "
            "from %s where user_id < 1000000 group by user_id" % sink
        ).collect()
        got = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got_rows}
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_sessionize(spark, tmp_path):
    from bamboo_spark.streaming import sessionize_stream

    _run_sessionize_parity(spark, tmp_path, sessionize_stream, "par_sess")


def test_stream_batch_parity_sessionize_tws(spark, tmp_path):
    # same parity through the Spark 4 transformWithStateInPandas API —
    # requires the RocksDB state store provider AND a working protobuf
    # runtime (the worker serializes state over protobuf; this container
    # ships only a broken namespace stub, so skip rather than fake it)
    pytest.importorskip("google.protobuf.descriptor")
    from bamboo_spark.streaming import sessionize_stream_tws

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        _run_sessionize_parity(spark, tmp_path, sessionize_stream_tws, "par_sess_tws")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_windowed_counts_stream(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("event_type"),
        )
    )
    agg = windowed_counts(stream, window="10 seconds", watermark="30 seconds")
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("win_t")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("select count(*) c from win_t").collect()[0].c >= 1:
                break
            time.sleep(0.5)
        assert spark.sql("select sum(n_events) s from win_t").collect()[0].s >= 1
    finally:
        q.stop()


def test_flatten_stream_to_parquet_sink(spark, tmp_path):
    # end-to-end file pipeline: nested JSON stream → flatten planner →
    # parquet sink with checkpoint (exactly-once file commit protocol) —
    # the ingest shape a continuous corpus builder runs
    import json
    import os

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i in range(10):
            f.write(json.dumps({"id": i, "xs": [{"v": i * 10}, {"v": i * 10 + 1}]}) + "\n")

    stream = spark.readStream.schema(
        "id long, xs array<struct<v: long>>"
    ).json(src)
    flat = flatten_stream(stream)
    q = (
        flat.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    back = spark.read.parquet(out)
    assert back.count() == 20
    assert set(back.columns) == {"id", "v"}
    assert back.where(F.col("v") == 91).count() == 1


def test_stream_batch_parity_asof_attribution(spark, tmp_path):
    # in-order replay of the real events table must reproduce the batch
    # as-of join row-for-row (same columns, same nullable gap)
    from bamboo_spark import queries as q
    from bamboo_spark.streaming import asof_attribute_stream

    batch = {
        r["event_id"]: (r["user_id"], r["purchase_us"], r["last_click_us"], r["gap_sec"])
        for r in q.q_events_asof_click(spark, SF_DIR).collect()
    }
    assert batch

    d = str(tmp_path / "replay")
    (
        q.load(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_type", "event_id")
        .coalesce(1)
        .write.parquet(d)
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, event_id long"
    ).parquet(d)
    out = asof_attribute_stream(stream, watermark="0 seconds")
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("asof_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("select count(*) c from asof_t").collect()[0].c >= len(batch):
                break
            time.sleep(0.5)
        got = {
            r["event_id"]: (r["user_id"], r["purchase_us"], r["last_click_us"], r["gap_sec"])
            for r in spark.sql("select * from asof_t").collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_minhash_pairs(spark, tmp_path):
    # Streaming banded-MinHash near-dup pairs must reproduce the batch
    # operator row-for-row when all docs are horizon-co-resident:
    # replay the REAL documents table through a file stream with a
    # synthetic event time, horizon >> ts spread.
    from bamboo_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select("doc_id", "text")
    batch = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    }
    assert batch, "batch twin found no pairs — corpus unsuitable"

    B = 1_000_000
    d = str(tmp_path / "replay")
    docs.select(
        "doc_id", F.timestamp_seconds(F.lit(B) + F.col("doc_id")).alias("ts"), "text"
    ).coalesce(1).write.parquet(d)

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(d)
    pairs = minhash_pairs_stream(stream, horizon="30 days", threshold=0.7)
    assert pairs.isStreaming
    q = (
        pairs.writeStream.format("memory")
        .queryName("mh_pairs_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if (
                spark.sql("select count(*) c from mh_pairs_t").collect()[0].c
                >= len(batch)
            ):
                break
            time.sleep(0.5)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in spark.sql("select * from mh_pairs_t").collect()
        }
        assert got == batch
    finally:
        q.stop()


def test_dedup_stream_simhash_drops_token_reordering(spark, tmp_path):
    # streaming near-exact dedup: a reordered-token copy has the same
    # SimHash and is dropped within the horizon; a genuinely different
    # doc survives
    import json
    import os

    from bamboo_spark.streaming import dedup_stream_simhash

    d = str(tmp_path / "in")
    os.makedirs(d)
    B = 100000
    with open(os.path.join(d, "b1.json"), "w") as f:
        f.write(json.dumps({"ts": B + 1, "text": "the quick brown fox jumps"}) + "\n")
        f.write(json.dumps({"ts": B + 2, "text": "fox quick the jumps brown"}) + "\n")
        f.write(json.dumps({"ts": B + 3, "text": "completely different words here now"}) + "\n")
    stream = (
        spark.readStream.schema("ts long, text string").json(d)
        .select(F.timestamp_seconds("ts").alias("ts"), "text")
    )
    out = dedup_stream_simhash(stream, watermark="10 minutes")
    assert out.isStreaming
    q = out.writeStream.format("memory").queryName("shdd_t").outputMode("append").start()
    try:
        deadline = time.time() + 40
        while time.time() < deadline:
            if spark.sql("select count(*) c from shdd_t").collect()[0].c >= 2:
                break
            time.sleep(0.5)
        rows = spark.sql("select text from shdd_t").collect()
        texts = {r["text"] for r in rows}
        assert len(texts) == 2, texts
        assert "completely different words here now" in texts
        # exactly one of the two reorderings survived
        assert len(texts & {"the quick brown fox jumps", "fox quick the jumps brown"}) == 1
    finally:
        q.stop()


def test_stream_batch_parity_contamination(spark, tmp_path):
    # stream-static broadcast join: streaming the documents table past
    # the static eval-gram index must flag exactly the (doc, gram)
    # pairs the batch contamination query counts
    from bamboo_spark import queries as q
    from bamboo_spark.operators.text import word_shingles_sql
    from bamboo_spark.streaming import contamination_stream

    batch = {
        (r["doc_id"], r["eval_id"]): r["n_overlap"]
        for r in q.q_contamination(spark, SF_DIR).collect()
    }
    assert batch
    expected_counts = {}
    for (doc, _ev), n in batch.items():
        expected_counts[doc] = expected_counts.get(doc, 0) + n

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    sh = word_shingles_sql("split(text, ' ')", 4)
    eval_grams = (
        docs.where("doc_id % 97 = 0")
        .selectExpr("explode(array_distinct(%s)) as s" % sh)
        .distinct()
    )

    d = str(tmp_path / "replay")
    docs.where("doc_id % 97 != 0").select("doc_id", "text").coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    out = contamination_stream(stream, eval_grams)
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("contam_t")
        .outputMode("append")
        .start()
    )
    try:
        want_rows = sum(expected_counts.values())
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("select count(*) c from contam_t").collect()[0].c >= want_rows:
                break
            time.sleep(0.5)
        got = {
            r["doc_id"]: r["n"]
            for r in spark.sql(
                "select doc_id, count(*) n from contam_t group by doc_id"
            ).collect()
        }
        # a gram shared with multiple eval docs appears once per doc in
        # the stream output but once per (doc, eval) pair in the batch
        # count — compare against distinct grams per doc instead
        distinct_grams = {
            r["doc_id"]: r["n"]
            for r in spark.sql(
                "select doc_id, count(distinct s) n from contam_t group by doc_id"
            ).collect()
        }
        assert set(got) == set(expected_counts)
        assert got == distinct_grams  # stream emits each (doc, gram) once
    finally:
        qy.stop()


def test_stream_batch_parity_bloom_guard(spark, tmp_path):
    # replay the real documents "new batch" (doc_id >= 250) through a
    # file stream guarded by the stored corpus's Bloom bitmap; flagged
    # (doc_id, dup_of) rows must match the batch twin exactly
    from bamboo_spark import queries as q
    from bamboo_spark.operators import dedup, release_caches, text
    from bamboo_spark.streaming import bloom_guard_stream

    docs = q.load(spark, SF_DIR, "documents")
    batch = {
        (r["doc_id"], r["dup_of"])
        for r in dedup.bloom_dedup_incremental(
            docs, text.fingerprint_expr(), split_id=250
        ).collect()
    }
    release_caches()

    # index-build time (batch side): bitmap + exact key table
    old = docs.where(F.col("doc_id") < 250).select(
        "doc_id", text.fingerprint_expr().alias("k")
    )
    bitmap = dedup.bloom_build(old.select(F.xxhash64("k").alias("h")))
    corpus_keys = old.groupBy("k").agg(F.min("doc_id").alias("dup_of"))

    d = str(tmp_path / "doc_replay")
    docs.where(F.col("doc_id") >= 250).select("doc_id", "text").coalesce(
        1
    ).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    guarded = bloom_guard_stream(
        stream, corpus_keys, text.fingerprint_expr(), bitmap
    )
    qy = (
        guarded.writeStream.format("memory")
        .queryName("bloom_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if (
                qy.recentProgress
                and spark.sql("select count(*) c from bloom_t").collect()[0].c
                >= len(batch)
            ):
                break
            time.sleep(0.5)
        got = {
            (r["doc_id"], r["dup_of"])
            for r in spark.sql("select * from bloom_t").collect()
        }
        assert got == batch and len(got) > 0
    finally:
        qy.stop()


def test_bloom_guard_dedupes_corpus_keys(spark):
    # a raw multi-row corpus key table must still yield ONE output row
    # per flagged doc (min dup_of), matching the batch twin's contract
    from bamboo_spark.operators import dedup
    from bamboo_spark.streaming import bloom_guard_stream

    corpus = spark.createDataFrame(
        [("ka", 1), ("ka", 7), ("kb", 3)], "k string, dup_of long"
    )
    bitmap = dedup.bloom_build(
        corpus.select(F.xxhash64("k").alias("h")), num_bits=1 << 12
    )
    batch = spark.createDataFrame(
        [(100, "ka"), (101, "kb"), (102, "kc")], "doc_id long, text string"
    )
    out = bloom_guard_stream(batch, corpus, F.col("text"), bitmap, num_bits=1 << 12)
    rows = {(r["doc_id"], r["dup_of"]) for r in out.collect()}
    assert rows == {(100, 1), (101, 3)}
    assert out.count() == 2  # no row multiplication from dup corpus keys


def test_stream_batch_parity_pack_stream(spark, tmp_path):
    """Replay the documents corpus in doc_id order through the
    streaming packer; output must equal per-source batch packing."""
    from pyspark.sql import Window

    from bamboo_spark import queries as q
    from bamboo_spark.streaming.core import pack_stream

    docs = q.load(spark, SF_DIR, "documents").select("source", "doc_id", "text")
    # batch reference: per-source running offsets in doc_id order
    L = 128
    w = Window.partitionBy("source").orderBy("doc_id")
    ref = (
        docs.withColumn("n_tokens", F.size(F.split("text", " ")).cast("bigint"))
        .withColumn(
            "start_offset",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint"),
        )
        .selectExpr(
            "source",
            "doc_id",
            "n_tokens",
            "start_offset",
            "start_offset div %d as chunk_id" % L,
            "(start_offset + n_tokens - 1) div %d as last_chunk_id" % L,
            "cast(start_offset div %d != (start_offset + n_tokens - 1) div %d as bigint) as straddles"
            % (L, L),
        )
    )
    expected = {r["doc_id"]: r.asDict() for r in ref.collect()}

    # id-ordered replay in 3 micro-batch files
    d = str(tmp_path / "docs_replay")
    ids = sorted(expected)
    import os

    os.makedirs(d)
    thirds = [ids[: len(ids) // 3], ids[len(ids) // 3 : 2 * len(ids) // 3], ids[2 * len(ids) // 3 :]]
    stream = spark.readStream.schema("source string, doc_id long, text string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(d)
    out = pack_stream(stream, context_len=L)
    qy = (
        out.writeStream.format("memory")
        .queryName("pack_par")
        .outputMode("append")
        .start()
    )
    try:
        for i, chunk in enumerate(thirds):
            docs.where(F.col("doc_id").isin(chunk)).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            deadline = time.time() + 60
            want = sum(len(c) for c in thirds[: i + 1])
            while time.time() < deadline:
                qy.processAllAvailable()
                if spark.sql("select count(*) c from pack_par").collect()[0].c >= want:
                    break
                time.sleep(0.5)
        got = {
            r["doc_id"]: r.asDict()
            for r in spark.sql("select * from pack_par").collect()
        }
        assert got == expected
    finally:
        qy.stop()


def test_stream_batch_parity_interval_attribution(spark, tmp_path):
    """Replay events in ts order through the stateful attribution
    operator; after the watermark passes every window, the emitted
    (click -> n_purchases, value) set must equal the batch range join."""
    import datetime as dt

    from bamboo_spark import queries as q
    from bamboo_spark.streaming.core import interval_attribution_stream

    batch = {
        r["event_id"]: (r["n_purchases"], r["purchase_value"])
        for r in q.q_events_interval_join(spark, SF_DIR).collect()
    }
    ev = q.load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    d = str(tmp_path / "ev_replay")
    ev.orderBy("ts").coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "event_id long, user_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    out = interval_attribution_stream(stream, window_ms=600_000)
    qy = (
        out.writeStream.format("memory")
        .queryName("attr_par")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not qy.recentProgress:
            qy.processAllAvailable()
            time.sleep(0.5)
        # sentinel far past every window end -> watermark closes all
        spark.createDataFrame(
            [(10**9, 10**6, max_ts + dt.timedelta(days=30), "sentinel", 0.0)],
            "event_id long, user_id long, ts timestamp, event_type string, value double",
        ).coalesce(1).write.mode("append").parquet(d)
        deadline = time.time() + 60
        while time.time() < deadline:
            qy.processAllAvailable()
            n = spark.sql("select count(*) c from attr_par").collect()[0].c
            if n >= len(batch):
                break
            time.sleep(0.5)
        got = {
            r["event_id"]: (r["n_purchases"], r["purchase_value"])
            for r in spark.sql("select * from attr_par").collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_segment_bloom_guard(spark, tmp_path):
    # the flagged (doc_id, blk_idx) segments from the stream guard must
    # be EXACTLY the segments the batch incremental dedup drops
    from bamboo_spark import queries as q
    from bamboo_spark.operators import dedup
    from bamboo_spark.operators.dedup import _segment_blocks
    from bamboo_spark.streaming.core import segment_bloom_guard_stream

    docs = q.load(spark, SF_DIR, "documents")
    batch = {
        r["doc_id"]: (r["n_blocks"], r["n_kept"])
        for r in dedup.segment_dedup_incremental(
            docs, split_id=250, block_tokens=20
        ).collect()
    }
    dropped_per_doc = {k: nb - nk for k, (nb, nk) in batch.items()}
    assert sum(dropped_per_doc.values()) > 0  # fixture has real overlap

    corpus_blocks = _segment_blocks(
        docs.where(F.col("doc_id") < 250), 20
    )
    bitmap = dedup.bloom_build(
        corpus_blocks.select(F.xxhash64("bh").alias("h"))
    )
    corpus_digests = corpus_blocks.select("bh").distinct()

    d = str(tmp_path / "seg_replay")
    docs.where(F.col("doc_id") >= 250).select("doc_id", "text").coalesce(
        1
    ).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    flagged = segment_bloom_guard_stream(
        stream, bitmap, 1 << 20, 7, corpus_digests, block_tokens=20
    )
    qy = (
        flagged.writeStream.format("memory")
        .queryName("seg_bloom_t")
        .outputMode("append")
        .start()
    )
    try:
        want = sum(dropped_per_doc.values())
        deadline = time.time() + 60
        while time.time() < deadline:
            qy.processAllAvailable()
            if spark.sql("select count(*) c from seg_bloom_t").collect()[0].c >= want:
                break
            time.sleep(0.5)
        rows = spark.sql("select * from seg_bloom_t").collect()
        got_per_doc = {}
        for r in rows:
            got_per_doc[r["doc_id"]] = got_per_doc.get(r["doc_id"], 0) + 1
        assert got_per_doc == {
            k: v for k, v in dropped_per_doc.items() if v > 0
        }
        # and flagged indexes are unique per doc
        assert len(rows) == len({(r["doc_id"], r["blk_idx"]) for r in rows})
    finally:
        qy.stop()


def test_stream_batch_parity_ann_ingest(spark, tmp_path):
    """The ANN ingest path (coarse IVF assignment + PQ encoding) is
    stateless Arrow-batched kernels, so it runs unchanged on a stream:
    replayed embeddings must get the SAME buckets and codes as batch."""
    from bamboo_spark.operators.similarity import (
        ivf_assign,
        kmeans_train,
        pq_encode,
        pq_train,
    )

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    centroids = kmeans_train(e)
    books = pq_train(e, m=4, n_codes=8, iterations=1)
    want_bucket = {
        r["vec_id"]: r["centroid"] for r in ivf_assign(e, centroids).collect()
    }
    want_codes = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(e, books).collect()
    }

    d = str(tmp_path / "emb_replay")
    e.coalesce(2).write.parquet(d)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>, label string"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    assigned = ivf_assign(stream, centroids)
    coded = pq_encode(stream, books)
    q1 = assigned.writeStream.format("memory").queryName("ann_b").outputMode(
        "append"
    ).start()
    q2 = coded.writeStream.format("memory").queryName("ann_c").outputMode(
        "append"
    ).start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            q1.processAllAvailable()
            q2.processAllAvailable()
            nb = spark.sql("select count(*) c from ann_b").collect()[0].c
            nc = spark.sql("select count(*) c from ann_c").collect()[0].c
            if nb >= len(want_bucket) and nc >= len(want_codes):
                break
            time.sleep(0.5)
        got_bucket = {
            r["vec_id"]: r["centroid"]
            for r in spark.sql("select * from ann_b").collect()
        }
        got_codes = {
            r["vec_id"]: list(r["codes"])
            for r in spark.sql("select * from ann_c").collect()
        }
        assert got_bucket == want_bucket
        assert got_codes == want_codes
    finally:
        q1.stop()
        q2.stop()


def test_stream_batch_parity_funnel(spark, tmp_path):
    """Replay events in ts order; once every user times out, the
    per-user funnel stages must equal the batch window computation."""
    import datetime as dt

    from bamboo_spark import queries as q
    from bamboo_spark.streaming.core import funnel_stream

    e = q.load(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts", F.unix_micros("ts").alias("us")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = e.withColumn(
        "fv", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    )
    c_qual = (
        (F.col("event_type") == "click")
        & F.col("fv").isNotNull()
        & (F.col("fv") < F.col("us"))
    )
    staged = staged.withColumn("fc", F.min(F.when(c_qual, F.col("us"))).over(w))
    p_qual = (
        (F.col("event_type") == "purchase")
        & F.col("fc").isNotNull()
        & (F.col("fc") < F.col("us"))
    )
    ref = {
        r["user_id"]: (r["v"], r["c"], r["p"])
        for r in staged.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v"),
            F.min(F.when(c_qual, F.col("us"))).alias("c"),
            F.min(F.when(p_qual, F.col("us"))).alias("p"),
        )
        .collect()
    }
    max_ts = e.agg(F.max("ts")).collect()[0][0]

    d = str(tmp_path / "funnel_replay")
    e.select("user_id", "event_type", "ts").orderBy("ts").coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "user_id long, event_type string, ts timestamp"
    ).parquet(d)
    out = funnel_stream(stream)
    qy = (
        out.writeStream.format("memory")
        .queryName("funnel_par")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not qy.recentProgress:
            qy.processAllAvailable()
            time.sleep(0.5)
        spark.createDataFrame(
            [(10**6, "sentinel", max_ts + dt.timedelta(days=30))],
            "user_id long, event_type string, ts timestamp",
        ).coalesce(1).write.mode("append").parquet(d)
        deadline = time.time() + 60
        while time.time() < deadline:
            qy.processAllAvailable()
            if spark.sql("select count(*) c from funnel_par").collect()[0].c >= len(ref):
                break
            time.sleep(0.5)
        got = {
            r["user_id"]: (r["v_us"], r["c_us"], r["p_us"])
            for r in spark.sql(
                "select * from funnel_par where user_id < 1000000"
            ).collect()
        }
        assert got == ref
    finally:
        qy.stop()


def test_stream_batch_parity_profile_stream(spark, tmp_path):
    """HLL registers are max-merged (order-independent), so the stream
    profiler must equal the batch windowed profile EXACTLY."""
    import datetime as dt

    from bamboo_spark import queries as q
    from bamboo_spark.streaming.core import profile_stream

    ev = q.load(spark, SF_DIR, "events").select("user_id", "ts", "value")
    batch = {
        r["window_start"]: (r["n_rows"], r["approx_keys"], r["value_nulls"])
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_keys"),
            F.sum(F.col("value").isNull().cast("long")).alias("value_nulls"),
        )
        .select(F.col("w.start").alias("window_start"), "n_rows", "approx_keys", "value_nulls")
        .collect()
    }
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    d = str(tmp_path / "profile_replay")
    ev.coalesce(2).write.parquet(d)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    out = profile_stream(stream, watermark="0 seconds")
    qy = (
        out.writeStream.format("memory")
        .queryName("profile_par")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not qy.recentProgress:
            qy.processAllAvailable()
            time.sleep(0.5)
        spark.createDataFrame(
            [(10**6, max_ts + dt.timedelta(days=10), 0.0)],
            "user_id long, ts timestamp, value double",
        ).coalesce(1).write.mode("append").parquet(d)
        deadline = time.time() + 60
        while time.time() < deadline:
            qy.processAllAvailable()
            if spark.sql("select count(*) c from profile_par").collect()[0].c >= len(batch):
                break
            time.sleep(0.5)
        got = {
            r["window_start"]: (r["n_rows"], r["approx_keys"], r["value_nulls"])
            for r in spark.sql("select * from profile_par").collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_cdc_upsert(spark, tmp_path):
    # in-order replay of the change log must converge to the batch LWW
    # winner per key (cdc_apply over the same changes), tombstones
    # flagged is_delete=1
    from pyspark.sql import Window

    from bamboo_spark import queries as q
    from bamboo_spark.streaming.core import cdc_upsert_stream

    changes = (
        q.load(spark, SF_DIR, "events")
        .where(F.col("event_id") % 3 != 0)
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "event_type",
            "value",
            F.when(F.col("event_type") == "error", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    expected = {
        r.user_id: (
            r.us,
            r.event_id,
            r.event_type,
            r.value,
            1 if r.op == "delete" else 0,
        )
        for r in changes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert expected

    d = str(tmp_path / "cdc_replay")
    changes.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(
        "user_id long, us long, event_id long, event_type string, "
        "value double, op string"
    ).parquet(d)
    out = cdc_upsert_stream(
        stream,
        key_col="user_id",
        ver_cols=["us", "event_id"],
        payload_cols=["event_type", "value"],
        op_col="op",
    )
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("cdc_t")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            n = spark.sql(
                "select count(distinct user_id) c from cdc_t"
            ).collect()[0].c
            if n >= len(expected):
                break
            time.sleep(0.5)
        # final winner per key = max-version emission
        got = {}
        for r in spark.sql("select * from cdc_t").collect():
            cur = got.get(r.user_id)
            if cur is None or (r.us, r.event_id) > (cur[0], cur[1]):
                got[r.user_id] = (
                    r.us,
                    r.event_id,
                    r.event_type,
                    r.value,
                    r.is_delete,
                )
        assert got == expected
    finally:
        qy.stop()


def test_stream_batch_parity_transitions(spark, tmp_path):
    # in-order replay must reproduce the batch lag-window's edge
    # aggregate exactly
    from bamboo_spark import queries as q
    from bamboo_spark.streaming import transitions_stream

    batch = {
        (r.prev_type, r.event_type): r.n
        for r in q.q_event_transitions(spark, SF_DIR).collect()
    }
    assert batch

    d = str(tmp_path / "trans_replay")
    (
        q.load(spark, SF_DIR, "events")
        .select("user_id", "ts", "event_type", "event_id")
        .coalesce(1)
        .write.parquet(d)
    )
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, event_id long"
    ).parquet(d)
    out = transitions_stream(stream)
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("trans_t")
        .outputMode("append")
        .start()
    )
    try:
        total = sum(batch.values())
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("select count(*) c from trans_t").collect()[0].c >= total:
                break
            time.sleep(0.5)
        got = {
            (r.prev_type, r.event_type): r.n
            for r in spark.sql(
                "select prev_type, event_type, count(*)::long n "
                "from trans_t group by 1, 2"
            ).collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_linkage(spark, tmp_path):
    # stream-static probe of the corpus segment index must find exactly
    # the batch edit_distance_join pairs (dedup'd per pair in the test;
    # candidate multiplicity is documented)
    from bamboo_spark import queries as q
    from bamboo_spark.operators.linkage import edit_distance_join
    from bamboo_spark.streaming import linkage_stream

    docs = q.load(spark, SF_DIR, "documents").select(
        "doc_id", F.lower(F.substring("text", 1, 32)).alias("title_key")
    )
    new = docs.where(F.col("doc_id") >= 250)
    corpus = docs.where(F.col("doc_id") < 250)
    batch = {
        (r.id_new, r.id_corpus, r.dist)
        for r in edit_distance_join(
            new, corpus, "doc_id", "title_key", max_dist=3
        ).collect()
    }
    assert batch

    d = str(tmp_path / "linkage_replay")
    new.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, title_key string").parquet(d)
    out = linkage_stream(stream, corpus, "doc_id", "title_key", max_dist=3)
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("lk_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        got = set()
        while time.time() < deadline:
            got = {
                (r.id_new, r.id_corpus, r.dist)
                for r in spark.sql(
                    "select distinct id_new, id_corpus, dist from lk_t"
                ).collect()
            }
            if got >= batch:
                break
            time.sleep(0.5)
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_drift(spark, tmp_path):
    # one replayed window must reproduce the batch Welch z bit-for-bit:
    # baseline = even vec_ids, stream = odd vec_ids (the batch
    # q_embedding_drift split)
    from bamboo_spark import queries as q
    from bamboo_spark.streaming import drift_stream

    batch = {
        r.dim: (r.z, r.is_drifted)
        for r in q.q_embedding_drift(spark, SF_DIR).collect()
    }
    assert batch

    e = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    # the baseline profile: per dimension, exact moments of the µ-units
    m = F.round(F.col("v").cast("double") * 1e6, 0).cast("long")
    baseline = (
        e.where(F.col("vec_id") % 2 == 0)
        .select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(m.cast("decimal(38,0)")).cast("double").alias("s"),
            F.sum(m.cast("decimal(38,0)") * m).cast("double").alias("ss"),
        )
    )
    d = str(tmp_path / "drift_replay")
    (
        e.where(F.col("vec_id") % 2 == 1)
        .select(F.lit("2024-01-01 00:05:00").cast("timestamp").alias("ts"), "embedding")
        .coalesce(1)
        .write.parquet(d)
    )
    stream = spark.readStream.schema(
        "ts timestamp, embedding array<double>"
    ).parquet(d)
    out = drift_stream(stream, baseline, window="10 minutes", z_alert=3.0)
    assert out.isStreaming
    # update mode: the single replayed batch holds the whole window, so
    # the first emission IS the complete aggregate (append would wait
    # for a watermark push past window end)
    qy = (
        out.writeStream.format("memory")
        .queryName("drift_t")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            qy.processAllAvailable()
            if spark.sql("select count(*) c from drift_t").collect()[0].c >= len(batch):
                break
            time.sleep(0.5)
        got = {
            r.dim: (r.z, r.is_drifted)
            for r in spark.sql("select * from drift_t").collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_cdc_upsert_stream_multi_batch_state(spark, tmp_path):
    # split the change log into 3 files replayed one per micro-batch:
    # cross-batch LWW state must hold (a stale batch-2 change must not
    # overwrite a newer batch-1 winner, deletes persist, re-inserts win)
    from bamboo_spark.streaming.core import cdc_upsert_stream

    d = str(tmp_path / "cdc_mb")
    batches = [
        # (user, us, event_id, type, value, op)
        [(1, 100, 1, "a", 1.0, "upsert"), (2, 100, 2, "a", 1.0, "upsert")],
        # stale update for 1 (us=50 < 100) + delete for 2
        [(1, 50, 3, "stale", 9.0, "upsert"), (2, 200, 4, "a", 1.0, "delete")],
        # re-insert 2 later, new user 3
        [(2, 300, 5, "b", 2.0, "upsert"), (3, 10, 6, "c", 3.0, "upsert")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows,
            "user_id long, us long, event_id long, event_type string, "
            "value double, op string",
        ).coalesce(1).write.parquet("%s/b%d" % (d, i))
    stream = (
        spark.readStream.schema(
            "user_id long, us long, event_id long, event_type string, "
            "value double, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d + "/b*")
    )
    out = cdc_upsert_stream(
        stream, "user_id", ["us", "event_id"], ["event_type", "value"],
        op_col="op",
    )
    qy = (
        out.writeStream.format("memory")
        .queryName("cdc_mb_t")
        .outputMode("update")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            qy.processAllAvailable()
            n = spark.sql("select count(*) c from cdc_mb_t").collect()[0].c
            if n >= 5:
                break
            time.sleep(0.5)
        # final winner per user = max-version emission
        final = {}
        for r in spark.sql("select * from cdc_mb_t").collect():
            cur = final.get(r.user_id)
            if cur is None or (r.us, r.event_id) > (cur[0], cur[1]):
                final[r.user_id] = (r.us, r.event_id, r.event_type, r.is_delete)
        assert final[1] == (100, 1, "a", 0)  # stale change ignored
        assert final[2] == (300, 5, "b", 0)  # delete then re-insert
        assert final[3] == (10, 6, "c", 0)
        # the stale batch-2 row for user 1 must have produced NO update
        u1 = spark.sql(
            "select count(*) c from cdc_mb_t where user_id = 1"
        ).collect()[0].c
        assert u1 == 1
    finally:
        qy.stop()


def test_stream_bm25_matches_python_reference(spark, tmp_path):
    # stateless stream scoring vs an independent pure-Python BM25 with
    # the same frozen corpus model (df/N/avgdl from the static half)
    import math

    from bamboo_spark import queries as q
    from bamboo_spark.streaming import bm25_stream

    terms = ["hash", "join", "scan", "filter"]
    docs = q.load(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)

    # python reference model
    crows = [(r.doc_id, r.text.split(" ")) for r in corpus.collect()]
    n_docs = float(len(crows))
    avgdl = sum(len(t) for _, t in crows) / n_docs
    dfreq = {
        t: float(sum(1 for _, toks in crows if t in set(toks)))
        for t in terms
    }
    k1, b = 1.2, 0.75
    expected = {}
    for r in new.collect():
        toks = r.text.split(" ")
        dl = len(toks)
        score, nm = 0.0, 0
        for t in terms:
            tf = float(toks.count(t))
            if tf <= 0:
                continue
            idf = round(
                math.log(1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)), 9
            )
            score += round(
                idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)),
                9,
            )
            nm += 1
        if nm:
            expected[r.doc_id] = (nm, round(score, 6))
    assert expected

    d = str(tmp_path / "bm25_replay")
    new.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    out = bm25_stream(stream, corpus, terms)
    assert out.isStreaming
    qy = (
        out.writeStream.format("memory")
        .queryName("bm25_t")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            qy.processAllAvailable()
            if spark.sql("select count(*) c from bm25_t").collect()[0].c >= len(expected):
                break
            time.sleep(0.5)
        got = {
            r.doc_id: (r.n_terms, r.bm25)
            for r in spark.sql("select * from bm25_t").collect()
        }
        assert got.keys() == expected.keys()
        for k in expected:
            assert got[k][0] == expected[k][0], k
            assert abs(got[k][1] - expected[k][1]) <= 1e-6, (k, got[k], expected[k])
    finally:
        qy.stop()


def test_streaming_public_surface_complete():
    # every public operator in streaming.core is re-exported from the
    # package and listed in __all__ — no "lives only in core" drift
    import inspect

    import bamboo_spark.streaming as pkg
    import bamboo_spark.streaming.core as core

    public = {
        n
        for n, f in vars(core).items()
        if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == core.__name__
    }
    assert public <= set(pkg.__all__), public - set(pkg.__all__)
    for n in pkg.__all__:
        assert getattr(pkg, n) is getattr(core, n)


def test_cms_stream_equals_batch_sketch(spark, tmp_path):
    # stream-replay of a token file equals the batch cms_build grid
    # cell-for-cell (same hash family), and the streaming state is
    # bounded at depth*width cells by construction
    import json
    import os

    from bamboo_spark.operators.sketch import cms_build
    from bamboo_spark.streaming import cms_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    items = (["alpha"] * 7 + ["beta"] * 3 + ["gamma"] * 5) * 2
    with open(os.path.join(src, "b1.json"), "w") as f:
        for it in items:
            f.write(json.dumps({"item": it}) + "\n")

    stream = spark.readStream.schema("item string").json(src)
    grid = cms_stream(stream, "item", depth=3, width=64)
    assert grid.isStreaming
    q = (
        grid.writeStream.format("memory")
        .queryName("cms_t")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.hash_row, r.bucket): r.n
            for r in spark.sql("select * from cms_t").collect()
        }
    finally:
        q.stop()
    batch = spark.createDataFrame([(it,) for it in items], "item string")
    want = {
        (r.hash_row, r.bucket): r.n
        for r in cms_build(batch, "item", depth=3, width=64).collect()
    }
    assert got == want
    assert len(got) <= 3 * 64


def test_hll_stream_equals_batch_registers(spark, tmp_path):
    import json
    import os

    from bamboo_spark.operators.sketch import hll_build
    from bamboo_spark.streaming import hll_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    items = [str(i % 400) for i in range(3000)]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for it in items:
            f.write(json.dumps({"item": it}) + "\n")

    stream = spark.readStream.schema("item string").json(src)
    regs = hll_stream(stream, "item", p=8)
    assert regs.isStreaming
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_t")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.idx, r.r) for r in spark.sql("select * from hll_t").collect()
        }
    finally:
        q.stop()
    batch = spark.createDataFrame([(it,) for it in items], "item string")
    want = {(r.idx, r.r) for r in hll_build(batch, "item", p=8).collect()}
    assert got == want
    assert len(got) <= 256


def test_dq_stream_matches_batch_rules(spark, tmp_path):
    # stream-replay of a file equals the batch dq_report row-rules for
    # the same window of data
    import datetime
    import json
    import os

    from bamboo_spark.operators import dq
    from bamboo_spark.streaming import dq_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    base = datetime.datetime(2024, 6, 1, 10, 0, 0)
    rows = [
        {"ts": (base + datetime.timedelta(minutes=i)).isoformat(),
         "v": float(i - 2), "k": None if i == 3 else "A"}
        for i in range(6)
    ]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    rules = [dq.not_null("k"), dq.in_range("v", 0.0, 100.0)]
    stream = spark.readStream.schema("ts timestamp, v double, k string").json(src)
    rep = dq_stream(stream, rules, window="1 hour")
    assert rep.isStreaming
    q = (
        rep.writeStream.format("memory")
        .queryName("dq_t")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.rule: (r.n_rows, r.n_violations)
            for r in spark.sql("select * from dq_t").collect()
        }
    finally:
        q.stop()
    batch = spark.createDataFrame(
        [(r["ts"], r["v"], r["k"]) for r in rows],
        "ts string, v double, k string",
    )
    want = {
        r.rule: (r.n_rows, r.n_violations)
        for r in dq.dq_report(batch, rules).collect()
    }
    assert got == want
    assert got["not_null(k)"] == (6, 1)
    assert got["range(v,[0.0,100.0])"] == (6, 2)  # v = -2, -1


def test_debounce_stream_keeps_one_per_gap(spark, tmp_path):
    # retry storm: 10 events 5s apart for one (user,type) -> with a 60s
    # debounce only events at t0, t0+60... survive; a second user far
    # apart keeps everything. Throttle is relative to the KEPT row.
    import datetime
    import json
    import os

    from bamboo_spark.streaming import debounce_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    base = datetime.datetime(2024, 6, 1, 12, 0, 0)
    rows = []
    eid = 0
    for i in range(10):  # user 1: every 5 s
        rows.append({"ts": (base + datetime.timedelta(seconds=5 * i)).isoformat(),
                     "user_id": 1, "event_id": eid}); eid += 1
    for i in range(3):   # user 2: every 2 min
        rows.append({"ts": (base + datetime.timedelta(minutes=2 * i)).isoformat(),
                     "user_id": 2, "event_id": eid}); eid += 1
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = spark.readStream.schema(
        "ts timestamp, user_id long, event_id long"
    ).json(src)
    out = debounce_stream(stream, "user_id", gap_ms=60_000)
    q = (
        out.writeStream.format("memory")
        .queryName("deb_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.event_id)
            for r in spark.sql("select * from deb_t").collect()
        }
    finally:
        q.stop()
    # user 1: t=0s kept, next kept >= 60s later -> ids 0 (t0) only
    # among 0..45s? events at 0,5,...,45 -> only id 0. user 2: all 3.
    assert got == {("1", 0), ("2", 10), ("2", 11), ("2", 12)}


def test_sample_stream_equals_batch_sample(spark, tmp_path):
    # stream-replay of an id file ends on EXACTLY the batch
    # hash_sample bottom-k (same md5 rank family), and the emitted
    # snapshot carries the ranks a later bottom-k merge needs
    import json
    import os

    from bamboo_spark.operators.sketch import hash_sample
    from bamboo_spark.streaming import sample_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    # two micro-batches: state must carry the bottom-k across them
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i in range(0, 400):
            f.write(json.dumps({"id": i, "v": i * 7}) + "\n")
    stream = spark.readStream.schema("id long, v long").json(src)
    out = sample_stream(stream, "id", k=32, payload_col="v")
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("smp_t")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        with open(os.path.join(src, "b2.json"), "w") as f:
            for i in range(400, 900):
                f.write(json.dumps({"id": i, "v": i * 7}) + "\n")
        q.processAllAvailable()
        # update mode appends each snapshot; the LAST 32 rows are the
        # final sample — reconstruct it as the bottom-32 of all emitted
        # rows (snapshots are nested, so that equals the final one)
        rows = spark.sql("select distinct id, v, _rk from smp_t").collect()
    finally:
        q.stop()
    final = sorted(rows, key=lambda r: (r["_rk"], r["id"]))[:32]
    batch = spark.createDataFrame(
        [(i, i * 7) for i in range(900)], "id long, v long"
    )
    want = [
        (r["id"], r["v"], r["_rk"])
        for r in hash_sample(batch, "id", k=32).collect()
    ]
    got_t = [(r["id"], r["v"], r["_rk"]) for r in final]
    assert sorted(got_t) == sorted(want)


def test_psi_stream_windows_score_against_baseline(spark, tmp_path):
    # window drawn from the baseline distribution scores ~0 PSI; a
    # shifted window trips the 0.2 alert — and the streaming score
    # equals the same formula computed by hand on the window's rows
    import json
    import math
    import os

    from bamboo_spark.streaming import psi_stream

    baseline = spark.range(0, 1000).selectExpr("id % 100 as v")
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i in range(500):  # same shape as baseline -> low PSI
            f.write(json.dumps({"ts": "2026-01-01T00:%02d:%02d" % (i // 60, i % 60), "v": i % 100}) + "\n")
        for i in range(500):  # shifted: only high values -> drifted
            f.write(json.dumps({"ts": "2026-01-01T02:%02d:%02d" % (i // 60, i % 60), "v": 90 + (i % 10)}) + "\n")
    stream = (
        spark.readStream.schema("ts string, v long").json(src)
        .selectExpr("cast(ts as timestamp) ts", "v")
    )
    out = psi_stream(stream, baseline, "v", window="1 hour", bins=10)
    q = (
        out.writeStream.format("memory").queryName("psi_t")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        rows = {
            r["window_start"].hour: r
            for r in spark.sql("select * from psi_t").collect()
        }
    finally:
        q.stop()
    assert rows[0]["n_rows"] == 500 and rows[2]["n_rows"] == 500
    assert not rows[0]["is_drifted"] and rows[0]["psi"] < 0.05
    assert rows[2]["is_drifted"] and rows[2]["psi"] > 0.2
    # exact replay of the formula for the drifted window
    k, n = 10, 500
    base_q = [((100 if b < 10 else 0) + 1) / float(1000 + 10) for b in range(10)]
    cnts = [0] * 10
    for i in range(500):
        cnts[min(9, max(0, (90 + (i % 10)) // 10))] += 1
    want = round(
        sum(
            ((c + 1) / float(n + k) - base_q[b])
            * math.log(((c + 1) / float(n + k)) / base_q[b])
            for b, c in enumerate(cnts)
        ),
        6,
    )
    assert abs(rows[2]["psi"] - want) < 1e-9


def test_sample_stream_candidate_cut_preserves_bottom_k(spark, tmp_path):
    # a generous rank cut drops most rows map-side yet leaves the
    # bottom-k identical to the uncut sample
    import json
    import os

    from bamboo_spark.operators.sketch import hash_sample
    from bamboo_spark.streaming import sample_stream

    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for i in range(2000):
            f.write(json.dumps({"id": i}) + "\n")
    stream = spark.readStream.schema("id long").json(src)
    # keep ~ the smallest 10% of the 60-bit rank space: >> 16 expected
    out = sample_stream(stream, "id", k=16, candidate_cut=(1 << 60) // 10)
    q = (
        out.writeStream.format("memory").queryName("smpc_t")
        .outputMode("update").start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select distinct id, _rk from smpc_t").collect()
    finally:
        q.stop()
    got = sorted((r["_rk"], r["id"]) for r in rows)[:16]
    batch = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    want = sorted(
        (r["_rk"], r["id"]) for r in hash_sample(batch, "id", k=16).collect()
    )
    assert got == want


def test_stream_batch_parity_session_window_native(spark, tmp_path):
    import datetime as dt

    from bamboo_spark import queries as q
    from bamboo_spark.streaming import session_window_stream

    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in q.q_sessionize_native(spark, SF_DIR).collect()
    }
    max_ts = _events_batch(spark).agg(F.max("ts")).collect()[0][0]

    d = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    sess = session_window_stream(stream, watermark="0 seconds")
    qy = (
        sess.writeStream.format("memory")
        .queryName("par_sess_native")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline and not qy.recentProgress:
            time.sleep(0.5)
        # one sentinel far in the future closes every real session
        _emit_sentinel(
            spark, d, "s1", 10**6, max_ts + dt.timedelta(days=10)
        )
        deadline = time.time() + 90
        while time.time() < deadline:
            c = spark.sql(
                "select count(*) c from par_sess_native where user_id < 1000000"
            ).collect()[0].c
            if c >= len(batch):
                break
            time.sleep(0.5)
        got = {
            (
                r["user_id"],
                r["session_start_us"],
                r["session_end_us"],
                r["n_events"],
            )
            for r in spark.sql(
                "select * from par_sess_native where user_id < 1000000"
            ).collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_stream_batch_parity_quality_gate(spark, tmp_path):
    from bamboo_spark.streaming import quality_gate_stream

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    batch = {
        (r["doc_id"], r["q_score"], r["lang_pred"], r["passed"])
        for r in quality_gate_stream(docs).collect()
    }

    d = str(tmp_path / "docs_replay")
    docs.coalesce(2).write.parquet(d)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    gated = quality_gate_stream(stream)
    assert gated.isStreaming
    qy = (
        gated.writeStream.format("memory")
        .queryName("par_quality_gate")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            c = spark.sql(
                "select count(*) c from par_quality_gate"
            ).collect()[0].c
            if c >= len(batch):
                break
            time.sleep(0.5)
        got = {
            (r["doc_id"], r["q_score"], r["lang_pred"], r["passed"])
            for r in spark.sql("select * from par_quality_gate").collect()
        }
        assert got == batch
    finally:
        qy.stop()


def test_session_window_exact_gap_boundary(spark):
    # the documented boundary contract: session_window merges an event
    # whose window start is <= the open session's end, so an
    # inter-event silence of EXACTLY the gap KEEPS the session — the
    # same strict `> gap` split rule as the lag chain. Pin both (plus
    # the 1 µs-over split) on crafted timestamps; the synthetic corpus
    # never lands on the boundary, so only this test guards it.
    import datetime as dt

    from bamboo_spark.streaming import session_window_stream

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, t0),
        (1, t0 + gap),                       # exactly gap later
        (2, t0),
        (2, t0 + gap + dt.timedelta(microseconds=1)),  # 1 µs past gap
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    native = (
        session_window_stream(df)  # batch frame: same projection
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in native.collect()}
    assert got == {1: 1, 2: 2}

    # lag-chain strict-> keeps the exact-gap pair together
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("us")
    lagd = (
        df.select("user_id", F.unix_micros("ts").alias("us"))
        .withColumn(
            "new_session",
            F.when(
                F.lag("us").over(w).isNull()
                | (F.col("us") - F.lag("us").over(w) > 30 * 60 * 1000000),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )
    got_lag = {r["user_id"]: r["n_sessions"] for r in lagd.collect()}
    assert got_lag == {1: 1, 2: 2}


def test_streaming_continuous_aggregate_maintenance(spark, tmp_path):
    # the lambda-architecture loop, composed from shipped primitives:
    # events replay as a stream, each micro-batch folds its hour-grain
    # partial states into a PUBLISHED partial-state table (read current
    # snapshot → union → re-aggregate → atomic_publish — partials are a
    # commutative monoid, so merge order is irrelevant). When the
    # stream drains, the published table must equal the batch
    # hypertable's hour grain exactly.
    from bamboo_spark import queries as q
    from bamboo_spark.operators.publish import atomic_publish, read_published

    expected = {
        (r["bucket"], r["event_type"]): (
            r["n_events"], r["sum_value_u"], r["min_us"], r["max_us"]
        )
        for r in q.q_hypertable_rollup(spark, SF_DIR).collect()
        if r["grain"] == "hour"
    }

    tbl = str(tmp_path / "hour_partials")

    def partials(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd HH:00").alias("hb"),
            "event_type",
            F.unix_micros("ts").alias("us"),
            F.expr("cast(round(value * 1e6, 0) as bigint)").alias("v_u"),
        ).groupBy("hb", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v_u").cast("bigint").alias("sum_value_u"),
            F.min("us").cast("bigint").alias("min_us"),
            F.max("us").cast("bigint").alias("max_us"),
        )

    def sink(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        part = partials(batch_df)
        try:
            cur = read_published(spark, tbl)
            merged = (
                cur.unionByName(part)
                .groupBy("hb", "event_type")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("sum_value_u").cast("bigint").alias("sum_value_u"),
                    F.min("min_us").cast("bigint").alias("min_us"),
                    F.max("max_us").cast("bigint").alias("max_us"),
                )
            )
        except Exception:
            merged = part
        atomic_publish(merged, tbl)

    d = _replay_dir(spark, tmp_path)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", "1").parquet(d)
    qy = stream.writeStream.foreachBatch(sink).start()
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()

    got = {
        (r["hb"], r["event_type"]): (
            r["n_events"], r["sum_value_u"], r["min_us"], r["max_us"]
        )
        for r in read_published(spark, tbl).collect()
    }
    assert got == expected


def test_psi_stream_rejects_empty_or_noninteger_baseline(spark):
    # an empty baseline must raise an explicit contract error, not an
    # opaque int(None) TypeError; non-integer values likewise
    import pytest as _pt

    from bamboo_spark.streaming.core import psi_stream

    empty = spark.createDataFrame([], "v long, ts timestamp")
    sdf = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value as v", "timestamp as ts")
    )
    with _pt.raises(ValueError, match="baseline is empty"):
        psi_stream(sdf, empty, "v", ts_col="ts")
    bad = spark.createDataFrame([("abc",), ("def",)], "v string")
    with _pt.raises(ValueError, match="integer-castable"):
        psi_stream(sdf, bad, "v", ts_col="ts")


def test_transitions_stream_idle_ttl_evicts_state(spark, tmp_path):
    # with idle_ttl_ms set, a user idle past watermark+TTL has their
    # last-event triple EVICTED: the returning user's first event emits
    # no edge (session reset), so an unbounded user space can't grow
    # the state store. Default (ttl=None) keeps exact batch parity —
    # pinned by test_stream_batch_parity_transitions above.
    import os

    from bamboo_spark.streaming import transitions_stream

    d = str(tmp_path / "ttl_in")
    os.makedirs(d)
    schema = "user_id long, ts timestamp, event_type string, event_id long"

    def put(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    from datetime import datetime

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    stream = spark.readStream.schema(schema).parquet(d)
    out = transitions_stream(
        stream, idle_ttl_ms=60_000, watermark="1 hour"
    )
    put("f1", [(1, t(0, 0), "A", 1), (2, t(0, 0), "X", 2)])
    qy = (
        out.writeStream.format("memory")
        .queryName("trans_ttl")
        .outputMode("append")
        .start()
    )
    try:
        qy.processAllAvailable()
        # user1 makes an edge; user2 jumps far ahead (advances watermark)
        put("f2", [(1, t(0, 1), "B", 3), (2, t(12, 0), "Y", 4)])
        qy.processAllAvailable()
        # user1 idle this batch; watermark (11:00) >> their timeout →
        # state evicted via hasTimedOut
        put("f3", [(2, t(12, 1), "Z", 5)])
        qy.processAllAvailable()
        # user1 returns: fresh state, NO edge for this event
        put("f4", [(1, t(12, 2), "C", 6)])
        qy.processAllAvailable()
        u1 = [
            (r.prev_type, r.event_type)
            for r in spark.sql(
                "select * from trans_ttl where user_id = 1"
            ).collect()
        ]
        assert u1 == [("A", "B")], u1  # the post-eviction return is edge-free
        u2 = {
            (r.prev_type, r.event_type)
            for r in spark.sql(
                "select * from trans_ttl where user_id = 2"
            ).collect()
        }
        assert u2 == {("X", "Y"), ("Y", "Z")}
    finally:
        qy.stop()


def test_hypertable_stream_matches_batch_rollup(spark, tmp_path):
    # the shipped operator: stream-replay through hypertable_stream,
    # then read_hypertable must equal q_hypertable_rollup ROW-FOR-ROW
    # across all three grains — the hour grid is maintained from the
    # stream, day/week are merged from it, events scanned once
    from bamboo_spark import queries as q
    from bamboo_spark.streaming import hypertable_stream, read_hypertable

    expected = [
        tuple(r)
        for r in q.q_hypertable_rollup(spark, SF_DIR)
        .orderBy("grain", "bucket", "event_type")
        .collect()
    ]

    tbl = str(tmp_path / "ht")
    d = _replay_dir(spark, tmp_path)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    qy = hypertable_stream(stream, tbl).start()
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    got = [
        tuple(r)
        for r in read_hypertable(spark, tbl)
        .orderBy("grain", "bucket", "event_type")
        .collect()
    ]
    assert got == expected


def test_hypertable_stream_replayed_batch_is_skipped(spark, tmp_path):
    # at-least-once foreachBatch: re-delivering a batch id <= the
    # published high-water mark must be a no-op (no double counting,
    # no new version)
    from bamboo_spark.operators.publish import current_version
    from bamboo_spark.streaming import read_hypertable

    tbl = str(tmp_path / "ht2")
    batch = spark.createDataFrame(
        [(1, "2024-01-01 10:15:00", "click", 1.5)],
        "user_id long, ts string, event_type string, value double",
    ).selectExpr(
        "user_id", "cast(ts as timestamp) ts", "event_type", "value"
    )
    # drive the sink directly (what foreachBatch does per micro-batch)
    from bamboo_spark.streaming import hypertable_sink

    sink = hypertable_sink(spark, tbl)
    sink(batch, 0)
    v1 = current_version(tbl)
    n1 = read_hypertable(spark, tbl).where("grain = 'hour'").collect()
    sink(batch, 0)  # replay: skipped
    assert current_version(tbl) == v1
    sink(batch, 1)  # genuinely new batch id: folds in (doubles counts)
    n2 = read_hypertable(spark, tbl).where("grain = 'hour'").collect()
    assert n1[0]["n_events"] * 2 == n2[0]["n_events"]


def test_hypertable_stream_day_partitioned_incremental(spark, tmp_path):
    # partition_by_day: each micro-batch rewrites ONLY its touched day
    # partitions (replace_partitions_publish carries the rest by
    # reference), the read stays partition-pruned, and the drained
    # result still equals the batch rollup row-for-row
    import json as _json
    import os

    from bamboo_spark import queries as q
    from bamboo_spark.streaming import hypertable_stream, read_hypertable

    expected = [
        tuple(r)
        for r in q.q_hypertable_rollup(spark, SF_DIR)
        .orderBy("grain", "bucket", "event_type")
        .collect()
    ]
    tbl = str(tmp_path / "htp")
    d = _replay_dir(spark, tmp_path)
    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    qy = hypertable_stream(stream, tbl, partition_by_day=True).start()
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    got = [
        tuple(r)
        for r in read_hypertable(spark, tbl)
        .orderBy("grain", "bucket", "event_type")
        .collect()
    ]
    assert got == expected
    # the committed manifest is hive-partitioned by day and file paths
    # carry db= segments (partition pruning at read)
    man = _json.load(open(os.path.join(tbl, "manifest.json")))
    assert man["partition_by"] == ["db"]
    from bamboo_spark.operators.publish import live_files

    assert all("db=" in f for f in live_files(tbl, spark))


def test_hypertable_day_sink_rewrites_only_touched_days(spark, tmp_path):
    # two batches on different days: batch 2's commit must carry day-1
    # files by reference and only write day-2 files; a replayed batch
    # id is a no-op (per-touched-day high-water mark)
    import json as _json
    import os

    from bamboo_spark.operators.publish import current_version
    from bamboo_spark.streaming import hypertable_sink, read_hypertable

    tbl = str(tmp_path / "htd")
    sink = hypertable_sink(spark, tbl, partition_by_day=True)
    mk = lambda ts, et, v: spark.createDataFrame(  # noqa: E731
        [(1, ts, et, v)],
        "user_id long, ts string, event_type string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "event_type", "value")
    from bamboo_spark.operators.publish import live_files

    sink(mk("2024-01-01 10:00:00", "click", 1.0), 0)
    files1 = live_files(tbl, spark)
    sink(mk("2024-01-02 11:00:00", "view", 2.0), 1)
    files2 = live_files(tbl, spark)
    day1_files = {f for f in files1 if "db=2024-01-01" in f}
    assert day1_files and day1_files < set(files2)  # carried
    assert all(
        f.startswith("_v2/") for f in files2 if "db=2024-01-02" in f
    )
    v = current_version(tbl)
    sink(mk("2024-01-02 11:30:00", "view", 9.0), 1)  # replay: no-op
    assert current_version(tbl) == v
    rows = {
        (r["grain"], r["bucket"], r["event_type"]): r["n_events"]
        for r in read_hypertable(spark, tbl).collect()
    }
    assert rows[("day", "2024-01-01", "click")] == 1
    assert rows[("day", "2024-01-02", "view")] == 1
