"""Streaming surface demo: ingest-guarded, stateful event processing.

    python examples/streaming_demo.py [sf_dir]

Replays the events table as a file stream and runs three operators:

1. windowed_counts          — watermarked tumbling-window aggregation
2. sessionize_stream        — stateful gap sessionization
                              (applyInPandasWithState, event-time close)
   + session_window_stream   — the native JVM session-window twin
3. interval_attribution_stream — click windows accumulate purchases,
                              emitted exactly once at watermark

Then replays the documents table through the stateless quality gate
and the Bloom segment guard: low-quality docs are scored at scan speed,
and segments already in the stored corpus are flagged map-side before
any shuffle. Everything is the same operator code the batch registry uses.
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bamboo_spark import get_spark
from bamboo_spark.operators import dedup
from bamboo_spark.operators.dedup import _segment_blocks
from bamboo_spark.streaming.core import (
    funnel_stream,
    interval_attribution_stream,
    segment_bloom_guard_stream,
    sessionize_stream,
    windowed_counts,
)


def drain(spark, query, name, min_rows=1, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        query.processAllAvailable()
        n = spark.sql("select count(*) c from %s" % name).collect()[0].c
        if n >= min_rows:
            return n
        time.sleep(0.5)
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("streaming_demo")
    replay = os.path.join(tempfile.mkdtemp(), "events")
    spark.read.parquet("%s/events.parquet" % sf_dir).orderBy("ts").coalesce(
        1
    ).write.parquet(replay)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(replay)

    counts = windowed_counts(stream, window="1 hour", watermark="0 seconds")
    q1 = counts.writeStream.format("memory").queryName("demo_counts").outputMode(
        "append"
    ).start()
    sess = sessionize_stream(stream, gap_ms=30 * 60 * 1000, watermark="0 seconds")
    q2 = sess.writeStream.format("memory").queryName("demo_sessions").outputMode(
        "append"
    ).start()
    attr = interval_attribution_stream(stream, window_ms=600_000, watermark="0 seconds")
    q3 = attr.writeStream.format("memory").queryName("demo_attr").outputMode(
        "append"
    ).start()
    fun = funnel_stream(stream, watermark="0 seconds")
    q4 = fun.writeStream.format("memory").queryName("demo_funnel").outputMode(
        "append"
    ).start()
    from bamboo_spark.streaming import session_window_stream

    nat = session_window_stream(stream, watermark="0 seconds")
    q4b = nat.writeStream.format("memory").queryName("demo_native_sess").outputMode(
        "append"
    ).start()
    try:
        print("windowed counts rows:", drain(spark, q1, "demo_counts"))
        print("closed sessions:", drain(spark, q2, "demo_sessions"))
        print("closed click windows:", drain(spark, q3, "demo_attr"))
        print("closed user funnels:", drain(spark, q4, "demo_funnel"))
        print(
            "native session_window sessions:",
            drain(spark, q4b, "demo_native_sess"),
        )
    finally:
        for q in (q1, q2, q3, q4, q4b):
            q.stop()

    # Bloom paragraph guard on a doc stream: corpus = doc_id < 250
    docs = spark.read.parquet("%s/documents.parquet" % sf_dir)
    corpus_blocks = _segment_blocks(docs.where(F.col("doc_id") < 250), 20)
    bitmap = dedup.bloom_build(corpus_blocks.select(F.xxhash64("bh").alias("h")))
    corpus_digests = corpus_blocks.select("bh").distinct()
    doc_replay = os.path.join(tempfile.mkdtemp(), "docs")
    docs.where(F.col("doc_id") >= 250).select("doc_id", "text").coalesce(
        1
    ).write.parquet(doc_replay)
    doc_stream = spark.readStream.schema("doc_id long, text string").parquet(doc_replay)
    from bamboo_spark.streaming import quality_gate_stream

    gated = quality_gate_stream(doc_stream)
    qg = gated.writeStream.format("memory").queryName("demo_gate").outputMode(
        "append"
    ).start()
    try:
        qg.processAllAvailable()
        kept = spark.sql(
            "select count(*) c from demo_gate where passed"
        ).collect()[0].c
        total = spark.sql("select count(*) c from demo_gate").collect()[0].c
        print("quality gate: %d/%d docs pass at scan speed" % (kept, total))
    finally:
        qg.stop()
    flagged = segment_bloom_guard_stream(
        doc_stream, bitmap, 1 << 20, 7, corpus_digests, block_tokens=20
    )
    q5 = flagged.writeStream.format("memory").queryName("demo_seg").outputMode(
        "append"
    ).start()
    try:
        q5.processAllAvailable()
        n = spark.sql("select count(*) c from demo_seg").collect()[0].c
        print("duplicate segments flagged in the incoming doc stream:", n)
    finally:
        q5.stop()


    # --- CDC materializer + fuzzy-key ingest guard + drift monitor ----
    from bamboo_spark.streaming import cdc_upsert_stream, drift_stream, linkage_stream

    from bamboo_spark import queries as _q

    events = _q.load(spark, sf_dir, "events")  # ts normalized to LTZ µs
    chg_dir = os.path.join(tempfile.mkdtemp(), "cdc")
    (
        events.selectExpr(
            "user_id",
            "unix_micros(ts) as us",
            "event_id",
            "event_type",
            "value",
            "case when event_type = 'error' then 'delete' else 'upsert' end as op",
        )
        .coalesce(1)
        .write.parquet(chg_dir)
    )
    chg = spark.readStream.schema(
        "user_id long, us long, event_id long, event_type string, value double, op string"
    ).parquet(chg_dir)
    materialized = cdc_upsert_stream(
        chg, "user_id", ["us", "event_id"], ["event_type", "value"], op_col="op"
    )
    q6 = materialized.writeStream.format("memory").queryName("demo_cdc").outputMode(
        "update"
    ).start()
    try:
        q6.processAllAvailable()
        live = spark.sql(
            "select count(distinct user_id) c from demo_cdc where is_delete = 0"
        ).collect()[0].c
        print("users live in the CDC-materialized profile table:", live)
    finally:
        q6.stop()

    keyed = docs.selectExpr("doc_id", "lower(substring(text, 1, 32)) as title_key")
    lk = linkage_stream(
        spark.readStream.schema("doc_id long, text string").parquet(doc_replay)
        .selectExpr("doc_id", "lower(substring(text, 1, 32)) as title_key"),
        keyed.where(F.col("doc_id") < 250),
    )
    q7 = lk.writeStream.format("memory").queryName("demo_lk").outputMode("append").start()
    try:
        q7.processAllAvailable()
        n = spark.sql("select count(distinct (id_new, id_corpus)) c from demo_lk").collect()[0].c
        print("fuzzy-title matches of streamed docs vs stored corpus:", n)
    finally:
        q7.stop()

    emb = spark.read.parquet("%s/embeddings.parquet" % sf_dir)
    # baseline profile: per-dimension exact moments of the µ-units
    m = F.round(F.col("v").cast("double") * 1e6, 0).cast("long")
    base = (
        emb.where(F.col("vec_id") % 2 == 0)
        .select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(m.cast("decimal(38,0)")).cast("double").alias("s"),
            F.sum(m.cast("decimal(38,0)") * m).cast("double").alias("ss"),
        )
    )
    emb_dir = os.path.join(tempfile.mkdtemp(), "emb")
    (
        emb.where(F.col("vec_id") % 2 == 1)
        .selectExpr("timestamp '2024-01-01 00:05:00' as ts", "cast(embedding as array<double>) as embedding")
        .coalesce(1)
        .write.parquet(emb_dir)
    )
    dr = drift_stream(
        spark.readStream.schema("ts timestamp, embedding array<double>").parquet(emb_dir),
        base,
    )
    q8 = dr.writeStream.format("memory").queryName("demo_drift").outputMode("update").start()
    try:
        q8.processAllAvailable()
        drifted = spark.sql("select count(*) c from demo_drift where is_drifted = 1").collect()[0].c
        print("dimensions flagged drifted in the live window:", drifted)
    finally:
        q8.stop()


if __name__ == "__main__":
    main()
