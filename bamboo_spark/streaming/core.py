"""Streaming operators: flatten-on-stream, watermark windowed aggs.

Scale notes: stateless flatten streams shuffle-free; the windowed agg
shuffles on (window, keys) with state in the state store — size
watermarks to bound state, and partition the source by key to keep
state access local.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, functions as F

from bamboo_spark.clusions import ColumnFilter
from bamboo_spark.flatten import FlattenStrategy, JoinType, Part, build, plan
from bamboo_spark.naming import NameStrategy


def flatten_stream(
    sdf: DataFrame,
    flatten_strategy: FlattenStrategy = FlattenStrategy.FLATTEN_ALL,
    name_strategy: NameStrategy = NameStrategy.CONCATENATE_CONFLICTS,
    join: JoinType = JoinType.INNER,
    include: Any = None,
    exclude: Any = None,
) -> DataFrame:
    """Apply the bamboo flatten planner to a *streaming* DataFrame.

    Identical plan generation as Dataset.flatten — explode/select are
    stateless, so the same physical operators run per micro-batch
    (MULTI_INDEX naming is excluded: no pandas boundary on a stream).
    """
    if name_strategy is NameStrategy.MULTI_INDEX:
        raise ValueError("MULTI_INDEX naming requires a pandas sink; streams use flat names")
    from pyspark.sql import types as T

    fltr = ColumnFilter.parse(include, exclude)
    implicit_root = fltr.include.explicit or fltr.include.is_nothing()
    root_type = T.StructType(sdf.schema.fields)
    part = plan(root_type, fltr, flatten_strategy, implicit_root)
    out, _labels = build(sdf, root_type, part, join, name_strategy)
    return out


def sessionize_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization with
    ``applyInPandasWithState`` — the streaming twin of the batch
    ``q_sessionize`` (lag/gap/cumsum window chain).

    State per user = the open session (start_us, last_us, n_events),
    kept in the state store as three longs. Each micro-batch sorts its
    events, splits on > ``gap_ms`` silences (closing intra-batch
    sessions immediately), and arms an *event-time timeout* at
    ``last_ts + gap``: when the watermark passes it, the open session
    closes and is appended — so results are driven by event time, not
    wall clock. Session arithmetic runs at MICROsecond precision — the
    same integer µs math as the batch twin ``q_sessionize``, so a gap a
    few hundred µs past the threshold splits identically in both (ms
    flooring here would merge it; the timeout clock alone is ms-grained,
    per the state API).

    Scale notes: state is O(active users) × 24 bytes; the shuffle is
    the groupBy(user) hash partitioning that any per-key stateful op
    needs, and the watermark bounds both state retention and late-data
    reprocessing.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_ms * 1000
    out_schema = (
        "%s bigint, session_start timestamp, session_end timestamp, n_events bigint"
        % user_col
    )
    state_schema = "start_us long, last_us long, n long"

    def to_row(uid: int, start_us: int, end_us: int, n: int) -> dict:
        return {
            user_col: uid,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(end_us, unit="us"),
            "n_events": n,
        }

    def fn(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame([to_row(uid, start_us, last_us, n)])
            return
        ts = []
        for pdf in pdfs:
            ts.append(pdf[ts_col].astype("int64") // 1_000)  # ns→µs
        ts = pd.concat(ts).sort_values().to_numpy()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = int(ts[0]), int(ts[0]) - 1, 0
        closed = []
        for t in ts:
            t = int(t)
            if n and t - last_us > gap_us:
                closed.append(to_row(uid, start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        # timeout clock is ms-grained: round UP so it strictly exceeds
        # last event + gap (firing early would close a live session)
        state.setTimeoutTimestamp(-(-(last_us + gap_us) // 1000) + 1)
        if closed:
            yield pd.DataFrame(closed)

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_tws(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap sessionization on ``transformWithStateInPandas`` — the
    Spark 4 arbitrary-stateful API (typed value state + named timers in
    the RocksDB state store) — same semantics as ``sessionize_stream``
    (µs gap math, event-time close; the parity test drives both against
    the batch twin). Differences from applyInPandasWithState: state is
    schema-typed and composable (value/list/map), timers are explicit
    and per-key cancelable, and the state store must be RocksDB
    (``spark.sql.streaming.stateStore.providerClass``). Runtime
    requirement: the Python worker serializes state over protobuf, so a
    real ``google.protobuf`` install is needed (the parity test skips
    where only a namespace stub exists)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_ms * 1000
    out_schema = (
        "%s bigint, session_start timestamp, session_end timestamp, n_events bigint"
        % user_col
    )

    def to_row(uid: int, start_us: int, end_us: int, n: int) -> dict:
        return {
            user_col: uid,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(end_us, unit="us"),
            "n_events": n,
        }

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.session = handle.getValueState(
                "session", "start_us long, last_us long, n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            uid = key[0]
            ts = pd.concat(
                [pdf[ts_col].astype("int64") // 1_000 for pdf in rows]
            ).sort_values().to_numpy()
            if self.session.exists():
                start_us, last_us, n = self.session.get()
            else:
                start_us, last_us, n = int(ts[0]), int(ts[0]) - 1, 0
            closed = []
            for t in ts:
                t = int(t)
                if n and t - last_us > gap_us:
                    closed.append(to_row(uid, start_us, last_us, n))
                    start_us, n = t, 0
                last_us = max(last_us, t)
                n += 1
            self.session.update((start_us, last_us, n))
            # one live timer per key: cancel the stale one, arm the new
            for old in self.handle.listTimers():
                self.handle.deleteTimer(old)
            self.handle.registerTimer(-(-(last_us + gap_us) // 1000) + 1)
            if closed:
                yield pd.DataFrame(closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self.session.exists():
                start_us, last_us, n = self.session.get()
                self.session.clear()
                yield pd.DataFrame([to_row(key[0], start_us, last_us, n)])

        def close(self) -> None:
            pass

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .transformWithStateInPandas(
            SessionProcessor(), out_schema, "append", "eventTime"
        )
    )


def dedup_stream(
    sdf: DataFrame,
    key_cols,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key already appeared
    within the watermark horizon (``dropDuplicatesWithinWatermark``) —
    the streaming twin of the batch ``dedup_exact``. State is one entry
    per distinct key seen inside the horizon; the watermark bounds it,
    which is what makes exact dedup feasible on an unbounded stream (a
    global-history dedup would grow state forever — route that case
    through a batch backfill join instead)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def dedup_stream_simhash(
    sdf: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming near-exact dedup: per-row SimHash (a stateless
    projection — see dedup.simhash_expr_cols) + drop rows whose 60-bit
    signature already appeared inside the watermark horizon. Catches
    token-majority-identical documents (reorderings, small
    insertions) that byte-exact streaming dedup misses; state is one
    entry per distinct signature in the horizon. Hamming-distance > 0
    matching needs banded candidate generation + verify — a chained
    multi-stateful pipeline, deliberately left to the batch operators."""
    from bamboo_spark.operators.dedup import simhash_expr_cols

    hashed = simhash_expr_cols(sdf, text_col)
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def contamination_stream(
    sdf: DataFrame,
    eval_grams: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Streaming ingestion guard: flag documents that share any k-gram
    with a benchmark/eval set — the STREAM-STATIC join shape. The eval
    n-gram index is a static (benchmark-sized) frame that broadcasts
    into every micro-batch; the stream never shuffles for the join and
    needs no state at all, so this runs at scan speed on an unbounded
    ingest. Emits one row per contaminated (doc, distinct overlapping
    grams) with the overlap count — append-safe (per-doc aggregation
    within a micro-batch only; a doc split across batches would need a
    watermark agg, which ingestion pipelines avoid by batching whole
    docs).

    ``eval_grams``: one column ``s`` of distinct eval-set k-grams
    (build once with the batch ``q_contamination`` machinery). Output
    is one row per (doc, overlapping gram) — fully stateless, so it
    stays append-mode-safe; per-doc overlap counts are a trivial
    downstream rollup (update-mode agg or ``foreachBatch``), and any
    row at all is the "quarantine this doc" signal an ingest guard
    acts on.
    """
    from bamboo_spark.operators.text import word_shingles_sql

    sh = word_shingles_sql("split(%s, ' ')" % text_col, k)
    exploded = sdf.selectExpr(
        doc_col, "explode(array_distinct(%s)) as s" % sh
    )
    return exploded.join(F.broadcast(eval_grams), "s")


def asof_attribute_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    click_type: str = "click",
    purchase_type: str = "purchase",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming as-of attribution — the streaming twin of the batch
    ``q_events_asof_click``: each purchase pairs with the latest click
    at-or-before it by the same user, emitted as the purchase arrives.

    State per user is ONE long (latest click µs) — bounded by user
    cardinality, not event volume, so no timeout/eviction is needed.
    Each micro-batch sorts its rows by (ts, clicks-before-purchases) —
    the batch twin's tag ordering — so intra-batch as-of semantics are
    exact; across batches the state carries the best-known click, the
    standard streaming-attribution tradeoff for out-of-order arrivals
    (a click that arrives after a purchase already emitted does not
    retract it). In-order replay reproduces the batch result
    row-for-row (tests/test_streaming.py).

    Scale: the one shuffle is the per-key hash partitioning any
    stateful op needs; state is O(users)×8 bytes.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "{id} bigint, {u} bigint, purchase_us bigint, "
        "last_click_us bigint, gap_sec bigint"
    ).format(id=id_col, u=user_col)
    state_schema = "click_us long"

    def fn(key, pdfs, state):
        uid = key[0]
        frames = [
            pdf[[ts_col, type_col, id_col]]
            for pdf in pdfs
            if len(pdf)
        ]
        if not frames:
            return
        batch = pd.concat(frames)
        us = batch[ts_col].astype("int64") // 1_000  # ns→µs
        tag = (batch[type_col] != click_type).astype("int64")
        batch = pd.DataFrame(
            {"us": us, "tag": tag, "eid": batch[id_col]}
        ).sort_values(["us", "tag"], kind="mergesort")
        last = state.get[0] if state.exists else None
        out = []
        for r_us, r_tag, r_eid in batch.itertuples(index=False):
            if r_tag == 0:
                last = int(r_us) if last is None else max(last, int(r_us))
            else:
                out.append(
                    {
                        id_col: int(r_eid),
                        user_col: uid,
                        "purchase_us": int(r_us),
                        "last_click_us": last,
                        "gap_sec": None
                        if last is None
                        else (int(r_us) - last) // 1_000_000,
                    }
                )
        if last is not None:
            state.update((last,))
        if out:
            yield pd.DataFrame(out)

    filtered = sdf.where(
        (F.col(type_col) == click_type) | (F.col(type_col) == purchase_type)
    )
    return (
        filtered.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def minhash_pairs_stream(
    sdf: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    threshold: float = 0.7,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    k: int = 3,
    horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming near-dup PAIRS: banded MinHash candidate generation
    within the watermark horizon + exact Jaccard verify — the streaming
    twin of ``dedup.minhash_lsh_pairs`` (same shingling, same two-base
    linear signature lanes, same band hashing, same round-6 verify, so
    stream replay matches the batch operator row-for-row when every
    pair is horizon-co-resident).

    Shape: the signature is a stateless per-row projection (the batch
    explode+groupBy-min becomes ``array_min`` over the shingle-hash
    array — a doc arrives whole, so no aggregation state); bands explode
    to (band, band_hash) rows; candidates come from a stream-stream
    self-join on (band, band_hash) with a ±horizon event-time
    constraint; verify recomputes exact Jaccard from the carried
    shingle-hash arrays; band-collision repeats collapse via
    ``dropDuplicatesWithinWatermark`` on (doc_a, doc_b).

    Scale: join state = band rows inside the horizon per side, bounded
    by the watermark and hash-partitioned by (band, band_hash) —
    uniform by LSH construction, no hot keys. Carrying the hs array
    through the band explode multiplies state by num_bands; that is the
    price of verify-without-a-third-join on a stream — size the horizon
    to what near-dup ingestion actually needs (minutes-hours), not the
    corpus lifetime (that's the batch operator's job).
    """
    from bamboo_spark.operators.dedup import _MERSENNE31
    from bamboo_spark.operators.text import word_shingles_sql

    num_bands = num_hashes // rows_per_band
    p = F.lit(_MERSENNE31)
    sh = word_shingles_sql("split(%s, ' ')" % text_col, k)
    base = sdf.select(
        F.col(doc_col).alias("doc"),
        F.col(ts_col).alias("ts_ev"),
        F.expr("array_distinct(%s)" % sh).alias("shingles"),
    ).where(F.size("shingles") > 0)
    hset = base.select(
        "doc",
        "ts_ev",
        F.array_sort(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hs"),
    )
    # two 31-bit base draws per shingle hash, computed ONCE (not per
    # lane — the HOF lambda re-evaluates its body per element, so
    # factoring b1/b2 out is a 2×num_hashes → 2 expression saving)
    bs = F.transform(
        "hs",
        lambda h: F.struct(
            h.bitwiseAND(p).alias("b1"),
            F.shiftrightunsigned(h, 31).bitwiseAND(p).bitwiseOR(F.lit(1)).alias("b2"),
        ),
    )
    lanes = [
        F.array_min(
            F.transform("bs", lambda x: F.pmod(x.b1 + F.lit(i) * x.b2, p))
        ).alias("mh%d" % i)
        for i in range(num_hashes)
    ]
    sig = hset.withColumn("bs", bs).select("doc", "ts_ev", "hs", *lanes)
    bands = sig.select(
        "doc",
        "ts_ev",
        "hs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("mh%d" % (b * rows_per_band + r))
                                for r in range(rows_per_band)
                            ]
                        ).alias("h"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bh"),
    ).select("doc", "ts_ev", "hs", "bh.band", "bh.h")

    a = bands.select(
        F.col("doc").alias("doc_a"),
        F.col("ts_ev").alias("ts_a"),
        F.col("hs").alias("sa"),
        "band",
        "h",
    ).withWatermark("ts_a", horizon)
    b = bands.select(
        F.col("doc").alias("doc_b"),
        F.col("ts_ev").alias("ts_b"),
        F.col("hs").alias("sb"),
        F.col("band").alias("band_b"),
        F.col("h").alias("h_b"),
    ).withWatermark("ts_b", horizon)
    joined = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("h") == F.col("h_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & F.expr(
            "ts_b BETWEEN ts_a - INTERVAL {h} AND ts_a + INTERVAL {h}".format(
                h=horizon
            )
        ),
    )
    jac = F.round(
        F.size(F.array_intersect("sa", "sb")).cast("double")
        / F.size(F.array_union("sa", "sb")).cast("double"),
        6,
    )
    return (
        joined.select(
            "doc_a", "doc_b", F.col("ts_a").alias("ts"), jac.alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
    )


def windowed_counts(
    sdf: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str = None,
) -> DataFrame:
    """Tumbling-window counts with late-data watermark — the streaming
    twin of queries.q_events_hourly (pass ``value_col`` to also emit the
    batch twin's round-2 value sum; tests/test_streaming.py proves
    stream-replay output equals the batch aggregate row-for-row)."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 2).alias("total_value"))
    out = [
        F.col("w.start").alias("window_start"),
        F.col(key_col),
        "n_events",
    ] + (["total_value"] if value_col is not None else [])
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(*aggs)
        .select(*out)
    )


def bloom_guard_stream(
    sdf: DataFrame,
    corpus_keys: DataFrame,
    key,
    bitmap: bytes,
    num_bits: int = 1 << 20,
    num_hashes: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact-key ingest guard — the stream twin of the batch
    ``dedup.bloom_dedup_incremental``. The stored corpus publishes a
    fixed-size Bloom bitmap ONCE (``dedup.bloom_build`` at index-build
    time); every micro-batch hashes its key JVM-side and filters itself
    MAP-SIDE with the broadcast bitmap (stateless vectorized probe, no
    state store, no shuffle), so the clean majority of the stream dies
    in the scan stage. Only Bloom survivors reach the stream-static
    verify join against ``corpus_keys`` (columns ``k``, ``dup_of``),
    which removes every false positive — emitted rows are EXACTLY the
    stream docs whose key exists in the corpus.

    At 100 TB the corpus key table is far too big to broadcast into
    each micro-batch — without the Bloom pre-filter the stream-static
    join would shuffle every micro-batch in full; with it, only the
    ~dup-rate fraction is joined. Append-safe: fully stateless, one
    output row per flagged doc: ``corpus_keys`` is pre-aggregated to
    one ``dup_of`` per key (min, matching the batch twin's
    groupBy(doc_id).min) — the dedupe is static and one-time, so a
    caller passing a raw multi-row key table still gets exactly one
    row per flagged doc.
    """
    from bamboo_spark.operators.dedup import bloom_might_contain

    probe = bloom_might_contain(sdf.sparkSession, bitmap, num_bits, num_hashes)
    corpus = corpus_keys.groupBy("k").agg(F.min("dup_of").alias("dup_of"))
    keyed = sdf.select(F.col(id_col), key.alias("k")).withColumn(
        "h", F.xxhash64("k")
    )
    cand = keyed.where(probe(F.col("h")))
    return cand.join(corpus, "k").select(id_col, "dup_of")


def pack_stream(
    sdf: DataFrame,
    context_len: int = 2048,
    key_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming sequence packer — the stateful twin of the batch
    ``pack.pack_chunks``, for append-only ingestion where documents
    keep arriving and each stream (keyed by ``key_col``) maintains its
    own running token offset. Every arriving doc is assigned its
    start_offset / chunk_id / last_chunk_id / straddles bookkeeping
    exactly as the batch packer would, but incrementally: state per key
    is ONE long (the cumulative token count), so a billion-doc stream
    costs 8 bytes of state store per source.

    Within a micro-batch, docs are processed in ``id_col`` order, so a
    replay of a batch corpus in id order reproduces the batch
    per-source packing bit-for-bit (pinned by the parity test). The
    only shuffle is the per-key hash partitioning every stateful op
    needs; the per-doc arithmetic is integer-exact past 2^53.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "{k} string, {i} long, n_tokens bigint, start_offset bigint, "
        "chunk_id bigint, last_chunk_id bigint, straddles bigint"
    ).format(k=key_col, i=id_col)
    state_schema = "off long"

    def fn(key, pdfs, state):
        src = key[0]
        off = state.get[0] if state.exists else 0
        frames = [pdf[[id_col, text_col]] for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values(id_col)
            n = (
                pdf[text_col].str.split(" ").str.len().astype("int64").to_numpy()
            )
            ends = n.cumsum() + off
            starts = ends - n
            lasts = ends - 1
            state.update((int(ends[-1]),))
            yield pd.DataFrame(
                {
                    key_col: src,
                    id_col: pdf[id_col].to_numpy(),
                    "n_tokens": n,
                    "start_offset": starts,
                    "chunk_id": starts // context_len,
                    "last_chunk_id": lasts // context_len,
                    "straddles": (
                        starts // context_len != lasts // context_len
                    ).astype("int64"),
                }
            )

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def interval_attribution_stream(
    sdf: DataFrame,
    window_ms: int = 600_000,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    click_type: str = "click",
    purchase_type: str = "purchase",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming interval-window attribution — the stateful twin of the
    batch ``q_events_interval_join``: every click is held open for
    ``window_ms`` of EVENT time, accumulates the same user's purchases
    that land inside [click, click + window), and is emitted exactly
    once when the watermark passes its window end (append-safe: the
    count is final at emission).

    State per user = the open clicks only (ids, starts, running count,
    running value — four parallel arrays), bounded by window length ×
    click rate, NOT by history. Purchases attribute in event-time order
    within a micro-batch; a purchase that arrives in an *earlier*
    micro-batch than its click (cross-batch inversion beyond the
    source's ordering) is not retro-attributed — the batch operator is
    the backfill path for that, the stream is the low-latency path.
    Window arithmetic is integer µs, identical to the batch twin.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bamboo_spark.operators._num import round_half_away

    win_us = window_ms * 1000
    out_schema = (
        "{i} long, {u} long, n_purchases bigint, purchase_value double"
    ).format(i=id_col, u=user_col)
    state_schema = (
        "ids array<long>, cs array<long>, ns array<long>, vs array<double>"
    )

    def _round2(x: float) -> float:
        return round_half_away(x, 2)

    def close_expired(uid, opens, wm_us):
        ids, cs, ns, vs = opens
        closed, keep = [], ([], [], [], [])
        for i in range(len(ids)):
            if cs[i] + win_us <= wm_us:
                closed.append(
                    {
                        id_col: ids[i],
                        user_col: uid,
                        "n_purchases": ns[i],
                        "purchase_value": _round2(vs[i]),
                    }
                )
            else:
                keep[0].append(ids[i])
                keep[1].append(cs[i])
                keep[2].append(ns[i])
                keep[3].append(vs[i])
        return closed, keep

    def fn(key, pdfs, state):
        uid = key[0]
        opens = (
            tuple(list(x) for x in state.get) if state.exists else ([], [], [], [])
        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            frames = [pdf for pdf in pdfs if len(pdf)]
            if frames:
                pdf = pd.concat(frames)
                import numpy as np

                us = (pdf[ts_col].astype("int64") // 1_000).to_numpy()
                types = pdf[type_col].to_numpy()
                # event-time order; clicks before purchases at equal ts
                # (the batch twin's p_us >= c_us counts the tie)
                order = np.lexsort(((types != click_type).astype(int), us))
                evids = pdf[id_col].to_numpy()
                vals = pdf[value_col].to_numpy()
                ids, cs, ns, vs = opens
                for j in order:
                    t = int(us[j])
                    if types[j] == click_type:
                        ids.append(int(evids[j]))
                        cs.append(t)
                        ns.append(0)
                        vs.append(0.0)
                    elif types[j] == purchase_type:
                        for i in range(len(cs)):
                            if cs[i] <= t < cs[i] + win_us:
                                ns[i] += 1
                                vs[i] += float(vals[j])
        closed, keep = close_expired(uid, opens, wm_us)
        if keep[0]:
            state.update(tuple(keep))
            # earliest remaining window end, ms-ceiled strictly past it
            end_us = min(keep[1]) + win_us
            state.setTimeoutTimestamp(-(-end_us // 1000) + 1)
        elif state.exists:
            state.remove()
        if closed:
            yield pd.DataFrame(closed)

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def segment_bloom_guard_stream(
    sdf: DataFrame,
    bitmap: bytes,
    num_bits: int,
    num_hashes: int,
    corpus_digests: DataFrame,
    block_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming paragraph-level ingest guard — the stream twin of the
    batch ``dedup.segment_dedup_incremental``: each arriving doc splits
    into fixed token segments (stateless array expressions — a doc
    arrives whole, so no aggregation state), every segment probes a
    broadcast Bloom of the stored corpus's segment digests MAP-SIDE
    (clean segments die in the scan stage), and only Bloom survivors
    reach the stream-static verify join against ``corpus_digests``
    (column ``bh``), which removes every false positive.

    Emits one row per segment that ALREADY EXISTS in the corpus:
    (doc_id, blk_idx) — exactly the segments the batch operator drops
    (parity-pinned). Fully stateless and append-safe; the consumer
    strips flagged indexes (or routes heavily-flagged docs to review).
    At 100 TB the corpus digest table is far too big to broadcast every
    micro-batch; the Bloom pre-filter keeps the verify join traffic at
    the true-duplicate rate.
    """
    from bamboo_spark.operators.dedup import _segment_blocks, bloom_might_contain

    probe = bloom_might_contain(sdf.sparkSession, bitmap, num_bits, num_hashes)
    blocks = _segment_blocks(
        sdf.select(id_col, text_col), block_tokens, text_col, id_col
    )
    cand = blocks.withColumn("h", F.xxhash64("bh")).where(probe(F.col("h")))
    corpus = corpus_digests.select("bh").distinct()
    return cand.join(corpus, "bh").select(id_col, "blk_idx")


def funnel_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    stages: tuple = ("view", "click", "purchase"),
    horizon_ms: int = 60 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ordered funnel — the stateful twin of the batch
    ``q_events_funnel``: per user, first ``stages[0]``, first
    ``stages[1]`` strictly after it, first ``stages[2]`` strictly after
    that. State per user is three longs (µs timestamps, 0 = not yet
    reached); a user's funnel row is emitted exactly once when the
    watermark passes ``horizon_ms`` of event-time inactivity, with
    NULLs for unreached stages.

    Exact under per-user event-time-ordered arrival (the µs comparisons
    are the batch twin's strict ``<``); cross-batch inversions resolve
    best-effort on arrival order — the batch operator is the backfill
    for disordered history, the stream is the live dashboard.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    horizon_us = horizon_ms * 1000
    out_schema = "{u} long, v_us long, c_us long, p_us long".format(u=user_col)
    state_schema = "v long, c long, p long, last long"

    def fn(key, pdfs, state):
        uid = key[0]
        v, c, p, last = state.get if state.exists else (0, 0, 0, 0)
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        user_col: uid,
                        "v_us": v or None,
                        "c_us": c or None,
                        "p_us": p or None,
                    }
                ]
            )
            return
        import numpy as np

        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames)
            us = (pdf[ts_col].astype("int64") // 1_000).to_numpy()
            types = pdf[type_col].to_numpy()
            for j in us.argsort(kind="stable"):
                t, ev = int(us[j]), types[j]
                last = max(last, t)
                if ev == stages[0] and v == 0:
                    v = t
                elif ev == stages[1] and c == 0 and v and t > v:
                    c = t
                elif ev == stages[2] and p == 0 and c and t > c:
                    p = t
        state.update((v, c, p, last))
        state.setTimeoutTimestamp(-(-(last + horizon_us) // 1000) + 1)

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def profile_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    distinct_col: str = "user_id",
    value_col: str = "value",
    rsd: float = 0.02,
) -> DataFrame:
    """Windowed data-quality monitor on a stream: per tumbling window,
    row count, APPROX distinct keys (HLL++ — the sketch registers are
    max-merged, so the result is insertion-order-independent and a
    stream replay matches the batch aggregate EXACTLY, not just
    approximately), and null counts for the value column — the
    streaming twin of the batch ``table_profile``'s monitoring role.

    State per window is one HLL sketch + two longs, watermark-bounded;
    the agg is map-combined like any windowed count."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct(distinct_col, rsd).alias("approx_keys"),
            F.sum(F.col(value_col).isNull().cast("long")).alias("value_nulls"),
        )
        .select(F.col("w.start").alias("window_start"), "n_rows", "approx_keys", "value_nulls")
    )


def cdc_upsert_stream(
    sdf: DataFrame,
    key_col: str,
    ver_cols,
    payload_cols,
    op_col: str = None,
    delete_op: str = "delete",
) -> DataFrame:
    """Streaming CDC materializer — the streaming twin of the batch
    :func:`bamboo_spark.operators.scale.cdc_apply`: per key, keep the
    highest-versioned change seen so far (last-writer-wins) and emit
    the refreshed winner every micro-batch it changes, with
    ``is_delete=1`` when the winner is a tombstone (downstream sinks
    apply it as a DELETE; the key's state is kept so a stale late
    upsert cannot resurrect the row).

    Contract matches the batch twin: ``ver_cols`` are NUMERIC columns
    whose tuple orders the changes totally per key (at-least-once
    duplicates are harmless; conflicting payloads at one version are
    undefined). State per key is one (version, op, payload) tuple — no
    timeout needed, state is bounded by key cardinality like any
    materialized table. In-order replay of a change log reproduces
    ``cdc_apply`` on the same changes exactly
    (tests/test_streaming.py).

    Scale: the single shuffle is the key-hash exchange every stateful
    op needs; per batch each key does an O(rows) argmax in Arrow-batch
    pandas, not a sort of its full history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    vers = [ver_cols] if isinstance(ver_cols, str) else list(ver_cols)
    pays = [payload_cols] if isinstance(payload_cols, str) else list(payload_cols)
    fields = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    out_schema = ", ".join(
        ["%s %s" % (key_col, fields[key_col])]
        + ["%s %s" % (c, fields[c]) for c in vers + pays]
        + ["is_delete int"]
    )
    state_schema = ", ".join(
        ["%s %s" % (c, fields[c]) for c in vers + pays] + ["_op string"]
    )
    n_vers = len(vers)

    def fn(key, pdfs, state):
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        batch = pd.concat(frames)
        batch = batch.sort_values(vers, kind="mergesort")
        top = batch.iloc[-1]
        new_ver = tuple(float(top[c]) for c in vers)
        if state.exists:
            cur = state.get
            cur_ver = tuple(float(v) for v in cur[:n_vers])
            if new_ver <= cur_ver:
                return  # batch is entirely stale; winner unchanged
        op = (
            str(top[op_col])
            if op_col is not None and top[op_col] is not None
            else "upsert"
        )
        vals = [top[c].item() if hasattr(top[c], "item") else top[c] for c in vers]
        pay = [
            None
            if pd.isna(top[c])
            else (top[c].item() if hasattr(top[c], "item") else top[c])
            for c in pays
        ]
        state.update(tuple(vals + pay + [op]))
        row = {key_col: key[0]}
        for c, v in zip(vers, vals):
            row[c] = v
        for c, v in zip(pays, pay):
            row[c] = v
        row["is_delete"] = 1 if op == delete_op else 0
        yield pd.DataFrame([row])

    return sdf.groupBy(key_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def transitions_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    idle_ttl_ms: Optional[int] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming Markov-transition feed — the streaming twin of the
    batch ``q_event_transitions``: every event emits its (prev_type,
    event_type) edge as it arrives, with the previous event carried in
    per-user state across micro-batches. Downstream, a windowed count
    over the emitted edges IS the live transition matrix.

    State per user is one (µs, event_id, type) triple — bounded by user
    cardinality. Each micro-batch sorts its rows by (ts, event_id) (the
    batch twin's lag ordering), so in-order replay reproduces the batch
    window's edge list row-for-row (tests/test_streaming.py); a
    late-arriving event contributes its edge against the best-known
    predecessor, the standard streaming tradeoff.

    ``idle_ttl_ms`` (default OFF, preserving exact batch parity): a
    CDC-style materializer must remember every key forever, but a
    transition feed over churning users doesn't — a user idle past the
    watermark plus the TTL has a last-event triple that will, at most,
    contribute one boundary edge if they ever return. With the TTL set,
    EventTimeTimeout evicts idle users' state (the returning user's
    first event then emits no edge — a session-reset semantics), so an
    unbounded user space cannot grow the store.

    Scale: one key-hash shuffle (any stateful op's floor); per batch
    each user does an O(rows) linear pass in Arrow-batch pandas."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "{u} bigint, {i} bigint, prev_type string, {t} string".format(
            u=user_col, i=id_col, t=type_col
        )
    )
    state_schema = "us long, eid long, etype string"
    ttl = idle_ttl_ms

    def fn(key, pdfs, state):
        if ttl is not None and state.hasTimedOut:
            state.remove()
            return
        uid = key[0]
        frames = [p[[ts_col, id_col, type_col]] for p in pdfs if len(p)]
        if not frames:
            return
        batch = pd.concat(frames)
        us = batch[ts_col].astype("int64") // 1_000  # ns -> µs
        batch = pd.DataFrame(
            {"us": us, "eid": batch[id_col], "etype": batch[type_col]}
        ).sort_values(["us", "eid"], kind="mergesort")
        prev = state.get[2] if state.exists else None
        out = []
        last = None
        for r_us, r_eid, r_et in batch.itertuples(index=False):
            if prev is not None:
                out.append(
                    {
                        user_col: uid,
                        id_col: int(r_eid),
                        "prev_type": prev,
                        type_col: r_et,
                    }
                )
            prev = r_et
            last = (int(r_us), int(r_eid), r_et)
        if last is not None:
            state.update(last)
            if ttl is not None:
                # evict once the watermark passes last-seen + TTL
                state.setTimeoutTimestamp(
                    max(state.getCurrentWatermarkMs(), last[0] // 1000) + ttl
                )
        if out:
            yield pd.DataFrame(out)

    src = sdf if ttl is None else sdf.withWatermark(ts_col, watermark)
    return src.groupBy(user_col).applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout
        if ttl is None
        else GroupStateTimeout.EventTimeTimeout,
    )


def linkage_stream(
    sdf: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "title_key",
    max_dist: int = 3,
    ts_col: str = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming fuzzy-key ingest guard — the streaming twin of the
    batch :func:`bamboo_spark.operators.linkage.edit_distance_join`:
    each arriving record probes the STATIC corpus segment index
    (PassJoin pigeonholing) and emits (id_new, id_corpus, dist) for
    every stored record within ``max_dist`` edits.

    Stream-static shape: the corpus contributes only its segment index
    and its key table, both broadcast into every micro-batch; the
    stream never shuffles for the join and needs NO state, so this runs
    at scan speed on an unbounded ingest. A pair sharing several
    matching segments emits once per shared segment (candidate
    multiplicity); pass ``ts_col`` to collapse to exactly one row per
    pair inside the watermark horizon
    (``dropDuplicatesWithinWatermark`` — the only stateful piece,
    bounded by the horizon). Corpus keys shorter than d+1 chars are
    probed through the same length-bucket block the batch operator
    uses, also stream-static.

    In-order replay matches the batch join's pair set exactly
    (tests/test_streaming.py)."""
    from bamboo_spark.operators.linkage import _keys, _probes, _segments

    d = max_dist
    corpus_keys = corpus_df.select(
        F.col(id_col).alias("_id"),
        F.col(key_col).cast("string").alias("_key"),
        F.length(key_col).cast("int").alias("_len"),
    ).where(F.col(key_col).isNotNull())
    segs = _segments(corpus_keys, d)
    kb = corpus_keys.select(
        F.col("_id").alias("_idb"), F.col("_key").alias("_kb")
    )

    carry = [ts_col] if ts_col is not None else []
    new_keys = sdf.select(
        *carry,
        F.col(id_col).alias("_id"),
        F.col(key_col).cast("string").alias("_key"),
        F.length(key_col).cast("int").alias("_len"),
    ).where(F.col(key_col).isNotNull())
    # inline probe build (same exprs as the batch operator) with the
    # optional event-time column carried through
    probes = _probes_with_carry(new_keys, d, carry)

    seg_cands = probes.join(F.broadcast(segs), ["_l", "_i", "_sub"]).select(
        *carry,
        F.col("_idp").alias("id_new"),
        F.col("_idg").alias("_idb"),
        F.col("_kp").alias("_ka"),
    )
    corpus_shorts = corpus_keys.where(F.col("_len") < d + 1).select(
        F.col("_id").alias("_idb"), F.col("_len").alias("_lv")
    )
    short_cands = (
        new_keys.where(F.col("_len") <= 2 * d)
        .select(
            *carry,
            F.col("_id").alias("id_new"),
            F.col("_key").alias("_ka"),
            F.explode(
                F.sequence(
                    F.greatest(F.col("_len") - d, F.lit(0)),
                    F.col("_len") + d,
                )
            ).alias("_lv"),
        )
        .join(F.broadcast(corpus_shorts), "_lv")
        .select(*carry, "id_new", "_idb", "_ka")
    )
    out = (
        seg_cands.unionByName(short_cands)
        .join(F.broadcast(kb), "_idb")
        .withColumn("_dist", F.levenshtein("_ka", "_kb", d))
        .where(F.col("_dist") >= 0)
        .select(
            *carry,
            "id_new",
            F.col("_idb").alias("id_corpus"),
            F.col("_dist").cast("int").alias("dist"),
        )
    )
    if ts_col is not None:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["id_new", "id_corpus"]
        )
    return out


def _probes_with_carry(keys: DataFrame, d: int, carry) -> DataFrame:
    """The batch probe grid (linkage._probes) with extra carried
    columns and the probe key retained for the verify step."""
    from bamboo_spark.operators.linkage import _seg_len, _seg_pos

    k = d + 1
    probe_expr = (
        "filter(flatten(flatten("
        "transform(sequence(_len - %(d)d, _len + %(d)d), l -> "
        " transform(sequence(1, %(k)d), i -> "
        "  transform(sequence((%(pos)s) - %(d)d, (%(pos)s) + %(d)d), st -> "
        "   named_struct('_l', l, '_i', i, '_st', st, '_sl', %(slen)s)"
        "))))), "
        "x -> x._l >= %(k)d and x._st >= 1 and x._sl >= 1 "
        "and x._st + x._sl - 1 <= _len)"
    ) % {
        "d": d,
        "k": k,
        "pos": _seg_pos("l", "i", k),
        "slen": _seg_len("l", "i", k),
    }
    return keys.select(
        *carry,
        F.col("_id").alias("_idp"),
        F.col("_key").alias("_kp"),
        F.explode(F.expr(probe_expr)).alias("_e"),
    ).select(
        *carry,
        "_idp",
        "_kp",
        "_e._l",
        "_e._i",
        F.expr("substring(_kp, _e._st, _e._sl)").alias("_sub"),
    )


def drift_stream(
    sdf: DataFrame,
    baseline: DataFrame,
    ts_col: str = "ts",
    vec_col: str = "embedding",
    window: str = "10 minutes",
    watermark: str = "1 hour",
    z_alert: float = 3.0,
) -> DataFrame:
    """Streaming embedding-drift monitor — the streaming twin of the
    batch ``q_embedding_drift``: per event-time window and embedding
    DIMENSION, a Welch z of the window's mean against a static baseline
    profile: one (dim, n, s, ss) row per dimension, the count, sum and
    sum of squares of ``round(v * 1e6)`` summed as decimal(38,0).
    The encoder-regression alarm, live at ingest: a silently
    re-versioned encoder trips ``is_drifted`` dimensions within one
    window of arriving.

    The window aggregate carries the SAME exact integer-µ moments as
    the batch twin (decimal sums — order/partitioning independent), so
    a replayed window reproduces the batch z bit-for-bit
    (tests/test_streaming.py). The baseline is a dim-sized broadcast;
    state is one moment triple per open (window, dim) — watermark
    bounded."""
    exp = sdf.select(
        F.col(ts_col),
        F.posexplode(vec_col).alias("dim", "v"),
    ).select(
        ts_col,
        "dim",
        F.round(F.col("v").cast("double") * 1e6, 0).cast("long").alias("m"),
    )
    prof = (
        exp.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "dim")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nb"),
            F.sum(F.col("m").cast("decimal(38,0)")).cast("double").alias("sb"),
            F.sum(F.col("m").cast("decimal(38,0)") * F.col("m"))
            .cast("double")
            .alias("ssb"),
        )
    )
    base = baseline.select(
        "dim",
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    mean_a = F.col("sa") / 1e6 / F.col("na")
    mean_b = F.col("sb") / 1e6 / F.col("nb")
    var_a = F.greatest(
        F.col("ssa") / 1e12 / F.col("na") - mean_a * mean_a, F.lit(0.0)
    )
    var_b = F.greatest(
        F.col("ssb") / 1e12 / F.col("nb") - mean_b * mean_b, F.lit(0.0)
    )
    se = F.sqrt(var_a / F.col("na") + var_b / F.col("nb"))
    z = F.when(se <= 0.0, F.lit(0.0)).otherwise(
        F.round((mean_b - mean_a) / se, 6)
    )
    return prof.join(F.broadcast(base), "dim").select(
        F.col("w.start").alias("window_start"),
        F.col("dim").cast("int").alias("dim"),
        F.round(mean_a, 6).alias("mean_base"),
        F.round(mean_b, 6).alias("mean_window"),
        z.alias("z"),
        (F.abs(z) > z_alert).cast("int").alias("is_drifted"),
    )


def bm25_stream(
    sdf: DataFrame,
    corpus_df: DataFrame,
    terms,
    doc_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Streaming BM25 — score each arriving document against a FROZEN
    corpus model (df/N/avgdl computed once from the static corpus):
    the ingest-time relevance tagger ("does this doc look like the
    target domain?") with zero state.

    Per-term frequencies come from a codegen filter over the token
    array (terms are a literal handful), so the whole operator is a
    stateless scan-speed projection — no explode, no per-doc aggregate,
    no watermark. The model's idf/avgdl bake in as literals (the same
    broadcast-as-literal pattern as the LSH hyperplanes). In-order
    replay of docs equals the batch formula with the same frozen model
    exactly (tests/test_streaming.py)."""
    tl = list(terms)
    stats = corpus_df.select(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.size(F.split(text_col, " "))).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = float(stats.n), float(stats.avgdl)
    toks = corpus_df.select(
        F.col(doc_col),
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("t"),
    )
    dfreq = {
        r.t: float(r.c)
        for r in toks.where(F.col("t").isin(tl))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    import math as _math

    out = sdf.withColumn("_dl", F.size(F.split(text_col, " ")))
    score = F.lit(0.0)
    nmatch = F.lit(0)
    for t in tl:
        df_t = dfreq.get(t, 0.0)
        idf = round(_math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)), 9)
        tf = F.size(
            F.filter(
                F.split(text_col, " "), lambda x: x == F.lit(t)
            )
        ).cast("double")
        w = F.round(
            F.lit(idf)
            * (tf * (k1 + 1.0))
            / (tf + k1 * (1.0 - b + b * F.col("_dl") / F.lit(avgdl))),
            9,
        )
        score = score + F.when(tf > 0, w).otherwise(F.lit(0.0))
        nmatch = nmatch + (tf > 0).cast("int")
    return out.select(
        doc_col,
        nmatch.cast("bigint").alias("n_terms"),
        F.round(score, 6).alias("bm25"),
    ).where(F.col("n_terms") > 0)


def cms_stream(
    sdf: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Streaming Count-Min sketch — the canonical streaming-sketch
    shape: an UNBOUNDED item stream folds into a BOUNDED depth×width
    integer grid (state is at most depth*width counter cells, ever —
    no watermark needed because the state can't grow). The grid uses
    the exact hash family of the batch ``sketch.cms_build``, so a
    stream replay of a corpus equals the batch sketch cell-for-cell
    (complete/update output), and a snapshot of this stream's output
    merges with any batch-built sketch by cell-wise sum — the
    continuous-ingest frequency monitor over yesterday's stored grid.

    Stateless per-row work (explode to depth rows + one md5 bucket
    expression, JVM-side) feeding one streaming aggregate."""
    from bamboo_spark.operators.sketch import _bucket_expr

    return (
        sdf.select(F.col(item_col).cast("string").alias("_it"))
        .where(F.col("_it").isNotNull() & (F.col("_it") != ""))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias(
                "hash_row"
            ),
            "_it",
        )
        .withColumn(
            "bucket", F.expr(_bucket_expr("_it", "hash_row", width)).cast("int")
        )
        .groupBy("hash_row", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def hll_stream(
    sdf: DataFrame,
    item_col: str,
    p: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog registers — continuous distinct-count
    state: the unbounded stream folds into at most 2^p (idx, max rho)
    register cells (state cannot grow past that; no watermark needed).
    Same hash family as the batch ``sketch.hll_build``, so a stream
    replay equals the batch registers cell-for-cell and a snapshot
    merges with stored batch registers by cell-wise max —
    "distinct users ever" maintained incrementally, without a distinct
    over history."""
    from bamboo_spark.operators.sketch import _hll_parts

    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    idx, rho = _hll_parts("_it", p)
    return (
        sdf.select(F.col(item_col).cast("string").alias("_it"))
        .where(F.col("_it").isNotNull())
        .select(F.expr(idx).alias("idx"), F.expr(rho).alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").cast("int").alias("r"))
    )


def psi_stream(
    sdf: DataFrame,
    baseline: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    bins: int = 10,
    alert: float = 0.2,
) -> DataFrame:
    """Streaming Population Stability Index — the scalar twin of
    ``drift_stream`` (and the continuous form of the batch
    ``psi_drift``): per event-time window, PSI of the window's
    ``value_col`` distribution against a STATIC baseline histogram,
    with the standard 0.2 alert flag. The "today's orders are suddenly
    small / docs suddenly short" alarm, live at ingest.

    The baseline profile is metadata-sized by construction: ``bins``
    equi-width integer bin shares computed ONCE from the baseline frame
    (driver-side collect of <= bins rows) and folded into the streaming
    projection as literals. Structured Streaming allows only one
    aggregation per query, so the per-bin window counts are ``bins``
    conditional sums inside ONE windowed aggregate; the PSI expression
    then runs per result row. Laplace smoothing with k = ``bins`` on
    both sides (the batch formula with a fixed bin universe). State per
    window = bins + 1 longs, watermark-bounded."""
    from pyspark.sql import functions as FN

    row = baseline.agg(
        FN.min(value_col).alias("lo"), FN.max(value_col).alias("hi")
    ).collect()[0]
    if row["lo"] is None:  # min over zero rows → NULL
        raise ValueError(
            "psi_stream: baseline is empty — a PSI reference histogram "
            "needs at least one baseline row"
        )
    try:
        lo, hi = int(row["lo"]), int(row["hi"])
    except (TypeError, ValueError):
        raise ValueError(
            "psi_stream: baseline %r must hold integer-castable values, "
            "got min=%r max=%r" % (value_col, row["lo"], row["hi"])
        )
    width = (hi - lo) // bins + 1
    bexpr = "cast((cast(%s as bigint) - %d) div %d as int)" % (
        value_col,
        lo,
        width,
    )
    # clamp stream values outside the baseline range into edge bins
    bclamped = "greatest(0, least(%d, %s))" % (bins - 1, bexpr)
    base_counts = (
        baseline.select(FN.expr(bexpr).alias("b"))
        .groupBy("b")
        .agg(FN.count(FN.lit(1)).alias("c"))
        .collect()
    )
    n_base = sum(r["c"] for r in base_counts)
    by_bin = {r["b"]: r["c"] for r in base_counts}
    q = [
        (by_bin.get(i, 0) + 1) / float(n_base + bins) for i in range(bins)
    ]
    agg = (
        sdf.withWatermark(ts_col, watermark)
        .select(FN.col(ts_col), FN.expr(bclamped).alias("_b"))
        .groupBy(FN.window(FN.col(ts_col), window).alias("w"))
        .agg(
            FN.count(FN.lit(1)).alias("n_rows"),
            *[
                FN.sum(FN.when(FN.col("_b") == i, 1).otherwise(0)).alias(
                    "_c%d" % i
                )
                for i in range(bins)
            ],
        )
    )
    terms = [
        "(((_c{i} + 1) / cast(n_rows + {k} as double)) - {q})"
        " * ln(((_c{i} + 1) / cast(n_rows + {k} as double)) / {q})".format(
            i=i, k=bins, q=repr(q[i])
        )
        for i in range(bins)
    ]
    psi = "round(%s, 6)" % " + ".join(terms)
    return agg.select(
        FN.col("w.start").alias("window_start"),
        FN.col("n_rows").cast("bigint").alias("n_rows"),
        FN.expr(psi).alias("psi"),
        (FN.expr(psi) > FN.lit(alert)).alias("is_drifted"),
    )


def sample_stream(
    sdf: DataFrame,
    id_col: str,
    k: int = 1024,
    payload_col: str | None = None,
    candidate_cut: int | None = None,
) -> DataFrame:
    """Streaming bottom-k hash-rank sample — the continuous twin of
    ``sketch.hash_sample``: the k rows with the smallest md5(id) rank
    seen SO FAR, emitted as a full snapshot each micro-batch (update
    mode). Because membership is a pure function of the id set, a
    stream replay of a corpus ends on EXACTLY the batch sample, and the
    snapshot merges with stored batch samples (bottom-k of the union)
    — the standing uniform sample a quantile/
    debug monitor reads without ever rescanning the stream.

    State is k (rank, id[, payload]) triples — bounded by construction,
    no watermark needed (the cms_stream/hll_stream contract). All
    CANDIDATE rows funnel through one stateful key; at high event
    rates set ``candidate_cut`` — rows with rank >= the cut are
    dropped map-side (stateless, before any shuffle) and the state
    task sees only the expected ``cut/2^60`` fraction of the stream.
    The bottom-k is UNCHANGED as long as at least k stream rows ever
    rank under the cut: cut ~ k·S/expected_rows·2^60 with safety S
    (e.g. 16) makes the miss probability e^-Θ(S·k) — and a too-tight
    cut fails VISIBLY (fewer than k rows in the snapshot), never
    silently wrong.

    ``id_col`` (bigint, unique) and the optional ``payload_col``
    (bigint) are the emitted columns plus the ``_rk`` rank."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from bamboo_spark.operators.text import md5_int60_sql

    rank = md5_int60_sql("concat('smp:', cast(%s as string))" % id_col)
    cols = [id_col] + ([payload_col] if payload_col else [])
    src = sdf.select(
        *[F.col(c).cast("long") for c in cols],
        F.expr(rank).alias("_rk"),
        F.lit(0).alias("_g"),
    )
    if candidate_cut is not None:
        src = src.where(F.col("_rk") < int(candidate_cut))
    out_schema = ", ".join(["%s bigint" % c for c in cols] + ["_rk bigint"])
    state_schema = "rks array<bigint>, ids array<bigint>" + (
        ", pls array<bigint>" if payload_col else ""
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:  # pragma: no cover — NoTimeout
            state.remove()
            return
        frames = [pdf[cols + ["_rk"]] for pdf in pdfs]
        if state.exists:
            prev = state.get
            prev_pdf = pd.DataFrame(
                {
                    id_col: list(prev[1]),
                    "_rk": list(prev[0]),
                    **(
                        {payload_col: list(prev[2])} if payload_col else {}
                    ),
                }
            )[cols + ["_rk"]]
            frames.append(prev_pdf)
        allr = (
            pd.concat(frames)
            .sort_values(["_rk", id_col])
            .head(k)
            .reset_index(drop=True)
        )
        new_state = [
            [int(x) for x in allr["_rk"]],
            [int(x) for x in allr[id_col]],
        ]
        if payload_col:
            new_state.append([int(x) for x in allr[payload_col]])
        state.update(tuple(new_state))
        yield allr

    return src.groupBy("_g").applyInPandasWithState(
        fn,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def dq_stream(
    sdf: DataFrame,
    rules,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming data-quality monitor — the row-level half of the batch
    ``dq.dq_report`` evaluated per event-time window: every rule's 0/1
    indicator folds into ONE windowed aggregate (adding a rule never
    adds state), and each finished window emits the per-rule violation
    report. The contract a continuous ingest enforces instead of the
    batch publish gate; set-level rules (unique/references) stay batch
    -side where the full key domain lives.

    State per window = one count per rule + the row count — bounded by
    the watermark like any windowed agg."""
    from pyspark.sql import functions as FN

    row_rules = [r for r in rules if r.indicator is not None]
    if not row_rules:
        raise ValueError("dq_stream: needs at least one row-level rule")
    agg = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(FN.window(FN.col(ts_col), window).alias("w"))
        .agg(
            FN.count(FN.lit(1)).alias("n_rows"),
            *[
                FN.sum(r.indicator).alias("_v%d" % i)
                for i, r in enumerate(row_rules)
            ],
        )
    )
    rows = FN.array(
        *[
            FN.struct(
                FN.lit(r.name).alias("rule"),
                FN.lit(r.kind).alias("kind"),
                FN.col("n_rows").cast("bigint").alias("n_rows"),
                FN.coalesce(FN.col("_v%d" % i), FN.lit(0))
                .cast("bigint")
                .alias("n_violations"),
            )
            for i, r in enumerate(row_rules)
        ]
    )
    return (
        agg.select(FN.col("w.start").alias("window_start"), FN.explode(rows).alias("_r"))
        .select(
            "window_start",
            "_r.rule",
            "_r.kind",
            "_r.n_rows",
            "_r.n_violations",
            (FN.col("_r.n_violations") == 0).cast("int").alias("pass"),
        )
    )


def debounce_stream(
    sdf: DataFrame,
    key_cols,
    ts_col: str = "ts",
    gap_ms: int = 60_000,
    watermark: str = "1 hour",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming telemetry debounce — the stateful twin of the batch
    ``events_debounce``: a row is emitted only if the previous KEPT row
    of the same key is at least ``gap_ms`` older. This is the
    throttle-relative-to-KEPT semantics (a retry storm emits exactly
    one row per gap window), strictly stronger than the batch monitor's
    lag-based flagging — and inexpressible as a window function, which
    is exactly why it gets the ``applyInPandasWithState`` escape hatch.

    State per key = ONE long (last kept µs), watermark-bounded FOR
    REAL: EventTimeTimeout evicts a key's long once the key has been
    idle past the watermark plus one gap (at that point the next event
    is necessarily >= gap_ms newer than the last kept one, so dropping
    the state cannot change what is emitted) — an unbounded key space
    cannot grow the store. Each micro-batch sorts its rows by (µs, id)
    for deterministic intra-batch order, replays the keep rule, and
    updates the single long. Emits (key_cols..., id_col, ts)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    gap_us = gap_ms * 1000
    out_schema = ", ".join(
        ["%s string" % k for k in keys] + ["%s bigint" % id_col, "ts timestamp"]
    )

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows = []
        for pdf in pdfs:
            sub = pdf[[ts_col, id_col]].copy()
            sub["_us"] = sub[ts_col].astype("int64") // 1_000
            rows.append(sub)
        allr = pd.concat(rows).sort_values(["_us", id_col])
        last = state.get[0] if state.exists else None
        kept = []
        for _, r in allr.iterrows():
            us = int(r["_us"])
            if last is None or us - last >= gap_us:
                kept.append(
                    dict(
                        {k: str(v) for k, v in zip(keys, key)},
                        **{
                            id_col: int(r[id_col]),
                            "ts": pd.Timestamp(us, unit="us"),
                        },
                    )
                )
                last = us
        state.update((int(last),))
        # evict once the watermark passes last-kept + gap: rows below
        # the watermark never reach fn, so any event arriving after the
        # eviction is >= gap_ms past the last kept row and fresh state
        # emits it exactly as retained state would
        state.setTimeoutTimestamp(
            max(state.getCurrentWatermarkMs(), last // 1000) + gap_ms
        )
        if kept:
            yield pd.DataFrame(kept)

    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            out_schema,
            "last_us long",
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_stream(
    sdf: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows: ``F.session_window`` merging-window
    aggregation — the fully JVM-side sessionizer (no Python workers;
    state lives in the built-in, RocksDB-capable session store). The
    streaming twin of batch ``q_sessionize_native``: Spark merges an
    event whose window start is <= the open session's end, so a split
    needs a silence STRICTLY greater than ``gap`` — the same boundary
    contract as the lag chain and the ``applyInPandasWithState``
    sessionizers (pinned in the exact-gap boundary test). One append
    row per session — (user, start µs,
    end µs = last event + gap, n_events) — once the watermark passes
    the session end.

    Scale: this is the sessionizer to prefer at 100 TB — merging and
    state eviction are built in, the aggregate is partial-merge
    capable, and the only shuffle is the user-hash exchange every
    per-key stateful operator needs."""
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.col(user_col),
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


def quality_gate_stream(
    sdf: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_score: float = 0.25,
) -> DataFrame:
    """Streaming corpus-quality gate: the composite quality heuristic
    plus stopword language-ID per document, computed STATELESS — pure
    whole-stage-codegen projections, no state store, no shuffle, no
    watermark, so the gate keeps up with raw scan speed. Emits every
    doc with its verdict; callers route pass/fail to separate sinks
    (foreachBatch) or stack an update-mode scoreboard aggregate on top.

    The scoring expressions are the batch operators themselves
    (operators.text.quality_score / lang_id), so the same function
    applied to a static frame IS the batch twin — the parity test
    replays the corpus through the file source and gets equal rows.

    Scale: stateless ops scale with source parallelism alone; at
    100 TB this gate runs at ingest, in front of the dedup/index
    stages, exactly where the batch curation pipeline's first pass
    sits."""
    from bamboo_spark.operators import text as T

    return sdf.select(
        F.col(id_col),
        T.quality_score(text_col).alias("q_score"),
        T.lang_id(text_col).alias("lang_pred"),
    ).withColumn("passed", F.col("q_score") >= F.lit(min_score))


def hypertable_partials(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Hour-grain partial states for the hypertable continuous
    aggregate — (count, integer micro-value sum, min/max event µs) per
    (hour bucket, type), with the day/week buckets carried as free
    riders (they are functions of the hour bucket). The states form a
    commutative monoid: any union of partial frames re-aggregated by
    the bucket key equals the states computed from the union of the raw
    rows, which is what makes both incremental refresh and the
    hour→day→week rollup lossless. Batch twin of the finest grain in
    ``queries.q_hypertable_rollup``."""
    return (
        df.select(
            F.date_format(ts_col, "yyyy-MM-dd HH:00").alias("hb"),
            F.date_format(ts_col, "yyyy-MM-dd").alias("db"),
            F.date_format(
                F.date_trunc("week", F.col(ts_col)), "yyyy-MM-dd"
            ).alias("wb"),
            F.col(type_col).alias("event_type"),
            F.unix_micros(ts_col).alias("us"),
            F.expr(
                "cast(round(%s * 1e6, 0) as bigint)" % value_col
            ).alias("v_u"),
        )
        .groupBy("hb", "db", "wb", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v_u").cast("bigint").alias("sum_value_u"),
            F.min("us").cast("bigint").alias("min_us"),
            F.max("us").cast("bigint").alias("max_us"),
        )
    )


def _merge_hypertable(parts: DataFrame) -> DataFrame:
    """Fold a union of partial-state frames back to one state per
    bucket (the monoid merge)."""
    return parts.groupBy("hb", "db", "wb", "event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value_u").cast("bigint").alias("sum_value_u"),
        F.min("min_us").cast("bigint").alias("min_us"),
        F.max("max_us").cast("bigint").alias("max_us"),
    )


def hypertable_stream(
    sdf: DataFrame,
    table_dir: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    partition_by_day: bool = False,
):
    """Self-maintaining continuous aggregate (the TimescaleDB
    continuous-aggregate / materialized-cube loop as a shipped
    operator): each micro-batch folds its hour-grain partial states
    into an atomically PUBLISHED partial-state table — read current
    snapshot → union → monoid re-merge → ``atomic_publish``. Readers
    (``read_hypertable``) see a committed, complete hour grid at every
    instant and derive the day/week grains by merging it — raw events
    are scanned exactly once, by the micro-batch that carries them.

    Returns a configured ``DataStreamWriter`` (foreachBatch); the
    caller picks trigger/checkpoint and calls ``.start()``.

    EXACTLY-ONCE across restarts: foreachBatch is at-least-once, so a
    replayed micro-batch must not double-count. Every published row
    carries ``_last_bid`` = the highest batch id folded in; the sink
    skips any batch id <= the published high-water mark (with a
    checkpointed replayable source, a replayed batch id carries
    identical rows, so skipping it is exact). The publish itself is
    the atomic manifest swap, so a sink crash mid-publish leaves the
    previous snapshot committed and the batch replays cleanly.

    Scale: the published table is GRID-sized (days × 24 × types), so
    the per-batch merge cost is O(batch + grid), independent of total
    events ingested. With ``partition_by_day=True`` the table is
    hive-partitioned by day and each refresh goes through
    ``replace_partitions_publish``: the merge reads ONLY the batch's
    touched day partitions (partition-pruned) and the commit rewrites
    only those partitions' files, carrying every other day by
    reference — at 100 TB a micro-batch touching 2 of 30,000 days
    commits 2 days' bytes. The monoid contract is unchanged."""
    sink = hypertable_sink(
        sdf.sparkSession,
        table_dir,
        ts_col=ts_col,
        type_col=type_col,
        value_col=value_col,
        partition_by_day=partition_by_day,
    )
    return sdf.writeStream.foreachBatch(sink)


def hypertable_sink(
    spark,
    table_dir: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    partition_by_day: bool = False,
):
    """The per-micro-batch fold behind :func:`hypertable_stream`,
    exposed for direct use in an existing ``foreachBatch`` sink (or a
    backfill loop): ``sink(batch_df, batch_id)`` merges the batch's
    hour-grain partials into the published table, idempotently per
    ``batch_id``. With ``partition_by_day`` the replay high-water mark
    is checked on the TOUCHED day partitions (a replayed batch touches
    the same days, whose files its own commit stamped), so idempotence
    survives without scanning the whole table."""
    from bamboo_spark.operators.publish import (
        atomic_publish,
        pinned_snapshot,
        replace_partitions_publish,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        # the batch's row count AND touched-day set ride the partials
        # checkpoint's own materialization as observed metrics — one
        # job per batch where there were three (isEmpty probe, the
        # checkpoint, a days distinct().collect())
        obs = Observation()
        part = hypertable_partials(
            batch_df, ts_col=ts_col, type_col=type_col, value_col=value_col
        ).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("db").alias("days"),
        ).localCheckpoint(eager=True)  # reused: hwm filter + merge
        o = obs.get
        if int(o["n"]) == 0:
            return
        try:
            # ONE manifest read pins the merge plan AND (via _base=)
            # the replace commit baseline, so a commit landing between
            # them into a touched day raises instead of being folded
            # away (publish.pinned_snapshot)
            base, cur = pinned_snapshot(spark, table_dir)
        except Exception:
            base, cur = None, None
        bid = int(batch_id)
        if not partition_by_day:
            if cur is not None:
                hwm = cur.agg(F.max("_last_bid")).collect()[0][0]
                if hwm is not None and bid <= int(hwm):
                    return  # replayed batch: already folded in
                merged = _merge_hypertable(
                    cur.drop("_last_bid").unionByName(part)
                )
            else:
                merged = _merge_hypertable(part)
            atomic_publish(
                merged.withColumn("_last_bid", F.lit(bid)), table_dir,
                stats_cols=["db"],
            )
            return
        days = sorted(o["days"])
        if cur is None:
            atomic_publish(
                _merge_hypertable(part).withColumn(
                    "_last_bid", F.lit(bid)
                ),
                table_dir,
                partition_by="db",
                stats_cols=["db"],
            )
            return
        touched = cur.where(F.col("db").isin(days))  # partition-pruned
        hwm = touched.agg(F.max("_last_bid")).collect()[0][0]
        if hwm is not None and bid <= int(hwm):
            return  # replayed batch: its own commit stamped these days
        merged = _merge_hypertable(
            touched.drop("_last_bid").unionByName(part)
        ).withColumn("_last_bid", F.lit(bid))
        replace_partitions_publish(
            merged, table_dir, values=days, partition_col="db",
            stats_cols=["db"], _base=base,
        )

    return sink


def read_hypertable(spark, table_dir: str, days=None) -> DataFrame:
    """The full hour→day→week rollup from a ``hypertable_stream``-
    maintained partials table — column-for-column the batch
    ``queries.q_hypertable_rollup`` result. The coarser grains are
    built by MERGING the published hour grid (grid-sized aggregates);
    raw events are never re-read.

    ``days=(lo, hi)`` bounds the rollup to a day-bucket range (either
    end None for open) — the dashboard shape "last 7 days". The sink
    records per-file ``db`` min/max AT PUBLISH TIME, so the bounded
    read FILE-PRUNES via ``read_published(skip=...)``: on a
    30,000-day table a 7-day dashboard opens ~7 partitions' files, not
    the table. Day and week rows aggregate only the in-range days
    (edge weeks are partial by construction)."""
    from bamboo_spark.operators.publish import read_published

    if days is None:
        hour = read_published(spark, table_dir).drop("_last_bid")
    else:
        lo, hi = days
        hour = read_published(
            spark, table_dir, skip={"db": (lo, hi)}
        ).drop("_last_bid")
        if lo is not None:
            hour = hour.where(F.col("db") >= lo)
        if hi is not None:
            hour = hour.where(F.col("db") <= hi)
    day = hour.groupBy("db", "wb", "event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value_u").cast("bigint").alias("sum_value_u"),
        F.min("min_us").cast("bigint").alias("min_us"),
        F.max("max_us").cast("bigint").alias("max_us"),
    )
    week = day.groupBy("wb", "event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value_u").cast("bigint").alias("sum_value_u"),
        F.min("min_us").cast("bigint").alias("min_us"),
        F.max("max_us").cast("bigint").alias("max_us"),
    )
    cols = ["n_events", "sum_value_u", "min_us", "max_us"]
    return (
        hour.select(
            F.lit("hour").alias("grain"),
            F.col("hb").alias("bucket"),
            "event_type",
            *cols,
        )
        .unionByName(
            day.select(
                F.lit("day").alias("grain"),
                F.col("db").alias("bucket"),
                "event_type",
                *cols,
            )
        )
        .unionByName(
            week.select(
                F.lit("week").alias("grain"),
                F.col("wb").alias("bucket"),
                "event_type",
                *cols,
            )
        )
        .orderBy("grain", "bucket", "event_type")
    )


def publish_stream(
    sdf: DataFrame,
    table_dir: str,
    mode: str = "append",
    partition_by=None,
    stats_cols=None,
    bloom_cols=None,
    key_cols=None,
    version_cols=None,
    op_col=None,
    merge_args: dict = None,
    cluster_by=None,
):
    """Continuous EXACTLY-ONCE ingest into a published table — the raw
    landing-zone sink: every micro-batch commits through the snapshot
    protocol, so readers always see a complete committed table, a
    crashed batch leaves only an orphan version dir, and a REPLAYED
    batch is a no-op (the manifest records the last folded batch id;
    foreachBatch is at-least-once, the high-water mark makes the fold
    idempotent — with a checkpointed replayable source a replayed id
    carries identical rows, so skipping is exact).

    ``mode='append'`` uses :func:`~bamboo_spark.operators.publish.
    append_publish`: the new version carries all previous files by
    reference and adds only the batch's files — at 100 TB each commit
    costs the batch write plus one manifest swap, with ``compact()``
    folding the accumulated small files on a schedule and the
    reference-aware ``vacuum`` reclaiming history. ``mode='snapshot'``
    republishes the batch AS the whole table (dimension-table refresh
    semantics). Returns a configured ``DataStreamWriter``; the caller
    picks trigger/checkpoint and calls ``.start()``.

    ``mode='merge'`` is continuous CDC upsert ingest: each batch goes
    through :func:`~bamboo_spark.operators.publish.
    merge_publish_incremental` (``key_cols``/``version_cols``/
    ``op_col`` required/optional as there) — matched keys' old rows are
    delete-vectored by address and the post-state rows appended in ONE
    commit, so a micro-batch upsert against a 100 TB table costs
    O(batch), with ``compact()`` folding the vectors on a schedule.
    The same batch-id high-water mark makes replays exact no-ops.

    ``mode='overwrite_partitions'`` is the IDEMPOTENT-RECOMPUTE sink:
    each batch dynamically REPLACES exactly the hive partitions it
    carries (:func:`~bamboo_spark.operators.publish.
    overwrite_partitions_publish`) — the windowed-aggregation-stream
    shape where every batch re-emits the complete current state of the
    days it touched; the first batch seeds the partitioned table, and
    a replayed batch re-replaces identically (idempotent even without
    the HWM, exact with it). Requires ``partition_by``.

    ``mode='merge_into'`` is the PREDICATE-merge sink: each batch runs
    :func:`~bamboo_spark.operators.publish.merge_into` with
    ``merge_args`` (the when-matched/not-matched clauses, verbatim) —
    conditional upserts and guarded deletes as continuous ingest, one
    merge-on-read commit per batch, the first batch seeding the table
    through the insert clause. Same exactly-once high-water mark.

    ``stats_cols``/``bloom_cols`` record per-file min/max and equality
    blooms DURING each batch's commit (distributed jobs over the batch
    only), so the landing table is range- and point-skippable from its
    first read — a GDPR ``delete_publish(point=...)`` against the raw
    landing zone rewrites only the files holding the user."""
    from bamboo_spark.operators.publish import (
        _fs_for,
        _parse_partition_by,
        _read_manifest,
        append_publish,
        atomic_publish,
        merge_into,
        merge_publish_incremental,
        overwrite_partitions_publish,
    )

    if mode not in (
        "append", "snapshot", "merge", "merge_into",
        "overwrite_partitions",
    ):
        raise ValueError(
            "publish_stream: mode must be append|snapshot|merge|"
            "merge_into|overwrite_partitions"
        )
    if mode == "overwrite_partitions":
        if not partition_by:
            raise ValueError(
                "publish_stream(mode='overwrite_partitions') needs "
                "partition_by (the single hive column each batch "
                "replaces values of)"
            )
        # validate BEFORE the first batch: the underlying dynamic
        # overwrite is single-column-layout only — a multi-column
        # partition_by would seed the table on batch 1 and then fail
        # every later batch forever (data committed, stream dead).
        # Transform syntax counts by PHYSICAL column ("days(ts)" is
        # one), so a hidden daily layout streams fine.
        names, _ = _parse_partition_by(partition_by)
        if len(names) != 1:
            raise ValueError(
                "publish_stream(mode='overwrite_partitions') supports "
                "a SINGLE partition column (got %s) — "
                "overwrite_partitions_publish replaces whole values "
                "of one hive column; use mode='merge_into' with an "
                "exact multi-column condition instead" % (names,)
            )
    if mode in ("merge", "merge_into") and not key_cols:
        raise ValueError(
            "publish_stream(mode=%r) needs key_cols" % mode
        )
    spark = sdf.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # ONE manifest read answers both questions: the exactly-once
        # high-water mark AND (for overwrite_partitions) whether this
        # batch SEEDS the table — an explicit existence probe, never
        # an exception-message match
        man = _read_manifest(table_dir, _fs_for(table_dir, spark))
        hwm = ((man.get("meta") or {}).get("last_bid")
               if man is not None else None)
        if hwm is not None and int(batch_id) <= int(hwm):
            return  # replayed batch: already committed
        meta = {"last_bid": int(batch_id)}
        if mode == "merge_into":
            merge_into(
                batch_df, table_dir, key_cols=key_cols, meta=meta,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                **(merge_args or {}),
            )
        elif mode == "merge":
            # merge_args passes extra kwargs verbatim here too (e.g.
            # schema_evolution=True for upstream-added columns)
            merge_publish_incremental(
                batch_df, table_dir, key_cols=key_cols,
                version_cols=version_cols, op_col=op_col, meta=meta,
                partition_by=partition_by,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                **(merge_args or {}),
            )
        elif mode == "overwrite_partitions":
            # idempotent streaming recompute: each batch REPLACES the
            # partitions it carries (a windowed aggregation stream in
            # update mode rewriting affected days) — the first batch
            # seeds the partitioned table (decided by the explicit
            # manifest probe above, not by matching an error message)
            if man is None:
                atomic_publish(
                    batch_df, table_dir, partition_by=partition_by,
                    meta=meta, stats_cols=stats_cols,
                    bloom_cols=bloom_cols,
                )
            else:
                overwrite_partitions_publish(
                    batch_df, table_dir, meta=meta,
                    stats_cols=stats_cols, bloom_cols=bloom_cols,
                )
        elif mode == "append":
            append_publish(
                batch_df, table_dir, partition_by=partition_by, meta=meta,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
                cluster_by=cluster_by,
            )
        else:
            atomic_publish(
                batch_df, table_dir, partition_by=partition_by, meta=meta,
                stats_cols=stats_cols, bloom_cols=bloom_cols,
            )

    return sdf.writeStream.foreachBatch(sink)
