"""Physical-plan audits: the properties that make the engine scale must
not regress — filter/projection pushdown to the scan, broadcast joins on
dims, Generate (explode) inside codegen, nested-schema pruning."""

import pytest
from pyspark.sql import functions as F

from bamboo_spark import queries as q
from bamboo_spark.dataset import Dataset

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_and_projection_pushdown(spark):
    df = q.q1_pricing_summary(spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # projection pruning: unused lineitem columns don't reach the scan
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q5_broadcasts_dimensions(spark):
    plan = plan_of(q.q5_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(q.q6_forecast_revenue(spark, SF))
    pushed = plan.split("PushedFilters")[1][:300]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_flatten_is_generate_with_nested_pruning(spark, tmp_path):
    # nested parquet: struct with an array of structs + an unused sibling
    src = spark.createDataFrame(
        [(1, ([(10, 100), (20, 200)], "unused")), (2, ([(30, 300)], "x"))],
        "id long, payload struct<items: array<struct<a: long, b: long>>, junk: string>",
    )
    path = str(tmp_path / "nested.parquet")
    src.write.parquet(path)
    ds = Dataset(spark.read.parquet(path))
    flat = ds.flatten(include=["id", "payload.items.a"])
    plan = plan_of(flat.df)
    assert "Generate" in plan  # explode planned as GenerateExec
    read_schema = plan.split("ReadSchema")[1][:400]
    # nested schema pruning: junk and b are never read
    assert "junk" not in read_schema
    assert "b:bigint" not in read_schema and "a:bigint" in read_schema
    rows = flat.df.collect()
    assert [r.a for r in rows] == [10, 20, 30]


def test_topk_streams_candidates_no_join(spark):
    # the query matrix rides a broadcast *variable* into mapInPandas;
    # the candidate side must stream through one Python kernel — no
    # cartesian/broadcast join of the vectors, no shuffle of embeddings
    plan = plan_of(q.q_ann_topk(spark, SF))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_text_stats_is_single_project_over_scan(spark):
    # narrow per-row projection: no shuffle at all, and only
    # (doc_id, text) read from the scan
    plan = plan_of(q.q_text_stats(spark, SF))
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema  # unused columns pruned
    # formatted explain prints each node twice (tree + detail); count the
    # tree section only
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 0


def test_ivf_pairs_no_cartesian_bounded_buckets(spark):
    # trained IVF: assignment is MapInPandas (broadcast centroid matrix,
    # no join), verify is bucket-local FlatMapGroups — never a cartesian
    # or nested-loop join of the vector table with itself
    df = q.q_ann_ivf(spark, SF)
    plan = plan_of(df)
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # and the buckets the verify runs over are √n-bounded in count:
    # every vector lands in exactly one bucket (n_probe=1)
    from bamboo_spark.operators import similarity

    e = q.load(spark, SF, "embeddings")
    cm = similarity.kmeans_train(e)
    n = e.count()
    assert cm.shape[0] == int(__import__("math").ceil(n ** 0.5))
    sizes = (
        similarity.ivf_assign(e, cm).groupBy("centroid").count().agg(
            F.max("count"), F.sum("count")
        ).collect()[0]
    )
    assert sizes[1] == n  # single-probe: each vector exactly once


def _final_plan(df) -> str:
    df.collect()  # adaptive execution settles the plan as it runs
    return simple_plan(df).split("== Initial Plan ==")[0]


def _compiled(line: str) -> bool:
    return line.lstrip(" +-").startswith("*(")


def test_wide_stages_stay_in_codegen(spark):
    # spark.sql.codegen.maxFields (session.py): past it a stage silently
    # falls back to interpreted evaluation; the 129-field minhash
    # signature aggregate is over Spark's default of 100. minhash_lsh_pairs
    # is the path dedup_minhash runs; the signature aggregate's two
    # HashAggregates are the ones over min(pmod(...)) lanes
    from bamboo_spark.operators.dedup import minhash_lsh_pairs
    from bamboo_spark.queries._core import load

    pairs = minhash_lsh_pairs(load(spark, SF, "documents"))
    aggs = [
        l for l in _final_plan(pairs).splitlines()
        if "HashAggregate(" in l and "min(pmod(" in l
    ]
    assert len(aggs) == 2 and all(map(_compiled, aggs)), aggs
    wide = q.queries()["q_flatten_lineitem_wide"](spark, SF)
    ops = [l for l in _final_plan(wide).splitlines() if "Generate " in l or "Project " in l]
    assert ops and all(map(_compiled, ops)), ops


def test_ann_pairs_planes_stay_in_codegen(spark):
    # hyperplane bucket ids are literal expressions — no UDF, no
    # Python round-trip for candidate generation; the only Python stage
    # would be absent entirely (pure join + HOF verify)
    plan = plan_of(q.q_ann_pairs(spark, SF))
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_pack_chunks_no_global_window(spark):
    # the distributed prefix scan must never plan a single-partition
    # window over DATA-SIZED rows (the naive global cumsum): the per-doc
    # cumsum windows stay shard-partitioned. Since the r13 lazy rewrite
    # the ≤`shards`-row shard-base fold IS a single-partition window —
    # bounded by construction (one row per shard) — so pin that every
    # SinglePartition exchange in the plan feeds from a HashAggregate
    # (the shard-totals reduce), never from the raw counts.
    plan = plan_of(q.q_pack_chunks(spark, SF))
    assert "hashpartitioning(shard" in plan
    assert "BroadcastHashJoin" in plan  # shard bases still ride a broadcast
    _assert_single_partition_only_bounded(plan)


def _assert_single_partition_only_bounded(plan):
    """Every SinglePartition exchange must carry only the post-aggregate
    shard-totals frame (a handful of columns: shard + running sums) —
    never the data-sized per-row frame (which carries ids/tokens)."""
    import re

    for m in re.finditer(
        r"\(\d+\) Exchange\nInput \[(\d+)\]: \[([^\]]*)\]\n"
        r"Arguments: SinglePartition",
        plan,
    ):
        ncols, cols = int(m.group(1)), m.group(2)
        assert ncols <= 4, plan
        assert "doc_id" not in cols and "text" not in cols, plan


def test_funnel_single_aggregate_no_self_join(spark):
    # the ordered funnel must be ONE per-user aggregate — the naive plan
    # (3-way self-join of events) would show multiple joins/exchanges
    plan = plan_of(q.q_events_funnel(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, tree
    # one shuffle for the per-user agg + one for the global single-row agg
    assert tree.count("Exchange") <= 2, tree


def test_session_stats_single_user_shuffle(spark):
    # the two-window chain + per-session agg must reuse ONE user_id
    # partitioning; only the final global stats add a second exchange
    plan = plan_of(q.q_session_stats(spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2, tree


def test_near_dup_default_collects_nothing_data_sized(spark):
    # the default near-dup path must not pull the embedding table to the
    # driver: its plan is assignment (MapInPandas) + bucket verify
    # (FlatMapGroupsInPandas); the exact GEMM's table-wide broadcast
    # appears only under exact=True
    plan = plan_of(q.q_near_dup_embeddings(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_eval_ngrams(spark):
    # the eval-side n-gram index must broadcast (benchmark-sized); the
    # corpus side must NOT shuffle for the join — only the final
    # per-(train, eval) count agg exchanges, map-combined
    plan = plan_of(q.q_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange") <= 4  # agg exchange + broadcast exchange


def test_repetition_stats_aggs_are_doc_keyed(spark):
    # both aggregation levels key on doc_id first → map-side combine,
    # no skew; no extra shuffle beyond the two agg levels + join
    plan = plan_of(q.q_repetition_stats(spark, SF))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_scan_speed_projection(spark):
    # pure regexp projection: no exchange, no join, no aggregate
    plan = plan_of(q.q_pii_scrub(spark, SF))
    for op in ("Exchange", "Join", "HashAggregate", "Sort"):
        assert op not in plan, op


def test_topk_ivf_collects_nothing_data_sized(spark):
    # driver-side collects are bounded by sqrt(n)*dim (k-means partial
    # sums, the documented metadata-sized reduce), the query set (|Q|),
    # and |Q|*n_probe probes — never corpus-sized; and the per-bucket
    # verify runs as FlatMapGroupsInPandas, no cartesian anywhere
    import math
    from unittest.mock import patch

    try:  # Spark 4 puts the concrete class under sql.classic
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    with patch.object(DataFrame, "collect", spy):
        out = q.queries()["ann_topk_ivf"](spark, SF)
        plan = plan_of(out)
        n = out.count()
    n_vecs = spark.read.parquet(SF + "/embeddings.parquet").count()
    dim = 64
    bound = (math.isqrt(n_vecs) + 1) * dim + 64
    assert n > 0
    assert sizes and max(sizes) <= bound, (sizes, bound)
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_minhash_incremental_no_corpus_rescan_shape(spark):
    # band-index probe: equi hash joins only (broadcast at tiny SF,
    # shuffled-hash at scale — both fine); never a cartesian or
    # nested-loop join of document sets
    plan = plan_of(q.queries()["minhash_incremental"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # Broadcast- or Shuffled-
    # QUANTITATIVE pin (r8 bench drift watch): a regression that
    # re-scans the corpus or adds a shuffle can't hide in bench noise.
    # Count UNIQUE operator ids, not textual occurrences — a cached
    # subtree's lineage (with its r13 fan-out exchange) is reprinted
    # under every InMemoryTableScan that consumes it, so raw substring
    # counts multiply per consumer. 4 unique shuffle exchanges today:
    # corpus-signature agg, batch-signature agg, batch fan-out, band
    # grouping.
    import re

    assert len(set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", plan))) <= 4, plan
    assert len(set(re.findall(r"Scan parquet[^\n]*\((\d+)\)", plan))) <= 5, plan
    assert len(re.findall(r"HashJoin", plan)) <= 6, plan


def test_token_entropy_single_doc_keyed_shuffle(spark):
    # two agg levels, both keyed by doc_id first: exactly the two agg
    # exchanges, no join, map-side combine at each level
    plan = plan_of(q.queries()["token_entropy"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Exchange") <= 2
    assert tree.count("HashAggregate") >= 4  # partial+final at both levels


def test_bloom_probe_filters_before_the_verify_join(spark):
    # the new batch must be Bloom-filtered in its scan stage: the probe
    # (ArrowEvalPython) and its Filter sit BELOW the verify join, and
    # the join itself is an equi hash join — never nested-loop
    plan = plan_of(q.queries()["dedup_bloom_incremental"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "ArrowEvalPython" in tree
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan
    # probe runs below the join: the eval node appears after (deeper
    # than) the join node in the formatted tree's operator list
    join_pos = min(tree.find("SortMergeJoin") % 10**9, tree.find("HashJoin") % 10**9)
    assert tree.find("ArrowEvalPython") > join_pos


def test_cap_per_domain_single_window_exchange(spark):
    # one hash-partitioned exchange feeding the per-key window; rank
    # filter applied right above it, no join anywhere
    plan = plan_of(q.queries()["cap_per_domain"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Exchange") == 1
    assert "Window" in tree


def test_ranked_head_partial_topk_below_shuffle(spark):
    # the per-stratum head queries must plan InferWindowGroupLimit's
    # PARTIAL WindowGroupLimit BELOW the exchange: each map task keeps
    # only its local top-cap per key, so a hot key's reducer receives
    # <= cap x map_partitions rows — never the raw per-key count
    for name in ("cap_per_domain", "weighted_sample"):
        s = simple_plan(q.queries()[name](spark, SF))
        assert s.count("WindowGroupLimit") == 2, (name, s)
        assert "Partial" in s and "Final" in s, name
        ex = s.index("Exchange")
        assert s.index("WindowGroupLimit") < ex, name  # Final above
        assert s.rindex("WindowGroupLimit") > ex, name  # Partial below


def test_unigram_surprisal_vocab_broadcasts(spark):
    # the vocab lookup must be a broadcast join (token stream never
    # shuffles for it); token- and doc-keyed aggs both map-combined;
    # the corpus total is a scalar agg rejoined by broadcast — there is
    # NO window (a global window would single-partition the vocab)
    plan = plan_of(q.queries()["unigram_surprisal"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_unigram_surprisal_top_v_no_window(spark):
    # capped-vocab mode: still window-free, OOV floor joined as a
    # 1-row broadcast; the vocab cap is a TakeOrdered, not a sort
    df = q.q_unigram_surprisal(spark, SF, top_v=50)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_duplicate_spans_hot_grams_broadcast(spark):
    # the duplicated-gram table joins back by BROADCAST (the corpus
    # token stream never shuffles for the flag join); the island merge
    # is the only per-doc window
    plan = plan_of(q.queries()["duplicate_spans"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_drop_table_broadcasts(spark):
    # corpus ⋈ dropped-docs is a broadcast left join; candidate
    # generation stays the bucketed applyInPandas kernel
    plan = plan_of(q.queries()["semantic_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_quality_filter_is_scan_speed_projection(spark):
    # Gopher filter is pure per-row arithmetic: no exchange/join/agg,
    # and the scan is pruned to (doc_id, text)
    plan = plan_of(q.q_quality_filter(spark, SF))
    for op in ("Exchange", "Join", "HashAggregate", "Sort", "Window"):
        assert op not in plan, op
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_dedup_canonical_argmax_is_aggregate_not_window(spark):
    # the per-cluster representative comes from a map-combinable
    # max(struct) aggregate — a giant cluster never funnels through a
    # single-reducer window sort
    plan = plan_of(q.q_dedup_canonical(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_no_window_digest_shuffle(spark):
    # first-occurrence is a map-combinable min(struct) aggregate keyed
    # on the md5 digest — no per-segment window sort, no cartesian
    plan = plan_of(q.q_paragraph_dedup(spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "md5" in plan  # digest, not raw text, is the shuffle key


def test_dsir_weights_no_window_scalar_broadcast(spark):
    # both distributions come out of ONE token-keyed agg; totals are a
    # scalar agg rejoined by broadcast — never a global window
    plan = plan_of(q.queries()["dsir_weights"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_dsir_weights_top_v_is_take_ordered(spark):
    # capped-vocab mode bounds the broadcast with a TakeOrdered (no
    # full sort) and stays window-free
    plan = plan_of(q.q_dsir_weights(spark, SF, top_v=50))
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_bigram_surprisal_no_window_array_adjacency(spark):
    # adjacency comes from array shingles (no window/self-join); all
    # count tables are map-combined aggs; totals broadcast
    plan = plan_of(q.queries()["bigram_surprisal"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_ann_topk_pq_collects_nothing_data_sized(spark):
    # PQ driver collects are bounded: per-subspace k-means partials
    # (n_codes*d_sub per iteration), the |Q| query rows, and the final
    # result — never corpus-sized. The ADC pass streams the code table
    # (mapInPandas), candidates broadcast into the re-rank join.
    from unittest.mock import patch

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    q._PQ_CACHE.clear()  # force retraining so the collects are audited
    sizes = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    with patch.object(DataFrame, "collect", spy):
        out = q.queries()["ann_topk_pq"](spark, SF)
        plan = plan_of(out)
        n = out.count()
    # largest legitimate collect: the fused trainer's partials =
    # n_codes * dim (= 16*64) rows per Lloyd reduce, or the 10-query
    # slice — never corpus-sized
    assert n > 0
    assert sizes and max(sizes) <= 16 * 64 + 16, sizes
    assert "BroadcastHashJoin" in plan  # candidate set broadcasts
    assert "CartesianProduct" not in plan


def test_ann_topk_pq_recall_against_brute_force(spark):
    # quantization loses recall but not wholesale: over the 10 queries,
    # PQ+rerank top-5 must recover a clear majority of the exact top-5
    from bamboo_spark.operators.similarity import topk_neighbors

    e = spark.read.parquet(SF + "/embeddings.parquet")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_neighbors(e, query_ids_below=10, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in q.queries()["ann_topk_pq"](spark, SF).collect()
    }
    assert len(got & exact) >= 0.6 * len(exact), (len(got & exact), len(exact))


def test_events_interval_join_is_bucketed_equi_join(spark):
    # the range join must plan as an EQUI join on (user, bucket) —
    # never a broadcast-nested-loop/cartesian over the range predicate
    plan = plan_of(q.queries()["events_interval_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_key_skew_profile_partial_topk(spark):
    # hot-key scan: TakeOrdered (per-partition partial top-k), never a
    # global sort; total is a scalar broadcast, no window
    plan = plan_of(q.queries()["key_skew_profile"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_curation_pipeline_v2_no_text_shuffle_for_segments(spark):
    # the composed pipeline keeps the segment first-occurrence pass on
    # digests (md5 in plan) and has no cartesian anywhere
    plan = plan_of(q.queries()["curation_pipeline_v2"](spark, SF))
    assert "md5" in plan
    assert "CartesianProduct" not in plan


def test_adaptive_length_filter_broadcasts_bounds(spark):
    # the per-source quantile table is source-sized -> must broadcast;
    # the doc stream never shuffles for the flag join
    plan = plan_of(q.queries()["adaptive_length_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_containment_hashes_not_strings(spark):
    # the inverted-index self-join must key on xxhash64 longs, never
    # raw shingle strings; pair counting is one map-combined agg
    plan = plan_of(q.queries()["dedup_containment"](spark, SF))
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan


def test_user_state_intervals_single_user_shuffle(spark):
    # the lag/run-id/lead window chain must reuse ONE user_id hash
    # partitioning — no second data-sized exchange for the lead stage
    plan = plan_of(q.queries()["user_state_intervals"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 2, tree
    assert "CartesianProduct" not in plan


def test_ann_topk_ivfpq_bucket_kernel_no_cartesian(spark):
    # the composed index: bucket-grouped ADC kernel
    # (FlatMapGroupsInPandas), candidate broadcast into the re-rank —
    # never a cartesian of the vector table
    q._PQ_CACHE.clear()
    plan = plan_of(q.queries()["ann_topk_ivfpq"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_per_source_no_driver_fold_no_single_partition(spark):
    # the per-key packer must be fully distributed: no driver collect AT
    # ALL since the r13 lazy range probe (the max-id fold rides the plan
    # as a 1-row broadcast aggregate), and the only SinglePartition
    # exchange allowed is that bounded 1-row aggregate — never a
    # data-sized window
    from unittest.mock import patch

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    sizes = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    with patch.object(DataFrame, "collect", spy):
        out = q.queries()["pack_per_source"](spark, SF)
        plan = plan_of(out)
        assert out.count() > 0
    assert not sizes, sizes  # zero plan-build-time driver collects
    _assert_single_partition_only_bounded(plan)


def test_cdc_upsert_is_one_agg_no_window_sort(spark):
    # the merge is a single map-combined max-struct aggregate: no
    # WindowExec (a window-sorted LWW would serialize hot keys through
    # one reducer's sort) and no join in the merge stage
    plan = plan_of(q.queries()["cdc_upsert"](spark, SF))
    assert "Window" not in plan, plan
    tree = plan.split("\n\n")[0]
    # events scan feeds base-agg + change side, then one merge agg:
    # nothing here justifies more than 3 exchanges (base agg, union agg,
    # final orderBy sampling)
    assert tree.count("Exchange") <= 3, tree
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_event_transitions_broadcasts_totals(spark):
    # the per-prev totals (≤ T rows) come back via broadcast — the
    # transition grid never shuffles against itself
    plan = plan_of(q.queries()["event_transitions"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pit_enrich_user_keyed_no_range_explosion(spark):
    # PIT lookup = user-keyed equi-join + containment filter: no
    # cartesian/NLJ fallback, no broadcast of the fact table
    plan = plan_of(q.queries()["pit_enrich"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_record_linkage_incremental_no_cartesian(spark):
    plan = plan_of(q.queries()["record_linkage_incremental"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entity_clusters_no_cartesian_sizes_broadcast(spark):
    plan = plan_of(q.queries()["entity_clusters"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # per-entity sizes join rides a broadcast
    assert "BroadcastHashJoin" in plan


def test_fk_integrity_broadcasts_parents(spark):
    plan = plan_of(q.queries()["fk_integrity"](spark, SF))
    # every orphan check is a broadcast anti join; the 1-row stat
    # combines are nested-loop on purpose (both sides single-row)
    assert "BroadcastHashJoin" in plan


def test_diversity_sample_partial_topk_below_shuffle(spark):
    # per-cluster head must plan the Partial WindowGroupLimit below the
    # exchange (megacluster ships cap x map_partitions rows)
    s = simple_plan(q.queries()["diversity_sample"](spark, SF))
    assert s.count("WindowGroupLimit") == 2, s
    # the KEY-HASH exchange (not the cosmetic orderBy range exchange)
    # must sit between Final (above) and Partial (below)
    ex = s.index("Exchange hashpartitioning")
    assert s.index("WindowGroupLimit") < ex and s.rindex("WindowGroupLimit") > ex


def test_bm25_and_pmi_broadcast_small_sides(spark):
    for name in ("bm25_scores", "token_pmi"):
        plan = plan_of(q.queries()[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_value_outliers_broadcasts_fences(spark):
    plan = plan_of(q.queries()["value_outliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_event_paths_take_ordered(spark):
    # global top-20 must be TakeOrderedAndProject (partial top-k per
    # partition), never a full sort
    s = simple_plan(q.queries()["event_paths"](spark, SF))
    assert "TakeOrderedAndProject" in s, s


def test_audit_plan_user_api(spark):
    import pytest as _pytest

    from bamboo_spark.plans import PlanViolation, audit_plan

    clean = q.q1_pricing_summary(spark, SF)
    assert audit_plan(clean, pushed_filter_cols=["l_shipdate"]) == []

    # a deliberate cartesian must trip the default forbid list
    a = spark.range(3)
    b = spark.range(3)
    cart = a.crossJoin(b)
    with _pytest.raises(PlanViolation, match="forbidden"):
        audit_plan(cart)
    vio = audit_plan(cart, raise_on_violation=False)
    assert any("forbidden" in v for v in vio)

    # require + max_exchanges knobs
    j = q.q5_region_revenue(spark, SF)
    assert audit_plan(j, require=["BroadcastHashJoin"]) == []
    with _pytest.raises(PlanViolation, match="required"):
        audit_plan(j, require=["NoSuchNode"])
    with _pytest.raises(PlanViolation, match="exchanges"):
        audit_plan(j, max_exchanges=0)


def test_dataset_audit_plan_method(spark):
    from bamboo_spark.dataset import Dataset

    ds = Dataset(spark.read.parquet(SF + "/documents.parquet"))
    assert ds.audit_plan() == []


def test_leakage_safe_split_comp_join_left_to_aqe(spark):
    # the duplicate-cluster component map is DATA-SIZED (one row per doc
    # in any near-dup pair) — its join must carry no forced broadcast
    # hint; AQE picks broadcast only when the map actually fits
    df = q.q_leakage_safe_split(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    # and nothing data-sized is collected: the split itself is one
    # equi-join + projection (the CC fixpoint is behind a checkpoint)
    s = simple_plan(df)
    assert "CartesianProduct" not in s


def test_user_trajectory_partial_topk_below_shuffle(spark):
    # only the 32 time-earliest events per user can reach the output —
    # the ranked_head pre-filter must plan the PAIR of WindowGroupLimit
    # nodes (Partial below the exchange), so a bot with millions of
    # events ships <= 32 rows per map partition into the collect_list
    s = simple_plan(q.queries()["user_trajectory_pairs"](spark, SF))
    assert s.count("WindowGroupLimit") >= 2, s
    assert "Partial" in s and "Final" in s, s


def test_curated_final_rep_is_aggregate_not_window(spark):
    # the normalized-dedup representative inside the composed curation
    # chain is the canonical map-combinable min(struct) aggregate, not a
    # row_number window (same pin as dedup_canonical, extended to the
    # composed pipeline)
    from bamboo_spark.queries import _curated_final

    s = simple_plan(_curated_final(spark, SF))
    assert "row_number" not in s, s


def test_audit_plan_counts_only_shuffle_exchanges(spark):
    # max_exchanges is documented as a SHUFFLE ceiling: a pure broadcast
    # join (BroadcastExchange only) must pass max_exchanges=0
    from bamboo_spark.plans import audit_plan

    a = spark.range(100)
    b = spark.range(10)
    j = a.join(F.broadcast(b), "id")
    assert audit_plan(j, max_exchanges=0) == []
    s = simple_plan(j)
    assert "BroadcastExchange" in s  # the broadcast IS in the plan


def test_sketch_queries_plan_shapes(spark):
    # CMS: top-15 candidates come from a partial top-k
    # (TakeOrderedAndProject), and nothing plans a cartesian
    s = simple_plan(q.queries()["token_cms_counts"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "CartesianProduct" not in s
    # HLL: register build + 1-row estimate — no join of data-sized
    # sides, no window
    s = simple_plan(q.queries()["distinct_hll_monitor"](spark, SF))
    assert "Window" not in s and "CartesianProduct" not in s
    # KMV: both bottom-k trims plan the Partial WindowGroupLimit pair
    s = simple_plan(q.queries()["event_user_overlap_kmv"](spark, SF))
    assert s.count("WindowGroupLimit") >= 4, s.count("WindowGroupLimit")


def test_zorder_and_forget_plan_shapes(spark):
    # zorder: scan-speed key math — no Python eval, no window; the only
    # aggregates are the 1-row stats and the 256-key manifest
    s = simple_plan(q.queries()["zorder_layout"](spark, SF))
    assert "Window" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    # forget_users: every cascade hop is a semi join, nothing cartesian
    s = simple_plan(q.queries()["forget_users"](spark, SF))
    assert "LeftSemi" in s, s
    assert "CartesianProduct" not in s


def test_market_basket_and_grouped_hll_plan_shapes(spark):
    # basket pairs come from an ORDER-KEYED self-join + global top-20
    # via partial top-k; supports broadcast
    s = simple_plan(q.queries()["market_basket"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s
    # grouped HLL: one map-combined aggregate chain, no window
    s = simple_plan(q.queries()["type_distinct_hll"](spark, SF))
    assert "Window" not in s and "CartesianProduct" not in s


def test_k_anonymity_and_seasonal_plan_shapes(spark):
    # k-anonymity: stacked hash aggregates only — no joins, no windows
    s = simple_plan(q.queries()["k_anonymity"](spark, SF))
    assert "Window" not in s and "Join" not in s, s
    # seasonal baseline: slot table is bounded (|types|*168 rows) so the
    # join back to the cell table must broadcast; no event-stream window
    s = simple_plan(q.queries()["events_seasonal_baseline"](spark, SF))
    assert "BroadcastHashJoin" in s, s
    assert "Window" not in s and "CartesianProduct" not in s


def test_nb_roc_km_js_plan_shapes(spark):
    # nb_roc: exactly one window, and it runs over the |classes|x101
    # ROC histogram, never the doc stream; no cartesian anywhere
    s = simple_plan(q.queries()["nb_roc"](spark, SF))
    assert s.count("Window") <= 2 and "CartesianProduct" not in s, s
    # km_retention: one pass over events; every join is a 1-row
    # broadcast (stream max / user total) — no shuffle joins at all
    s = simple_plan(q.queries()["km_retention"](spark, SF))
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s, s
    # source_term_js: after the single (source, token) aggregate,
    # everything runs on the V-capped grid — pair joins broadcast
    s = simple_plan(q.queries()["source_term_js"](spark, SF))
    assert "SortMergeJoin" not in s, s
    assert "BroadcastHashJoin" in s and "Window" not in s, s


def test_round5_analytics_plan_shapes(spark):
    # chi2_terms: the per-lang top-k is ranked_head's partial top-k —
    # a WindowGroupLimit PAIR straddling the exchange, so hot langs
    # never ship their full scored vocab to one reducer
    s = simple_plan(q.queries()["chi2_terms"](spark, SF))
    assert s.count("WindowGroupLimit") == 2, s
    # event_seq_ngrams: the global top-k is a TakeOrdered (heap per
    # partition, K rows to the driver), never a full global sort
    s = simple_plan(q.queries()["event_seq_ngrams"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "CartesianProduct" not in s, s
    # pareto_frontier: range/bucket/frontier tables all join back by
    # broadcast; no cartesian anywhere in the prune-then-finish chain
    s = simple_plan(q.queries()["pareto_frontier"](spark, SF))
    assert "CartesianProduct" not in s, s
    # events_autocorrelation: lag pairing is an equi-join over the
    # metadata-sized day grid, the 1-row totals broadcast
    s = simple_plan(q.queries()["events_autocorrelation"](spark, SF))
    assert "CartesianProduct" not in s, s
    # benford_dq / text_readability: scan-speed projections into one
    # map-combined aggregate — no shuffle join touches the fact scan
    s = simple_plan(q.queries()["benford_dq"](spark, SF))
    assert "SortMergeJoin" not in s and "Window" not in s, s
    s = simple_plan(q.queries()["text_readability"](spark, SF))
    assert "Window" not in s and "SortMergeJoin" not in s, s


def test_gini_prefix_scan_has_no_global_window(spark):
    # the concentration histogram can be ~all-distinct (per-customer
    # revenue in cents) — its prefix sums must run through the sharded
    # two-phase scan, so EVERY window in the plan is partitioned by the
    # range shard, never a single-partition global sort
    df = q.queries()["gini_concentration"](spark, SF)
    s = simple_plan(df)
    assert "windowspecdefinition" in s  # the windows are still there
    for line in s.splitlines():
        if "windowspecdefinition" in line:
            assert "__shard" in line, line


def test_audio_window_features_single_pass(spark):
    # the frame pipeline must hold NO quadratic lambda work: no
    # array_max re-scan inside a per-element lambda, no slice
    # re-evaluation per pair step (Catalyst does not CSE across lambda
    # invocations). Pin: the plan contains exactly one slice call and
    # no array_max at all.
    s = simple_plan(q.queries()["audio_window_features"](spark, SF))
    assert "array_max" not in s, "peak must come from the single-pass aggregate"
    assert s.count("slice(") <= 1, s.count("slice(")


def test_round6_analytics_plan_shapes(spark):
    # sampled_quantiles: the bottom-k sample is a partial top-k
    # (TakeOrderedAndProject heap per partition) — never a global sort
    # of the data; the only sort left touches the k-row array
    s = simple_plan(q.queries()["sampled_quantiles"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "CartesianProduct" not in s
    # token_burstiness: one (token,doc) aggregate + per-token rollup +
    # partial top-k; no windows anywhere
    s = simple_plan(q.queries()["token_burstiness"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "Window" not in s
    # textrank: iterations live behind per-step localCheckpoints; the
    # visible final plan must be just the top-k over the <= top_v-row
    # score table (partial top-k, no cartesian, no window)
    s = simple_plan(q.queries()["textrank_keywords"](spark, SF))
    assert "CartesianProduct" not in s
    assert "TakeOrderedAndProject" in s, s
    assert "Window" not in s
    # contamination_winnow: worst-source pick is a max-struct aggregate,
    # not a window; fingerprint join is an equi-join on capped ints
    s = simple_plan(q.queries()["contamination_winnow"](spark, SF))
    assert "CartesianProduct" not in s
    assert "row_number" not in s, s


def test_grouped_sampled_quantiles_partial_topk(spark):
    # the per-language bottom-k sample must plan ranked_head's
    # WindowGroupLimit PAIR (Partial below the exchange): a hot lang
    # ships <= k rows per map partition, never its full doc count
    s = simple_plan(q.queries()["grouped_sampled_quantiles"](spark, SF))
    assert s.count("WindowGroupLimit") == 2, s.count("WindowGroupLimit")
    assert "Partial" in s, s


def test_psi_drift_grid_sized_after_binning(spark):
    # PSI: per dimension one data-sized aggregate (value -> bin ->
    # per-half counts); the term math and final sum run on the
    # <= bins-row grid — no windows over data, no cartesian, and the
    # 1-row min/max range rides a broadcast
    s = simple_plan(q.queries()["psi_drift"](spark, SF))
    assert "CartesianProduct" not in s  # broadcast nested loop of 1-row rng is fine
    assert "SortMergeJoin" not in s, s


def test_bpe_fertility_encodes_via_broadcast_vocab(spark):
    # encoding must ride the trained-vocab broadcast join (the word
    # cache), never re-apply merges per occurrence; the only shuffle
    # after the word explode is the |langs|-row aggregate
    s = simple_plan(q.queries()["bpe_fertility"](spark, SF))
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_round6_batch3_plan_shapes(spark):
    # markov_surprisal: matrix + surprisal table broadcast to the pair
    # stream; ranking is a partial top-k; the only window is the
    # user-keyed lag
    s = simple_plan(q.queries()["markov_surprisal"](spark, SF))
    assert "TakeOrderedAndProject" in s, s
    assert "BroadcastHashJoin" in s and "CartesianProduct" not in s
    # user_event_entropy: aggregates + one user-keyed join, no windows
    s = simple_plan(q.queries()["user_event_entropy"](spark, SF))
    assert "Window" not in s, s
    assert "CartesianProduct" not in s
    # dup_clustering_coeff: 1-row aggregates cross-joined by broadcast;
    # no data-sized nested loop (BroadcastNestedLoopJoin of 1-row sides
    # is the intended shape), no window
    s = simple_plan(q.queries()["dup_clustering_coeff"](spark, SF))
    assert "Window" not in s, s


def test_round6_batch4_plan_shapes(spark):
    # abc_analysis: prefix sums over the ~all-distinct revenue
    # histogram must ride the sharded two-phase scan — every window
    # partitioned by the range shard (same pin as gini)
    s = simple_plan(q.queries()["abc_analysis"](spark, SF))
    for line in s.splitlines():
        if "windowspecdefinition" in line:
            assert "__shard" in line, line
    # props_key_profile: explode + aggregates, no windows, no
    # data-sized joins
    s = simple_plan(q.queries()["props_key_profile"](spark, SF))
    assert "Window" not in s and "SortMergeJoin" not in s, s
    # dedup_threshold_curve: the only window runs over the <= 10-row
    # tenth grid AFTER the pair aggregate, and the similarity join is
    # the pinned equi-join shape (no cartesian)
    s = simple_plan(q.queries()["dedup_threshold_curve"](spark, SF))
    assert "CartesianProduct" not in s, s


def test_round6_batch5_plan_shapes(spark):
    # simhash_distance_curve: candidates from band-bucket equi-joins,
    # verification in codegen — no cartesian anywhere even at the
    # widened radius; the only window is the <= 7-row distance grid
    s = simple_plan(q.queries()["simhash_distance_curve"](spark, SF))
    assert "CartesianProduct" not in s, s
    # cluster_purity: the final plan (behind the CC checkpoint) is a
    # doc-keyed join + two aggregates — no windows, no cartesian
    s = simple_plan(q.queries()["cluster_purity"](spark, SF))
    assert "Window" not in s and "CartesianProduct" not in s, s


def test_partsupp_tpch_plan_shapes(spark):
    # Q2: correlated-min realized as join + map-combined min + join
    # back — no correlated re-execution, dims broadcast, no cartesian
    s = simple_plan(q.queries()["q2_min_cost_supplier"](spark, SF))
    assert "BroadcastHashJoin" in s and "CartesianProduct" not in s, s
    # Q9: part filter + supplier/nation ride broadcasts; the rollup
    # grid is (nation, year)-sized
    s = simple_plan(q.queries()["q9_product_profit"](spark, SF))
    assert "BroadcastHashJoin" in s and "CartesianProduct" not in s, s
    # Q11: the global total joins back as a 1-row broadcast (BNLJ of a
    # 1-row side is the intended shape), never a shuffle join
    s = simple_plan(q.queries()["q11_important_stock"](spark, SF))
    assert "CartesianProduct" not in s, s
    # Q16: the NOT-IN blacklist plans as a broadcast anti join
    s = simple_plan(q.queries()["q16_parts_supplier_rel"](spark, SF))
    assert "LeftAnti" in s, s
    # Q20: the qualifying-supplier subquery reaches suppliers as a
    # semi join
    s = simple_plan(q.queries()["q20_excess_stock"](spark, SF))
    assert "LeftSemi" in s and "CartesianProduct" not in s, s


def test_round6_batch6_plan_shapes(spark):
    # sessionize_native: the built-in merging session-window aggregate
    # (JVM-side, no Python), one user-hash exchange feeding it
    s = simple_plan(q.queries()["sessionize_native"](spark, SF))
    assert "session_window" in s and "BatchEvalPython" not in s, s
    # curriculum_order: TTR computes inside one projection — no explode
    # (Generate) shuffle, no data-sized window; the only window/sort
    # runs over the <= 8-row band grid above its aggregate
    s = simple_plan(q.queries()["curriculum_order"](spark, SF))
    assert "Generate" not in s and "CartesianProduct" not in s, s
    # mixture_temperature: the T grid and the per-T normalizers join
    # back as broadcasts (1-3 row sides → BNLJ/BHJ, never a shuffle
    # join), and the whole thing is windowless
    s = simple_plan(q.queries()["mixture_temperature"](spark, SF))
    assert "Window" not in s and "CartesianProduct" not in s, s
    assert "SortMergeJoin" not in s, s


def test_hypertable_rollup_scans_events_once(spark):
    # the continuous-aggregate property: raw events feed only the hour
    # grain's cache; day merges the hour cache, week merges the day
    # cache. In the plan: two InMemoryRelations (hour, day) and every
    # union branch reads an InMemoryTableScan — the "Scan parquet"
    # strings appear only INSIDE cache build descriptions (each branch
    # block hits a cache scan before any raw scan text).
    s = simple_plan(q.queries()["hypertable_rollup"](spark, SF))
    assert s.count("InMemoryRelation") >= 2, s
    assert s.count("InMemoryTableScan") >= 3, s
    union_branches = s.split("Union")[1]
    for branch in union_branches.split(":- ")[1:]:
        im = branch.find("InMemoryTableScan")
        raw = branch.find("Scan parquet")
        assert im != -1 and (raw == -1 or im < raw), branch[:400]
    assert "CartesianProduct" not in s and "BatchEvalPython" not in s, s


def test_dow_hour_heatmap_single_aggregate_to_grid(spark):
    # one map-combined HashAggregate pair over the scan; the share
    # window runs over the <=168-row grid only (after the aggregate)
    s = simple_plan(q.queries()["events_dow_hour_heatmap"](spark, SF))
    assert "CartesianProduct" not in s and "SortMergeJoin" not in s, s
    assert s.count("Scan parquet") == 1, s
    # window sits ABOVE the aggregate (grid-sized input)
    assert s.find("Window") < s.find("HashAggregate"), s


def test_padding_waste_scans_documents_once(spark):
    # the L-grid explode folds map-side: one scan, no joins, no window
    s = simple_plan(q.queries()["padding_waste_curve"](spark, SF))
    assert s.count("Scan parquet") == 1, s
    assert "Join" not in s and "Window" not in s, s


def test_markov_stationary_grid_supersteps(spark):
    # the fixpoint runs on the DRIVER over the collected k^2 grid; the
    # final plan is the closing sort over the metadata-sized result
    # vector — a LocalTableScan since the Arrow-batch local_df path
    # (r13; previously a Scan ExistingRDD of the parallelized list)
    s = simple_plan(q.queries()["markov_stationary"](spark, SF))
    assert "LocalTableScan" in s or "Scan ExistingRDD" in s, s
    assert "CartesianProduct" not in s, s


def test_wau_mau_joins_grid_sized_frames(spark):
    # both sides of the month join are post-aggregate grids; no window
    s = simple_plan(q.queries()["wau_mau_stickiness"](spark, SF))
    assert "Window" not in s and "CartesianProduct" not in s, s


def test_dup_rate_band_reuses_bucketed_pairs(spark):
    # candidate generation is the PPJoin prefix-filter shape: no
    # cartesian anywhere; the final rollup is grid-sized
    s = simple_plan(q.queries()["dup_rate_by_length_band"](spark, SF))
    assert "CartesianProduct" not in s, s


def test_ship_latency_percentiles_grid_windows_only(spark):
    # exact percentiles WITHOUT sorting every row per group: counts
    # roll to the (priority, delay) grid first, the cumulative window
    # runs above that aggregate
    s = simple_plan(q.queries()["ship_latency_percentiles"](spark, SF))
    assert "CartesianProduct" not in s, s
    # plans print top-down: the cumulative Window's INPUT (below it in
    # the text) must be the grid HashAggregate — counts fold before any
    # window touches rows
    assert s.rfind("HashAggregate") > s.find("Window") > -1, s
    assert "BroadcastHashJoin" in s, s  # orders side broadcasts


def test_orders_backlog_grid_cumulative(spark):
    # open/close events fold to the month grid before the running sum
    s = simple_plan(q.queries()["orders_backlog_monthly"](spark, SF))
    assert "CartesianProduct" not in s, s
    assert s.rfind("HashAggregate") > s.find("Window") > -1, s


def test_concurrency_peak_window_is_day_partitioned(spark):
    # the endpoint sweep must run per day partition — a global
    # single-partition window would be the scale cliff
    plan = plan_of(q.q_events_concurrency_peak(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "SinglePartition" not in tree, tree
    assert "hashpartitioning(db" in plan


def test_attribution_bucketized_no_cartesian(spark):
    # purchase-click pairing is an equi-join on (user, bucket) — no
    # cartesian, no per-user cross product
    plan = plan_of(q.q_attribution_last_touch(spark, SF))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin" in tree or "BroadcastHashJoin" in tree or (
        "ShuffledHashJoin" in tree
    )


def test_khop_reach_all_equi_joins(spark):
    plan = plan_of(q.q_dup_khop_reach(spark, SF))
    assert "CartesianProduct" not in plan


def test_coproduction_pairs_are_bounded_equi_join(spark):
    # supplier pairs come from a per-part equi-join (C(4,2) per key),
    # never a cross join of partsupp with itself
    plan = plan_of(q.q_supplier_coproduction(spark, SF))
    assert "CartesianProduct" not in plan


def test_cohort_ltv_two_shuffles(spark):
    # min-per-customer + grid rollup: customer-keyed exchange, the
    # join reuses it, plus the final report sort
    plan = plan_of(q.q_cohort_ltv_matrix(spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") <= 4, tree


def test_outliers_mad_grid_broadcasts_back(spark):
    # medians live on a type-sized grid; the value rows join them via
    # broadcast, never a shuffle of values against a 5-row table
    plan = plan_of(q.q_outliers_mad(spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree


def test_markov_attribution_no_cartesian_no_python(spark):
    # iterative value iteration runs on a scenarios x states grid with
    # lineage cuts; the closing plan must stay JVM-side and cross-free
    plan = plan_of(q.q_attribution_markov_removal(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_attribution_markov_no_forced_users_broadcast(spark):
    """r8 verdict #2: firstp (one row per CONVERTING USER) must not be
    hint-broadcast — at 100x that is a driver-materialized users-sized
    table. With size-based broadcasting disabled, any BroadcastHashJoin
    in the journey stage could only come from a hint; expect none (the
    user_id equi-join shuffles on the same key the journey window
    already exchanges). The tiny states-grid value-iteration side may
    broadcast freely — it is checked separately as bounded."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(
            q.queries()["attribution_markov_removal"](spark, SF)
        )
        assert "BroadcastHashJoin" not in plan, plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_phash_dedup_no_pair_dedup_shuffle(spark):
    # exactly-once band emission: no pair-level dropDuplicates (which
    # would shuffle the band-collision noise), no cartesian, no window;
    # the hamming verify is a codegen filter inside each join branch
    plan = plan_of(q.queries()["multimodal_phash_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # dropDuplicates would plan as HashAggregate pairs per branch
    assert "HashAggregate" not in plan
    assert "bit_count" in plan  # verify stayed in the join branches


def test_dedup_cluster_sizes_shuffle_budget(spark):
    """r10 verdict #7: this query retimed +41% with UNTOUCHED code —
    shared-box noise. Pin the closing plan's shuffle budget so a real
    regression can't hide in the noise band (iterative CC stages are
    localCheckpointed; the final plan is label-agg + distribution)."""
    df = q.queries()["dedup_cluster_sizes"](spark, SF)
    s = simple_plan(df)
    assert s.count("Exchange") <= 2, s
    f = plan_of(df)
    assert "CartesianProduct" not in f and "BatchEvalPython" not in f


def test_dup_pagerank_shuffle_budget(spark):
    """Same pin for dup_pagerank (+31% on untouched code in r10): the
    closing plan is one aggregation exchange over the checkpointed
    rank iteration."""
    df = q.queries()["dup_pagerank"](spark, SF)
    s = simple_plan(df)
    assert s.count("Exchange") <= 1, s
    f = plan_of(df)
    assert "CartesianProduct" not in f and "BatchEvalPython" not in f
