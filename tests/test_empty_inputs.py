"""Empty-input robustness: every operator family must return an empty
(or well-defined) result on an empty table — not raise. Classic crash
source (the round-3 advisor found exactly this in topk_neighbors_ivf's
empty query slice)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_dedup_family_empty(spark, empty_docs):
    from bamboo_spark.operators import dedup

    assert dedup.jaccard_pairs(empty_docs, 0.7).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs, 0.7).count() == 0
    assert dedup.simhash_pairs(empty_docs, max_hamming=2).count() == 0
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components_converged(pairs).count() == 0
    labels = spark.createDataFrame([], "doc_id long, component long")
    assert dedup.components_incremental(labels, pairs).count() == 0


def test_linkage_empty(spark):
    from bamboo_spark.operators.linkage import (
        edit_distance_join,
        edit_distance_pairs,
    )

    e = spark.createDataFrame([], "id long, k string")
    one = spark.createDataFrame([(1, "abc")], "id long, k string")
    assert edit_distance_pairs(e, "id", "k", 2).count() == 0
    assert edit_distance_join(e, one, "id", "k", 2).count() == 0
    assert edit_distance_join(one, e, "id", "k", 2).count() == 0


def test_bpe_empty(spark, empty_docs):
    from bamboo_spark.operators.bpe import bpe_encode_counts, bpe_train

    assert bpe_train(empty_docs, "text", 3).count() == 0
    assert bpe_encode_counts(empty_docs, "text", 3).count() == 0


def test_cdc_and_scale_empty(spark):
    from bamboo_spark.operators.scale import cdc_apply, snapshot_diff

    base = spark.createDataFrame([], "k long, ver long, v string")
    chg = spark.createDataFrame([], "k long, ver long, v string, op string")
    assert cdc_apply(base, chg, "k", ["ver"], op_col="op").count() == 0
    d = spark.createDataFrame([], "doc_id long, source string, text string")
    assert snapshot_diff(d, d).count() == 0


def test_text_and_pack_empty(spark, empty_docs):
    from bamboo_spark.operators import pack, text

    assert text.add_text_stats(empty_docs).count() == 0
    assert text.gopher_filter(empty_docs).count() == 0
    assert (
        pack.chunk_documents(empty_docs, chunk_tokens=8, stride=4).count()
        == 0
    )


def test_similarity_empty(spark):
    from bamboo_spark.operators import similarity

    e = spark.createDataFrame([], "vec_id long, embedding array<double>, label string")
    with pytest.raises(ValueError, match="empty"):
        similarity.embedding_covariance(e)


def test_sketch_family_empty(spark):
    from bamboo_spark.operators import sketch

    e = spark.createDataFrame([], "item string")
    cms = sketch.cms_build(e, "item", depth=3, width=64)
    assert cms.count() == 0
    items = spark.createDataFrame([("x",)], "item string")
    got = sketch.cms_estimate(cms, items, "item", depth=3, width=64).collect()
    assert got[0].cms_n == 0  # empty sketch estimates 0, not a crash
    regs = sketch.hll_build(e, "item", p=8)
    assert regs.count() == 0
    est = sketch.hll_estimate(regs, p=8).collect()[0].hll_est
    assert est == 0.0  # linear counting with V = m -> ln(1) = 0
    kmv = sketch.kmv_build(
        spark.createDataFrame([], "s string, item long"), "s", "item"
    )
    assert kmv.count() == 0
    assert sketch.kmv_jaccard_pairs(kmv, "s").count() == 0


def test_classify_and_dq_empty(spark, empty_docs):
    from bamboo_spark.operators import classify, dq

    lik, cls = classify.nb_train(empty_docs, "text", "lang")
    assert lik.count() == 0 and cls.count() == 0
    pred = classify.nb_classify(empty_docs, lik, cls)
    assert pred.count() == 0

    rep = dq.dq_report(
        empty_docs,
        [
            dq.not_null("doc_id"),
            dq.unique("doc_id"),
            dq.references("doc_id", empty_docs, "doc_id"),
        ],
    ).collect()
    assert {r.rule: (r.n_rows, r.n_violations, r["pass"]) for r in rep} == {
        "not_null(doc_id)": (0, 0, 1),
        "unique(doc_id)": (0, 0, 1),
        "references(doc_id->doc_id)": (0, 0, 1),
    }


def test_zorder_and_read_union_empty(spark):
    from pyspark.sql import functions as F

    from bamboo_spark.operators.scale import zorder_key

    e = (
        spark.createDataFrame([], "x long, y long")
        .withColumn("lo", F.lit(0))
        .withColumn("hi", F.lit(10))
    )
    out = e.withColumn(
        "z", zorder_key(["x", "y"], ["lo", "lo"], ["hi", "hi"], bits=8)
    )
    assert out.count() == 0


def test_session_and_quality_gate_empty(spark, empty_docs):
    from bamboo_spark.streaming import (
        quality_gate_stream,
        session_window_stream,
    )

    assert quality_gate_stream(empty_docs).count() == 0
    empty_events = spark.createDataFrame([], "user_id long, ts timestamp")
    assert session_window_stream(empty_events).count() == 0


def test_publish_incremental_empty_inputs(spark, tmp_path):
    # empty-frame behavior across the incremental publish family:
    # appending zero rows is a legal (no-file) version; delete with no
    # matches is a no-op; winnow/markov-style registry queries aren't
    # covered here (parquet-backed gate) but the publish protocol is
    import os

    from bamboo_spark.operators.publish import (
        append_publish,
        atomic_publish,
        delete_publish,
        read_published,
    )

    t = str(tmp_path / "tbl")
    atomic_publish(spark.range(10).selectExpr("id"), t)
    empty = spark.createDataFrame([], "id long")
    v = append_publish(empty, t)  # zero-row append: version commits
    assert v == 2 and read_published(spark, t).count() == 10
    assert delete_publish(spark, t, "id < 0") is None
    # publishing an EMPTY first snapshot round-trips through the
    # schema-only manifest path
    t2 = str(tmp_path / "tbl2")
    atomic_publish(empty, t2)
    back = read_published(spark, t2)
    assert back.count() == 0 and back.columns == ["id"]
    assert os.path.exists(os.path.join(t2, "manifest.json"))
