"""Corpus-operations demo: the monitoring / contract / planning layer.

Composes the engine's standing-state and gate operators over the test
corpus the way a production ingest would run them:

1. data-quality contract gate (one-pass rule suite) — refuse the batch
   on violation;
2. mergeable sketch state — CMS grid + HLL registers built once,
   merged with the "previous day" (here: the other corpus half);
3. drift check between the two days' grids (no raw rescan);
4. mixture plan + hash-stable sampling rates for the next training run;
5. temperature-scaled source weights; 6. curriculum pacing bands.

Run: python examples/corpus_ops_demo.py [sf_dir]
"""

import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from bamboo_spark.session import get_spark
from bamboo_spark import queries as q
from bamboo_spark.operators import dq, sketch


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("corpus_ops_demo")

    print("== 1. contract gate ==")
    report = q.q_dq_report(spark, sf)
    report.show(truncate=False)
    bad = [r.rule for r in report.collect() if r["pass"] == 0]
    if bad:
        print("REFUSING batch; violated rules:", bad)

    print("== 2. sketch state (build + merge) ==")
    d = spark.read.parquet(sf + "/documents.parquet")
    toks = d.select(F.explode(F.split("text", " ")).alias("t")).where(
        F.col("t") != ""
    )
    halves = [
        toks.where(F.crc32("t") % 2 == i) for i in (0, 1)
    ]
    grids = [sketch.cms_build(h, "t", depth=4, width=2048) for h in halves]
    # merge = cell-wise sum of grids built with the same depth/width
    merged = (
        grids[0].unionByName(grids[1])
        .groupBy("hash_row", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    print("merged CMS cells:", merged.count())
    regs = sketch.hll_build(d.select("doc_id"), "doc_id", p=10)
    est = sketch.hll_estimate(regs, p=10).collect()[0].hll_est
    print("HLL distinct-doc estimate:", est, "exact:", d.count())

    print("== 3. drift between corpus halves ==")
    q.q_token_drift_cms(spark, sf).show()

    print("== 4. mixture plan ==")
    q.q_data_mixture_plan(spark, sf).show(truncate=False)

    print("== 5. temperature-scaled source weights (T = 1, 2, 4) ==")
    q.q_mixture_temperature(spark, sf).show(truncate=False)

    print("== 6. curriculum pacing table (difficulty bands) ==")
    q.q_curriculum_order(spark, sf).show(truncate=False)

    spark.stop()


if __name__ == "__main__":
    main()
