"""ANN surface demo: brute force vs trained IVF vs product quantization.

    python examples/ann_demo.py [sf_dir]

Runs the same top-k query through the three scale tiers and reports
recall vs the exact answer:

1. brute-force kNN     — exact; O(|Q| x n) GEMM, the small-corpus tier
2. IVF multiprobe kNN  — queries score only their n_probe buckets
3. PQ ADC + re-rank    — corpus scored from m-byte codes (32x smaller
                         working set), exact re-rank of the ADC head

Every tier is deterministic and oracle-replayable (see
tests/test_oracle_parity.py); this demo is about the TRADE, not the
values: recall dips as the working set shrinks.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bamboo_spark import get_spark
from bamboo_spark.operators import similarity


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("ann_demo")
    e = spark.read.parquet("%s/embeddings.parquet" % sf_dir)
    q, k = 10, 5

    def run(name, fn):
        t0 = time.perf_counter()
        rows = fn().collect()
        dt = time.perf_counter() - t0
        return name, {(r["query_id"], r["neighbor_id"]) for r in rows}, dt

    exact_name, exact, exact_dt = run(
        "brute-force", lambda: similarity.topk_neighbors(e, q, k)
    )
    tiers = [
        (exact_name, exact, exact_dt),
        run(
            "ivf-multiprobe",
            lambda: similarity.topk_neighbors_ivf(e, q, k, n_probe=2),
        ),
        run(
            "pq-adc+rerank",
            lambda: similarity.topk_neighbors_pq(e, q, k, rerank=30),
        ),
    ]
    print("%-16s %8s %8s" % ("tier", "recall", "sec"))
    for name, got, dt in tiers:
        recall = len(got & exact) / float(len(exact))
        print("%-16s %8.3f %8.2f" % (name, recall, dt))

    # the frozen-index deployment shape: train once, encode many times
    books = similarity.pq_train(e, m=8, n_codes=16)
    n_codes = similarity.pq_encode(e, books).count()
    print("frozen codebooks: %d vectors encoded" % n_codes)


if __name__ == "__main__":
    main()
