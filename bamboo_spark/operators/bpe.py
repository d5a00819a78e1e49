"""Distributed BPE merge training (Sennrich et al. 2016 — public
algorithm; the reference library has no tokenizer surface).

The trainer's working set is the WORD-COUNT table, not the corpus: BPE
statistics are identical whether you scan 100 TB of text or its
(word, count) aggregate, and the latter is vocabulary-bounded. Each
merge round is then

1. one map-combined aggregate: adjacent symbol-pair counts weighted by
   word count (pairs come from zipped array slices — no indexed array
   access in the corpus-shaped path);
2. a 1-row argmax collect (count desc, pair lexicographic — fully
   deterministic), the same metadata-bounded driver hop as a k-means
   centroid pull;
3. a narrow map applying the merge with EXACT greedy leftmost
   semantics, entirely in integer/array expressions:
   a merge position is selected iff it is a candidate (s[i]=L,
   s[i+1]=R) AND an even number of candidates immediately precede it
   in an unbroken run — for L≠R candidate positions can never be
   adjacent (select all), and for L=R the parity rule pairs a run of m
   identical symbols into ⌊m/2⌋ leftmost pairs, which is precisely the
   greedy fold without any recursion. (A literal string
   ``replace(state, L∥sep∥R, ...)`` is NOT equivalent: matches share
   their boundary separator, so runs and consecutive occurrences merge
   wrongly — caught by the differential test in tests/test_bpe.py.)
   The per-word cost is O(len²) on the vocabulary table — noise.

So n_merges rounds cost n_merges small shuffles over the vocabulary
table; nothing data-sized ever reaches the driver, and the DuckDB
oracle replays every round bit-for-bit (same argmax, same selection
rule).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, functions as F
from bamboo_spark._localdf import local_df as _local_df

from bamboo_spark.operators._cache import tracked_persist


def _lit_spark(s: str) -> str:
    """Spark-side literal: backslash FIRST (Spark SQL literals treat \\
    as an escape; a corpus symbol containing one would otherwise parse
    differently — or not at all), then the usual quote doubling."""
    return "'%s'" % s.replace("\\", "\\\\").replace("'", "''")


def _apply_merge_spark(lhs: str, rhs: str) -> str:
    """SQL producing the post-merge symbol array from column ``syms``
    (0-based Spark arrays)."""
    L, R = _lit_spark(lhs), _lit_spark(rhs)
    cand = "(syms[{j}] = %s AND syms[{j} + 1] = %s)" % (L, R)
    sel = (
        "if(size(syms) < 2, cast(array() as array<boolean>), "
        "transform(sequence(0, size(syms) - 2), i -> "
        + cand.format(j="i")
        + " AND ((i - (coalesce(array_max(filter(sequence(0, i), j -> NOT "
        + cand.format(j="j")
        + ")), -1) + 1)) % 2 = 0)))"
    )
    return (
        "filter(transform(sequence(0, size(syms) - 1), i -> "
        "case when i < size(syms) - 1 and _sel[i] then %s "
        "when i > 0 and _sel[i - 1] then cast(null as string) "
        "else syms[i] end), x -> x is not null)" % _lit_spark(lhs + rhs),
        sel,
    )


def _train(
    df: DataFrame, text_col: str, n_merges: int
) -> Tuple[List[Tuple[int, str, str, str, int]], DataFrame]:
    """Run the merge loop; returns (merges, final vocab state) where
    the state is one row per distinct word: (w, syms, n) with ``syms``
    the word's segmentation under all learned merges — i.e. the
    trained ENCODER for every seen word."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1; got %d" % n_merges)
    words = (
        df.select(F.explode(F.split(text_col, " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    state = tracked_persist(
        words.select("w", F.split("w", "").alias("syms"), "n")
    )
    merges: List[Tuple[int, str, str, str, int]] = []
    for r in range(1, n_merges + 1):
        pairs = (
            state.select(
                F.expr(
                    "explode(zip_with("
                    " slice(syms, 1, size(syms) - 1),"
                    " slice(syms, 2, size(syms) - 1),"
                    " (l, r) -> struct(l, r))) as p"
                ),
                "n",
            )
            .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("n").cast("bigint").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.col("cnt").desc(), "lhs", "rhs").limit(1).collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0].lhs, top[0].rhs, top[0].cnt
        merges.append((r, lhs, rhs, lhs + rhs, cnt))
        out_expr, sel_expr = _apply_merge_spark(lhs, rhs)
        state = tracked_persist(
            state.withColumn("_sel", F.expr(sel_expr))
            .select("w", F.expr(out_expr).alias("syms"), "n")
        )
    return merges, state


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Train the first ``n_merges`` BPE merges over whitespace words of
    ``text_col``. Returns one row per merge: (rank, lhs, rhs, merged,
    pair_count), rank 1-based in merge order. Stops early if no
    adjacent pair remains."""
    merges, _ = _train(df, text_col, n_merges)
    return _local_df(
        df.sparkSession,
        merges,
        "rank bigint, lhs string, rhs string, merged string, pair_count bigint",
    )


def bpe_encode_counts(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train-and-encode: per document, the whitespace word count and
    the BPE token count under the learned merges — the real
    "how many training tokens is this corpus" measure (whitespace
    counts overestimate by the subword split factor).

    Encoding rides the TRAINED VOCAB TABLE: training already reduced
    every distinct word to its final segmentation, so encoding is a
    word→segment-count broadcast join, not a re-application of merges
    over the corpus — the same amortization a production tokenizer
    service gets from its word cache. One explode + one broadcast join
    + one doc-keyed aggregate."""
    _, vocab = _train(df, text_col, n_merges)
    enc = vocab.select("w", F.size("syms").cast("bigint").alias("n_sub"))
    toks = df.select(
        F.col(id_col), F.explode(F.split(text_col, " ")).alias("w")
    ).where(F.length("w") > 0)
    return (
        toks.join(F.broadcast(enc), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy(id_col)
    )


def bpe_duck(n_merges: int, table: str = "documents", text_col: str = "text") -> str:
    """DuckDB oracle replaying ``bpe_train`` round-for-round: same word
    counts, same pair argmax (count desc, pair asc), same greedy
    parity-rule merge application. The oracle cannot know the learned
    pairs up front, so each round's argmax is joined back scalar-style
    (1-row cross join) and the selection expressions are built against
    that row's values via list lambdas."""
    # The oracle must be one static SQL string, but the merge pair of
    # round r is data-dependent. Express rounds generically: pull the
    # argmax row (mr), then apply the selection rule with mr.lhs/mr.rhs
    # referenced as correlated scalars inside the lambdas.
    sql = """
with w0 as materialized (
  select w, string_split(w, '') s, count(*)::BIGINT n
  from (select unnest(string_split({c}, ' ')) w from {t})
  where length(w) > 0
  group by w
)""".format(t=table, c=text_col)
    cand_i = "(s[i] = m.lhs AND s[i + 1] = m.rhs)"
    cand_j = "(s[j] = m.lhs AND s[j + 1] = m.rhs)"
    sel = (
        "[" + cand_i + " AND ((i - (coalesce(list_max(list_filter("
        "range(1, i + 1), j -> NOT " + cand_j + ")), 0) + 1)) % 2 = 0) "
        "for i in range(1, len(s))]"
    )
    out = (
        "list_filter([case when i < len(s) and sel[i] then m.lhs || m.rhs "
        "when i > 1 and sel[i - 1] then NULL else s[i] end "
        "for i in range(1, len(s) + 1)], x -> x is not null)"
    )
    for r in range(1, n_merges + 1):
        sql += """,
p{r} as materialized (
  select l lhs, rr rhs, sum(n)::BIGINT cnt from (
    select n, unnest(s[1:len(s)-1]) l, unnest(s[2:len(s)]) rr
    from w{p}
  )
  group by l, rr
),
m{r} as materialized (
  select {r}::BIGINT as "rank", lhs, rhs, lhs || rhs merged,
         cnt pair_count
  from p{r} order by cnt desc, lhs, rhs limit 1
),
ws{r} as materialized (
  select w.w, {sel} sel, s, n, m.lhs, m.rhs
  from w{p} w left join m{r} m on true
),
w{r} as materialized (
  select w, case when m.lhs is null then s else {out} end s, n
  from (select w, sel, s, n, struct_pack(lhs := lhs, rhs := rhs) m
        from ws{r})
)""".format(r=r, p=r - 1, sel=sel, out=out)
    unions = " union all ".join(
        "select * from m%d" % r for r in range(1, n_merges + 1)
    )
    sql += '\nselect * from (%s) order by "rank"\n' % unions
    return sql


def bpe_encode_duck(
    n_merges: int,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for ``bpe_encode_counts``: the same training
    replay, then words joined to their final segmentation lengths."""
    train = bpe_duck(n_merges, table, text_col)
    # strip the merge-table tail; keep the CTE chain
    ctes = train.rsplit("\nselect * from", 1)[0]
    return (
        ctes
        + """
, enc as (select w, len(s)::BIGINT n_sub from w{R})
select {id}, count(*)::BIGINT n_words, sum(n_sub)::BIGINT n_bpe_tokens
from (
  select {id}, unnest(string_split({c}, ' ')) w from {t}
)
join enc using (w)
where length(w) > 0
group by {id} order by {id}
""".format(R=n_merges, t=table, c=text_col, id=id_col)
    )
