"""Text-analysis operators: tokenization, shingles, language ID,
quality scoring, fingerprinting.

All expressions are built-in SQL functions (whole-stage codegen; no
Python in the hot path). Cross-engine determinism: the only hash used is
``md5`` (bit-identical in Spark and DuckDB); its leading 15 hex chars
convert to a 60-bit integer (fits BIGINT) via ``conv`` (Spark) /
``::BIGINT`` hex cast (DuckDB).

Scale notes: everything here is a narrow per-row projection — no
shuffle, fully pipelined into the scan; at 100 TB these run at reader
throughput with column pruning (only ``text`` is read).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# languages and tiny stopword lists for the heuristic language ID.
# Deliberately small so the oracle SQL stays readable; real pipelines
# would use a model — the *operator shape* (vector of per-language
# scores → argmax) is what matters here.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "que"],
    "zh": ["de", "le", "shi", "he", "zai"],
}


def tokens(col: str = "text") -> Column:
    """Whitespace tokens. Matches DuckDB ``string_split(text, ' ')``."""
    return F.split(F.col(col), " ")


def md5_int60_sql(expr: str) -> str:
    """Spark SQL: 60-bit integer from the md5 of ``expr``."""
    return "cast(conv(substr(md5(%s), 1, 15), 16, 10) as bigint)" % expr


def md5_int60_duck(expr: str) -> str:
    """DuckDB SQL: same 60-bit integer (identical md5 → identical value)."""
    return "(('0x' || substr(md5(%s), 1, 15))::BIGINT)" % expr


def word_shingles_sql(tok_expr: str, k: int = 3) -> str:
    """Spark SQL: array of k-word shingles over a token array.

    Built as a zip of k shifted slices rather than ``transform`` with
    indexed access: ``t[i]`` inside a lambda re-evaluates the token
    expression per *element* (no CSE through lambda scopes), which
    measured ~15× slower at sf0.1. Slices evaluate it O(k) per row.
    """
    n_sh = "size({t}) - {km1}".format(t=tok_expr, km1=k - 1)
    slices = [
        "slice({t}, {start}, {n})".format(t=tok_expr, start=j + 1, n=n_sh)
        for j in range(k)
    ]
    expr = slices[-1]
    for level, s in enumerate(reversed(slices[:-1])):
        expr = (
            "zip_with({a}, {b}, (x{i}, y{i}) -> concat(x{i}, ' ', y{i}))"
        ).format(a=s, b=expr, i=level)
    return (
        "case when size({t}) >= {k} then {expr} else array() end"
    ).format(t=tok_expr, k=k, expr=expr)


def word_shingles_duck(tok_expr: str, k: int = 3) -> str:
    """DuckDB SQL: same shingles (1-based lists)."""
    parts = " || ' ' || ".join("%s[i + %d]" % (tok_expr, j) for j in range(k))
    return (
        "case when len({t}) >= {k} then "
        "[{parts} for i in generate_series(1, len({t}) - {k} + 1)] "
        "else [] end"
    ).format(t=tok_expr, k=k, parts=parts)


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).cast("bigint")


def stopword_count_arr(lang: str, toks: Column) -> Column:
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")


def lang_id_arr(toks: Column) -> Column:
    """argmax over per-language stopword hit counts; ties break by the
    fixed language order (en, es, de, fr, zh).

    Built as array_max over (score, -index) structs — a CASE-chain argmax
    would repeat every score expression ~2L times (no CSE through CASE);
    this evaluates each score once. Tie semantics identical: max on
    (score, -idx) prefers the earliest language on equal scores.
    """
    langs = list(STOPWORDS)
    entries = [
        F.struct(
            stopword_count_arr(lang, toks).alias("s"), F.lit(-i).alias("ni")
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.element_at(
        F.array(*[F.lit(lang) for lang in langs]), (-best.getField("ni") + 1).cast("int")
    )


def lang_id(col: str = "text") -> Column:
    return lang_id_arr(tokens(col))


def lang_id_duck(col: str = "text") -> str:
    """DuckDB expression computing the identical argmax."""
    def score(lang):
        lst = ", ".join("'%s'" % w for w in STOPWORDS[lang])
        return (
            "len(list_filter(string_split(%s, ' '), t -> list_contains([%s], t)))"
            % (col, lst)
        )

    langs = list(STOPWORDS)
    expr = "'%s'" % langs[0]
    best = score(langs[0])
    for lang in langs[1:]:
        s = score(lang)
        expr = "case when %s > %s then '%s' else %s end" % (s, best, lang, expr)
        best = "case when %s > %s then %s else %s end" % (s, best, s, best)
    return expr


def quality_score_arr(toks: Column) -> Column:
    """Composite [0,1] quality heuristic: length saturation, stopword
    presence, vocabulary diversity. Pure arithmetic — bit-identical in
    the oracle."""
    n = F.size(toks).cast("double")
    length_part = F.least(F.lit(1.0), n / F.lit(50.0))
    sw = stopword_count_arr("en", toks).cast("double")
    stop_part = F.least(F.lit(1.0), sw / F.lit(5.0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / n
    return F.round(
        F.lit(0.4) * length_part + F.lit(0.3) * stop_part + F.lit(0.3) * diversity, 6
    )


def quality_score(col: str = "text") -> Column:
    return quality_score_arr(tokens(col))


def quality_score_duck(col: str = "text") -> str:
    t = "string_split(%s, ' ')" % col
    n = "len(%s)::DOUBLE" % t
    sw = (
        "len(list_filter(%s, t -> list_contains([%s], t)))::DOUBLE"
        % (t, ", ".join("'%s'" % w for w in STOPWORDS["en"]))
    )
    return (
        "round(0.4 * least(1.0, {n} / 50.0) + 0.3 * least(1.0, {sw} / 5.0) "
        "+ 0.3 * (len(list_distinct({t}))::DOUBLE / {n}), 6)"
    ).format(n=n, sw=sw, t=t)


def fingerprint_expr() -> Column:
    """Document fingerprint: min 60-bit md5 hash over word 3-shingles —
    a winnowing-style content signature, stable across engines."""
    sh = word_shingles_sql("split(text, ' ')")
    return F.expr(
        "array_min(transform(%s, s -> %s))" % (sh, md5_int60_sql("s"))
    ).alias("fingerprint")


def fingerprint_duck() -> str:
    sh = word_shingles_duck("string_split(text, ' ')")
    return "list_min(list_transform(%s, s -> %s))" % (sh, md5_int60_duck("s"))


def _stopword_sql(lang: str, toks: str) -> str:
    words = ", ".join("'%s'" % w for w in STOPWORDS[lang])
    return "size(filter(%s, t -> array_contains(array(%s), t)))" % (toks, words)


def lang_id_sql(toks: str) -> str:
    """Spark SQL string for the language-ID argmax (same construction
    as ``lang_id_arr``: array_max over (score, -index) structs)."""
    langs = list(STOPWORDS)
    entries = ", ".join(
        "named_struct('s', %s, 'ni', %d)" % (_stopword_sql(lang, toks), -i)
        for i, lang in enumerate(langs)
    )
    names = ", ".join("'%s'" % lang for lang in langs)
    return (
        "element_at(array(%s), cast(-(array_max(array(%s)).ni) + 1 as int))"
        % (names, entries)
    )


def quality_score_sql(toks: str) -> str:
    """Spark SQL string twin of ``quality_score_arr``."""
    n = "cast(size(%s) as double)" % toks
    sw = "cast(%s as double)" % _stopword_sql("en", toks)
    return (
        "round(0.4 * least(1.0d, {n} / 50.0d) + 0.3 * least(1.0d, {sw} / 5.0d)"
        " + 0.3 * (cast(size(array_distinct({t})) as double) / {n}), 6)"
    ).format(n=n, sw=sw, t=toks)


def add_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document stats block (the text-analysis operator surface).

    Two deliberate shapes: the token array is projected ONCE into an
    intermediate column (every stat derives from it), and the stats are
    whole SQL strings — a Column-by-Column construction makes hundreds
    of py4j round-trips, which measured 3.5 s of pure DataFrame-build
    time in a cold JVM; ``selectExpr`` makes it a handful."""
    staged = df.selectExpr("doc_id", col, "split(%s, ' ') as __toks" % col)
    return staged.selectExpr(
        "doc_id",
        "cast(size(__toks) as bigint) as n_tokens",
        "cast(length(%s) as bigint) as n_chars" % col,
        "round(cast(size(array_distinct(__toks)) as double)"
        " / cast(size(__toks) as double), 6) as distinct_ratio",
        "%s as lang_pred" % lang_id_sql("__toks"),
        "%s as quality" % quality_score_sql("__toks"),
    )


def gopher_filter(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 500,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 8.0,
    min_distinct_ratio: float = 0.35,
    min_quality: float = 0.35,
) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021 §A1.1
    rules re-expressed over this corpus): word-count bounds, mean word
    length bounds, vocabulary diversity, and the composite quality
    score. Returns EVERY doc with its stats, a 0/1 ``keep`` flag, and a
    ``drop_reasons`` audit string — the shape a curation pipeline needs
    to tune thresholds (aggregate drop_reasons) before committing to a
    destructive filter.

    Pure per-row arithmetic over one token-array projection: no
    shuffle, no UDF — the whole operator is scan-speed codegen and at
    100 TB runs at parquet-read throughput with column pruning down to
    (doc_id, text).
    """
    staged = df.selectExpr(
        id_col,
        "split(%s, ' ') as __toks" % col,
        "cast(length(%s) as double) as __chars" % col,
    )
    stats = staged.selectExpr(
        id_col,
        "cast(size(__toks) as bigint) as word_count",
        # text is single-space joined, so chars - (n-1) = sum of word lengths
        "round((__chars - (size(__toks) - 1)) / size(__toks), 6) as mean_word_len",
        "round(cast(size(array_distinct(__toks)) as double)"
        " / cast(size(__toks) as double), 6) as distinct_ratio",
        "%s as quality" % quality_score_sql("__toks"),
    )
    reasons = (
        "filter(array("
        "if(word_count < {minw}, 'too_few_words', null), "
        "if(word_count > {maxw}, 'too_many_words', null), "
        "if(mean_word_len < {minl} or mean_word_len > {maxl},"
        " 'word_len_out_of_range', null), "
        "if(distinct_ratio < {mind}, 'low_diversity', null), "
        "if(quality < {minq}, 'low_quality', null)"
        "), x -> x is not null)"
    ).format(
        minw=min_words,
        maxw=max_words,
        minl=min_mean_word_len,
        maxl=max_mean_word_len,
        mind=min_distinct_ratio,
        minq=min_quality,
    )
    return stats.selectExpr(
        id_col,
        "word_count",
        "mean_word_len",
        "distinct_ratio",
        "quality",
        "cast(size(%s) = 0 as int) as keep" % reasons,
        "concat_ws(',', %s) as drop_reasons" % reasons,
    )


def gopher_filter_duck(
    min_words: int = 30,
    max_words: int = 500,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 8.0,
    min_distinct_ratio: float = 0.35,
    min_quality: float = 0.35,
) -> str:
    """DuckDB oracle twin of ``gopher_filter`` (defaults must match)."""
    reasons = (
        "list_filter(["
        "if(word_count < {minw}, 'too_few_words', null), "
        "if(word_count > {maxw}, 'too_many_words', null), "
        "if(mean_word_len < {minl} or mean_word_len > {maxl},"
        " 'word_len_out_of_range', null), "
        "if(distinct_ratio < {mind}, 'low_diversity', null), "
        "if(quality < {minq}, 'low_quality', null)"
        "], x -> x is not null)"
    ).format(
        minw=min_words,
        maxw=max_words,
        minl=min_mean_word_len,
        maxl=max_mean_word_len,
        mind=min_distinct_ratio,
        minq=min_quality,
    )
    return """
with s as (
  select doc_id, string_split(text, ' ') toks,
         length(text)::DOUBLE chars, {quality} quality
  from documents
),
st as (
  select doc_id,
         len(toks)::BIGINT word_count,
         round((chars - (len(toks) - 1)) / len(toks), 6) mean_word_len,
         round(len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE, 6)
           distinct_ratio,
         quality
  from s
)
select doc_id, word_count, mean_word_len, distinct_ratio, quality,
       (len({reasons}) = 0)::INT keep,
       coalesce(array_to_string({reasons}, ','), '') drop_reasons
from st order by doc_id
""".format(quality=quality_score_duck("text"), reasons=reasons)


# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
# marks — the GPT-2-style split shape, restricted to ASCII classes so
# Java (Spark) and RE2-ish (DuckDB) regex engines agree byte-for-byte.
BPE_SPLIT_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_token_count(col: str = "text") -> Column:
    """Number of BPE-style pre-tokens (JVM regexp_count, codegen'd)."""
    return F.expr("regexp_count(%s, '%s')" % (col, BPE_SPLIT_RE)).cast("bigint")


def bpe_token_count_duck(col: str = "text") -> str:
    return "len(regexp_extract_all(%s, '%s'))::BIGINT" % (col, BPE_SPLIT_RE)


def normalize_text(col: str = "text") -> Column:
    """Canonical text normalization for dedup/fingerprinting: lowercase,
    strip ASCII punctuation, collapse whitespace runs, trim. Running
    dedup on normalized text catches case/punctuation-only duplicates
    that byte-exact hashing misses. ASCII-class regexes keep Spark and
    DuckDB byte-identical."""
    out = F.lower(F.col(col))
    out = F.regexp_replace(out, "[^a-z0-9 ]", " ")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


def normalize_text_duck(col: str = "text") -> str:
    return (
        "trim(regexp_replace(regexp_replace(lower(%s),"
        " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))" % col
    )


def stable_sample_pct(id_col: str = "doc_id") -> Column:
    """Deterministic sampling bucket in [0, 100) from the row id's md5.

    Hash-stable sampling is the reproducible alternative to rand():
    the same row lands in the same bucket on every run, cluster, and
    engine — so samples are re-creatable, diffable, and can be joined
    back to their source. Filter ``stable_sample_pct() < rate`` to keep
    ``rate``% of rows.
    """
    return F.expr(
        "pmod(cast(conv(substr(md5(cast(%s as string)), 1, 8), 16, 10) as bigint), 100)"
        % id_col
    )


def stable_sample_pct_duck(id_col: str = "doc_id") -> str:
    return "(('0x' || substr(md5(%s::VARCHAR), 1, 8))::BIGINT %% 100)" % id_col


# ------------------------------------------------------- PII scrubbing
#
# Patterns are backslash-free on purpose: Spark SQL string literals
# process escapes ('\b' -> backspace) while DuckDB's don't, so the same
# literal means different regexes in the two engines. Character classes
# ([.], [0-9]) express the same match in both and keep the oracle SQL
# byte-identical to the Spark expression.

PII_URL_RE = "https?://[A-Za-z0-9./_-]+"
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def scrub_pii_sql(expr: str) -> str:
    """Spark SQL: redact URLs, then emails, then phone numbers (order
    matters — emails can embed in URLs). Spark regexp_replace replaces
    every match."""
    out = "regexp_replace({e}, '{p}', '<URL>')".format(e=expr, p=PII_URL_RE)
    out = "regexp_replace({e}, '{p}', '<EMAIL>')".format(e=out, p=PII_EMAIL_RE)
    return "regexp_replace({e}, '{p}', '<PHONE>')".format(e=out, p=PII_PHONE_RE)


def scrub_pii_duck(expr: str) -> str:
    """DuckDB twin ('g' flag: DuckDB defaults to first-match-only)."""
    out = "regexp_replace({e}, '{p}', '<URL>', 'g')".format(e=expr, p=PII_URL_RE)
    out = "regexp_replace({e}, '{p}', '<EMAIL>', 'g')".format(e=out, p=PII_EMAIL_RE)
    return "regexp_replace({e}, '{p}', '<PHONE>', 'g')".format(e=out, p=PII_PHONE_RE)


def pii_count_sql(expr: str) -> str:
    """Total PII hits (Spark regexp_count; codegen, no UDF)."""
    return " + ".join(
        "regexp_count({e}, '{p}')".format(e=expr, p=p)
        for p in (PII_URL_RE, PII_EMAIL_RE, PII_PHONE_RE)
    )


def pii_count_duck(expr: str) -> str:
    return " + ".join(
        "len(regexp_extract_all({e}, '{p}'))".format(e=expr, p=p)
        for p in (PII_URL_RE, PII_EMAIL_RE, PII_PHONE_RE)
    )
