"""Text-analysis operators for training-data pipelines: token counting
(whitespace + BPE-ish regex), quality scoring, n-gram-heuristic language
ID, document fingerprinting. All pure JVM expressions — these run inside
whole-stage codegen over billions of documents without Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load, materialize

# BPE-ish pre-tokenizer: runs of alphanumerics OR single non-space symbols.
# Kept to a regex subset (character classes, +) that Java regex and RE2
# interpret identically.
_BPE_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"

_TOKENS_ORACLE = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_computed,
       n_chars
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


@query("q_text_token_count", oracle=_TOKENS_ORACLE)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        "n_chars",
    ).orderBy("doc_id")


_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

# Quality score: integer counts ratioed with one exact double division —
# length signal, stopword density, unique-token ratio, mean word length.
_QUALITY_ORACLE = f"""
SELECT doc_id, lang,
       n_toks,
       CAST(n_stop AS DOUBLE) / n_toks AS stopword_ratio,
       CAST(n_uniq AS DOUBLE) / n_toks AS unique_ratio,
       CAST(total_tok_chars AS DOUBLE) / n_toks AS mean_word_len,
       CASE WHEN n_toks >= 20 AND n_uniq * 2 >= n_toks THEN 1 ELSE 0 END AS quality_pass
FROM (
  SELECT doc_id, lang,
         len(toks) AS n_toks,
         len(list_filter(toks, x -> list_contains({_SW_SQL}, x))) AS n_stop,
         len(list_distinct(toks)) AS n_uniq,
         list_reduce(list_prepend(0, list_transform(toks, x -> length(x))), (a, x) -> a + x) AS total_tok_chars
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
)
ORDER BY doc_id
"""


@query("q_text_quality_score", oracle=_QUALITY_ORACLE)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_toks = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_uniq = F.size(F.array_distinct(toks))
    total_chars = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    return (
        d.select(
            "doc_id",
            "lang",
            n_toks.alias("n_toks"),
            (n_stop.cast("double") / n_toks).alias("stopword_ratio"),
            (n_uniq.cast("double") / n_toks).alias("unique_ratio"),
            (total_chars.cast("double") / n_toks).alias("mean_word_len"),
            F.when((n_toks >= 20) & (n_uniq * 2 >= n_toks), 1)
            .otherwise(0)
            .alias("quality_pass"),
        )
        # plain orderBy (round-15 honest A/B, full recompute per rep:
        # checkpoint_sort 0.44 s vs orderBy 0.41 s): the sampling pass
        # re-runs the map segment below the sort, which is cheaper than
        # the checkpoint round-trip + per-invocation rebuild a
        # data-computing build forces
        .orderBy("doc_id")
    )


# N-gram-heuristic language ID: score each candidate language by marker-
# token hits, argmax with a deterministic tie-break (list order). The
# fixture vocabulary is language-neutral so accuracy is chance — the
# operator contract (deterministic scoring + argmax) is what's tested.
_MARKERS = {
    "en": ("the", "data", "query"),
    "es": ("table", "row", "line"),
    "de": ("group", "sort", "merge"),
    "fr": ("key", "value", "hash"),
    "zh": ("spark", "batch", "stream"),
}


def _marker_sql(lang: str) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _MARKERS[lang]) + "]"
    return f"len(list_filter(toks, x -> list_contains({arr}, x)))"


_LANGID_ORACLE = f"""
SELECT lang, lang_guess, count(*) AS n
FROM (
  SELECT lang,
         CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
           WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_de THEN 'de'
           WHEN s_fr THEN 'fr' ELSE 'zh' END AS lang_guess
  FROM (
    SELECT lang,
           {_marker_sql('en')} AS s_en,
           {_marker_sql('es')} AS s_es,
           {_marker_sql('de')} AS s_de,
           {_marker_sql('fr')} AS s_fr,
           {_marker_sql('zh')} AS s_zh
    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
  )
)
GROUP BY lang, lang_guess
ORDER BY lang, lang_guess
"""


@query("q_text_lang_id", oracle=_LANGID_ORACLE)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # NB: the lambda must be single-parameter — PySpark reads a 2-arg
    # lambda as (element, index) — so capture the marker array via closure.
    def _contains(arr):
        return lambda x: F.array_contains(arr, x)

    scores = {}
    for lang, words in _MARKERS.items():
        arr = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, _contains(arr)))
    best = F.greatest(*scores.values())
    guess = F.when(scores["en"] == best, "en")
    for lang in ("es", "de", "fr"):
        guess = guess.when(scores[lang] == best, lang)
    guess = guess.otherwise("zh")
    return (
        d.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_guess")
    )


# Content-defined fingerprint: md5 over the sorted distinct token set —
# invariant to word order and duplication, the canonical "bag fingerprint"
# for clustering near-identical documents at scale.
_FPRINT_ORACLE = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS bag_fingerprint,
       md5(text) AS exact_fingerprint
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
"""


@query("q_text_fingerprint", oracle=_FPRINT_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    bag = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " "))), " "
    )
    return d.select(
        "doc_id",
        F.md5(bag).alias("bag_fingerprint"),
        F.md5(F.col("text")).alias("exact_fingerprint"),
    ).orderBy("doc_id")


# Repetition filter: flag docs whose single most frequent token exceeds
# 1/5 of all tokens — the cheap "word-salad / boilerplate loop" signal.
# Shape at scale: explode -> two partial-agg'd groupBys keyed on doc_id
# (count, then max) — shuffles doc_id + token, never materializes
# per-doc state anywhere but the agg hash table.
_REPETITION_ORACLE = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
counts AS (
  SELECT doc_id, tok, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
top AS (SELECT doc_id, max(c) AS top_tok_count FROM counts GROUP BY doc_id)
SELECT t.doc_id, lang,
       len(toks) AS n_toks,
       CAST(top_tok_count AS BIGINT) AS top_tok_count,
       CAST(top_tok_count AS DOUBLE) / len(toks) AS top_tok_ratio,
       CASE WHEN top_tok_count * 5 > len(toks) THEN 1 ELSE 0 END AS repetitive
FROM t JOIN top USING (doc_id)
ORDER BY doc_id
"""


@query("q_text_repetition_filter", oracle=_REPETITION_ORACLE)
def q_text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    exploded = t.select(
        "doc_id", "lang", F.size("toks").alias("n_toks"), F.explode_outer("toks").alias("tok")
    )
    top = (
        exploded.groupBy("doc_id", "lang", "n_toks", "tok")
        .count()
        .groupBy("doc_id", "lang", "n_toks")
        .agg(F.max("count").alias("top_tok_count"))
    )
    return top.select(
        "doc_id",
        "lang",
        "n_toks",
        "top_tok_count",
        (F.col("top_tok_count").cast("double") / F.col("n_toks")).alias("top_tok_ratio"),
        F.when(F.col("top_tok_count") * 5 > F.col("n_toks"), 1)
        .otherwise(0)
        .alias("repetitive"),
    ).orderBy("doc_id")


# TF-IDF top terms per document, log-free variant: score = tf * (N / df)
# with the idf ratio computed in ONE IEEE division (ln() is not
# correctly-rounded identically across engines, so the hash-checked
# variant avoids transcendentals; the ranking it induces is the same
# monotone ordering for a fixed corpus). Shape at scale: two partial-agg
# groupBys (doc_id x tok, tok), a shuffle join on tok, and a
# broadcast of the single-row corpus count. Document frequency derives
# from the (doc_id, tok) aggregate, not a second raw tokenization —
# and because of that Catalyst pushes the doc_id < 100 output filter
# THROUGH the window and join into the tf branch's parquet scan
# (PushedFilters: LessThan(doc_id,100)) while the df branch stays
# corpus-global as the statistic requires: the expensive side reads
# only the requested documents.
_TFIDF_ORACLE = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS tfidf_score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, tf, df, tfidf_score, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_score DESC, tok) AS rk
  FROM scored
)
WHERE rk <= 3 AND doc_id < 100
ORDER BY doc_id, rk
"""


@query("q_text_tfidf_topk", oracle=_TFIDF_ORACLE)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode_outer(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = d.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_score"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "tok", "tf", "df", "tfidf_score", "rk")
        .orderBy("doc_id", "rk")
    )


# Corpus vocabulary heavy hitters: global top-20 tokens with corpus share.
# One explode -> partial-agg'd groupBy(tok) -> TakeOrderedAndProject.
# The corpus-total denominator is the SUM of the per-token counts — a
# second tiny aggregate over the vocabulary, not a second pass over the
# corpus — broadcast back as a single row.
_HEAVY_ORACLE = """
WITH counts AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
),
tot AS (SELECT sum(n) AS n_total FROM counts)
SELECT tok, n, CAST(n * 1000000 AS DOUBLE) / n_total AS ppm
FROM counts CROSS JOIN tot
ORDER BY n DESC, tok
LIMIT 20
"""


@query("q_text_heavy_hitters", oracle=_HEAVY_ORACLE)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode_outer(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.groupBy().agg(F.sum("n").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "tok", "n", ((F.col("n") * 1000000).cast("double") / F.col("n_total")).alias("ppm")
        )
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


# Per-language quantile gate: keep documents at or above their language's
# median unique-token ratio. percent_rank is (rank-1)/(n-1) on BOTH
# engines and the ordering key includes doc_id, so ranks are tie-free and
# the double division is a single identical IEEE op. At 100 TB the window
# partitions on lang (bounded cardinality) — for a truly skewed corpus
# the same gate is computable from an approx-quantile broadcast instead.
_QUANTILE_ORACLE = """
WITH s AS (
  SELECT doc_id, lang,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS uniq_ratio
  FROM documents
)
SELECT doc_id, lang, uniq_ratio,
       percent_rank() OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) AS pr,
       CASE WHEN percent_rank() OVER (PARTITION BY lang ORDER BY uniq_ratio, doc_id) >= 0.5
            THEN 1 ELSE 0 END AS kept
FROM s
ORDER BY doc_id
"""


@query("q_text_quality_quantile", oracle=_QUANTILE_ORACLE)
def q_text_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    s = d.select(
        "doc_id",
        "lang",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "uniq_ratio"
        ),
    )
    w = Window.partitionBy("lang").orderBy("uniq_ratio", "doc_id")
    pr = F.percent_rank().over(w)
    return s.select(
        "doc_id",
        "lang",
        "uniq_ratio",
        pr.alias("pr"),
        F.when(pr >= 0.5, 1).otherwise(0).alias("kept"),
    ).orderBy("doc_id")


# PII-style scrubbing: mask every digit in a free-text column and count
# what was masked — the shape of redaction passes (SSNs, phone numbers,
# emails) over petabyte text columns. Pure JVM regexp expressions; note
# DuckDB's regexp_replace needs the 'g' flag to match Spark's
# replace-all semantics.
_PII_ORACLE = """
SELECT event_id,
       regexp_replace(props, '[0-9]', '#', 'g') AS masked_props,
       length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS n_digits,
       CASE WHEN regexp_matches(props, '[0-9]{3,}') THEN 1 ELSE 0 END AS has_long_number
FROM events
WHERE event_id < 500
ORDER BY event_id
"""


@query("q_text_pii_mask", oracle=_PII_ORACLE)
def q_text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return e.select(
        "event_id",
        F.regexp_replace("props", "[0-9]", "#").alias("masked_props"),
        (
            F.length("props") - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).alias("n_digits"),
        F.when(F.col("props").rlike("[0-9]{3,}"), 1)
        .otherwise(0)
        .alias("has_long_number"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, arXiv:2112.11446, Table A1 —
# the MassiveText filter): per-document heuristic gates applied before
# training. Implemented rules: word-count bounds [50, 100k], mean word
# length in [3, 10], >=80% of words contain an alphabetic character,
# and >=2 hits from the stop-word set {the,be,to,of,and,that,have,with}.
# The symbol-ratio (#/ellipsis) and bullet/line rules are omitted: the
# fixture corpus is single-line and symbol-free, so they degenerate to
# constant-true — the four implemented rules are the ones the corpus
# can actually exercise. Everything is integer counts plus one exact
# double division, evaluated in-projection (map-only, no shuffle, no
# UDF): at 100 TB this filter runs at scan speed.
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _GOPHER_STOPS) + "]"

_GOPHER_ORACLE = f"""
SELECT doc_id, n_words,
       CAST(total_chars AS DOUBLE) / n_words AS mean_word_len,
       CAST(n_alpha AS DOUBLE) / n_words AS alpha_ratio,
       n_stop_hits,
       r_word_count, r_mean_len, r_alpha, r_stop,
       CASE WHEN r_word_count = 1 AND r_mean_len = 1
             AND r_alpha = 1 AND r_stop = 1 THEN 1 ELSE 0 END AS gopher_pass
FROM (
  SELECT doc_id, n_words, total_chars, n_alpha, n_stop_hits,
         CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_word_count,
         CASE WHEN total_chars >= 3 * n_words
               AND total_chars <= 10 * n_words THEN 1 ELSE 0 END AS r_mean_len,
         CASE WHEN n_alpha * 5 >= n_words * 4 THEN 1 ELSE 0 END AS r_alpha,
         CASE WHEN n_stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop
  FROM (
    SELECT doc_id,
           len(toks) AS n_words,
           list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                       (a, x) -> a + x) AS total_chars,
           len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
           len(list_filter(toks, x -> list_contains({_GOPHER_SW_SQL}, x))) AS n_stop_hits
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
)
ORDER BY doc_id
"""


def gopher_quality_flags(d: DataFrame) -> DataFrame:
    """Apply the Gopher rule gates to any frame with (doc_id, text) —
    the reusable core of q_text_gopher_rules, directly property-tested
    against a pure-Python reference in tests/test_properties.py."""
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _GOPHER_STOPS])
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).alias(
            "total_chars"
        ),
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).alias("n_alpha"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop_hits"),
    )
    n, chars, alpha = F.col("n_words"), F.col("total_chars"), F.col("n_alpha")
    # integer-comparison forms (chars >= 3*n, alpha*5 >= n*4) so the
    # rule bits never depend on float rounding in either engine
    flagged = base.select(
        "doc_id",
        "n_words",
        "total_chars",
        "n_alpha",
        "n_stop_hits",
        F.when(n.between(50, 100000), 1).otherwise(0).alias("r_word_count"),
        F.when((chars >= 3 * n) & (chars <= 10 * n), 1)
        .otherwise(0)
        .alias("r_mean_len"),
        F.when(alpha * 5 >= n * 4, 1).otherwise(0).alias("r_alpha"),
        F.when(F.col("n_stop_hits") >= 2, 1).otherwise(0).alias("r_stop"),
    )
    all_pass = (
        (F.col("r_word_count") == 1)
        & (F.col("r_mean_len") == 1)
        & (F.col("r_alpha") == 1)
        & (F.col("r_stop") == 1)
    )
    return flagged.select(
        "doc_id",
        "n_words",
        (F.col("total_chars").cast("double") / F.col("n_words")).alias(
            "mean_word_len"
        ),
        (F.col("n_alpha").cast("double") / F.col("n_words")).alias("alpha_ratio"),
        "n_stop_hits",
        "r_word_count",
        "r_mean_len",
        "r_alpha",
        "r_stop",
        F.when(all_pass, 1).otherwise(0).alias("gopher_pass"),
    ).orderBy("doc_id")


@query("q_text_gopher_rules", oracle=_GOPHER_ORACLE)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_quality_flags(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BPE-style pair counting (Sennrich et al. 2016, arXiv:1508.07909 — the
# inner loop of vocabulary induction): count adjacent token pairs across
# the corpus and rank the merge candidates. One round of the merge loop
# is pure data processing — pairs are built in-array (same zero-shuffle
# projection pattern as the MinHash shingles), exploded once, and
# partial-agg'd on the pair key, so each map task pre-counts its slice
# of every candidate before the single shuffle. Selection is
# orderBy+limit -> TakeOrderedAndProject. At 100 TB the full BPE loop
# re-runs this query per merge with the previous merges applied
# map-side; the per-round plan shape is exactly this one.
# ---------------------------------------------------------------------------

_BPE_TOP_K = 30

_BPE_ORACLE = f"""
SELECT pair, n
FROM (
  SELECT pair, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || '+' || toks[i+1])) AS pair
    FROM (SELECT string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 2
  )
  GROUP BY pair
)
ORDER BY n DESC, pair
LIMIT {_BPE_TOP_K}
"""


@query("q_text_bpe_pair_counts", oracle=_BPE_ORACLE)
def q_text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tokenized = d.select(
        F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            "+", F.element_at(F.col("toks"), i.cast("int")),
            F.element_at(F.col("toks"), (i + 1).cast("int")),
        ),
    )
    return (
        tokenized.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP_K)
    )


# ---------------------------------------------------------------------------
# Inverted-index build: term -> (document frequency, sorted posting
# list) — the retrieval-side primitive a corpus engine feeds to search/
# RAG. Tokens are deduplicated per document IN-ARRAY before the explode
# (so the explode emits one row per (doc, distinct term), never per
# occurrence), then one partial-agg'd groupBy(term) assembles the
# posting lists. Postings serialize as a comma-joined sorted string:
# the driver's canonicalizer cannot hash raw list cells, and sorting
# makes the cell deterministic in both engines. At 100 TB the posting
# list per term is the real output — the sorted-collect state is
# bounded by document frequency, and a df cap (stop-word elision)
# bounds the worst key.
# ---------------------------------------------------------------------------

_INDEX_ORACLE = """
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
  FROM documents
)
GROUP BY term
ORDER BY term
"""


@query("q_text_inverted_index", oracle=_INDEX_ORACLE)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_doc_terms = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    return (
        per_doc_terms.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("postings"),
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# Corpus-unigram LM document scoring — the KenLM-lite shape of the
# CCNet perplexity filter (Wenzek et al. 2020, arXiv:1911.00359): build
# the corpus's own unigram distribution, then score every document by
# its mean token log-probability. High (less negative) = made of common
# tokens; low = rare/garbled. At 100 TB: the "vocabulary" here is the
# raw distinct-whitespace-token table, which on web text is UNBOUNDED
# (URLs, typos, numbers — Heaps' law never flattens pre-tokenizer), so
# the scoring join carries NO broadcast hint: AQE picks broadcast when
# the built table is actually small and falls back to a shuffle hash
# join when it isn't — a forced broadcast is exactly the hint that
# OOMs executors on a corpus-derived table (a production CCNet-style
# pipeline would instead cap to a top-K vocab + UNK bucket before this
# join). Scoring is the vocab equi-join + one groupBy(doc_id), and the
# token-count pass is one partial-agg'd shuffle over (token) — three
# linear passes, nothing quadratic. Only the 1-row corpus total
# keeps a broadcast hint (a scalar, bounded by construction). Float determinism: each token's ln() is rounded to 12
# decimals and converted to an EXACT decimal before the per-doc sum, so
# the sum is order-independent (plain partial-agg'd SUM — no per-doc
# sorted collect, no fold); the picounit sum accumulates in
# DECIMAL(38,0) (good to ~1e24 tokens/doc — an int64 sum would wrap
# silently around ~2e5), and the 6-dp mean rounding swamps any
# sub-12-dp ln() noise. This replaced a position-sorted
# collect_list+fold: same values at both test scales, one less
# per-group sort, and the aggregation stays map-side partial.
# ---------------------------------------------------------------------------

_UNIGRAM_TOK_SQL = """
  SELECT doc_id, lang, unnest(toks) AS tok
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
"""

_UNIGRAM_SCORED_SQL = f"""
WITH tok AS ({_UNIGRAM_TOK_SQL}),
vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
total AS (SELECT count(*) AS n FROM tok),
lp AS (
  SELECT t.doc_id, t.lang,
         CAST(round(ln(CAST(v.cnt AS DOUBLE) / (SELECT n FROM total)), 12)
              AS DECIMAL(20,12)) AS lp_dec
  FROM tok t JOIN vocab v USING (tok)
),
doc AS (
  SELECT doc_id, lang,
         count(*) AS n_toks,
         CAST(CASE WHEN sum(CAST(lp_dec * 1000000000000 AS DECIMAL(38,0))) < 0
                   THEN -(CAST(2 * abs(sum(CAST(lp_dec * 1000000000000
                                             AS DECIMAL(38,0))))
                               + count(*) * 1000000 AS HUGEINT)
                          // CAST(2 * count(*) * 1000000 AS HUGEINT))
                   ELSE (CAST(2 * abs(sum(CAST(lp_dec * 1000000000000
                                            AS DECIMAL(38,0))))
                              + count(*) * 1000000 AS HUGEINT)
                         // CAST(2 * count(*) * 1000000 AS HUGEINT))
              END AS DOUBLE) / 1000000 AS avg_logprob
  FROM lp GROUP BY doc_id, lang
)
"""

_UNIGRAM_ORACLE = f"""
{_UNIGRAM_SCORED_SQL}
SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks, avg_logprob
FROM doc
ORDER BY doc_id
"""


def unigram_logprob_scores(d: DataFrame) -> DataFrame:
    """(doc_id, lang, n_toks, avg_logprob) for every document, scored
    under the corpus's own unigram LM. Shared by q_text_unigram_logprob
    and q_text_ccnet_tiers."""
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # vocab is vocab-bounded — materialize it once (it feeds both the
    # scoring join and, via its count sum, the corpus total, which
    # previously re-derived the whole token stream a third time)
    vocab = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .transform(materialize)
    )
    total = vocab.agg(F.sum("cnt").cast("long").alias("n"))
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "lang",
            F.round(F.log(F.col("cnt").cast("double") / F.col("n")), 12)
            .cast("decimal(20,12)")
            .alias("lp_dec"),
        )
    )
    # INTEGER-EXACT 6-dp average (the q_text_bigram_logprob fix): the
    # earlier round-then-narrow path made sum/n land exactly on a 6-dp
    # half for one sf0.1 document, where Spark's binary-expansion
    # HALF_UP and DuckDB's scaled-double round() split by 1e-6. Summing
    # the 12-dp terms as exact picounits and rounding half-away via
    # integral division has no such boundary — both engines compute
    # the identical quotient by construction. The picounit sum stays in
    # DECIMAL(38,0) (NOT int64): per-token terms are ~1e13, so an int64
    # sum wraps silently in Spark around ~2e5 tokens/doc while DuckDB
    # promotes to HUGEINT — a silent cross-engine divergence on long
    # documents. DECIMAL(38,0) holds ~1e24 tokens/doc; Spark's DIV
    # accepts decimal operands directly, DuckDB routes through HUGEINT
    # because its // on decimals performs plain (non-truncating)
    # division.
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum(
                F.expr("CAST(lp_dec * 1000000000000 AS DECIMAL(38,0))")
            ).alias("__s"),
        )
        .select(
            "doc_id",
            "lang",
            "n_toks",
            F.expr(
                "CAST(CASE WHEN __s < 0 THEN"
                " -((2 * abs(__s) + n_toks * 1000000)"
                "   DIV (2 * n_toks * 1000000))"
                " ELSE ((2 * abs(__s) + n_toks * 1000000)"
                "   DIV (2 * n_toks * 1000000))"
                " END AS DOUBLE) / 1000000"
            ).alias("avg_logprob"),
        )
    )


@query("q_text_unigram_logprob", oracle=_UNIGRAM_ORACLE)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return unigram_logprob_scores(d).orderBy("doc_id")


# CCNet-style quality tiers: within each language, rank documents by
# their unigram-LM score and cut into head / middle / tail thirds
# (CCNet keeps "head" for LM training, uses "middle" with caution,
# drops "tail"). ntile(3) over a TOTAL order (rounded score desc,
# doc_id) is deterministic on both engines and both use the
# front-loaded bucket-size rule. Output is the per-(lang, tier)
# planning report: volumes and score ranges. One extra shuffle over
# the scoring pass (the per-lang window), then a tiny aggregate.
_CCNET_ORACLE = f"""
{_UNIGRAM_SCORED_SQL},
tiers AS (
  SELECT lang, avg_logprob, n_toks,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY avg_logprob DESC, doc_id) AS tier
  FROM doc
)
SELECT lang, tier,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       min(avg_logprob) AS lo_logprob,
       max(avg_logprob) AS hi_logprob
FROM tiers
GROUP BY lang, tier
ORDER BY lang, tier
"""


@query("q_text_ccnet_tiers", oracle=_CCNET_ORACLE)
def q_text_ccnet_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    scores = unigram_logprob_scores(d)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    return (
        scores.withColumn("tier", F.ntile(3).over(w))
        .groupBy("lang", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.min("avg_logprob").alias("lo_logprob"),
            F.max("avg_logprob").alias("hi_logprob"),
        )
        .orderBy("lang", "tier")
    )


# ---------------------------------------------------------------------------
# Gopher repetition metric #2 (Rae et al. 2021, arXiv:2112.11446,
# Table A1): fraction of CHARACTERS inside duplicated word n-grams.
# Complements q_text_repetition_filter (top-token share) with the
# duplicate-n-gram family. Entirely in-array and map-only: build the
# doc's n-gram list, sort it, flag every occurrence whose sorted
# neighbor equals it (any member of a >=2 group has an equal neighbor
# after sorting), and take the integer char ratio — one scan, zero
# shuffles until the final ORDER BY, integer-exact so the driver hash
# has no float hazard beyond one int/int division.
# ---------------------------------------------------------------------------

_DUP_W = 2  # n-gram width
_DUP_FRAC_GATE = 0.2

_DUP_NGRAM_ORACLE = f"""
WITH g AS (
  SELECT doc_id, lang,
         list_sort(list_transform(range(len(toks) - {_DUP_W - 1}),
           i -> array_to_string(toks[i+1:i+{_DUP_W}], ' '))) AS grams
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
),
m AS (
  SELECT doc_id, lang,
         len(grams) AS n_grams,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(grams, x -> len(x))),
                     (acc, x) -> acc + x) AS total_chars,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(len(grams)),
           i -> CASE WHEN (i > 0 AND grams[i+1] = grams[i])
                       OR (i < len(grams) - 1 AND grams[i+1] = grams[i+2])
                     THEN len(grams[i+1]) ELSE 0 END)),
                     (acc, x) -> acc + x) AS dup_chars
  FROM g
)
SELECT doc_id, lang, CAST(n_grams AS INT) AS n_grams,
       CAST(total_chars AS BIGINT) AS total_chars,
       CAST(dup_chars AS BIGINT) AS dup_chars,
       CASE WHEN total_chars = 0 THEN CAST(0 AS DOUBLE)
            ELSE CAST(dup_chars AS DOUBLE) / total_chars END AS dup_frac,
       CASE WHEN total_chars = 0 THEN FALSE
            ELSE CAST(dup_chars AS DOUBLE) / total_chars > {_DUP_FRAC_GATE} END
         AS would_drop
FROM m
ORDER BY doc_id
"""


@query("q_text_dup_ngram_chars", oracle=_DUP_NGRAM_ORACLE)
def q_text_dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # guard: for docs with < _DUP_W tokens, F.sequence(0, size - W)
    # would DESCEND to [0, -1] and slice() would throw — emit an empty
    # gram list instead (the oracle's range() is empty there already)
    grams = F.when(
        F.size(toks) >= _DUP_W,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - _DUP_W),
                lambda i: F.array_join(F.slice(toks, i + 1, _DUP_W), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", "lang", grams.alias("grams"))
    n = F.size("grams")
    total_chars = F.aggregate(
        F.transform(F.col("grams"), F.length),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dup_chars = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.when(
                ((i > 0) & (F.element_at("grams", i + 1) == F.element_at("grams", i)))
                | (
                    (i < n - 1)
                    & (F.element_at("grams", i + 1) == F.element_at("grams", i + 2))
                ),
                F.length(F.element_at("grams", i + 1)),
            ).otherwise(0),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    m = g.select(
        "doc_id",
        "lang",
        n.alias("n_grams"),
        total_chars.alias("total_chars"),
        dup_chars.alias("dup_chars"),
    )
    frac = F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
        F.col("dup_chars").cast("double") / F.col("total_chars")
    )
    return m.select(
        "doc_id",
        "lang",
        "n_grams",
        "total_chars",
        "dup_chars",
        frac.alias("dup_frac"),
        F.when(F.col("total_chars") == 0, F.lit(False))
        .otherwise(
            (F.col("dup_chars").cast("double") / F.col("total_chars"))
            > _DUP_FRAC_GATE
        )
        .alias("would_drop"),
        # plain orderBy (round-15 honest A/B, full recompute per rep:
        # checkpoint_sort 0.63 s vs orderBy 0.46 s): the doubled gram
        # sort is cheaper than the checkpoint round-trip + rebuild
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE merge application (Sennrich et al. 2016, arXiv:1508.07909 — the
# vocabulary-induction OUTER loop's mutation step): q_text_bpe_pair_counts
# ranks merge candidates; this operator applies the winning merge to
# every document. The winner is chosen among pairs whose two tokens
# DIFFER (a <> b), which makes matches non-overlapping by construction —
# match(i) needs tok[i]=a and match(i+1) would need tok[i+1]=a, but
# tok[i+1]=b <> a — so the rewrite is purely positional (merge every
# matched i, drop every i+1), a single in-array pass with no sequential
# scan state. The top-1 pair stays a DataFrame: orderBy+limit(1) ->
# TakeOrderedAndProject, broadcast cross join into the map stage — no
# collect, so the full merge loop composes as Spark jobs end to end.
# Token reads use F.get (0-based, null out-of-bounds) so the lambda is
# ANSI-safe without guard-ordering assumptions.
# ---------------------------------------------------------------------------

_BPE_MERGE_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
top1 AS (
  SELECT p.a, p.b
  FROM (
    SELECT a, b, count(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> {'a': toks[i], 'b': toks[i+1]}), recursive := true)
      FROM t WHERE len(toks) >= 2
    )
    WHERE a <> b
    GROUP BY a, b
  ) p
  ORDER BY p.n DESC, p.a, p.b
  LIMIT 1
),
rewritten AS (
  SELECT doc_id, toks,
    list_filter(
      list_transform(range(len(toks)), i ->
        CASE WHEN i < len(toks) - 1 AND toks[i+1] = top1.a AND toks[i+2] = top1.b
               THEN top1.a || '+' || top1.b
             WHEN i > 0 AND toks[i] = top1.a AND toks[i+1] = top1.b
               THEN NULL
             ELSE toks[i+1] END),
      x -> x IS NOT NULL) AS merged
  FROM t, top1
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_toks_before,
       CAST(len(merged) AS BIGINT) AS n_toks_after,
       CAST(len(toks) - len(merged) AS BIGINT) AS n_merges,
       array_to_string(merged, ' ') AS merged_text
FROM rewritten
ORDER BY doc_id
"""


@query("q_text_bpe_apply_merge", oracle=_BPE_MERGE_ORACLE)
def q_text_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    pair_struct = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.get("toks", i).alias("a"), F.get("toks", i + 1).alias("b")
        ),
    )
    top1 = (
        t.filter(F.size("toks") >= 2)
        .select(F.explode(pair_struct).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(1)
        .select("a", "b")
    )
    # 0-based positional rewrite; a/b come from the broadcast 1-row side
    tok_at = lambda i: F.get("toks", i)  # noqa: E731
    rewrite = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 1),
            lambda i: F.when(
                (i < F.size("toks") - 1)
                & (tok_at(i) == F.col("a"))
                & (tok_at(i + 1) == F.col("b")),
                F.concat_ws("+", F.col("a"), F.col("b")),
            )
            .when(
                (i > 0) & (tok_at(i - 1) == F.col("a")) & (tok_at(i) == F.col("b")),
                F.lit(None),
            )
            .otherwise(tok_at(i)),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        t.crossJoin(F.broadcast(top1))
        .select("doc_id", "toks", rewrite.alias("merged"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_toks_before"),
            F.size("merged").cast("long").alias("n_toks_after"),
            (F.size("toks") - F.size("merged")).cast("long").alias("n_merges"),
            F.array_join("merged", " ").alias("merged_text"),
        )
        # plain orderBy (round-15 honest A/B, full recompute per rep:
        # checkpoint_sort 0.97 s vs orderBy 0.76 s): the doubled
        # positional rewrite is cheaper than checkpointing the rebuilt
        # text + the per-invocation rebuild
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-bigram LM document scoring with add-one smoothing — the
# next-order refinement of q_text_unigram_logprob toward the actual
# KenLM 5-gram the CCNet pipeline ships (Wenzek et al. 2020,
# arXiv:1911.00359): P(t_i | t_{i-1}) = (c2(t_{i-1}, t_i) + 1) /
# (c1(t_{i-1}) + V). Captures word-ORDER garbling that any unigram
# model is blind to. Scale shape: the per-pair logprob is computed
# ONCE on the pair-count table (bounded by observed vocab^2 — far
# below it in practice, Heaps' law — and joined to the unigram
# context), and the transition stream joins it ONCE on the composite
# (prev, cur) key — never a full-stream join on the bare prev key,
# which would put every transition out of a stopword on one reducer.
# The count tables are corpus-derived and UNBOUNDED on raw web text,
# so the pair join carries no broadcast hint — AQE decides from the
# built size; only the 1-row scalar V broadcasts. Per-transition
# logprobs round to 12 decimals and convert to EXACT decimals before
# the per-doc sum, so the aggregation is an order-independent
# partial-agg'd SUM (no per-doc sorted collect) — same float
# discipline as the unigram scorer.
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
tok AS (SELECT unnest(toks) AS tok FROM t),
uni AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
v AS (SELECT count(*) AS vocab FROM uni),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(toks)),
                i -> {'prev': toks[i], 'cur': toks[i+1]}),
                recursive := true)
  FROM t WHERE len(toks) >= 2
),
c2 AS (SELECT prev, cur, count(*) AS n2 FROM bg GROUP BY prev, cur),
lp AS (
  SELECT b.doc_id, b.lang,
         CAST(round(ln(CAST(c2.n2 + 1 AS DOUBLE) / (uni.c1 + v.vocab)), 12)
              AS DECIMAL(20,12)) AS lp_dec
  FROM bg b
  JOIN c2 USING (prev, cur)
  JOIN uni ON uni.tok = b.prev
  CROSS JOIN v
)
SELECT doc_id, lang,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(CASE WHEN sum(CAST(lp_dec * 1000000000000 AS DECIMAL(38,0))) < 0
                 THEN -(CAST(2 * abs(sum(CAST(lp_dec * 1000000000000
                                           AS DECIMAL(38,0))))
                             + count(*) * 1000000 AS HUGEINT)
                        // CAST(2 * count(*) * 1000000 AS HUGEINT))
                 ELSE (CAST(2 * abs(sum(CAST(lp_dec * 1000000000000
                                          AS DECIMAL(38,0))))
                            + count(*) * 1000000 AS HUGEINT)
                       // CAST(2 * count(*) * 1000000 AS HUGEINT))
            END AS DOUBLE) / 1000000 AS avg_logprob
FROM lp
GROUP BY doc_id, lang
ORDER BY doc_id
"""


@query("q_text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    tok = t.select(F.explode("toks").alias("tok"))
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # both count tables checkpointed 1.94 s vs plain 1.50 s): the count
    # tables end in their own groupBy exchanges, so extra references
    # re-run only the post-shuffle aggregate — cheaper than the two
    # checkpoint round-trips + the per-invocation rebuild. (Contrast
    # q_text_unigram_logprob, where the A/B went the other way and the
    # vocab checkpoint is kept.)
    uni = tok.groupBy("tok").agg(F.count("*").alias("c1"))
    v = uni.agg(F.count("*").alias("vocab"))
    bigram_structs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.get("toks", i - 1).alias("prev"), F.get("toks", i).alias("cur")
        ),
    )
    bg = t.filter(F.size("toks") >= 2).select(
        "doc_id", "lang", F.explode(bigram_structs).alias("b")
    ).select("doc_id", "lang", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    # NOT materialized (round-15 honest A/B — see uni above)
    c2 = bg.groupBy("prev", "cur").agg(F.count("*").alias("n2"))
    # The (prev, cur) -> logprob mapping is a pure function of the
    # PAIR, so compute it once on the vocab^2-bounded pair table (c2
    # joined to the unigram context — both count tables, both tiny
    # next to the transition stream) instead of joining the raw stream
    # twice. The stream then joins ONCE on (prev, cur) — eliminating
    # the former second full-stream join on the bare `prev` key, which
    # was also the stopword-skew hazard at corpus scale (every
    # transition out of 'the' landed on one reducer; the composite
    # (prev, cur) key spreads a stopword's fan-out across its
    # successors).
    pair_lp = (
        c2.join(uni.withColumnRenamed("tok", "prev"), "prev")
        .crossJoin(F.broadcast(v))
        .select(
            "prev",
            "cur",
            F.round(
                F.log(
                    (F.col("n2") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab"))
                ),
                12,
            )
            .cast("decimal(20,12)")
            .alias("lp_dec"),
        )
    )
    lp = bg.join(pair_lp, ["prev", "cur"]).select(
        "doc_id", "lang", "lp_dec"
    )
    # INTEGER-EXACT 6-dp average: sum the 12-dp terms as exact
    # picounits and round-half-away via integral division. The previous
    # round-then-narrow-then-divide path hit a real failure at sf0.1:
    # narrowing the sum to 6 dp made sum/n land EXACTLY on a 6-dp half
    # (-129.714273/38 = -3.4135335), where Spark's binary-expansion
    # HALF_UP and DuckDB's scaled-double round() disagree by 1e-6.
    # Integer arithmetic has no such boundary — both engines compute
    # the identical quotient by construction. Like the unigram scorer,
    # the sum accumulates in DECIMAL(38,0), not int64: per-transition
    # terms are ~1e13, so an int64 sum wraps silently around ~2e5
    # transitions/doc while DuckDB promotes to HUGEINT.
    return (
        lp.groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_transitions"),
            F.sum(
                F.expr("CAST(lp_dec * 1000000000000 AS DECIMAL(38,0))")
            ).alias("__s"),
        )
        .select(
            "doc_id",
            "lang",
            "n_transitions",
            F.expr(
                "CAST(CASE WHEN __s < 0 THEN"
                " -((2 * abs(__s) + n_transitions * 1000000)"
                "   DIV (2 * n_transitions * 1000000))"
                " ELSE ((2 * abs(__s) + n_transitions * 1000000)"
                "   DIV (2 * n_transitions * 1000000))"
                " END AS DOUBLE) / 1000000"
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus diversity report: Shannon entropy of the token distribution
# per source — the diversity axis data-curation work balances against
# quality and size (mixture design à la DoReMi/D4 tracks exactly this
# signal per domain). H = ln(N) - (Σ c·ln c)/N over per-source token
# counts c. Scale shape: one explode + one partial-agg'd
# groupBy(source, tok), then a per-source aggregate over vocab-bounded
# rows — two linear shuffles, state bounded by vocabulary, not corpus.
# Float discipline: each c·ln(c) term rounds to 6 decimals and converts
# to DECIMAL(20,6) so the per-source sum is exact and order-free; the
# two remaining IEEE ops (one division, one subtraction, plus ln(N))
# have a fixed shape on both engines, and the output rounds to 6 dp.
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY source, tok),
src AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(20,6))) AS s
  FROM cnt GROUP BY source
)
SELECT source, n_tokens, vocab,
       round(ln(CAST(n_tokens AS DOUBLE))
             - CAST(s AS DOUBLE) / n_tokens, 6)
         AS entropy_nats,
       CASE WHEN vocab > 1 THEN
         round((ln(CAST(n_tokens AS DOUBLE))
                - CAST(s AS DOUBLE) / n_tokens)
               / ln(CAST(vocab AS DOUBLE)), 6)
       END AS normalized_entropy
FROM src
ORDER BY source
"""


@query("q_text_source_entropy", oracle=_ENTROPY_ORACLE)
def q_text_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    cnt = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    term = (
        F.round(F.col("c") * F.log(F.col("c").cast("double")), 6)
        .cast("decimal(20,6)")
    )
    src = cnt.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(term).alias("s"),
    )
    # straight wide-decimal->double here (unlike the LM scorers'
    # round-then-narrow): a fixed-precision narrow would overflow once
    # a source's sum(c*ln c) passes its range (a ~1e11-token slice for
    # DECIMAL(18,6)). The cast drift is <= ~1 ulp of s, and its effect
    # on H is ulp(s)/n = (s/n)*2^-52 ~ 30*2^-52 ~ 7e-15 — SCALE-FREE
    # (s/n is bounded by the max |ln c|), so the 6-dp rounding swallows
    # it at any corpus size; midpoint-flip probability ~1e-8 per group
    h = F.log(F.col("n_tokens").cast("double")) - F.col("s").cast(
        "double"
    ) / F.col("n_tokens")
    # vocab = 1 (a source whose docs are all one repeated token) makes
    # ln(vocab) = 0: under Spark's ANSI default the division hard-crashes
    # (DIVIDE_BY_ZERO) and normalization is undefined anyway — emit NULL,
    # mirroring the std_v > 0 guard in q_events_zscore_outliers.
    return src.select(
        "source",
        "n_tokens",
        "vocab",
        F.round(h, 6).alias("entropy_nats"),
        F.when(
            F.col("vocab") > 1,
            F.round(h / F.log(F.col("vocab").cast("double")), 6),
        ).alias("normalized_entropy"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Per-source KL divergence from the corpus token distribution —
# KL(P_source || P_corpus) = sum_t p_s(t) * ln(p_s(t)/p_c(t)) — the
# domain-shift half of the diversity story q_text_source_entropy
# starts: entropy says how internally varied a source is, KL says how
# FAR its token mix sits from the corpus average (DoReMi-style mixture
# reweighting keys on exactly this distance). p_c(t) > 0 whenever
# p_s(t) > 0 (every source token IS a corpus token), so the log never
# sees zero. Scale shape: one explode + one partial-agg'd
# groupBy(source, tok); corpus counts re-aggregate THAT table (vocab
# cardinality, not corpus); the term join keys on tok with NO
# broadcast hint (corpus-derived vocab table — the LM-scorer rule);
# per-source totals join on source. Float discipline: each term
# rounds to 12 dp and converts to DECIMAL(20,12) so the per-source
# sum is exact and order-free; final 6-dp round swallows cross-libm
# ln noise (the q_text_unigram_logprob discipline).
# ---------------------------------------------------------------------------

_KL_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
sc AS (SELECT source, tok, count(*) AS c_st FROM tok GROUP BY source, tok),
cc AS (SELECT tok, sum(c_st) AS c_t FROM sc GROUP BY tok),
tot AS (SELECT sum(c_t) AS n FROM cc),
ns AS (
  SELECT source, sum(c_st) AS n_s, count(*) AS vocab FROM sc GROUP BY source
),
terms AS (
  SELECT s.source,
         CAST(round(
           (CAST(s.c_st AS DOUBLE) / ns.n_s)
           * ln((CAST(s.c_st AS DOUBLE) / ns.n_s)
                / (CAST(c.c_t AS DOUBLE) / (SELECT n FROM tot))), 12)
           AS DECIMAL(20,12)) AS term
  FROM sc s JOIN cc c USING (tok) JOIN ns ON ns.source = s.source
)
SELECT ns.source, CAST(ns.n_s AS BIGINT) AS n_tokens,
       CAST(ns.vocab AS BIGINT) AS vocab,
       CAST(CAST(round(t.s, 6) AS DECIMAL(15,6)) AS DOUBLE) AS kl_nats
FROM (SELECT source, sum(term) AS s FROM terms GROUP BY source) t
JOIN ns ON ns.source = t.source
ORDER BY ns.source
"""


@query("q_text_source_kl", oracle=_KL_ORACLE)
def q_text_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Plan economics: the per-source totals come from a WINDOW over the
    # (source, tok) aggregate, not a separate groupBy(source) joined
    # back — that drops two join exchanges and a recomputed sc subtree
    # (measured: 11 exchanges -> ~5); the final groupBy(source) then
    # reuses the window's hash partitioning, and vocab/n_tokens fall
    # out of the SAME aggregate as the term sum (each sc row is one
    # distinct (source, tok), and the cc join preserves rows 1:1).
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sc = tok.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    cc = sc.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    tot = cc.agg(F.sum("c_t").alias("n"))
    w = Window.partitionBy("source")
    j = (
        sc.join(cc, "tok")
        .crossJoin(F.broadcast(tot))
        .withColumn("n_s", F.sum("c_st").over(w))
    )
    p_s = F.col("c_st").cast("double") / F.col("n_s")
    p_c = F.col("c_t").cast("double") / F.col("n")
    term = F.round(p_s * F.log(p_s / p_c), 12).cast("decimal(20,12)")
    return (
        j.select("source", "c_st", term.alias("term"))
        .groupBy("source")
        .agg(
            F.sum("c_st").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.round(F.sum("term"), 6)
            .cast("decimal(15,6)")
            .cast("double")
            .alias("kl_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Zipf-fit corpus health check: OLS of ln(frequency) on ln(rank) over
# the corpus vocabulary — natural text sits near slope -1 (Zipf's
# law); machine-generated or template-heavy corpora bend the tail, so
# the (slope, r2) pair is a cheap whole-corpus contamination signal
# next to the per-doc gates. Scale shape: one explode + one
# partial-agg'd groupBy(tok), then ONE global rank window over
# VOCAB-cardinality rows (the q_events_rfm trade: windows run over the
# bounded aggregate, never the token stream; at extreme vocab swap the
# rank for an approx-quantile bucket id), then a single 1-row
# aggregate. Float discipline: each per-rank term (x, y, xy, x2, y2)
# rounds to 12 dp and converts to DECIMAL(20,12) so all five sums are
# exact and order-free; slope/intercept/r2 are one fixed-shape IEEE
# expression over the five sums, rounded to 6 dp. Guards: slope needs
# vocab >= 2 (rank variance is then > 0 by construction); r2's
# y-variance denominator is zero when every token has the same count
# — NULL, not a divide-by-zero.
# ---------------------------------------------------------------------------

_ZIPF_TERM = "CAST(round({expr}, 12) AS DECIMAL(20,12))"

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM vocab
),
terms AS (
  SELECT {_ZIPF_TERM.format(expr='ln(CAST(r AS DOUBLE))')} AS x,
         {_ZIPF_TERM.format(expr='ln(CAST(c AS DOUBLE))')} AS y,
         {_ZIPF_TERM.format(expr='ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))')} AS xy,
         {_ZIPF_TERM.format(expr='ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))')} AS x2,
         {_ZIPF_TERM.format(expr='ln(CAST(c AS DOUBLE)) * ln(CAST(c AS DOUBLE))')} AS y2,
         c
  FROM ranked
),
sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(x2) AS DOUBLE) AS sx2,
         CAST(sum(y2) AS DOUBLE) AS sy2
  FROM terms
)
SELECT n_vocab, n_tokens,
       CASE WHEN n_vocab >= 2 THEN
         round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 6)
       END AS zipf_slope,
       CASE WHEN n_vocab >= 2 THEN
         round((sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n, 6)
       END AS zipf_intercept,
       CASE WHEN n_vocab >= 2 AND n * sy2 - sy * sy > 0 THEN
         round((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 6)
       END AS r2
FROM sums
"""


@query("q_text_zipf_fit", oracle=_ZIPF_ORACLE)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("c").desc(), "tok")
    ranked = vocab.select("c", F.row_number().over(w).alias("r"))
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))

    def dec12(col):
        return F.round(col, 12).cast("decimal(20,12)")

    terms = ranked.select(
        "c",
        dec12(x).alias("x"),
        dec12(y).alias("y"),
        dec12(x * y).alias("xy"),
        dec12(x * x).alias("x2"),
        dec12(y * y).alias("y2"),
    )
    n = F.count("*").cast("double")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum("xy").cast("double")
    sx2 = F.sum("x2").cast("double")
    sy2 = F.sum("y2").cast("double")
    slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    vocab_ok = F.count("*") >= 2
    return terms.agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.when(vocab_ok, F.round(slope, 6)).alias("zipf_slope"),
        F.when(vocab_ok, F.round((sy - slope * sx) / n, 6)).alias(
            "zipf_intercept"
        ),
        F.when(
            vocab_ok & (n * sy2 - sy * sy > 0),
            F.round(
                (n * sxy - sx * sy)
                * (n * sxy - sx * sy)
                / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy)),
                6,
            ),
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease scoring. Classic readability filter for training-
# data curation: words per sentence + syllables per word, syllables
# approximated as vowel groups (the standard heuristic — '[aeiou]+'
# never spans whitespace, so one whole-text extract equals the per-word
# sum). Map-only over documents; the only state is per-row. Guards:
# sentence terminators may be absent entirely (greatest(1, ...) — the
# synthetic fixture has none, real web text does) and empty/whitespace
# docs produce 0 syllables, never a crash. Both engines evaluate the
# same RE2-compatible patterns and the same fixed-shape IEEE formula.
# ---------------------------------------------------------------------------

_READ_ORACLE = """
WITH m AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
         AS flesch,
       CASE
         WHEN 206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) >= 60
           THEN 'easy'
         WHEN 206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
              - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) >= 30
           THEN 'standard'
         ELSE 'difficult'
       END AS band
FROM m
ORDER BY doc_id
"""


@query("q_text_readability", oracle=_READ_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a banded difficulty label."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_sent = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0))
    ).cast("bigint")
    n_syll = F.size(F.regexp_extract_all("text", F.lit("[aeiou]+"), 0)).cast(
        "bigint"
    )
    m = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(flesch, 6).alias("flesch"),
        F.when(flesch >= 60, F.lit("easy"))
        .when(flesch >= 30, F.lit("standard"))
        .otherwise(F.lit("difficult"))
        .alias("band"),
        # plain orderBy (round-15 honest A/B, full recompute per rep:
        # checkpoint_sort 0.49 s vs orderBy 0.36 s): the doubled regexp
        # extraction is cheaper than the checkpoint round-trip + rebuild
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# N-gram novelty: per document, the fraction of its DISTINCT 3-gram
# shingles that occur in no other document — the memorization /
# boilerplate-contamination signal (a low-novelty document is mostly
# text the corpus already contains; the inverse of the dedup view).
# Shape: one shingle pass per doc (same single-projection slice+join
# construction as the MinHash kit — no O(tokens^2) lambda re-eval), one
# explode, one ngram-keyed count shuffle, one join back on the ngram
# key. The ngram table is corpus-sized, so that join is a plain
# co-partitioned shuffle join — deliberately NO broadcast hint (the
# LM-scorer lesson: corpus-derived tables are unbounded on raw web
# text; AQE decides). Docs under 3 tokens have no shingles and are
# excluded identically on both engines.
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH shingled AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ngrams AS (SELECT doc_id, unnest(shingles) AS ngram FROM shingled),
df AS (SELECT ngram, count(*) AS n_docs FROM ngrams GROUP BY ngram)
SELECT g.doc_id,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN d.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM ngrams g JOIN df d ON g.ngram = d.ngram
GROUP BY g.doc_id
ORDER BY g.doc_id
"""


@query("q_text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's distinct 3-grams unique to it."""
    d = load(spark, sf_dir, "documents")
    tokenized = (
        d.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
        )
    )
    ngrams = tokenized.select(
        "doc_id", F.explode(shingles).alias("ngram")
    )
    # doc frequency as a window count over the ngram partitioning: same
    # shuffle the count+join-back plan pays, but the corpus is scanned
    # and shingled ONCE instead of twice
    counted = ngrams.select(
        "doc_id",
        F.count("*")
        .over(Window.partitionBy("ngram"))
        .cast("bigint")
        .alias("n_docs"),
    )
    return (
        counted.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source token
# distributions — the symmetric, bounded (<= ln 2) companion of
# q_text_source_kl for mixture design: which sources are near-duplicate
# distributions and which add diversity. Decomposition keeps it
# one-pass over the intersection: for terms present in both sources
# the contribution is p·ln(2p/(p+q)) + q·ln(2q/(p+q)); a term present
# only in source A contributes p·ln 2 — so those sides fold into the
# closed form ln2·(1 - Σ_intersection p) without ever materializing
# the A-only/B-only term sets. Same determinism discipline as the KL
# query: every transcendental term rounds to 12 dp and sums as exact
# DECIMAL (order-free), one final 6-dp round. The pair join is
# tok-keyed with NO broadcast hint (corpus-derived vocabulary — AQE
# decides); per-source totals are a source-cardinality broadcast.
# ---------------------------------------------------------------------------

_JSD_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
sc AS (SELECT source, tok, count(*) AS c_st FROM tok GROUP BY source, tok),
ns AS (SELECT source, sum(c_st) AS n_s FROM sc GROUP BY source),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(a.c_st AS DOUBLE) / na.n_s AS p,
         CAST(b.c_st AS DOUBLE) / nb.n_s AS q
  FROM sc a JOIN sc b ON a.tok = b.tok AND a.source < b.source
  JOIN ns na ON na.source = a.source
  JOIN ns nb ON nb.source = b.source
),
agg AS (
  SELECT source_a, source_b,
         count(*) AS shared_vocab,
         sum(CAST(round(p * ln(2 * p / (p + q)), 12) AS DECIMAL(20,12)))
           AS sp,
         sum(CAST(round(q * ln(2 * q / (p + q)), 12) AS DECIMAL(20,12)))
           AS sq,
         sum(CAST(round(p, 12) AS DECIMAL(20,12))) AS pa,
         sum(CAST(round(q, 12) AS DECIMAL(20,12))) AS pb
  FROM pairs GROUP BY source_a, source_b
),
allp AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM ns a JOIN ns b ON a.source < b.source
)
SELECT p.source_a, p.source_b,
       CAST(coalesce(shared_vocab, 0) AS BIGINT) AS shared_vocab,
       CAST(CAST(round(CASE WHEN g.source_a IS NULL THEN ln(2) ELSE
         0.5 * (CAST(sp AS DOUBLE) + ln(2) * (1 - CAST(pa AS DOUBLE)))
         + 0.5 * (CAST(sq AS DOUBLE) + ln(2) * (1 - CAST(pb AS DOUBLE)))
       END, 6) AS DECIMAL(15,6)) AS DOUBLE) AS jsd_nats
FROM allp p LEFT JOIN agg g
  ON g.source_a = p.source_a AND g.source_b = p.source_b
ORDER BY p.source_a, p.source_b
"""


@query("q_text_source_jsd", oracle=_JSD_ORACLE)
def q_text_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JSD between source token distributions; A-only/B-only
    mass folded in closed form, intersection joined tok-keyed."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sc = tok.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    ns = F.broadcast(sc.groupBy("source").agg(F.sum("c_st").alias("n_s")))
    a = sc.select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("c_st").alias("ca"),
    ).join(ns.select(F.col("source").alias("source_a"), F.col("n_s").alias("na")), "source_a")
    b = sc.select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("c_st").alias("cb"),
    ).join(ns.select(F.col("source").alias("source_b"), F.col("n_s").alias("nb")), "source_b")
    pairs = a.join(b, "tok").filter(F.col("source_a") < F.col("source_b"))
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    dec = "decimal(20,12)"
    agg = (
        pairs.select(
            "source_a",
            "source_b",
            F.round(p * F.log(F.lit(2) * p / (p + q)), 12)
            .cast(dec)
            .alias("tp"),
            F.round(q * F.log(F.lit(2) * q / (p + q)), 12)
            .cast(dec)
            .alias("tq"),
            F.round(p, 12).cast(dec).alias("rp"),
            F.round(q, 12).cast(dec).alias("rq"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("shared_vocab"),
            F.sum("tp").alias("sp"),
            F.sum("tq").alias("sq"),
            F.sum("rp").alias("pa"),
            F.sum("rq").alias("pb"),
        )
    )
    # every source pair must appear — a pair with NO shared vocabulary
    # never survives the intersection join, yet it is exactly the
    # maximal-divergence (ln 2) row a mixture designer most needs; the
    # all-pairs base is source-cardinality (bounded, broadcast)
    allp = (
        ns.select(F.col("source").alias("source_a"))
        .join(
            ns.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    full = allp.join(agg, ["source_a", "source_b"], "left")
    ln2 = F.log(F.lit(2.0))
    jsd = F.when(F.col("sp").isNull(), ln2).otherwise(
        F.lit(0.5)
        * (
            F.col("sp").cast("double")
            + ln2 * (F.lit(1) - F.col("pa").cast("double"))
        )
        + F.lit(0.5)
        * (
            F.col("sq").cast("double")
            + ln2 * (F.lit(1) - F.col("pb").cast("double"))
        )
    )
    return full.select(
        "source_a",
        "source_b",
        F.coalesce("shared_vocab", F.lit(0)).cast("long").alias("shared_vocab"),
        F.round(jsd, 6).cast("decimal(15,6)").cast("double").alias("jsd_nats"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# PMI collocations: rank adjacent word pairs by pointwise mutual
# information ln(p(ab)/(p(a)p(b))) — the classic collocation detector
# (Church & Hanks 1990), the signal behind merge-worthy phrases
# ("new york") vs frequent-but-independent pairs. Count floor >= 3
# kills the low-count PMI explosion. Word-keyed joins carry NO
# broadcast hint (corpus vocabulary — AQE decides; the two grand
# totals are scalar broadcasts). Every ratio divides exact int64
# counts in one fixed-shape expression, so the PMI doubles are
# bit-identical and the (pmi DESC, a, b) top-25 is engine-stable.
# ---------------------------------------------------------------------------

_PMI_MIN = 3
_PMI_TOP = 25

_PMI_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bi AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> [t[i], t[i+1]])) AS pair
  FROM toks WHERE len(t) >= 2
),
bc AS (
  SELECT pair[1] AS w_a, pair[2] AS w_b, count(*) AS c_ab
  FROM bi GROUP BY pair[1], pair[2] HAVING count(*) >= {_PMI_MIN}
),
uni AS (
  SELECT unnest(t) AS w FROM toks
),
uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
nb AS (SELECT sum(c_ab) AS n FROM (
         SELECT pair[1] AS w_a, pair[2] AS w_b, count(*) AS c_ab
         FROM bi GROUP BY pair[1], pair[2]) raw),
nu AS (SELECT sum(c) AS n FROM uc)
SELECT w_a, w_b, c_ab,
       round(ln((CAST(c_ab AS DOUBLE) / nb.n)
                / ((CAST(ua.c AS DOUBLE) / nu.n)
                   * (CAST(ub.c AS DOUBLE) / nu.n))), 6) AS pmi
FROM bc
JOIN uc ua ON ua.w = w_a
JOIN uc ub ON ub.w = w_b
CROSS JOIN nb CROSS JOIN nu
ORDER BY pmi DESC, w_a, w_b
LIMIT {_PMI_TOP}
"""


@query("q_text_pmi_collocations", oracle=_PMI_ORACLE)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-pair collocations by PMI with a count floor."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w_a"),
                    F.element_at(F.col("t"), i + 1).alias("w_b"),
                ),
            )
        ).alias("p")
    ).select("p.w_a", "p.w_b")
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 0.89 s vs plain 0.65 s): both count tables are multiply
    # referenced, but each ends in its OWN groupBy exchange, so the
    # extra references re-run only the post-shuffle aggregate — cheaper
    # than two checkpoint round-trips + the per-invocation rebuild.
    raw = pairs.groupBy("w_a", "w_b").agg(F.count("*").alias("c_ab"))
    bc = raw.filter(F.col("c_ab") >= _PMI_MIN)
    uni = d.select(F.explode(F.split("text", " ")).alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").alias("c"))
    nb = F.broadcast(raw.agg(F.sum("c_ab").alias("nb")))
    nu = F.broadcast(uc.agg(F.sum("c").alias("nu")))
    j = (
        bc.join(uc.select(F.col("w").alias("w_a"), F.col("c").alias("ca")), "w_a")
        .join(uc.select(F.col("w").alias("w_b"), F.col("c").alias("cb")), "w_b")
        .crossJoin(nb)
        .crossJoin(nu)
    )
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("nb"))
        / (
            (F.col("ca").cast("double") / F.col("nu"))
            * (F.col("cb").cast("double") / F.col("nu"))
        )
    )
    return (
        j.select("w_a", "w_b", "c_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w_a", "w_b")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Per-document character-level Shannon entropy (nats): the classic
# gibberish / boilerplate screen — natural text sits in a mid band,
# key-mash and repeated-padding docs fall outside it. MAP-ONLY by
# design: the char histogram is computed inside array expressions per
# row (distinct chars x doc length work, both bounded per document),
# so the operator runs at scan speed with NO shuffle beyond the
# presentation sort — at 100 TB this is the cheapest possible shape.
# Determinism: the fold runs over the SORTED distinct-char array, so
# both engines add identical IEEE doubles in identical order; each ln
# is rounded to 12 dp first (the established LM-scorer discipline) and
# the final entropy to 6 dp.
# ---------------------------------------------------------------------------

_ENTROPY_LO, _ENTROPY_HI = 2.0, 4.5  # nats; natural-text band

_CHAR_ENTROPY_ORACLE = f"""
SELECT doc_id, lang,
       CAST(length(text) AS BIGINT) AS n_chars_doc,
       CAST(len(list_distinct(string_split(text, ''))) AS BIGINT)
         AS n_distinct_chars,
       round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(list_sort(list_distinct(string_split(text, ''))),
           u -> (CAST(len(list_filter(string_split(text, ''), c -> c = u))
                      AS DOUBLE) / length(text))
                * round(ln(CAST(len(list_filter(string_split(text, ''),
                                                c -> c = u)) AS DOUBLE)
                           / length(text)), 12))),
         (a, x) -> a + x), 6) AS entropy_nats,
       (round(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(list_sort(list_distinct(string_split(text, ''))),
           u -> (CAST(len(list_filter(string_split(text, ''), c -> c = u))
                      AS DOUBLE) / length(text))
                * round(ln(CAST(len(list_filter(string_split(text, ''),
                                                c -> c = u)) AS DOUBLE)
                           / length(text)), 12))),
         (a, x) -> a + x), 6) BETWEEN {_ENTROPY_LO} AND {_ENTROPY_HI})
         AS natural_band
FROM documents
WHERE length(text) > 0
ORDER BY doc_id
"""


@query("q_text_char_entropy", oracle=_CHAR_ENTROPY_ORACLE)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side computes the char histogram by RUN-LENGTHS over the
    sorted char array (O(n log n) per row) instead of the oracle's
    per-distinct-char filter scans (O(distinct·n) — the semantic spec,
    9.5 s at sf0.1 when used as the implementation). Same counts, same
    sorted-char fold order, so every IEEE add is identical and the
    oracle stays hash-green. F.get (0-based, NULL on out-of-bounds)
    keeps the neighbor compare and the next-start lookup ANSI-safe.
    Each stage binds to a named column: referencing an array-valued
    subexpression from inside a later higher-order lambda would
    re-evaluate it PER ELEMENT (no common-subexpression elimination
    inside lambda bodies — observed as an O(n·d²) blow-up), while a
    bound column materializes once per row and F.get is then O(1)."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_int = F.col("__n")
    n = n_int.cast("double")
    staged = (
        d.select(
            "doc_id",
            "lang",
            F.length("text").alias("__n"),
            F.sort_array(F.split(F.col("text"), "")).alias("__chars"),
        )
        # 1-based positions where a new char run begins
        .withColumn(
            "__starts",
            F.filter(
                F.sequence(F.lit(1), n_int),
                lambda i: (i == 1)
                | (
                    F.get(F.col("__chars"), i - 1)
                    != F.get(F.col("__chars"), i - 2)
                ),
            ),
        )
        # next run start (n+1 past the last run) -> run length by diff
        .withColumn(
            "__counts",
            F.transform(
                F.sequence(F.lit(1), F.size("__starts")),
                lambda j: F.coalesce(F.get(F.col("__starts"), j), n_int + 1)
                - F.get(F.col("__starts"), j - 1),
            ),
        )
    )
    entropy = -F.aggregate(
        F.col("__counts"),
        F.lit(0.0),
        lambda acc, c: acc
        + (c.cast("double") / n)
        * F.round(F.log(c.cast("double") / n), 12),
    )
    # plain orderBy (round-15 honest A/B, full recompute per rep:
    # materialize-before-sort 0.55 s vs orderBy 0.41 s): the sampling
    # pass re-runs the map segment below the sort, which is cheaper
    # than the checkpoint round-trip + the per-invocation rebuild a
    # data-computing build forces.
    return (
        staged.select(
            "doc_id",
            "lang",
            n_int.cast("bigint").alias("n_chars_doc"),
            F.size("__starts").cast("bigint").alias("n_distinct_chars"),
            F.round(entropy, 6).alias("entropy_nats"),
            F.round(entropy, 6).between(_ENTROPY_LO, _ENTROPY_HI).alias(
                "natural_band"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval — the ranking rung above the TF-IDF kit:
# Robertson/Sparck-Jones BM25 with the Lucene idf form
# ln(1 + (N - df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75 — what a RAG
# lexical-retrieval leg actually runs. Query terms are DATA-DERIVED
# (the 5 tokens ranked 10th-14th by document frequency under a
# (df DESC, tok ASC) total order — mid-frequency, so scores
# discriminate), making both engines reconstruct identical queries
# with no literals to drift. Scale shape: ONE tokenize pass feeds both
# the (doc, term) tf table (semi-joined to the 5 broadcast query
# terms BEFORE any shuffle — the posting-list prune) and the per-doc
# length table; df and avgdl are scalar aggregates; the final score is
# a fixed-shape double expression rounded to 6 dp (the
# q_sim_pandas_udf_cosine discipline, swallowing cross-libm ln noise)
# and top-3 docs per query rank by (score DESC, doc_id) — a
# WindowGroupLimit over the pruned postings, never the corpus.
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_Q_LO = 10  # query terms = df ranks 10..14
_BM25_Q_N = 5
_BM25_TOP = 3

BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) t
  WHERE t.tok != ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl) AS avgdl
),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
qterms AS (
  SELECT tok, df, rnk FROM (
    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS rnk
    FROM df
  ) WHERE rnk >= {_BM25_Q_LO} AND rnk < {_BM25_Q_LO + _BM25_Q_N}
),
tf AS (
  SELECT t.doc_id, t.tok, count(*) AS tf
  FROM toks t JOIN qterms q ON q.tok = t.tok
  GROUP BY 1, 2
),
scored AS (
  SELECT q.tok AS query_term, f.doc_id,
         round(
           ln(1 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (f.tf * ({_BM25_K1} + 1))
           / (f.tf + {_BM25_K1} * (1 - {_BM25_B}
              + {_BM25_B} * d.dl / s.avgdl)),
           6
         ) AS score
  FROM tf f
  JOIN qterms q ON q.tok = f.tok
  JOIN dl d ON d.doc_id = f.doc_id
  CROSS JOIN stats s
)
SELECT query_term, CAST(rank AS BIGINT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id, score
FROM (
  SELECT query_term, doc_id, score,
         row_number() OVER (PARTITION BY query_term
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {_BM25_TOP}
ORDER BY query_term, rank
"""


@query("q_text_bm25_topk", oracle=BM25_ORACLE)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).select(
        "doc_id", F.explode(F.filter("ts", lambda x: x != "")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    avgdl = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    )
    df_t = toks.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    qterms = (
        df_t.select(
            "tok",
            "df",
            F.row_number().over(Window.orderBy(F.desc("df"), "tok")).alias(
                "rnk"
            ),
        )
        .filter(
            (F.col("rnk") >= _BM25_Q_LO)
            & (F.col("rnk") < _BM25_Q_LO + _BM25_Q_N)
        )
        .select("tok", "df")
    )
    tf = (
        # no forced broadcast: qterms is 5 rows but derives from a
        # grouped-agg the hint audit cannot prove bounded — AQE
        # broadcasts it from the measured size at runtime
        toks.join(qterms.select("tok"), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(qterms, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .select(
            F.col("tok").alias("query_term"),
            "doc_id",
            F.round(
                idf * (F.col("tf") * (_BM25_K1 + 1)) / norm, 6
            ).alias("score"),
        )
    )
    return (
        scored.select(
            "query_term",
            "doc_id",
            "score",
            F.row_number()
            .over(
                Window.partitionBy("query_term").orderBy(
                    F.desc("score"), "doc_id"
                )
            )
            .cast("long")
            .alias("rank"),
        )
        .filter(F.col("rank") <= _BM25_TOP)
        .select("query_term", "rank", F.col("doc_id").cast("long").alias("doc_id"), "score")
        .orderBy("query_term", "rank")
    )
