"""Sequence packing + corpus sampling for LLM training pipelines.

Packing: training wants fixed token budgets per sample; documents come
in arbitrary lengths. Two variants:

- chunked: pack boundary every ``BUDGET`` cumulative tokens within a
  language, deterministic order by doc_id — one window cumsum + one
  groupBy, fully SQL-expressible (oracle-checked). Documents can
  straddle a boundary; downstream consumers truncate. This is the
  shape that scales: a single pass, partial-agg'd, no iteration.
- greedy: the classic "open a new pack when the next doc would
  overflow" loop — inherently sequential per language, so it runs as
  applyInPandas over lang partitions (one Python pass per group, Arrow
  in/out). Oracle-checked exactly via a DuckDB recursive CTE that
  replays the same recurrence; the budget invariant is also
  property-tested.

Stratified sampling: per-language keep-rates from a pure hash of the
stable doc id (md5 hex prefix -> 24-bit int, same expression both
engines) — reproducible on reruns and insensitive to row order or
partitioning, unlike rand()-based sampleBy.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

BUDGET = 512

_CHUNKED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks FROM documents
),
c AS (
  SELECT doc_id, lang, n_toks,
         coalesce(sum(n_toks) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_toks
  FROM t
)
SELECT lang,
       CAST(floor(prior_toks / {BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc
FROM c
GROUP BY lang, pack_id
ORDER BY lang, pack_id
"""


@query("q_pack_chunked", oracle=_CHUNKED_ORACLE)
def q_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_toks")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn("prior_toks", F.coalesce(F.sum("n_toks").over(w), F.lit(0)))
    return (
        c.withColumn("pack_id", F.floor(F.col("prior_toks") / BUDGET))
        .groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "pack_id")
    )


# The greedy open-new-pack-on-overflow recurrence isn't a window
# function, but it IS a sequential scan per language — which DuckDB
# expresses exactly as a recursive CTE stepping row_number-by-
# row_number within each lang (state = (pack_id, cur_toks), one row
# per lang per step). Iteration count = max docs per language (~200 at
# the gate's sf0.01), trivially cheap for the oracle while the Spark
# side stays the Arrow-batched applyInPandas pass. Exact per-row
# pack_id agreement is therefore driver-hash-checked;
# tests/test_properties.py additionally proves the budget invariant
# against a driver-side reference packer.
_GREEDY_ORACLE = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
),
g AS (
  SELECT doc_id, lang, n_toks, rn,
         CAST(0 AS BIGINT) AS pack_id,
         CAST(n_toks AS BIGINT) AS cur_toks
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.lang, t.n_toks, t.rn,
         CASE WHEN g.cur_toks + t.n_toks > {BUDGET}
              THEN g.pack_id + 1 ELSE g.pack_id END,
         CASE WHEN g.cur_toks + t.n_toks > {BUDGET}
              THEN CAST(t.n_toks AS BIGINT)
              ELSE g.cur_toks + t.n_toks END
  FROM g JOIN t ON t.lang = g.lang AND t.rn = g.rn + 1
)
SELECT doc_id, lang, n_toks, pack_id
FROM g
ORDER BY lang, doc_id
"""


@query("q_pack_greedy", oracle=_GREEDY_ORACLE)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit sequential packing per language via applyInPandas: each
    language group arrives as ONE pandas frame (sorted by doc_id), the
    greedy pass is a tight Python loop over integers, and Arrow moves
    the batch both ways. Parallelism = number of languages; each group's
    work is linear. For corpora where one language dominates, pre-split
    the stratum (e.g. on a hash prefix) before packing."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_toks"))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids, cur_id, cur_toks = [], 0, 0
        for n in pdf["n_toks"]:
            if cur_toks and cur_toks + n > BUDGET:
                cur_id += 1
                cur_toks = 0
            cur_toks += int(n)
            pack_ids.append(cur_id)
        pdf["pack_id"] = pack_ids
        return pdf

    return (
        t.groupBy("lang")
        .applyInPandas(pack, "doc_id long, lang string, n_toks int, pack_id long")
        .orderBy("lang", "doc_id")
    )


# 24-bit hash of the doc id: identical md5-hex-prefix expression on both
# engines (same mechanism as corpus.q_split_train_val_test).
_H24 = 1 << 24
_RATES = {"en": 0.5, "zh": 0.4}
_DEFAULT_RATE = 0.2

_RATE_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN {int(rate * _H24)}" for lang, rate in _RATES.items()
    )
    + f" ELSE {int(_DEFAULT_RATE * _H24)} END"
)

_SAMPLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang, source,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS h24
  FROM documents
)
SELECT doc_id, lang, source
FROM h
WHERE h24 < {_RATE_CASE}
ORDER BY doc_id
"""


@query("q_sample_stratified", oracle=_SAMPLE_ORACLE)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling: keep iff
    hash24(doc_id) < rate * 2^24. Map-only (no shuffle), reproducible
    across reruns/partitionings, and the kept set only shrinks/grows
    monotonically as rates move — the properties rand()-based sampleBy
    can't give a training pipeline."""
    d = load(spark, sf_dir, "documents")
    h24 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    )
    rate_expr = F.lit(int(_DEFAULT_RATE * _H24))
    for lang, rate in reversed(list(_RATES.items())):
        rate_expr = F.when(F.col("lang") == lang, int(rate * _H24)).otherwise(rate_expr)
    return (
        d.select("doc_id", "lang", "source")
        .filter(h24 < rate_expr)
        .orderBy("doc_id")
    )


# Mixture planning: given a target per-language token share, derive the
# deterministic keep-rate per stratum (downsample-only) and the token
# count it yields. Two tiny aggregates (per-lang sums + global total);
# the expensive corpus pass happens later when the rates feed
# q_sample_stratified-style hash filters. All arithmetic is double with
# identical operation order both sides.
_TARGET_SHARE = 0.2  # uniform over the 5 languages

_MIXTURE_ORACLE = f"""
WITH t AS (
  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM t)
SELECT lang, toks,
       CAST(toks AS DOUBLE) / total AS actual_share,
       CAST({_TARGET_SHARE} AS DOUBLE) AS target_share,
       least(CAST(1.0 AS DOUBLE),
             CAST({_TARGET_SHARE} AS DOUBLE) * total / toks) AS keep_rate,
       CAST(floor(least(CAST(1.0 AS DOUBLE),
                        CAST({_TARGET_SHARE} AS DOUBLE) * total / toks) * toks)
            AS BIGINT) AS expected_tokens
FROM t, tot
ORDER BY lang
"""


@query("q_mixture_weights", oracle=_MIXTURE_ORACLE)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("toks")
    )
    tot = t.agg(F.sum("toks").alias("total"))
    keep = F.least(
        F.lit(1.0), F.lit(_TARGET_SHARE) * F.col("total") / F.col("toks")
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "toks",
            (F.col("toks").cast("double") / F.col("total")).alias("actual_share"),
            F.lit(_TARGET_SHARE).alias("target_share"),
            keep.alias("keep_rate"),
            F.floor(keep * F.col("toks")).cast("long").alias("expected_tokens"),
        )
        .orderBy("lang")
    )


# Upsampling counterpart to q_sample_stratified: when a stratum's target
# share EXCEEDS its actual share, emit repeat_factor copies per doc —
# floor(r) guaranteed epochs plus one extra when the doc-id hash lands
# under the fractional part, so the expected copy count is exactly r and
# the realized multiset is a pure function of doc_id. Explode of
# sequence() keeps it one map-side pass: no shuffle, no rand(), and the
# blow-up is bounded by the configured factor, never data-dependent.
_UP_FACTORS = {"fr": 2.5, "de": 1.25}  # epochs per under-represented lang

_UP_CASE_FLOOR = (
    "CASE "
    + " ".join(f"WHEN lang = '{lang}' THEN {int(r)}" for lang, r in _UP_FACTORS.items())
    + " ELSE 1 END"
)
_UP_CASE_FRAC = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{lang}' THEN {int((r - int(r)) * _H24)}"
        for lang, r in _UP_FACTORS.items()
    )
    + " ELSE 0 END"
)

_UPSAMPLE_ORACLE = f"""
WITH h AS (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT) AS h24
  FROM documents
),
n AS (
  SELECT doc_id, lang,
         ({_UP_CASE_FLOOR}) + (CASE WHEN h24 < ({_UP_CASE_FRAC}) THEN 1 ELSE 0 END)
           AS n_copies
  FROM h
)
SELECT doc_id, lang, CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
FROM n
ORDER BY doc_id, epoch
"""


@query("q_sample_upsampled", oracle=_UPSAMPLE_ORACLE)
def q_sample_upsampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h24 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    )
    floor_expr = F.lit(1)
    frac_expr = F.lit(0)
    for lang, r in reversed(list(_UP_FACTORS.items())):
        floor_expr = F.when(F.col("lang") == lang, int(r)).otherwise(floor_expr)
        frac_expr = F.when(F.col("lang") == lang, int((r - int(r)) * _H24)).otherwise(
            frac_expr
        )
    n_copies = floor_expr + F.when(h24 < frac_expr, 1).otherwise(0)
    return (
        d.select("doc_id", "lang", n_copies.alias("n_copies"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)).alias("epoch"),
        )
        .orderBy("doc_id", "epoch")
    )


# Strided context windows: the training-sample shape for long-document
# corpora — overlapping windows of W tokens advancing by stride S, so
# every token appears in ceil(W/S) windows and context is never cut at
# a hard boundary. Pure per-row array arithmetic (sequence + slice)
# followed by ONE explode: map-side only, no shuffle at all until a
# downstream consumer groups the windows. Window count per doc is
# 1 + max(0, ceil((n-W)/S)) — always >= 1 so short docs emit one
# (possibly shorter-than-W) window.
_WIN_W = 16
_WIN_S = 8

_STRIDED_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200
),
w AS (
  SELECT doc_id, lang, len(toks) AS n_toks, win_id,
         win_id * {_WIN_S} AS start_tok,
         least({_WIN_W}, len(toks) - win_id * {_WIN_S}) AS win_len,
         array_to_string(toks[win_id*{_WIN_S}+1 : win_id*{_WIN_S}+{_WIN_W}], ' ') AS win_text
  FROM (
    SELECT doc_id, lang, toks,
           unnest(range(1 + greatest(0, CAST(ceil((len(toks) - {_WIN_W}) / {_WIN_S}.0) AS BIGINT)))) AS win_id
    FROM t
  )
)
SELECT doc_id, lang, n_toks, win_id, start_tok, win_len, win_text
FROM w
ORDER BY doc_id, win_id
"""


@query("q_pack_strided", oracle=_STRIDED_ORACLE)
def q_pack_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    n_toks = F.size("toks")
    n_wins = F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((n_toks - F.lit(_WIN_W)) / F.lit(float(_WIN_S))).cast("int"),
    )
    win_ids = F.sequence(F.lit(0), n_wins - 1)
    exploded = t.select(
        "doc_id", "lang", n_toks.alias("n_toks"), "toks",
        F.explode_outer(win_ids).alias("win_id"),
    )
    start = F.col("win_id") * _WIN_S
    return exploded.select(
        "doc_id",
        "lang",
        "n_toks",
        F.col("win_id").cast("bigint").alias("win_id"),
        start.cast("bigint").alias("start_tok"),
        F.least(F.lit(_WIN_W), F.col("n_toks") - start).cast("bigint").alias("win_len"),
        F.array_join(F.slice("toks", start + 1, _WIN_W), " ").alias("win_text"),
    ).orderBy("doc_id", "win_id")


# ---------------------------------------------------------------------------
# Length-bucketed batching plan: group documents into token-length
# buckets and report the padding waste of batching each bucket to its
# max length — the planning report behind length-grouped batch samplers
# (padding cost is the gap between sum(len) and n_docs * bucket_max).
# Pure integer arithmetic: one map-only bucket projection, one
# partial-agg'd groupBy. At 100 TB this is a single scan; the output is
# O(n_buckets) rows.
# ---------------------------------------------------------------------------

_LEN_BUCKET_W = 16

_LEN_BUCKET_ORACLE = f"""
SELECT bucket,
       CAST(bucket * {_LEN_BUCKET_W} AS BIGINT) AS min_len,
       CAST((bucket + 1) * {_LEN_BUCKET_W} - 1 AS BIGINT) AS max_len_bound,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(max(n_toks) AS BIGINT) AS bucket_max,
       CAST(count(*) * max(n_toks) - sum(n_toks) AS BIGINT) AS padding_waste
FROM (
  SELECT len(string_split(text, ' ')) AS n_toks,
         len(string_split(text, ' ')) // {_LEN_BUCKET_W} AS bucket
  FROM documents
)
GROUP BY bucket
ORDER BY bucket
"""


@query("q_pack_length_buckets", oracle=_LEN_BUCKET_ORACLE)
def q_pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    base = d.select(
        n_toks.alias("n_toks"),
        (n_toks / _LEN_BUCKET_W).cast("long").alias("bucket"),
    )
    return (
        base.groupBy("bucket")
        .agg(
            (F.col("bucket") * _LEN_BUCKET_W).cast("long").alias("min_len"),
            ((F.col("bucket") + 1) * _LEN_BUCKET_W - 1)
            .cast("long")
            .alias("max_len_bound"),
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.max("n_toks").cast("long").alias("bucket_max"),
            (F.count("*") * F.max("n_toks") - F.sum("n_toks"))
            .cast("long")
            .alias("padding_waste"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Temperature / alpha sampling weights (the multilingual mixture rule
# from XLM / mT5: w_l ∝ p_l^alpha with alpha < 1 upweighting low-
# resource languages). One tiny groupBy(lang) + two single-row
# broadcasts — the output is the sampling-rate plan a 100 TB epoch
# builder feeds into q_sample_upsampled / q_mixture_weights. Float
# discipline: natural shares are one exact int/int division; pow()
# can differ by an ulp between libm and the JVM, so the normalizing
# denominator folds the per-lang pow terms sequentially in lang order
# on BOTH engines and the final weight is rounded to 6 decimals.
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3

_TEMP_ORACLE = f"""
WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM counts),
pa AS (
  SELECT lang, n_docs,
         CAST(n_docs AS DOUBLE) / (SELECT n FROM total) AS natural_share,
         pow(CAST(n_docs AS DOUBLE) / (SELECT n FROM total), {_TEMP_ALPHA}) AS p_alpha
  FROM counts
),
denom AS (
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(p_alpha ORDER BY lang)), (acc, x) -> acc + x) AS d
  FROM pa
)
SELECT lang, n_docs, natural_share,
       round(p_alpha / (SELECT d FROM denom), 6) AS weight
FROM pa
ORDER BY lang
"""


@query("q_sample_temperature", oracle=_TEMP_ORACLE)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n"))
    pa = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("n")).alias("natural_share"),
        F.pow(
            F.col("n_docs").cast("double") / F.col("n"), _TEMP_ALPHA
        ).alias("p_alpha"),
    )
    denom = pa.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "p_alpha"))),
                lambda x: x.p_alpha,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d")
    )
    return (
        pa.crossJoin(F.broadcast(denom))
        .select(
            "lang",
            "n_docs",
            "natural_share",
            F.round(F.col("p_alpha") / F.col("d"), 6).alias("weight"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Deterministic reservoir sampling — EXACTLY k docs per stratum,
# uniform without replacement, no rand(): rank documents inside each
# language by md5(doc_id) (a fixed random permutation of ids) and keep
# the k smallest. Complements q_sample_stratified (rate-based hash
# filter — keeps a deterministic FRACTION, count varies with stratum
# size) when the contract is a fixed budget per stratum: eval-set
# carving, per-domain audit samples, labeling batches. Scale shape:
# one shuffle (the per-lang rank window); at extreme stratum sizes
# swap the full sort for a per-partition top-k + merge (the
# TakeOrdered pattern) — the hash ranking itself is already
# cluster-size invariant, so the SAMPLE is identical either way.
# Reproducible: same corpus, same k -> byte-identical sample on any
# partitioning (the property rate-sampling already guarantees, kept
# here for exact-k).
# ---------------------------------------------------------------------------

_RESERVOIR_K = 10

_RESERVOIR_ORACLE = f"""
SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= {_RESERVOIR_K}
ORDER BY lang, rk
"""


@query("q_sample_reservoir", oracle=_RESERVOIR_ORACLE)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Weighted reservoir sampling (Efraimidis & Spirakis 2006, A-ES): draw
# K docs per language with inclusion probability proportional to a
# weight — here n_chars, the "sample long documents more" budget shape
# — by ranking on the exponential-jitter key ln(u)/w (ascending on
# -ln(u)/w ≡ descending on u^(1/w)). The uniform u is DETERMINISTIC:
# the first 48 bits of md5(doc_id) scaled into (0,1] (the +1 keeps
# ln() off exactly-zero; the same 48-bit hex-parse idiom as the
# MinHash kit), so any cluster size reproduces the same sample. One
# window per language over a single scan, identical rank expression on
# both engines. ln() is the one libm call: a cross-engine 1-ulp
# difference could in principle flip an ordering of two keys closer
# than 1e-16 relative — with 48-bit-spread keys that is ~1e-9
# probability per corpus, the same residual the float-ordered top-k
# queries carry.
# ---------------------------------------------------------------------------

_WRES_K = 8

_WRES_ORACLE = f"""
SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk,
       round(key, 6) AS sample_key
FROM (
  SELECT lang, doc_id, n_chars,
         -ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) + 1) / 281474976710656.0)
           / greatest(1, n_chars) AS key,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY -ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                              AS BIGINT) + 1) / 281474976710656.0)
                    / greatest(1, n_chars), doc_id) AS rk
  FROM documents
)
WHERE rk <= {_WRES_K}
ORDER BY lang, rk
"""


@query("q_sample_weighted_reservoir", oracle=_WRES_ORACLE)
def q_sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact K-per-language sample with P(doc) ∝ n_chars via the A-ES
    exponential-jitter key on a deterministic md5 uniform."""
    d = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("double")
    key = -F.log((h + F.lit(1)) / F.lit(281474976710656.0)) / F.greatest(
        F.lit(1), F.col("n_chars")
    )
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            "n_chars",
            key.alias("key"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= _WRES_K)
        .select(
            "lang",
            "doc_id",
            "n_chars",
            F.col("rk").cast("long").alias("rk"),
            F.round("key", 6).alias("sample_key"),
        )
        .orderBy("lang", "rk")
    )


# ---------------------------------------------------------------------------
# Neyman-optimal stratified sample allocation — the sampling-design
# question the stratified/weighted samplers above execute but never
# answer: given a budget of n rows across the event-type strata, the variance-minimizing allocation is
# n_h ∝ N_h·σ_h (Neyman 1934), not proportional n_h ∝ N_h. One
# partial-agg'd pass collapses any event volume to exact per-stratum
# (count, Σcents, Σcents²) — integer cents in DECIMAL(38,0) so no
# scale overflows — then the σ_h, shares, and BOTH allocations
# (Neyman and proportional, for the delta the report exists to show)
# are fixed-shape double algebra over the bounded strata table.
# Integer allocations use the largest-remainder method: floors, then
# +1 to the top (frac DESC, stratum ASC) remainders — total-ordered,
# so both engines land the identical integer split and the budget is
# hit exactly (structural test).
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


def _neyman_oracle() -> str:
    return f"""
WITH m AS (
  SELECT event_type,
         count(*) AS big_n,
         sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0)))
           AS s1,
         sum(CAST(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0)))
           AS s2
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
),
sd AS (
  SELECT event_type, big_n,
         sqrt(CAST(s2 AS DOUBLE) / big_n
              - (CAST(s1 AS DOUBLE) / big_n) * (CAST(s1 AS DOUBLE) / big_n))
           AS sd_cents
  FROM m
),
w AS (
  SELECT event_type, big_n, sd_cents,
         big_n * sd_cents AS wn,
         CAST(big_n AS DOUBLE) AS wp
  FROM sd
),
tot AS (SELECT sum(wn) AS twn, sum(wp) AS twp FROM w),
raw AS (
  SELECT event_type, big_n, sd_cents,
         wn / twn AS neyman_share,
         {_NEYMAN_BUDGET} * wn / twn AS raw_n,
         {_NEYMAN_BUDGET} * wp / twp AS raw_p
  FROM w CROSS JOIN tot
),
alloc AS (
  SELECT event_type, big_n, sd_cents, neyman_share,
         CAST(floor(raw_n) AS BIGINT) AS base_n,
         row_number() OVER (ORDER BY raw_n - floor(raw_n) DESC, event_type)
           AS rn_n,
         CAST(floor(raw_p) AS BIGINT) AS base_p,
         row_number() OVER (ORDER BY raw_p - floor(raw_p) DESC, event_type)
           AS rn_p,
         {_NEYMAN_BUDGET} - sum(CAST(floor(raw_n) AS BIGINT)) OVER ()
           AS rem_n,
         {_NEYMAN_BUDGET} - sum(CAST(floor(raw_p) AS BIGINT)) OVER ()
           AS rem_p
  FROM raw
)
SELECT event_type, CAST(big_n AS BIGINT) AS big_n,
       round(sd_cents, 6) AS sd_cents,
       round(neyman_share, 6) AS neyman_share,
       CAST(base_n + CASE WHEN rn_n <= rem_n THEN 1 ELSE 0 END AS BIGINT)
         AS n_neyman,
       CAST(base_p + CASE WHEN rn_p <= rem_p THEN 1 ELSE 0 END AS BIGINT)
         AS n_proportional
FROM alloc
ORDER BY event_type
"""


NEYMAN_ORACLE = _neyman_oracle()


@query("q_sample_neyman_allocation", oracle=NEYMAN_ORACLE)
def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    m = e.groupBy("event_type").agg(
        F.count("*").alias("big_n"),
        F.sum(cents.cast("decimal(38,0)")).alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    nd = F.col("big_n")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    sd = m.select(
        "event_type",
        "big_n",
        F.sqrt(s2d / nd - (s1d / nd) * (s1d / nd)).alias("sd_cents"),
    )
    w = sd.select(
        "event_type",
        "big_n",
        "sd_cents",
        (F.col("big_n") * F.col("sd_cents")).alias("wn"),
        F.col("big_n").cast("double").alias("wp"),
    )
    tot = w.agg(F.sum("wn").alias("twn"), F.sum("wp").alias("twp"))
    raw = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "big_n",
        "sd_cents",
        (F.col("wn") / F.col("twn")).alias("neyman_share"),
        (_NEYMAN_BUDGET * F.col("wn") / F.col("twn")).alias("raw_n"),
        (_NEYMAN_BUDGET * F.col("wp") / F.col("twp")).alias("raw_p"),
    )
    whole = Window.partitionBy()
    alloc = raw.select(
        "event_type",
        "big_n",
        "sd_cents",
        "neyman_share",
        F.floor("raw_n").cast("long").alias("base_n"),
        F.row_number()
        .over(Window.orderBy(F.desc(F.col("raw_n") - F.floor("raw_n")), "event_type"))
        .alias("rn_n"),
        F.floor("raw_p").cast("long").alias("base_p"),
        F.row_number()
        .over(Window.orderBy(F.desc(F.col("raw_p") - F.floor("raw_p")), "event_type"))
        .alias("rn_p"),
        (_NEYMAN_BUDGET - F.sum(F.floor("raw_n").cast("long")).over(whole)).alias(
            "rem_n"
        ),
        (_NEYMAN_BUDGET - F.sum(F.floor("raw_p").cast("long")).over(whole)).alias(
            "rem_p"
        ),
    )
    return alloc.select(
        "event_type",
        F.col("big_n").cast("long").alias("big_n"),
        F.round("sd_cents", 6).alias("sd_cents"),
        F.round("neyman_share", 6).alias("neyman_share"),
        (
            F.col("base_n")
            + F.when(F.col("rn_n") <= F.col("rem_n"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_neyman"),
        (
            F.col("base_p")
            + F.when(F.col("rn_p") <= F.col("rem_p"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_proportional"),
    ).orderBy("event_type")
