"""Corpus-management operators for training-data pipelines: deterministic
dataset splits and per-label embedding centroids.

Both are single-pass, partial-aggregable shapes. The split assignment is
a pure hash of the stable document id — the only split mechanism that
stays consistent across reruns, refreshes, and engines (df.sample() is
seed- and partitioning-dependent, so it can never be oracle-checked nor
reproduced after a repartition). Centroids use the exact-decimal-moment
discipline (queries.__init__) so the per-dimension means hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

# Hash-mod split: md5 of the doc id, first 6 hex digits -> 24-bit int,
# mod 100. 80/10/10 train/val/test. Same hex-parse trick as llm.dedup
# (conv <-> '0x' cast) so both engines agree on the bucket.
_SPLIT_ORACLE = """
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT lang, n_chars,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT lang, n_chars,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
             % 100 AS bucket
    FROM documents
  )
)
GROUP BY split, lang
ORDER BY split, lang
"""


@query("q_split_train_val_test", oracle=_SPLIT_ORACLE)
def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split audit: per-split per-lang document and
    character counts. At 100 TB the assignment is a map-only expression on
    the scan (no shuffle, no state); only the tiny audit aggregate
    shuffles."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


# Per-dimension decimal(18,8) sums: embedding components are float32
# (unit scale), widened to double exactly, then rounded identically to
# scale 8 by both engines; the scale-8 sums stay under 2^53 so the final
# decimal->double cast is exact. DuckDB's zipped unnests supply the
# (dim, component) pairs that posexplode supplies in Spark.
_CENTROID_ORACLE = """
SELECT label, dim, count(*) AS n,
       CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(18,8))
            AS DOUBLE) / count(*) AS centroid
FROM (
  SELECT label,
         unnest(range(len(embedding))) AS dim,
         unnest(embedding) AS x
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
"""


@query("q_emb_centroids", oracle=_CENTROID_ORACLE)
def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, one explode + one partial-aggregable
    shuffle keyed (label, dim) — at corpus scale each task aggregates its
    local slice of every centroid before the exchange, so shuffle width
    is n_labels x n_dims, independent of corpus size."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    s = F.sum(F.col("x").cast("double").cast("decimal(18,8)"))
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n"),
            (s.cast("decimal(18,8)").cast("double") / F.count("*")).alias(
                "centroid"
            ),
        )
        .orderBy("label", "dim")
    )


# Int8 scalar quantization of embeddings — the storage/bandwidth op for
# billion-vector corpora: per-vector absmax scale, symmetric round to
# [-127, 127], reconstruction MSE reported per vector. 4x smaller than
# float32 on the wire and in the ANN index; everything is per-row array
# math (zero shuffle, codegen'd), and both engines round half-away-from-
# zero with identical IEEE division so the quantized codes hash-compare
# exactly. Dequantize is q * scale — the downstream ANN paths can probe
# quantized codes and re-rank exact on the candidate set.
# The checked projection serializes the codes as a comma-joined string
# (q_codes): the external driver canonicalizes results with pandas
# sort_values, which cannot hash a raw list column.
_QUANT_ORACLE = """
SELECT vec_id, label, scale,
       array_to_string(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)), ',') AS q_codes,
       list_reduce(list_prepend(CAST(0 AS DOUBLE),
         list_transform(embedding,
           x -> (CAST(x AS DOUBLE) - CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT) * scale)
              * (CAST(x AS DOUBLE) - CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT) * scale))),
         (acc, e) -> acc + e) / len(embedding) AS mse
FROM (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
  WHERE vec_id < 200
    -- a zero vector has nothing to quantize (scale 0 would divide by
    -- zero); excluded identically on both engines
    AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
)
ORDER BY vec_id
"""


@query("q_emb_quantize_int8", oracle=_QUANT_ORACLE)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    emb = F.col("embedding")
    max_abs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    scale = max_abs / 127.0
    # zero vectors have nothing to quantize; scale 0 would divide by zero
    with_scale = e.filter(max_abs > 0).select(
        "vec_id", "label", "embedding", scale.alias("scale")
    )
    s = F.col("scale")
    qcode = lambda x: F.round(x.cast("double") / s, 0).cast("int")  # noqa: E731
    err = lambda x: (x.cast("double") - qcode(x) * s) * (  # noqa: E731
        x.cast("double") - qcode(x) * s
    )
    return with_scale.select(
        "vec_id",
        "label",
        "scale",
        F.array_join(F.transform(emb, qcode).cast("array<string>"), ",").alias(
            "q_codes"
        ),
        (
            F.aggregate(
                F.transform(emb, err), F.lit(0.0), lambda acc, x: acc + x
            )
            / F.size(emb)
        ).alias("mse"),
    ).orderBy("vec_id")


# Corpus-overlap audit: how much 10-token-span content each pair of
# sources shares — the governance report behind "is source B a scrape
# of source A". Spans hash in-projection (same chunking as the C4 span
# dedup); the pair counts come from a self-join on the 16-byte span
# hash over the (hash, source) DISTINCT projection, so the widest
# shuffle carries one row per distinct span per source, never document
# bodies. Output is O(n_sources^2) rows.
_OVERLAP_W = 10

_OVERLAP_ORACLE = f"""
WITH spans AS (
  SELECT DISTINCT source,
         md5(array_to_string(toks[i*{_OVERLAP_W}+1 : i*{_OVERLAP_W}+{_OVERLAP_W}], ' ')) AS span_hash
  FROM (
    SELECT source, string_split(text, ' ') AS toks,
           unnest(range(CAST(ceil(len(string_split(text, ' ')) / {_OVERLAP_W}.0) AS BIGINT))) AS i
    FROM documents
  )
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared_spans
FROM spans a JOIN spans b
  ON a.span_hash = b.span_hash AND a.source < b.source
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@query("q_corpus_overlap_matrix", oracle=_OVERLAP_ORACLE)
def q_corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("source", F.split("text", " ").alias("toks"))
    n_spans = F.ceil(F.size("toks") / F.lit(float(_OVERLAP_W))).cast("int")
    span_hashes = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(
            F.array_join(F.slice("toks", i * _OVERLAP_W + 1, _OVERLAP_W), " ")
        ),
    )
    spans = (
        t.select("source", F.explode_outer(span_hashes).alias("span_hash"))
        .distinct()
    )
    a = spans.select(F.col("source").alias("source_a"), "span_hash")
    b = spans.select(F.col("source").alias("source_b"), "span_hash")
    return (
        a.join(b, "span_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_spans"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Importance-weighted domain selection (DSIR, Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much it resembles a
# target domain, using hashed unigram bag-of-words features and counts
# from the target vs. raw distributions — then keep the top-K. DSIR's
# scoring is the log-likelihood ratio sum; here the ratio is linearized
# to the exact-integer form
#     score(doc) = sum_tok cnt_doc(b(tok)) * (cnt_t(b)*N_r - cnt_r(b)*N_t)
# (the sign-preserving cross-multiplied numerator of p_target - p_raw
# over a common denominator N_t*N_r, which is constant and dropped) so
# the whole computation is int64 arithmetic — bit-identical across
# engines, no log() whose last-ulp rounding differs between libm
# implementations. Feature hashing (md5 -> 24-bit -> mod 64 buckets)
# is the same engine-portable trick as the split/minhash operators.
#
# Scale shape: the bucket-stats table has n_buckets rows (64 here, 10k
# in the paper) — broadcast; the doc-score aggregation is one explode +
# one partial-agg'd groupBy(doc_id); selection is orderBy+limit, which
# Spark plans as TakeOrderedAndProject (per-partition top-K + driver
# merge, never a global sort).
# ---------------------------------------------------------------------------

_DSIR_N_BUCKETS = 64
_DSIR_TARGET_SOURCE = "src0"
_DSIR_TOP_K = 100

_DSIR_BUCKET_SQL = (
    "CAST('0x' || substring(md5(tok), 1, 6) AS BIGINT) % " + str(_DSIR_N_BUCKETS)
)

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
feats AS (SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS bucket FROM toks),
stats AS (
  SELECT bucket,
         sum(CASE WHEN source = '{_DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS cnt_t,
         sum(CASE WHEN source <> '{_DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS cnt_r
  FROM feats GROUP BY bucket
),
totals AS (
  SELECT sum(cnt_t) AS n_t, sum(cnt_r) AS n_r FROM stats
),
scored AS (
  SELECT f.doc_id,
         CAST(sum(s.cnt_t * t.n_r - s.cnt_r * t.n_t) AS BIGINT) AS affinity_score
  FROM feats f JOIN stats s ON f.bucket = s.bucket CROSS JOIN totals t
  WHERE f.source <> '{_DSIR_TARGET_SOURCE}'
  GROUP BY f.doc_id
)
SELECT doc_id, affinity_score,
       row_number() OVER (ORDER BY affinity_score DESC, doc_id) AS rnk
FROM scored
ORDER BY affinity_score DESC, doc_id
LIMIT {_DSIR_TOP_K}
"""


def importance_scores(
    d: DataFrame, target_source: str, n_buckets: int
) -> DataFrame:
    """DSIR affinity scores over any (doc_id, source, text) frame ->
    (doc_id, affinity_score) for every non-target doc. Reused by
    q_sample_importance_dsir and property-tested against a pure-Python
    reference in tests/test_properties.py.

    Two stages, mirroring how DSIR actually deploys: (1) ONE pass builds
    the n_buckets-row count model (explode -> partial-agg'd
    groupBy(bucket)) and pulls it to the driver — the same driver-bounded
    collect discipline as operators/kmeans.py, n_buckets rows max; (2)
    scoring inlines the per-bucket weights as a LITERAL array, so the
    scoring pass is a pure map-only array-fold: no explode, no join, no
    shuffle — the per-doc sum happens inside the projection. A naive
    single-plan formulation evaluates
    the explode+md5 subtree twice (once under the stats groupBy, once
    under the scoring join): measured 1.33s -> map-only scoring at
    sf0.1."""
    bucket_of = (
        F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long") % n_buckets
    )
    feats = d.select(
        "doc_id", "source", F.split("text", " ").alias("toks")
    ).select("doc_id", "source", F.explode("toks").alias("tok")).select(
        "doc_id", "source", bucket_of.alias("bucket")
    )
    is_target = F.col("source") == target_source
    stats_rows = (
        feats.groupBy("bucket")
        .agg(
            F.sum(F.when(is_target, 1).otherwise(0)).alias("cnt_t"),
            F.sum(F.when(~is_target, 1).otherwise(0)).alias("cnt_r"),
        )
        .collect()
    )
    cnt_t = [0] * n_buckets
    cnt_r = [0] * n_buckets
    for r in stats_rows:
        cnt_t[r.bucket] = r.cnt_t
        cnt_r[r.bucket] = r.cnt_r
    n_t, n_r = sum(cnt_t), sum(cnt_r)
    # per-bucket integer weight, inlined as a literal lookup table
    weights = F.array(
        *[F.lit(cnt_t[b] * n_r - cnt_r[b] * n_t) for b in range(n_buckets)]
    )
    return (
        d.filter(F.col("source") != target_source)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.aggregate(
                F.transform(
                    F.col("toks"),
                    lambda t: F.element_at(
                        weights,
                        (
                            F.conv(F.substring(F.md5(t), 1, 6), 16, 10).cast(
                                "long"
                            )
                            % n_buckets
                            + 1
                        ).cast("int"),
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("affinity_score"),
        )
    )


@query("q_sample_importance_dsir", oracle=_DSIR_ORACLE)
def q_sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    scored = importance_scores(d, _DSIR_TARGET_SOURCE, _DSIR_N_BUCKETS)
    top = scored.orderBy(F.col("affinity_score").desc(), "doc_id").limit(
        _DSIR_TOP_K
    )
    # rank assigned AFTER the top-K cut: the window sees K rows, not the
    # corpus, so no global-sort stage exists ahead of the limit
    w = Window.orderBy(F.col("affinity_score").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


# ---------------------------------------------------------------------------
# End-to-end pipeline composition: the "corpus card" a training run
# starts from. Stage 1 applies the Gopher quality gate (llm.text),
# stage 2 drops exact duplicates among survivors (keep lowest doc_id
# per content hash), stage 3 reports per-language document/token
# volumes. One oracle-checked query proving the operators COMPOSE: the
# gate is a semi-join on a map-only flag projection, dedup is one
# window over md5(text), and the card is a partial-agg'd groupBy — the
# document bodies are scanned once per stage input, never shuffled
# (only 16-byte hashes and counts cross the wire).
# ---------------------------------------------------------------------------

_PIPELINE_ORACLE = """
WITH flagged AS (
  SELECT doc_id,
         CASE WHEN len(toks) BETWEEN 50 AND 100000
               AND chars >= 3 * len(toks) AND chars <= 10 * len(toks)
               AND alpha * 5 >= len(toks) * 4
               AND stops >= 2
              THEN 1 ELSE 0 END AS ok
  FROM (
    SELECT doc_id, toks,
           list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                       (a, x) -> a + x) AS chars,
           len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
           len(list_filter(toks, x -> list_contains(
             ['the','be','to','of','and','that','have','with'], x))) AS stops
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
),
survivors AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN flagged f ON d.doc_id = f.doc_id AND f.ok = 1
),
deduped AS (
  SELECT doc_id, lang, text
  FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM survivors
  ) WHERE rn = 1
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY lang
ORDER BY lang
"""


@query("q_corpus_pipeline_card", oracle=_PIPELINE_ORACLE)
def q_corpus_pipeline_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .text import gopher_quality_flags

    d = load(spark, sf_dir, "documents")
    passing = (
        gopher_quality_flags(d)
        .filter(F.col("gopher_pass") == 1)
        .select("doc_id")
    )
    survivors = d.join(passing, "doc_id", "left_semi").select(
        "doc_id", "lang", "text"
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding distribution stats — the pass that feeds
# whitening / standardization (subtract mean, divide std per dim) and
# sanity checks an embedding pipeline (dead dims, scale drift). Same
# plan shape as q_emb_centroids: one posexplode + one partial-agg'd
# shuffle keyed by dim, shuffle width = n_dims regardless of corpus
# size. Float discipline: sums and sums-of-squares go through exact
# DECIMAL(18,8) (the q_agg_stats pattern), the final mean/std are one
# identical double expression on both engines — bitwise-equal, no
# rounding needed.
# ---------------------------------------------------------------------------

# std guards (both engines, identically): a single-row dimension has
# no sample variance — count(*) = 1 would divide by zero, which Spark
# 4's ANSI default turns into a hard crash — and a CONSTANT dimension
# (min = max) must report std NULL, not the tiny positive noise the
# DECIMAL(18,8) moment quantization can leave (or the negative value
# it can leave, which crashes DuckDB's sqrt). greatest(, 0) clamps the
# quantization sign; the min < max predicate pins dead dims to NULL.
_DIM_STATS_ORACLE = """
SELECT dim, count(*) AS n,
       CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8))) AS DECIMAL(18,8))
            AS DOUBLE) / count(*) AS mean_val,
       CASE WHEN count(*) > 1 AND min(CAST(x AS DOUBLE)) < max(CAST(x AS DOUBLE))
       THEN
       sqrt(greatest((CAST(count(*) AS DOUBLE)
             * CAST(CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE)
             - CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))
                         AS DECIMAL(18,8)) AS DOUBLE)
               * CAST(CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))
                           AS DECIMAL(18,8)) AS DOUBLE))
            / (CAST(count(*) AS DOUBLE) * (count(*) - 1)), CAST(0 AS DOUBLE)))
       END AS std_val,
       min(CAST(x AS DOUBLE)) AS lo,
       max(CAST(x AS DOUBLE)) AS hi
FROM (
  SELECT unnest(range(len(embedding))) AS dim,
         unnest(embedding) AS x
  FROM embeddings
)
GROUP BY dim
ORDER BY dim
"""


@query("q_emb_dim_stats", oracle=_DIM_STATS_ORACLE)
def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(F.posexplode("embedding").alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    n = F.count("*").cast("double")
    s1 = F.sum(F.col("x").cast("decimal(18,8)")).cast("decimal(18,8)").cast("double")
    s2 = (
        F.sum((F.col("x") * F.col("x")).cast("decimal(18,8)"))
        .cast("decimal(18,8)")
        .cast("double")
    )
    std = F.when(
        (F.count("*") > 1) & (F.min("x") < F.max("x")),
        F.sqrt(
            F.greatest(
                (n * s2 - s1 * s1) / (n * (F.count("*") - 1)),
                F.lit(0.0),
            )
        ),
    )
    return (
        exploded.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            (s1 / F.count("*")).alias("mean_val"),
            std.alias("std_val"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Top principal component of the embedding corpus — distributed power
# iteration (operators/pca.py): matrix-free Cov.v products, one Spark
# job per round, O(dim) driver state, the d x d covariance never
# materialized. The embedding-whitening / ABTT ("all-but-the-top",
# arXiv:1702.01417) preprocessing step of an LLM data pipeline.
#
# Driver surface: the iterate itself is float-summation-order
# sensitive, so the hashable output is the INVARIANTS — counts, dims,
# unit norm, a positive dominant eigenvalue, and the residual
# ||Cov.v - lambda.v||/lambda certifying convergence — not the vector.
# The vector itself is available via power_iteration_top_pc() for
# pipeline use.
# ---------------------------------------------------------------------------

_PCA_ORACLE = """
SELECT count(*) AS n_vecs,
       CAST(max(len(embedding)) AS INT) AS n_dims,
       TRUE AS unit_norm_ok,
       TRUE AS eigenvalue_positive,
       TRUE AS converged
FROM embeddings
"""


@query("q_emb_pca_top_component", oracle=_PCA_ORACLE)
def q_emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pca import power_iteration_top_pc

    e = load(spark, sf_dir, "embeddings")
    first = e.select("embedding").first()
    if first is None:
        # empty corpus: no component exists — report n_vecs = 0 with
        # vacuously-true certification flags, exactly what _PCA_ORACLE
        # (hardcoded TRUE literals) produces on zero rows, so the
        # query/oracle contract holds on empty input too
        return e.agg(
            F.count("*").alias("n_vecs"),
            F.max(F.size("embedding")).alias("n_dims"),
            F.lit(True).alias("unit_norm_ok"),
            F.lit(True).alias("eigenvalue_positive"),
            F.lit(True).alias("converged"),
        )
    dim = len(first[0])
    # 16 rounds: the fixture embeddings are near-isotropic (small
    # eigengap), the worst case for power iteration — real text
    # embeddings have a dominant direction (arXiv:1702.01417) and
    # converge in far fewer. Residual certified < 0.1 below.
    pc = power_iteration_top_pc(e, dim=dim, n_iter=16)
    norm = sum(x * x for x in pc["component"]) ** 0.5
    return e.agg(
        F.count("*").alias("n_vecs"),
        F.max(F.size("embedding")).alias("n_dims"),
        F.lit(abs(norm - 1.0) < 1e-9).alias("unit_norm_ok"),
        F.lit(pc["eigenvalue"] > 0).alias("eigenvalue_positive"),
        F.lit(pc["residual_rel"] < 0.1).alias("converged"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle + sharding: the write-side primitive every
# training-data pipeline ends with. A training run needs the corpus in a
# RANDOM but REPRODUCIBLE order, split into fixed shards — rand() gives
# neither (non-deterministic across retries, partitionings, engines), so
# the shuffle key is a seeded cryptographic hash of the stable doc key:
# order = md5(seed || doc_id). Shard = key mod n (balanced by hash
# uniformity), position = rank within shard by key. Scale shape: ONE hash
# shuffle on the shard id and a per-shard sort — no global sort, no
# driver state; shards write independently (partitionBy(shard)), and the
# same (seed, doc_id) always lands in the same (shard, pos) on any
# cluster size, which is what makes checkpoint-resume byte-stable.
# ---------------------------------------------------------------------------

_SHUF_SEED = "epoch0"
_SHUF_N_SHARDS = 8

_SHUF_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)) AS skey,
         CAST('0x' || substring(md5('{_SHUF_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 6) AS BIGINT)
           % {_SHUF_N_SHARDS} AS shard
  FROM documents
)
SELECT shard, CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) AS pos,
       doc_id
FROM keyed
ORDER BY shard, pos
"""


@query("q_corpus_shuffle_deterministic", oracle=_SHUF_ORACLE)
def q_corpus_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    skey = F.md5(F.concat(F.lit(f"{_SHUF_SEED}:"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id",
        skey.alias("skey"),
        (F.conv(F.substring(skey, 1, 6), 16, 10).cast("long") % _SHUF_N_SHARDS)
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
            "doc_id",
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Token-budget epoch planning: given a training-run token budget and
# temperature-smoothed source weights (alpha = 0.5, the sqrt rule from
# multilingual sampling), how many EPOCHS of each source does its quota
# imply? Sources whose quota exceeds ~4 passes over their data are
# flagged — the repetition ceiling from data-constrained scaling work
# (Muennighoff et al. 2023, arXiv:2305.16264) beyond which repeated
# tokens stop helping. Scale shape: one partial-agg'd token count per
# source, a source-cardinality aggregate for the weight normalizer
# (broadcast back), then map-only arithmetic. Float discipline:
# sqrt is IEEE-correctly-rounded (bit-identical on both engines),
# per-source sqrt terms round to 6 dp into exact decimals for the
# order-free normalizer sum, and every remaining op is fixed-shape.
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000_000
_EPOCH_CEILING = 4.0

_EPOCHS_ORACLE = f"""
WITH src AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
sq AS (
  SELECT source, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sq
  FROM src
),
tot AS (SELECT sum(sq) AS total_sq FROM sq)
SELECT source, n_tokens,
       round(CAST(sq AS DOUBLE) / CAST(CAST(total_sq AS DECIMAL(18,6)) AS DOUBLE), 6) AS weight,
       CAST(round({_BUDGET_TOKENS} * (CAST(sq AS DOUBLE)
              / CAST(CAST(total_sq AS DECIMAL(18,6)) AS DOUBLE))) AS BIGINT) AS quota_tokens,
       round(CAST(round({_BUDGET_TOKENS} * (CAST(sq AS DOUBLE)
              / CAST(CAST(total_sq AS DECIMAL(18,6)) AS DOUBLE))) AS DOUBLE)
             / n_tokens, 4) AS epochs,
       CASE WHEN CAST(round({_BUDGET_TOKENS} * (CAST(sq AS DOUBLE)
              / CAST(CAST(total_sq AS DECIMAL(18,6)) AS DOUBLE))) AS DOUBLE)
             / n_tokens > {_EPOCH_CEILING} THEN 1 ELSE 0 END AS over_epoch_risk
FROM sq CROSS JOIN tot
ORDER BY source
"""


@query("q_corpus_epochs_budget", oracle=_EPOCHS_ORACLE)
def q_corpus_epochs_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    sq = src.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("sq"),
    )
    tot = sq.agg(F.sum("sq").alias("total_sq"))
    weight = F.col("sq").cast("double") / F.col("total_sq").cast(
        "decimal(18,6)"
    ).cast("double")
    quota = F.round(F.lit(_BUDGET_TOKENS) * weight).cast("long")
    epochs = quota.cast("double") / F.col("n_tokens")
    return (
        sq.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(weight, 6).alias("weight"),
            quota.alias("quota_tokens"),
            F.round(epochs, 4).alias("epochs"),
            F.when(epochs > _EPOCH_CEILING, 1).otherwise(0).alias(
                "over_epoch_risk"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Dataset fingerprint: an ORDER-INDEPENDENT content checksum per table
# slice — the reproducibility primitive a training pipeline stamps into
# its run manifest ("this exact corpus version"). Per-row key = 60-bit
# md5 prefix over the canonical (doc_id|source|text) serialization;
# the slice fingerprint folds rows with bit_xor (commutative,
# associative → partial-aggregable map-side, any partitioning yields
# the same value) next to the row count and a total-byte tally. Two
# corpora match iff (n_rows, xor_fingerprint, total_bytes) match —
# detecting any changed, added, or dropped row without ordering or
# sorting anything at any scale. Rows with a NULL key field are
# excluded from the xor on BOTH engines (SQL '||' and F.concat both
# null the key; bit_xor skips nulls) but still counted in n_rows, so a
# corpus differing only in null rows still differs in the row count.
# ---------------------------------------------------------------------------

_FP_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(CAST('0x' || substring(
           md5(CAST(doc_id AS VARCHAR) || '|' || source || '|' || text),
           1, 15) AS BIGINT)) AS xor_fingerprint,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY source
ORDER BY source
"""


@query("q_corpus_fingerprint", oracle=_FP_ORACLE)
def q_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # F.concat (NOT concat_ws): both engines null the key when any
    # field is NULL, and bit_xor skips nulls identically — concat_ws
    # would silently drop the null field on the Spark side only,
    # diverging the fingerprints. Null rows are excluded from the
    # checksum on both engines (documented contract).
    row_key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("source"),
                    F.lit("|"),
                    F.col("text"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.bit_xor(row_key).alias("xor_fingerprint"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Whitening APPLICATION — the consumer of q_emb_dim_stats: standardize
# every embedding component to (x - mean_d) / std_d, the preprocessing
# step before PCA/ABTT or any distance-based downstream (so no single
# high-variance dimension dominates cosine/L2). Plan shape: the
# n_dims-row stats table (bounded by the MODEL dimension, a constant —
# unlike the LM scorers' corpus-derived vocab, this broadcast hint is
# safe by construction) broadcasts onto the posexploded component
# stream — one explode, one broadcast equi-join, zero extra shuffles;
# output is the whitened (vec_id, dim, whitened) stream a writer would
# re-assemble with collect_list over dim. Float discipline: mean/std
# come from the exact-decimal moment pattern (bitwise-equal both
# engines, see q_emb_dim_stats) and (x - mean)/std is one fixed-shape
# IEEE expression per row — no summation anywhere, so no rounding is
# needed. Dead dims (std = 0) whiten to NULL on both engines — the
# ANSI-safe signal that the dimension carries no information.
# ---------------------------------------------------------------------------

_WHITEN_ORACLE = """
WITH comp AS (
  SELECT vec_id,
         unnest(range(len(embedding))) AS dim,
         unnest(embedding) AS xf
  FROM embeddings
),
stats AS (
  -- std guards mirror q_emb_dim_stats: count(*) = 1 would divide by
  -- zero (ANSI crash on Spark), a constant dim (min = max) pins to
  -- NULL, and greatest(, 0) clamps the DECIMAL(18,8) quantization
  -- residue whose negative sign crashes DuckDB's sqrt
  SELECT dim,
         CAST(CAST(sum(CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,8)))
              AS DECIMAL(18,8)) AS DOUBLE) / count(*) AS mean_val,
         CASE WHEN count(*) > 1
                   AND min(CAST(xf AS DOUBLE)) < max(CAST(xf AS DOUBLE))
         THEN
         sqrt(greatest((CAST(count(*) AS DOUBLE)
               * CAST(CAST(sum(CAST(CAST(xf AS DOUBLE) * CAST(xf AS DOUBLE)
                                 AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE)
               - CAST(CAST(sum(CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,8)))
                           AS DECIMAL(18,8)) AS DOUBLE)
                 * CAST(CAST(sum(CAST(CAST(xf AS DOUBLE) AS DECIMAL(18,8)))
                             AS DECIMAL(18,8)) AS DOUBLE))
              / (CAST(count(*) AS DOUBLE) * (count(*) - 1)),
              CAST(0 AS DOUBLE)))
         END AS std_val
  FROM comp GROUP BY dim
)
SELECT c.vec_id, CAST(c.dim AS INT) AS dim,
       CASE WHEN s.std_val > 0 THEN
         (CAST(c.xf AS DOUBLE) - s.mean_val) / s.std_val
       END AS whitened
FROM comp c JOIN stats s USING (dim)
ORDER BY vec_id, dim
"""


@query("q_emb_whiten_apply", oracle=_WHITEN_ORACLE)
def q_emb_whiten_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 0.84 s vs plain 0.68 s): comp does feed the per-dim stats
    # AND the whitening join, but the posexplode component stream is
    # cheap to re-derive next to the checkpoint round-trip + the
    # per-invocation rebuild a data-computing build forces.
    comp = e.select("vec_id", F.posexplode("embedding").alias("dim", "xf")).select(
        "vec_id", "dim", F.col("xf").cast("double").alias("x")
    )
    n = F.count("*").cast("double")
    s1 = (
        F.sum(F.col("x").cast("decimal(18,8)"))
        .cast("decimal(18,8)")
        .cast("double")
    )
    s2 = (
        F.sum((F.col("x") * F.col("x")).cast("decimal(18,8)"))
        .cast("decimal(18,8)")
        .cast("double")
    )
    stats = comp.groupBy("dim").agg(
        (s1 / F.count("*")).alias("mean_val"),
        F.when(
            (F.count("*") > 1) & (F.min("x") < F.max("x")),
            F.sqrt(
                F.greatest(
                    (n * s2 - s1 * s1) / (n * (F.count("*") - 1)),
                    F.lit(0.0),
                )
            ),
        ).alias("std_val"),
    )
    return (
        comp.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.when(
                F.col("std_val") > 0,
                (F.col("x") - F.col("mean_val")) / F.col("std_val"),
            ).alias("whitened"),
        )
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# Population Stability Index between two corpus halves — THE production
# drift metric: bucket a feature (doc length), compare the bucket
# distributions of slice A vs slice B, PSI = Σ (p-q)·ln(p/q). Here the
# slices are the deterministic doc_id parity halves (stand-in for
# before/after snapshots; the operator is slice-agnostic). Laplace +1
# smoothing keeps empty buckets off ln(0)/÷0 on BOTH engines — the
# degenerate-corpus guard. Exact integer counts everywhere; one
# row-cardinality shuffle to (lang, bucket) grain, then a lang-grain
# aggregate — bucket count is a constant (10), so state is bounded.
# PSI < 0.1 is conventionally "no shift", > 0.25 "major shift"; the
# banded label ships with the number.
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_WIDTH = 60  # chars per bucket; bucket 9 is open-ended


_PSI_ORACLE = f"""
WITH b AS (
  SELECT lang,
         least({_PSI_BUCKETS - 1}, n_chars // {_PSI_WIDTH}) AS bucket,
         CAST(doc_id % 2 AS INTEGER) AS half
  FROM documents
),
cells AS (
  SELECT lang, bucket,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
  FROM b GROUP BY lang, bucket
),
tot AS (
  SELECT lang, bucket, ca, cb,
         CAST(sum(ca) OVER (PARTITION BY lang) AS BIGINT) AS na,
         CAST(sum(cb) OVER (PARTITION BY lang) AS BIGINT) AS nb
  FROM cells
),
terms AS (
  SELECT lang, na, nb,
         (CAST(ca + 1 AS DOUBLE) / (na + {_PSI_BUCKETS})
          - CAST(cb + 1 AS DOUBLE) / (nb + {_PSI_BUCKETS}))
         * ln((CAST(ca + 1 AS DOUBLE) / (na + {_PSI_BUCKETS}))
              / (CAST(cb + 1 AS DOUBLE) / (nb + {_PSI_BUCKETS}))) AS term
  FROM tot
)
SELECT lang, CAST(max(na) AS BIGINT) AS n_half_a,
       CAST(max(nb) AS BIGINT) AS n_half_b,
       round(sum(term), 6) AS psi,
       CASE WHEN sum(term) < 0.1 THEN 'stable'
            WHEN sum(term) < 0.25 THEN 'moderate_shift'
            ELSE 'major_shift' END AS band
FROM terms
GROUP BY lang
ORDER BY lang
"""


@query("q_quality_psi_drift", oracle=_PSI_ORACLE)
def q_quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the doc-length distribution between the two deterministic
    corpus halves, per language, with the conventional drift band."""
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "lang",
        F.least(
            F.lit(_PSI_BUCKETS - 1), F.expr(f"n_chars DIV {_PSI_WIDTH}")
        ).alias("bucket"),
        (F.col("doc_id") % 2).cast("int").alias("half"),
    )
    cells = b.groupBy("lang", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    wl = Window.partitionBy("lang")
    tot = cells.select(
        "lang",
        "bucket",
        "ca",
        "cb",
        F.sum("ca").over(wl).cast("bigint").alias("na"),
        F.sum("cb").over(wl).cast("bigint").alias("nb"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("na") + _PSI_BUCKETS)
    pb = (F.col("cb") + 1).cast("double") / (F.col("nb") + _PSI_BUCKETS)
    terms = tot.select(
        "lang", "na", "nb", ((pa - pb) * F.log(pa / pb)).alias("term")
    )
    s = F.sum("term")
    return (
        terms.groupBy("lang")
        .agg(
            F.max("na").cast("bigint").alias("n_half_a"),
            F.max("nb").cast("bigint").alias("n_half_b"),
            F.round(s, 6).alias("psi"),
            F.when(s < 0.1, F.lit("stable"))
            .when(s < 0.25, F.lit("moderate_shift"))
            .otherwise(F.lit("major_shift"))
            .alias("band"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# K-fold assignment audit. Deterministic fold = 48-bit md5(doc_id)
# mod K (the same hash-mod discipline as the 80/10/10 split, so folds
# are reproducible on any cluster and disjoint BY CONSTRUCTION — the
# audit proves balance, the property hashing doesn't guarantee). Pure
# map + one K-row aggregate.
# ---------------------------------------------------------------------------

_KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH f AS (
  SELECT CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                   AS BIGINT) % {_KFOLD_K} AS INTEGER) AS fold,
         lang, n_chars
  FROM documents
),
n AS (SELECT count(*) AS total FROM documents)
SELECT fold, count(*) AS n_docs,
       round(CAST(count(*) AS DOUBLE) / n.total, 6) AS share,
       count(DISTINCT lang) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM f CROSS JOIN n
GROUP BY fold, n.total
ORDER BY fold
"""


@query("q_split_kfold", oracle=_KFOLD_ORACLE)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold balance audit of the deterministic 5-fold assignment."""
    d = load(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint")
        % _KFOLD_K
    ).cast("int")
    f = d.select(fold.alias("fold"), "lang", "n_chars")
    n = F.broadcast(d.agg(F.count("*").alias("total")))
    return (
        f.crossJoin(n)
        .groupBy("fold", "total")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.count("*").cast("double") / F.col("total"), 6).alias(
                "share"
            ),
            F.count_distinct("lang").alias("n_langs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .drop("total")
        .select("fold", "n_docs", "share", "n_langs", "total_chars")
        .orderBy("fold")
    )
