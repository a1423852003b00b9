"""Embedding similarity search (SURVEY.md §2.2 LLM ops).

- Brute-force cosine top-k: broadcast the (small) query set against the
  partitioned corpus — the exact baseline. Linear in corpus size, never
  corpus x corpus.
- SRP-LSH (signed random projection) bucketed top-k: sign-bit bucket from
  dots against fixed anchor vectors, candidates share the bucket — the
  sublinear scale path.
- A vectorized pandas-UDF scorer (Arrow-batched numpy) as the
  escape-hatch pattern for metrics SQL can't express (oracle-checked on
  scores rounded to 6 decimals — numpy's summation order differs from a
  sequential SQL fold by ~1e-15, which rounding swamps).

Float determinism: elements are cast float->double (exact) BEFORE any
arithmetic, and dot products fold sequentially in array order on both
engines (F.aggregate <-> list_reduce), so scores are bit-identical.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries import directional, dot, norm, sql_directional_cte, sql_dot, sql_norm
from ..registry import query
from ..tables import CAL_SLICE_K, cal_slice, load, sql_cal_key

N_QUERIES = 10
TOP_K = 5

_BRUTE_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, e.vec_id AS nid, e.label,
         {sql_dot('q.qv', 'e.embedding')} / ({sql_norm('q.qv')} * {sql_norm('e.embedding')}) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
)
SELECT qid, nid, label, cosine, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
ORDER BY qid, rnk
"""


@query("q_sim_cosine_topk_brute", oracle=_BRUTE_ORACLE)
def q_sim_cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    # Norms are hoisted to per-row columns BEFORE the cross join: inside
    # it they'd be re-folded per (query x corpus) pair — |Q| times the
    # work for the corpus side. Same fold, same double, same cosine.
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .withColumn("qnorm", norm(F.col("qv")))
    )
    corpus = e.select(
        F.col("vec_id").alias("nid"), "label", F.col("embedding").alias("nv")
    ).withColumn("nnorm", norm(F.col("nv")))
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            "label",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "nid", "label", "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


# SRP-LSH: bucket = sign bits of dots against N_ANCHORS fixed anchor
# vectors (deterministically chosen: the lowest vec_ids). Candidate set =
# same bucket — an equality join on the bucket key; probing cost is
# corpus/2^bits per query on average.
N_ANCHORS = 6

_ANCHORS_SQL = f"(SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < {N_ANCHORS})"

_BUCKET_SQL = f"""
  SELECT e.vec_id, e.label, e.embedding,
         string_agg(CASE WHEN {sql_dot('e.embedding', 'a.av')} >= 0 THEN '1' ELSE '0' END,
                    '' ORDER BY a.aid) AS bucket
  FROM embeddings e, {_ANCHORS_SQL} a
  GROUP BY e.vec_id, e.label, e.embedding
"""

_LSH_ORACLE = f"""
WITH {sql_directional_cte()},
bucketed AS ({_BUCKET_SQL}),
q AS (SELECT vec_id AS qid, embedding AS qv, bucket FROM bucketed WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, c.vec_id AS nid,
         {sql_dot('q.qv', 'c.embedding')} / ({sql_norm('q.qv')} * {sql_norm('c.embedding')}) AS cosine
  FROM q JOIN bucketed c ON q.bucket = c.bucket AND c.vec_id <> q.qid
)
SELECT qid, nid, cosine, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
ORDER BY qid, rnk
"""


@query("q_sim_lsh_bucketed_topk", oracle=_LSH_ORACLE)
def q_sim_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    anchors = (
        e.filter(F.col("vec_id") < N_ANCHORS)
        .select(F.col("vec_id").alias("aid"), F.col("embedding").alias("av"))
    )
    with_anchor = F.broadcast(anchors).crossJoin(
        e.select("vec_id", "label", "embedding")
    )
    bucketed = (
        with_anchor.withColumn(
            "bit",
            F.struct(
                F.col("aid"),
                F.when(dot(F.col("embedding"), F.col("av")) >= 0, "1")
                .otherwise("0")
                .alias("bit"),
            ),
        )
        .groupBy("vec_id", "label", "embedding")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("bit")), lambda x: x.bit), ""
            ).alias("bucket")
        )
    )
    # norm hoisted per row before the bucket join (see brute-force note)
    bucketed = bucketed.withColumn("nrm", norm(F.col("embedding")))
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnorm"),
        "bucket",
    )
    scored = (
        q.join(bucketed.alias("c"), "bucket")
        .filter(F.col("c.vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("c.vec_id").alias("nid"),
            (
                dot(F.col("qv"), F.col("c.embedding"))
                / (F.col("qnorm") * F.col("c.nrm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "nid", "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


# numpy's pairwise/BLAS summation order differs from a sequential SQL
# fold by ~1e-15 relative, so raw doubles would hash-mismatch. Rounding
# the score to 6 decimals on BOTH engines swamps that noise (boundary
# collision needs a value within 1e-15 of a 5e-7 rounding edge) while
# still pinning the math to 6 significant digits; ordering and the
# top-k cut use the ROUNDED value with vec_id tiebreak so the selected
# row set is identical on both sides.
_PANDAS_COS_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round({sql_dot('e.embedding', 'q.qv')}
             / ({sql_norm('e.embedding')} * {sql_norm('q.qv')}), 6) AS cosine_r
FROM embeddings e, q
WHERE e.vec_id <> 0
ORDER BY cosine_r DESC, e.vec_id
LIMIT {TOP_K}
"""


@query("q_sim_pandas_udf_cosine", oracle=_PANDAS_COS_ORACLE)
def q_sim_pandas_udf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched numpy scorer via mapInPandas — the pattern for
    metrics that built-ins can't express. Each batch is vectorized
    (matrix @ query), never per-row Python."""
    import numpy as np

    e = directional(load(spark, sf_dir, "embeddings"))
    qrow = (
        e.filter(F.col("vec_id") == 0).select("embedding").head()
    )
    if qrow is None:
        # designated query vector absent or zero-norm: the oracle's q
        # CTE is empty there too, so the correct result is no rows
        return spark.createDataFrame([], "vec_id long, cosine_r double")
    qv = np.asarray(qrow[0], dtype=np.float64)
    qn = np.linalg.norm(qv)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.vstack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
            cos = (m @ qv) / (np.linalg.norm(m, axis=1) * qn)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cosine": cos})

    out = e.select("vec_id", "embedding").mapInPandas(
        score, "vec_id long, cosine double"
    )
    return (
        out.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round("cosine", 6).alias("cosine_r"))
        .orderBy(F.col("cosine_r").desc(), "vec_id")
        .limit(TOP_K)
    )


# IVF-style ANN: coarse quantization into inverted lists. Centroids here
# are deterministically fixed (lowest vec_ids) so the oracle can express
# assignment in SQL; a production build would k-means them — the plan
# shape (assign -> equi-join on list id -> exact re-rank) is identical.
# Probing cost is nprobe/n_centroids of the corpus per query, and every
# stage is a hash shuffle or broadcast — never corpus x corpus.
N_CENTROIDS = 8
NPROBE = 2

_CENTROIDS_SQL = (
    f"(SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {N_CENTROIDS})"
)


def _ivf_assign_sql(src: str, keep: int, id_alias: str) -> str:
    """Rank centroids by cosine for each vector in `src`, keep the top
    `keep` lists (1 for corpus assignment, NPROBE for query probing)."""
    return f"""
  SELECT vec_id AS {id_alias}, embedding, cid
  FROM (
    SELECT s.vec_id, s.embedding, c.cid,
           row_number() OVER (
             PARTITION BY s.vec_id
             ORDER BY {sql_dot('s.embedding', 'c.cv')}
                      / ({sql_norm('s.embedding')} * {sql_norm('c.cv')}) DESC,
                      c.cid) AS crnk
    FROM {src} s, {_CENTROIDS_SQL} c
  ) WHERE crnk <= {keep}
"""


_IVF_ORACLE = f"""
WITH {sql_directional_cte()},
lists AS ({_ivf_assign_sql('embeddings', 1, 'nid')}),
probes AS ({_ivf_assign_sql(f'(SELECT * FROM embeddings WHERE vec_id < {N_QUERIES})', NPROBE, 'qid')}),
scored AS (
  SELECT DISTINCT p.qid, l.nid,
         {sql_dot('p.embedding', 'l.embedding')}
           / ({sql_norm('p.embedding')} * {sql_norm('l.embedding')}) AS cosine
  FROM probes p JOIN lists l ON p.cid = l.cid AND l.nid <> p.qid
)
SELECT qid, nid, cosine, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
      FROM scored)
WHERE rnk <= {TOP_K}
ORDER BY qid, rnk
"""


def _ivf_assign(e: DataFrame, centroids: DataFrame, keep: int, id_alias: str) -> DataFrame:
    # norms hoisted to per-row columns BEFORE the cross join: inside the
    # pair projection each would be re-evaluated once per (vector,
    # centroid) — k-fold redundant work. The hoisted expression computes
    # the identical doubles, so ranking (and the oracle hash) is
    # unchanged.
    cents = F.broadcast(centroids.withColumn("cnorm", norm(F.col("cv"))))
    ranked = (
        e.withColumn("enorm", norm(F.col("embedding")))
        .crossJoin(cents)
        .withColumn(
            "ccos",
            dot(F.col("embedding"), F.col("cv"))
            / (F.col("enorm") * F.col("cnorm")),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
            ),
        )
        .filter(F.col("crnk") <= keep)
    )
    return ranked.select(F.col("vec_id").alias(id_alias), "embedding", "cid")


@query("q_sim_ivf_topk", oracle=_IVF_ORACLE)
def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    lists = _ivf_assign(e.select("vec_id", "embedding"), centroids, 1, "nid")
    probes = _ivf_assign(
        e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding"),
        centroids,
        NPROBE,
        "qid",
    ).select(
        "qid",
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qnorm"),
        "cid",
    )
    lists = lists.withColumn("nnorm", norm(F.col("embedding")))
    # probes is bounded by LITERAL constants (N_QUERIES x NPROBE rows),
    # so the hint is safe at any corpus scale — without it AQE plans a
    # sort-merge join that sorts the full inverted-list side
    scored = (
        F.broadcast(probes).join(lists, "cid")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qnorm") * F.col("nnorm"))
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "nid", "cosine", "rnk")
        .orderBy("qid", "rnk")
    )


# The trained centroids come out of an iterative Lloyd loop
# (operators/kmeans.py) that plain SQL can't reproduce, so the raw ANN
# hit list is inherently oracle-opaque. The driver-hashable surface is
# therefore the EVAL SUMMARY derived from it, all computed in-plan:
# result completeness (every query returns exactly TOP_K rows), score
# sanity (|cosine| <= 1), and recall against the in-plan brute-force
# exact top-k. The oracle asserts the same invariants as literals; any
# ANN regression (empty lists, broken assignment, recall collapse)
# flips a boolean and hash-mismatches. Recall threshold 0.3 is well
# under the floor observed across sf0.001-0.1 (0.74-0.84) — generous to
# data regeneration, tight against real breakage (random lists give
# ~nprobe/k = 0.25 expected overlap only by luck of list sizes).
_MIN_RECALL = 0.3

# n_queries/total_rows derive from the DIRECTIONAL query count (the
# shadow CTE), not a hardcoded literal — a zero-norm vector among the
# query ids must shrink both sides identically, not fail the gate.
_KMEANS_EVAL_ORACLE = f"""
WITH {sql_directional_cte()},
nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id < {N_QUERIES})
SELECT CAST(n AS BIGINT) AS n_queries,
       CAST(n * {TOP_K} AS BIGINT) AS total_rows,
       TRUE AS per_query_complete,
       TRUE AS cosine_in_bounds,
       TRUE AS recall_ok
FROM nq
"""


@query("q_sim_ivf_kmeans_topk", oracle=_KMEANS_EVAL_ORACLE)
def q_sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a k-means-TRAINED coarse quantizer. Identical plan
    shape to q_sim_ivf_topk (in-projection assign -> equi-join on list
    id -> exact re-rank on candidates only); only the centroid constants
    differ, so the 100 TB cost model carries over unchanged while the
    inverted lists actually follow the data distribution. Returns the
    driver-checkable eval summary (see _KMEANS_EVAL_ORACLE note); the
    underlying top-k DataFrame is the same plan as before, now feeding
    three single-row aggregates instead of being returned raw."""
    from ..operators.kmeans import EmptyCorpusError, train_kmeans

    e = directional(load(spark, sf_dir, "embeddings"))
    try:
        trained = train_kmeans(
            e.select("vec_id", "embedding"), k=N_CENTROIDS, max_iter=4
        )
    except EmptyCorpusError:
        # empty corpus: nothing to train a quantizer on — emit exactly
        # what _KMEANS_EVAL_ORACLE produces on zero rows (0 queries,
        # 0 candidate rows, vacuously-true certifications), so the
        # query/oracle contract holds on empty input too. Catching
        # train_kmeans's DEDICATED emptiness error (not bare
        # ValueError) avoids a pre-check job on the non-empty hot path
        # without masking unrelated training failures as healthy
        # zero-row results.
        return spark.createDataFrame(
            [(0, 0, True, True, True)],
            "n_queries bigint, total_rows bigint,"
            " per_query_complete boolean, cosine_in_bounds boolean,"
            " recall_ok boolean",
        )
    # literal structs, not createDataFrame: a Python-list frame is a
    # pickled RDD that spins up a Python worker on EVERY execution of
    # the plan (same fix as q_graph_degree_profile); the literal form
    # is a pure-JVM LocalRelation — k x dim doubles folded into the
    # expression, zero Python at execution time
    centroids = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(cid).cast("int").alias("cid"),
                        F.lit([float(x) for x in cv]).alias("cv"),
                    )
                    for cid, cv in trained
                ]
            )
        )
    )
    lists = _ivf_assign(e.select("vec_id", "embedding"), centroids, 1, "nid")
    probes = _ivf_assign(
        e.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "embedding"),
        centroids,
        NPROBE,
        "qid",
    ).select(
        "qid",
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qnorm"),
        "cid",
    )
    lists = lists.withColumn("nnorm", norm(F.col("embedding")))
    # probes is bounded by LITERAL constants (N_QUERIES x NPROBE rows),
    # so the hint is safe at any corpus scale — without it AQE plans a
    # sort-merge join that sorts the full inverted-list side
    scored = (
        F.broadcast(probes).join(lists, "cid")
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qnorm") * F.col("nnorm"))
            ).alias("cosine"),
        )
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    ann = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "nid", "cosine")
    )
    # in-plan exact ground truth: broadcast the N_QUERIES query vectors
    # against the corpus — linear, same shape as q_sim_cosine_topk_brute
    qv = F.broadcast(
        e.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qnorm"),
        )
    )
    corpus = e.select(
        F.col("vec_id").alias("nid"),
        "embedding",
        norm(F.col("embedding")).alias("nnorm"),
    )
    exact = (
        qv.join(corpus, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            (
                dot(F.col("qv"), F.col("embedding"))
                / (F.col("qnorm") * F.col("nnorm"))
            ).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("qid", "nid")
    )
    per_q = ann.groupBy("qid").agg(F.count("*").alias("n"))
    shape = per_q.agg(
        F.count("*").alias("nq"),
        F.sum("n").alias("tot"),
        F.min("n").alias("mn"),
        F.max("n").alias("mx"),
    )
    bounds = ann.agg(F.max(F.abs("cosine")).alias("max_abs"))
    # both sides are <= N_QUERIES*TOP_K rows (literal bounds) — hint the
    # exact-top-k side so the recall check never sort-merges
    hits = ann.join(F.broadcast(exact), ["qid", "nid"], "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    return (
        shape.crossJoin(bounds)
        .crossJoin(hits)
        .select(
            F.col("nq").alias("n_queries"),
            F.col("tot").alias("total_rows"),
            ((F.col("mn") == TOP_K) & (F.col("mx") == TOP_K)).alias(
                "per_query_complete"
            ),
            (F.col("max_abs") <= 1.0 + 1e-9).alias("cosine_in_bounds"),
            (
                F.col("n_hits") >= F.lit(float(_MIN_RECALL * N_QUERIES * TOP_K))
            ).alias("recall_ok"),
        )
    )


# Retrieve-then-enrich (the RAG serving shape): ANN top-3 per query
# vector over the corpus, then an equi-join back to the documents table
# for the payload the consumer actually wants (language, source, size).
# The two halves compose without a new primitive: broadcast-query brute
# scoring (swap in the LSH/IVF path at scale) feeding a doc_id hash
# join — the retrieval result is k x |Q| rows, so the enrich join
# broadcasts IT, and the documents table is probed, never shuffled.
_RAG_K = 3

_RAG_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.qid, e.vec_id AS doc_id,
         {sql_dot('q.qv', 'e.embedding')} / ({sql_norm('q.qv')} * {sql_norm('e.embedding')}) AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
),
hits AS (
  SELECT qid, doc_id, cosine, rnk
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, doc_id) AS rnk
        FROM scored)
  WHERE rnk <= {_RAG_K}
)
SELECT h.qid, h.rnk, h.doc_id, h.cosine, d.lang, d.source, d.n_chars
FROM hits h JOIN documents d USING (doc_id)
ORDER BY qid, rnk
"""


@query("q_rag_retrieve_enrich", oracle=_RAG_ORACLE)
def q_rag_retrieve_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        .withColumn("qnorm", norm(F.col("qv")))
    )
    corpus = e.select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("nv")
    ).withColumn("nnorm", norm(F.col("nv")))
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            "doc_id",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "doc_id")
    hits = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _RAG_K
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return (
        F.broadcast(hits)
        .join(docs, "doc_id")
        .select("qid", "rnk", "doc_id", "cosine", "lang", "source", "n_chars")
        .orderBy("qid", "rnk")
    )


# ---------------------------------------------------------------------------
# k-NN classification eval: the standard "are these embeddings any
# good" harness — hold out the first N_QUERIES vectors, predict each
# one's label by majority vote of its TOP_K cosine neighbors in the
# rest of the corpus, and report per-label accuracy. Exactly the brute
# top-k machinery (broadcast queries × corpus, hoisted norms, ranked
# window) plus two integer aggregations: votes per (query, label) with
# a deterministic (count desc, label) argmax, then exact n_correct /
# n_queries per true label. At scale the neighbor search swaps to the
# IVF/LSH paths unchanged — the eval only consumes (qid, label) pairs.
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT vec_id AS qid, embedding AS qv, label AS true_label
           FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, q.true_label, e.label,
         {sql_dot('q.qv', 'e.embedding')} / ({sql_norm('q.qv')} * {sql_norm('e.embedding')}) AS cosine,
         e.vec_id AS nid
  FROM q JOIN embeddings e ON e.vec_id >= {N_QUERIES}
),
topk AS (
  SELECT qid, true_label, label
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        FROM scored)
  WHERE rnk <= {TOP_K}
),
votes AS (
  SELECT qid, true_label, label, count(*) AS n_votes
  FROM topk GROUP BY qid, true_label, label
),
pred AS (
  SELECT qid, true_label, label AS predicted
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY n_votes DESC, label) AS vr
        FROM votes)
  WHERE vr = 1
)
SELECT true_label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN predicted = true_label THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS accuracy
FROM pred
GROUP BY true_label
ORDER BY true_label
"""


@query("q_sim_knn_eval", oracle=_KNN_ORACLE)
def q_sim_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("true_label"),
        )
        .withColumn("qnorm", norm(F.col("qv")))
    )
    corpus = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select(F.col("vec_id").alias("nid"), "label", F.col("embedding").alias("nv"))
        .withColumn("nnorm", norm(F.col("nv")))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "qid",
            "true_label",
            "label",
            "nid",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm")))
            .alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    topk = scored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= TOP_K
    )
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("qid").orderBy(F.col("n_votes").desc(), F.col("label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", "true_label", F.col("label").alias("predicted"))
    )
    correct = F.sum(
        F.when(F.col("predicted") == F.col("true_label"), 1).otherwise(0)
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            correct.cast("long").alias("n_correct"),
            (correct.cast("double") / F.count("*")).alias("accuracy"),
        )
        .orderBy("true_label")
    )


# ---------------------------------------------------------------------------
# Maximum-inner-product search via the norm-augmentation reduction
# (Bachrach et al., RecSys 2014 / Shrivastava & Li, NeurIPS 2014):
# append one coordinate sqrt(M^2 - |x|^2) to every corpus vector (M =
# max corpus norm) and 0 to every query — the augmented corpus then has
# CONSTANT norm M, so cosine / Euclidean NN structures built on the
# augmented space answer inner-product queries. That is what lets the
# SRP-LSH and IVF scale paths above serve MIPS (recommendation-style
# scoring, un-normalized embeddings) unchanged.
#
# The oracle ranks by the RAW inner product with no augmentation, so a
# green row is a machine-checked proof that the reduction is exact:
# the Spark side ranks by the augmented-space dot (the query's extra
# 0-coordinate folds as acc + 0*aug — an IEEE no-op, so the augmented
# dot is bitwise the raw dot) and certifies per row that the augmented
# corpus norm equals M (identical sqrt(dot + (M2 - dot)) expression on
# both engines). Scale: M is one scalar aggregate broadcast onto the
# corpus; ranking stays the brute baseline here — the LSH/IVF variants
# are the production path, this query certifies the bridge to them.
# ---------------------------------------------------------------------------

_MIPS_K = 5
_MIPS_NQ = 8

_MIPS_ORACLE = f"""
WITH {sql_directional_cte()},
m AS (SELECT max({sql_norm('embedding')}) AS mx,
             max({sql_norm('embedding')}) * max({sql_norm('embedding')}) AS mx2
      FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_MIPS_NQ}),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         {sql_dot('q.qv', 'e.embedding')} AS dot,
         sqrt({sql_dot('e.embedding', 'e.embedding')}
              + (m.mx2 - {sql_dot('e.embedding', 'e.embedding')})) AS aug_norm,
         m.mx AS mx
  FROM q JOIN embeddings e ON e.vec_id <> q.qid CROSS JOIN m
)
SELECT qid, nid, round(dot, 6) AS inner_product,
       round(aug_norm - mx, 6) AS aug_norm_dev, rnk
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY dot DESC, nid) AS rnk
      FROM scored)
WHERE rnk <= {_MIPS_K}
ORDER BY qid, rnk
"""


@query("q_sim_mips_augmented", oracle=_MIPS_ORACLE)
def q_sim_mips_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by inner product through the norm-augmentation reduction;
    the un-augmented oracle certifies the reduction returns exactly the
    MIPS ranking and that every augmented corpus norm equals M."""
    e = directional(load(spark, sf_dir, "embeddings"))
    m = F.broadcast(
        e.agg(
            F.max(norm(F.col("embedding"))).alias("mx"),
            (
                F.max(norm(F.col("embedding")))
                * F.max(norm(F.col("embedding")))
            ).alias("mx2"),
        )
    )
    q = e.filter(F.col("vec_id") < _MIPS_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    corpus = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv")
    ).crossJoin(m)
    # augmented corpus vector: nv ++ [sqrt(mx2 - |nv|^2)]; the query's
    # augmented form is qv ++ [0], so the augmented dot's final fold
    # step is acc + 0 * aug — bitwise the raw dot.
    aug = corpus.select(
        "nid",
        "mx",
        # clamp: for the argmax vector itself, mx2 - |nv|^2 is the
        # sqrt-then-square roundtrip of its own norm and can land a few
        # ulps NEGATIVE — sqrt would yield NaN, and the query's 0 * NaN
        # fold term would poison every dot against this vector
        F.concat(
            F.col("nv"),
            F.array(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        F.col("mx2") - dot(F.col("nv"), F.col("nv")),
                    )
                )
            ),
        ).alias("nav"),
        # certification uses the oracle's closed form (not a fold over
        # the 65-element augmented array, whose sqrt-then-square last
        # term is a different IEEE expression): identical ops -> the
        # driver hash sees bit-identical deviations on both engines.
        (
            F.sqrt(
                dot(F.col("nv"), F.col("nv"))
                + (F.col("mx2") - dot(F.col("nv"), F.col("nv")))
            )
            - F.col("mx")
        ).alias("dev"),
    )
    qaug = F.broadcast(
        q.select("qid", F.concat(F.col("qv"), F.array(F.lit(0.0))).alias("qav"))
    )
    scored = (
        qaug.crossJoin(aug)
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            dot(F.col("qav"), F.col("nav")).alias("dot"),
            "dev",
        )
    )
    ranked = scored.select(
        "qid",
        "nid",
        "dot",
        "dev",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("nid"))
        )
        .alias("rnk"),
    )
    return (
        ranked.filter(F.col("rnk") <= _MIPS_K)
        .select(
            "qid",
            "nid",
            F.round("dot", 6).alias("inner_product"),
            F.round("dev", 6).alias("aug_norm_dev"),
            "rnk",
        )
        .orderBy("qid", "rnk")
    )


# ---------------------------------------------------------------------------
# NDCG@10 retrieval-ranking eval (Järvelin & Kekäläinen 2002) — the
# ranking-quality complement of q_sim_knn_eval's classification vote:
# per held-out query, score the brute-force cosine top-10 with binary
# label relevance and report DCG/IDCG. This is the metric that says
# whether an embedding space RANKS same-label neighbors early, not just
# whether a majority vote lands — and the number to re-run against the
# IVF/LSH paths to certify their ranking (not merely recall) survives
# blocking. Determinism: each gain term 1/log2(rank+1) is rounded to
# 12 dp and summed as DECIMAL(20,12) (order-free, swamps cross-libm
# log2 ULPs); ndcg is ONE final division rounded to 6. Scale: the
# scoring pass is the established broadcast-queries x corpus linear
# scan; everything after the per-query top-10 is |Q| x 10 rows.
# ---------------------------------------------------------------------------

NDCG_K = 10

_NDCG_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT vec_id AS qid, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, q.true_label,
         CAST(e.label = q.true_label AS INTEGER) AS rel,
         {sql_dot('q.qv', 'e.embedding')} / ({sql_norm('q.qv')} * {sql_norm('e.embedding')}) AS cosine,
         e.vec_id AS nid
  FROM q JOIN embeddings e ON e.vec_id >= {N_QUERIES}
),
topk AS (
  SELECT qid, true_label, rel, rnk
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        FROM scored)
  WHERE rnk <= {NDCG_K}
),
terms AS (
  SELECT qid, true_label, rel,
         CAST(round(rel / log2(rnk + 1), 12) AS DECIMAL(20,12)) AS gain,
         CASE WHEN rel = 1 THEN
           CAST(round(1.0 / log2(row_number() OVER
                  (PARTITION BY qid ORDER BY rel DESC, rnk) + 1), 12)
                AS DECIMAL(20,12))
         ELSE CAST(0 AS DECIMAL(20,12)) END AS ideal_gain
  FROM topk
)
SELECT qid, true_label,
       CAST(sum(rel) AS BIGINT) AS n_rel,
       CASE WHEN sum(rel) = 0 THEN NULL
            ELSE round(CAST(sum(gain) AS DOUBLE)
                       / CAST(sum(ideal_gain) AS DOUBLE), 6) END AS ndcg
FROM terms
GROUP BY qid, true_label
ORDER BY qid
"""


@query("q_eval_ndcg_retrieval", oracle=_NDCG_ORACLE)
def q_eval_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@10 of brute-force cosine retrieval under binary
    label relevance — does the space rank same-label neighbors early?"""
    e = directional(load(spark, sf_dir, "embeddings"))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("true_label"),
        )
        .withColumn("qnorm", norm(F.col("qv")))
    )
    corpus = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select(F.col("vec_id").alias("nid"), "label", F.col("embedding").alias("nv"))
        .withColumn("nnorm", norm(F.col("nv")))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "qid",
            "true_label",
            (F.col("label") == F.col("true_label")).cast("int").alias("rel"),
            "nid",
            (dot(F.col("qv"), F.col("nv")) / (F.col("qnorm") * F.col("nnorm")))
            .alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    topk = scored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= NDCG_K
    )
    wi = Window.partitionBy("qid").orderBy(F.col("rel").desc(), F.col("rnk"))
    dec = "decimal(20,12)"
    terms = topk.select(
        "qid",
        "true_label",
        "rel",
        F.round(F.col("rel") / F.log2(F.col("rnk") + 1), 12)
        .cast(dec)
        .alias("gain"),
        F.when(
            F.col("rel") == 1,
            F.round(
                F.lit(1.0) / F.log2(F.row_number().over(wi) + F.lit(1)), 12
            ).cast(dec),
        )
        .otherwise(F.lit(0).cast(dec))
        .alias("ideal_gain"),
    )
    return (
        terms.groupBy("qid", "true_label")
        .agg(
            F.sum("rel").cast("long").alias("n_rel"),
            F.sum("gain").alias("g"),
            F.sum("ideal_gain").alias("ig"),
        )
        .select(
            "qid",
            "true_label",
            "n_rel",
            F.when(F.col("n_rel") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("g").cast("double") / F.col("ig").cast("double"), 6
                )
            )
            .alias("ndcg"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# MRR@10 retrieval eval (Voorhees, TREC-8 QA track 1999) — the
# first-hit complement of NDCG@10 above: NDCG scores the whole ranked
# list, MRR scores only WHERE the first same-label neighbor lands
# (rr = 1/rank of the first relevant in the top-10, 0 if none) — the
# metric of record when one good neighbor suffices (RAG context
# retrieval, nearest-dup lookup). Everything is exact: the first-hit
# rank is an integer MIN over the per-query top-10 (same brute-force
# cosine ranking, same (cosine DESC, nid) total order as NDCG — the
# two metrics read the identical ranking), and rr = 1/rank is ONE IEEE
# division on identical small-integer operands, 6-dp rounded. Scale:
# the scoring pass is the established broadcast-queries x corpus
# linear scan; everything after the top-10 cut is |Q| x 10 rows.
# ---------------------------------------------------------------------------

_MRR_ORACLE = f"""
WITH {sql_directional_cte()},
q AS (SELECT vec_id AS qid, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, q.true_label,
         CAST(e.label = q.true_label AS INTEGER) AS rel,
         {sql_dot('q.qv', 'e.embedding')} / ({sql_norm('q.qv')} * {sql_norm('e.embedding')}) AS cosine,
         e.vec_id AS nid
  FROM q JOIN embeddings e ON e.vec_id >= {N_QUERIES}
),
topk AS (
  SELECT qid, true_label, rel, rnk
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
        FROM scored)
  WHERE rnk <= {NDCG_K}
)
SELECT qid, true_label,
       CAST(sum(rel) AS BIGINT) AS n_rel,
       CAST(min(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
         AS first_rel_rank,
       CASE WHEN sum(rel) = 0 THEN 0.0
            ELSE round(1.0 / min(CASE WHEN rel = 1 THEN rnk END), 6)
       END AS reciprocal_rank
FROM topk
GROUP BY qid, true_label
ORDER BY qid
"""


@query("q_eval_mrr_retrieval", oracle=_MRR_ORACLE)
def q_eval_mrr_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query reciprocal rank of the first same-label neighbor in
    the brute-force cosine top-10 (0 when none) — where does the first
    relevant hit land?"""
    e = directional(load(spark, sf_dir, "embeddings"))
    q = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("true_label"),
        )
        .withColumn("qnorm", norm(F.col("qv")))
    )
    corpus = (
        e.filter(F.col("vec_id") >= N_QUERIES)
        .select(
            F.col("vec_id").alias("nid"),
            "label",
            F.col("embedding").alias("nv"),
        )
        .withColumn("nnorm", norm(F.col("nv")))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "qid",
            "true_label",
            (F.col("label") == F.col("true_label")).cast("int").alias("rel"),
            "nid",
            (
                dot(F.col("qv"), F.col("nv"))
                / (F.col("qnorm") * F.col("nnorm"))
            ).alias("cosine"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    topk = scored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= NDCG_K
    )
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("rnk")))
    return (
        topk.groupBy("qid", "true_label")
        .agg(
            F.sum("rel").cast("long").alias("n_rel"),
            first_rel.cast("long").alias("first_rel_rank"),
        )
        .select(
            "qid",
            "true_label",
            "n_rel",
            "first_rel_rank",
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.lit(1.0) / F.col("first_rel_rank"), 6)
            )
            .alias("reciprocal_rank"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# SRP banding-recall calibration for cosine RANGE SEARCH: the
# threshold-retrieval complement of the top-k evals. On the
# deterministic FIXED-SIZE md5-rank slice (tables.cal_slice — K = 256
# vectors at ANY corpus size, so the calibration cost is
# corpus-size-independent; round-13 verdict replaced the % 2 modulus
# that scaled quadratically), bucket EVERY sliced pair by its exact
# cosine tier and report, per tier, how many pairs the B x r
# signed-random-projection banding would catch — overall and per band.
# This is the empirical S-curve P(caught | cosine tier) that sizes
# (B, r) for a production "all pairs with cosine >= tau" sweep, exactly
# as q_dedup_minhash_multiband_eval sizes the Jaccard banding: tier 0
# (cosine < 0) measures the false-positive floor, the top tier the
# recall on genuinely close pairs; the analytic curve per bit is
# P(sign agree) = 1 - theta/pi (Charikar, STOC'02). Anchors are the
# lowest B*r vec_ids (asserted ALL directional at both SFs by
# test_round13_invariants, so a zero-norm id can never silently shrink the
# bits string and flatten the curve) — data-derived, so both engines
# reconstruct the identical hyperplanes with no RNG. The exhaustive
# pair join is the CALIBRATION harness, deliberately slice-bounded and
# width-bounded through triangle_self_join; a production range search
# runs only the banded equality join this query measures. Sign bits and
# cosine tiers compare sequential-fold doubles that are bit-identical
# across engines (see llm/similarity docstring), so every count is
# deterministic and integer-exact.
# ---------------------------------------------------------------------------

# (B=6, r=4) measured monotone on the fixture at both SFs
# (tier0 FP floor ~0.25 -> tier3 recall ~0.76); r=6 was too strict
# (tier-3 recall collapsed to 0), r=3 too loose (FP floor ~0.5)
_RS_BANDS = 6
_RS_BITS = 4  # sign bits per band -> B*r = 24 anchor vectors
_RS_N_ANCHORS = _RS_BANDS * _RS_BITS
# tier edges chosen for the fixture's cosine range (max ~0.51): the
# production tau for this corpus would sit in tier 3 (>= 0.4)
_RS_TIER_SQL = (
    "CASE WHEN {c} >= 0.4 THEN 3 WHEN {c} >= 0.2 THEN 2 "
    "WHEN {c} >= 0.0 THEN 1 ELSE 0 END"
)


def _rs_oracle() -> str:
    band_cols = ", ".join(
        f"substring(bits, {1 + b * _RS_BITS}, {_RS_BITS}) AS band{b}"
        for b in range(_RS_BANDS)
    )
    band_eq = ", ".join(
        f"CAST(a.band{b} = b.band{b} AS INT) AS c{b}"
        for b in range(_RS_BANDS)
    )
    caught = "greatest(" + ", ".join(
        f"c{b}" for b in range(_RS_BANDS)
    ) + ")"
    return f"""
WITH {sql_directional_cte()},
anch AS (SELECT vec_id AS aid, embedding AS av FROM embeddings
         WHERE vec_id < {_RS_N_ANCHORS}),
sliced AS (SELECT vec_id, embedding FROM embeddings
           ORDER BY {sql_cal_key('vec_id')}, vec_id LIMIT {CAL_SLICE_K}),
bucketed AS (
  SELECT e.vec_id, e.embedding,
         string_agg(CASE WHEN {sql_dot('e.embedding', 'a.av')} >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bits
  FROM sliced e, anch a
  GROUP BY e.vec_id, e.embedding
),
banded AS (
  SELECT vec_id, embedding, {sql_norm('embedding')} AS nrm, {band_cols}
  FROM bucketed
),
pairs AS (
  SELECT {_RS_TIER_SQL.format(c='cosine')} AS cos_tier,
         {", ".join(f"c{b}" for b in range(_RS_BANDS))}
  FROM (
    SELECT {sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
             AS cosine,
           {band_eq}
    FROM banded a JOIN banded b ON a.vec_id < b.vec_id
  )
)
SELECT cos_tier,
       count(*) AS n_pairs,
       CAST(sum({caught}) AS BIGINT) AS n_caught,
       CAST(sum({caught}) AS DOUBLE) / count(*) AS catch_rate,
       {", ".join(f"CAST(sum(c{b}) AS BIGINT) AS n_caught_b{b}" for b in range(_RS_BANDS))}
FROM pairs
GROUP BY cos_tier
ORDER BY cos_tier
"""


RANGE_SEARCH_EVAL_ORACLE = _rs_oracle()


@query("q_sim_range_search_eval", oracle=RANGE_SEARCH_EVAL_ORACLE)
def q_sim_range_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.triangle import triangle_self_join

    e = directional(load(spark, sf_dir, "embeddings"))
    anchors = e.filter(F.col("vec_id") < _RS_N_ANCHORS).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )
    sliced = cal_slice(e, "vec_id").select("vec_id", "embedding")
    # sign bits against the broadcast anchors, assembled in aid order
    # (the q_sim_lsh_bucketed_topk bucket construction, widened to B*r)
    bucketed = (
        F.broadcast(anchors)
        .crossJoin(sliced)
        .withColumn(
            "bit",
            F.struct(
                F.col("aid"),
                F.when(dot(F.col("embedding"), F.col("av")) >= 0, "1")
                .otherwise("0")
                .alias("bit"),
            ),
        )
        .groupBy("vec_id", "embedding")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("bit")), lambda x: x.bit
                ),
                "",
            ).alias("bits")
        )
    )
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 0.94 s vs plain 0.77 s): the triangle join's a/b sides do
    # re-derive the signature build, but the cal slice is a FIXED 256
    # vectors — constant-bounded double work beats the checkpoint
    # round-trip + per-invocation rebuild at any corpus size.
    banded = bucketed.select(
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        *[
            F.substring("bits", 1 + b * _RS_BITS, _RS_BITS).alias(f"band{b}")
            for b in range(_RS_BANDS)
        ],
    )
    pairs = triangle_self_join(
        banded, block_cols=[], id_col="vec_id", n_sub=4
    )
    cosine = dot(F.col("embedding_a"), F.col("embedding_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    scored = pairs.select(
        cosine.alias("cosine"),
        *[
            (F.col(f"band{b}_a") == F.col(f"band{b}_b"))
            .cast("int")
            .alias(f"c{b}")
            for b in range(_RS_BANDS)
        ],
    ).select(
        F.expr(_RS_TIER_SQL.format(c="cosine")).alias("cos_tier"),
        *[f"c{b}" for b in range(_RS_BANDS)],
    )
    return (
        scored.groupBy("cos_tier")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.greatest(*[F.col(f"c{b}") for b in range(_RS_BANDS)])
            ).alias("n_caught"),
            *[
                F.sum(f"c{b}").alias(f"n_caught_b{b}")
                for b in range(_RS_BANDS)
            ],
        )
        .select(
            "cos_tier",
            "n_pairs",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_pairs")).alias(
                "catch_rate"
            ),
            *[f"n_caught_b{b}" for b in range(_RS_BANDS)],
        )
        .orderBy("cos_tier")
    )
