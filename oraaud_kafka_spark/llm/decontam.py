"""Benchmark decontamination: flag training documents sharing n-gram
shingles with an evaluation/benchmark set — the standard pre-training
hygiene pass (the reference corpus here uses source='src0' as the
stand-in benchmark).

Scale shape: the benchmark side is small by construction (eval sets are
thousands of docs, the corpus is billions), so its DISTINCT shingle set
broadcasts; the corpus side explodes its distinct shingles once and hash-
joins against the broadcast — cost is O(corpus shingles), zero corpus
shuffle beyond the per-doc match count groupBy (partial-agg'd). Matched
counts left-join back so clean documents keep an explicit 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

BENCH_SOURCE = "src0"
# contaminated when >= 1/5 of a doc's distinct shingles appear in the bench set
_FLAG_NUM, _FLAG_DEN = 1, 5

_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents
),
sh AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
  FROM toks WHERE len(toks) >= 3
),
bench AS (
  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE source = '{BENCH_SOURCE}'
),
cand AS (
  SELECT doc_id, lang, len(shs) AS n_shingles, shs FROM sh
  WHERE source <> '{BENCH_SOURCE}'
),
m AS (
  SELECT doc_id, count(*) AS n_matched
  FROM (SELECT doc_id, unnest(shs) AS s FROM cand) c JOIN bench USING (s)
  GROUP BY doc_id
)
SELECT c.doc_id, lang,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n_matched, 0) AS BIGINT) AS n_matched,
       CAST(coalesce(n_matched, 0) AS DOUBLE) / n_shingles AS contamination_ratio,
       CASE WHEN coalesce(n_matched, 0) * {_FLAG_DEN} >= n_shingles * {_FLAG_NUM}
            THEN 1 ELSE 0 END AS contaminated
FROM cand c LEFT JOIN m USING (doc_id)
ORDER BY doc_id
"""


@query("q_decontaminate", oracle=_DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tokenized = (
        d.select(
            "doc_id", "lang", "source", F.split("text", " ").alias("toks")
        ).filter(F.size("toks") >= 3)
    )
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
        )
    )
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 1.09 s vs plain 0.89 s): sh does feed both the
    # benchmark-shingle build and the candidate explode, but the
    # O(corpus) shingle-array rows cost more to checkpoint (serialize +
    # store + rebuild per invocation) than the doubled transform.
    sh = tokenized.select(
        "doc_id", "lang", "source", shingles.alias("shs")
    )
    bench = (
        sh.filter(F.col("source") == BENCH_SOURCE)
        .select(F.explode_outer("shs").alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # ONE pass over candidate shingles: metadata rides the explode, the
    # broadcast join marks hits, and the per-doc groupBy re-assembles
    # counts — no second shingle computation, no join back (a left join
    # keeps zero-match docs because every exploded row survives).
    exploded = sh.filter(F.col("source") != BENCH_SOURCE).select(
        "doc_id", "lang", F.size("shs").alias("n_shingles"),
        F.explode_outer("shs").alias("s"),
    )
    counted = (
        exploded.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id", "lang", "n_shingles")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_matched"))
    )
    return counted.select(
        "doc_id",
        "lang",
        "n_shingles",
        "n_matched",
        (F.col("n_matched").cast("double") / F.col("n_shingles")).alias(
            "contamination_ratio"
        ),
        F.when(
            F.col("n_matched") * _FLAG_DEN >= F.col("n_shingles") * _FLAG_NUM, 1
        )
        .otherwise(0)
        .alias("contaminated"),
    ).orderBy("doc_id")
