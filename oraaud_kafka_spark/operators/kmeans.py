"""Lloyd's k-means over an embedding column — trains the coarse
quantizer for IVF ANN (llm/similarity.py).

Scale shape (the part that matters at 100 TB):

- Centroids live on the DRIVER between iterations — k x dim doubles
  (8 x 64 here), NEVER O(N) data. This is the same layout Spark MLlib
  uses for KMeans: the model is small, the data is big.
- Assignment is a pure in-projection argmax over k literal-array dot
  products — zero shuffle, whole-stage-codegen'd, no UDF.
- The only shuffle per iteration is the groupBy(cid) computing the
  element-wise means, and every avg() is partial-aggregated map-side
  before the exchange, so the shuffle carries k x dim partial sums per
  map task, not rows.

Determinism: init = the k lowest-id vectors, fixed iteration count,
sequential fold order in the dot products — identical centroids on
every run, so downstream query results are stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class EmptyCorpusError(ValueError):
    """No vectors to train on. A DEDICATED type so callers that fall
    back to an empty-corpus result (q_sim_ivf_kmeans_topk) can catch
    exactly this case without masking unrelated ValueErrors raised
    inside training (e.g. malformed vectors) as healthy zero-row
    output (round-9 ADVICE)."""


def _lit_vec(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def _dot_lit(vec: Column, vals: list[float]) -> Column:
    """Sequential-fold dot of an array column against a driver-side
    constant vector (same fold order as queries.dot)."""
    return F.aggregate(
        F.zip_with(vec, _lit_vec(vals), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_sq(vec: Column) -> Column:
    return F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# SQL-text twins of the literal-vector expressions above (round-15,
# guide §1.2 per-task work — here per-ROUND driver work): composing a
# k x dim literal expression through Column operators costs one py4j
# round-trip per node (~1.2 s per Lloyd round at k=8, dim=64, measured),
# while the IDENTICAL expression tree parses from one SQL string in
# milliseconds. Double literals go through CAST('<repr>' AS DOUBLE),
# the repo's IEEE round-trip-exact form (queries/graphs.py lit_d), so
# the folded constants are bit-identical to F.lit(float(v)).

def _sql_lit_d(x: float) -> str:
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _sql_dot_lit(vec_sql: str, vals: list[float]) -> str:
    arr = "array(" + ", ".join(_sql_lit_d(v) for v in vals) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _sql_norm_sq(vec_sql: str) -> str:
    return (
        f"aggregate(transform({vec_sql}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def nearest_centroid(
    vec: Column | str, centroids: list[tuple[int, list[float]]]
) -> Column:
    """Argmax-cosine centroid id as a single expression (no shuffle, no
    UDF). Ties break to the lowest cid. Centroid norms are Python-side
    constants — computed once, folded into the expression.

    Pass ``vec`` as a COLUMN-NAME STRING for the SQL-text fast path
    (one parser call instead of ~k*dim py4j round-trips — the hot loop
    of train_kmeans); the Column form builds the identical tree through
    the DataFrame API."""
    import math

    if isinstance(vec, str):
        cands = []
        for cid, cv in centroids:
            cn = math.sqrt(sum(float(x) * float(x) for x in cv)) or 1.0
            cands.append(
                f"named_struct('cos', {_sql_dot_lit(vec, cv)}"
                f" / (SQRT({_sql_norm_sq(vec)}) * {_sql_lit_d(cn)}),"
                f" 'neg_cid', {-int(cid)})"
            )
        return F.expr(
            f"CAST(-(array_max(array({', '.join(cands)})).neg_cid) AS INT)"
        ).alias("cid")
    cands = []
    for cid, cv in centroids:
        cn = math.sqrt(sum(float(x) * float(x) for x in cv)) or 1.0
        cos = _dot_lit(vec, cv) / (F.sqrt(_norm_sq(vec)) * F.lit(cn))
        cands.append(F.struct(cos.alias("cos"), F.lit(-cid).alias("neg_cid")))
    best = F.array_max(F.array(*cands))
    return (-best["neg_cid"]).cast("int").alias("cid")


def train_kmeans(
    vectors: DataFrame,
    *,
    k: int,
    dim: int | None = None,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Return [(cid, centroid_vector)] after ``max_iter`` Lloyd rounds.

    Each round runs ONE Spark job: project assignment (codegen'd argmax)
    -> groupBy(cid) with dim partial-agg'd avg()s -> collect k rows to
    the driver. Empty clusters keep their previous centroid."""
    init = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    centroids = [(i, [float(x) for x in row[0]]) for i, row in enumerate(init)]
    if not centroids:
        raise EmptyCorpusError("train_kmeans: no vectors to train on")
    if dim is None:
        dim = len(centroids[0][1])
    for _ in range(max_iter):
        # SQL-text fast path for both the argmax projection and the
        # per-dimension means: identical expression trees, one parser
        # call per expression instead of py4j-per-node (1.7 s -> ~0.6 s
        # per round measured at k=8, dim=64)
        assigned = vectors.select(
            nearest_centroid(vec_col, centroids), F.col(vec_col).alias("v")
        )
        means = (
            assigned.groupBy("cid")
            .agg(*[
                F.expr(f"avg(CAST(v[{i}] AS DOUBLE))").alias(f"d{i}")
                for i in range(dim)
            ])
            .collect()
        )
        updated = dict(centroids)
        for row in means:
            updated[row["cid"]] = [row[f"d{i}"] for i in range(dim)]
        centroids = sorted(updated.items())
    return centroids
