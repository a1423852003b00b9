"""Top principal component via distributed power iteration — the
second iterative-algorithm archetype next to Lloyd's k-means
(operators/kmeans.py): model state on the driver, data never leaves
the executors.

Scale shape (the part that matters at 100 TB):

- Driver state is TWO dim-length vectors (the running iterate v and
  the corpus mean mu) — never O(N) data, never a covariance matrix.
  The d x d Gram matrix is NEVER materialized: each round computes
  w = Cov . v = (1/n) SUM_i (x_i - mu) ((x_i - mu) . v)
  as one pass over the rows — the matrix-free formulation every
  large-scale PCA uses (same trick as Spark MLlib's
  RowMatrix.multiplyGramianMatrixBy).
- Per round: ONE Spark job. The per-row score s_i = (x_i . v) - (mu . v)
  is an in-projection sequential fold (codegen'd, no UDF); the
  per-dimension sums SUM_i x_ij * s_i come from dim partial-agg'd
  sums, so the shuffle carries dim doubles per map task, not rows.
- Normalization (divide by ||w||) happens on the driver between
  rounds — d multiplications, trivially bounded.

Determinism: init = all-ones/sqrt(d) (no RNG — resumable and
bit-stable across runs), fixed iteration count, sequential fold order
in the dot products. Power iteration converges at rate
(lambda2/lambda1)^t toward the dominant eigenvector for ANY start not
orthogonal to it; the deterministic start risks exact orthogonality
only on adversarial data, which the caller can detect via the
returned Rayleigh quotient being ~0.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _col_means(vectors: DataFrame, vec_col: str, dim: int) -> list[float]:
    rows = (
        vectors.select(F.posexplode(vec_col).alias("j", "xj"))
        .groupBy("j")
        .agg(F.avg(F.col("xj").cast("double")).alias("m"))
        .collect()
    )
    mu = [0.0] * dim
    for r in rows:
        if r["j"] >= dim:
            raise ValueError(
                f"ragged embedding input: found dimension index {r['j']} "
                f">= declared dim {dim}; all vectors must be rectangular"
            )
        mu[r["j"]] = float(r["m"])
    return mu


def power_iteration_top_pc(
    vectors: DataFrame,
    *,
    dim: int,
    n_iter: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Return {"component": unit vector, "eigenvalue": lambda1,
    "mean": mu, "residual_rel": ||Cov.v - lambda.v|| / lambda} for the
    covariance of ``vectors``'s ``vec_col``.

    Runs ``n_iter`` matrix-free power-iteration rounds (one Spark job
    each) plus one final job for the residual check. Driver state is
    O(dim); executor work is one fused projection + dim partial sums
    per round.
    """
    n = vectors.count()
    if n == 0:
        raise ValueError("power_iteration_top_pc: empty input")
    mu = _col_means(vectors, vec_col, dim)
    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0

    def cov_times(vcur: list[float]) -> list[float]:
        from .kmeans import _sql_dot_lit, _sql_lit_d

        mu_dot_v = sum(m * x for m, x in zip(mu, vcur))
        # SQL-text fast path (see kmeans._sql_dot_lit): the identical
        # dim-literal dot expression, one parser call per round instead
        # of py4j-per-node
        s = F.expr(
            f"{_sql_dot_lit(vec_col, vcur)} - {_sql_lit_d(mu_dot_v)}"
        ).alias("s")
        scored = vectors.select(F.col(vec_col).alias("x"), s)
        # one posexplode + ONE partial-agg'd sum instead of dim
        # separate aggregate columns: the shuffle still carries only
        # dim partial sums per map task, but the plan has O(1)
        # expressions, keeping driver-side analysis cost flat in dim.
        rows = (
            scored.select(F.posexplode("x").alias("j", "xj"), "s")
            .groupBy("j")
            .agg(
                F.sum(F.col("xj").cast("double") * F.col("s")).alias("wj"),
                F.sum("s").alias("s_tot"),
            )
            .collect()
        )
        # w_j = (1/n) * (SUM_i x_ij s_i - mu_j SUM_i s_i)  [centering folded out]
        w = [0.0] * dim
        for r in rows:
            w[r["j"]] = (float(r["wj"]) - mu[r["j"]] * float(r["s_tot"])) / n
        return w

    for _ in range(n_iter):
        w = cov_times(v)
        lam = math.sqrt(sum(x * x for x in w))
        if lam == 0.0:
            break
        v = [x / lam for x in w]

    # residual check: one more multiply, compared against lambda * v
    w = cov_times(v)
    resid = math.sqrt(sum((wi - lam * vi) ** 2 for wi, vi in zip(w, v)))
    return {
        "component": v,
        "eigenvalue": lam,
        "mean": mu,
        "residual_rel": (resid / lam) if lam > 0 else float("inf"),
    }
