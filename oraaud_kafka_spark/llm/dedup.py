"""Deduplication operators for training-data pipelines (SURVEY.md §2.2
LLM ops): exact (hash-groupBy), MinHash+LSH banding, SimHash, n-gram
Jaccard. All are expressed as shuffles on hash keys — the shape that
scales linearly: no operator here ever compares all pairs; candidate
generation is always hash-bucket (band) equality.

Portability note: signatures use md5 (identical across Spark and DuckDB)
rather than xxhash64 (Spark-private seed), so every stage is
oracle-checkable. At production scale you'd swap md5 -> xxhash64 for
speed; the plan shape is unchanged.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.triangle import triangle_self_join
from ..queries import directional, dot, norm, sql_directional_cte, sql_dot, sql_norm
from ..registry import query
from ..tables import CAL_SLICE_K, cal_slice, load, materialize, sql_cal_key

_EXACT_ORACLE = """
SELECT count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       count(*) - count(DISTINCT md5(text)) AS n_exact_dups
FROM documents
"""


@query("q_dedup_exact", oracle=_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: one shuffle on md5(text). At 100 TB
    the hash (16 B) shuffles instead of the document bodies."""
    d = load(spark, sf_dir, "documents")
    h = F.md5("text")
    return d.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(h).alias("n_distinct"),
        (F.count("*") - F.count_distinct(h)).alias("n_exact_dups"),
    )


_KEEP_ORACLE = """
SELECT fp, doc_id AS kept_doc_id, n_copies
FROM (
  SELECT md5(text) AS fp, doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM documents
)
WHERE rn = 1 AND fp LIKE '0%'
ORDER BY fp
"""


@query("q_dedup_exact_keep_first", oracle=_KEEP_ORACLE)
def q_dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-row selection: keep min doc_id per content hash."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").withColumn("fp", F.md5("text"))
    w = Window.partitionBy("fp")
    return (
        d.withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_copies", F.count("*").over(w))
        .filter((F.col("rn") == 1) & F.col("fp").like("0%"))
        .select("fp", F.col("doc_id").alias("kept_doc_id"), "n_copies")
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding.
#
# Pipeline (classic shingle -> minhash -> band -> bucket-join):
#   1. shingles: word 3-grams per doc
#   2. base hash: ONE md5 per shingle, folded to a 48-bit integer via
#      hex-digit arithmetic (instr/strpos — identical in both engines)
#   3. signature: 16 affine "permutations" h_i = (a_i*h + b_i) mod P over
#      the base hash, min per doc. a_i <= 33 and h < 2^48 keep products
#      under 2^54 so neither engine overflows int64. One md5 per shingle —
#      the hash is the hot loop at corpus scale.
#   4. bands: 4 bands x 4 rows; band key = md5 of its 4 signature entries
#   5. candidates: docs sharing any band key (hash-equality join on the
#      band bucket — NEVER an all-pairs comparison). The groupBy in (3)
#      partial-aggregates map-side, so the only shuffle before the band
#      join carries one 16-long signature row per doc per partition.
# ---------------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
_MH_P = 1_000_000_007


def _mh_a(i: int) -> int:
    return 2 * i + 1


def _mh_b(i: int) -> int:
    return 12289 * i + 1


# The ONE construction of the production MinHash pipeline, shared by
# the LSH query, both calibration evals, and the cluster query — the
# evals exist to calibrate THIS banding, so any change to shingling,
# hash width, permutation constants, or band keys automatically stays
# in lockstep across all of them (and across the SQL twins below,
# which are generated from the same _mh_a/_mh_b/N_* constants).

def mh_shingles(toks_col: str = "toks"):
    """Word-3-gram shingle array from a token-array column."""
    return F.transform(
        F.sequence(F.lit(1), F.size(toks_col) - 2),
        lambda i: F.array_join(F.slice(F.col(toks_col), i, 3), " "),
    )


def mh_base_hash(s):
    """48-bit integer from the first 12 hex digits of md5 — ONE md5
    per shingle (the hot loop at corpus scale)."""
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


def _mh_perm(i: int):
    # one-arg closure: a two-parameter lambda would make transform()
    # pass the ARRAY INDEX as the second argument
    return lambda h: (F.lit(_mh_a(i)) * h + _mh_b(i)) % _MH_P


def mh_signature_cols(bhs_col: str = "bhs"):
    """The 16 minhash signature columns h0..h15 from a base-hash
    array column."""
    return [
        F.array_min(F.transform(F.col(bhs_col), _mh_perm(i))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]


def mh_band_cols():
    """The 4 band-key columns band0..band3 from signature columns
    h0..h15 (md5 over each band's 4 entries)."""
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"h{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]


_SHINGLES_SQL = """
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
"""

# 48-bit integer from the first 12 hex digits of md5 — one native
# hex-parse per engine (conv <-> '0x' cast), same unsigned value.
_BASE_HASH_SQL = "CAST('0x' || substring(md5(shingle), 1, 12) AS BIGINT)"

_SIG_COLS_SQL = ", ".join(
    f"min(({_mh_a(i)} * bh + {_mh_b(i)}) % {_MH_P}) AS h{i}" for i in range(N_HASHES)
)
_BAND_COLS_SQL = ", ".join(
    "md5("
    + " || '|' || ".join(
        f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )
    + f") AS band{b}"
    for b in range(N_BANDS)
)
_BAND_UNNEST_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM bands"
    for b in range(N_BANDS)
)

_MINHASH_ORACLE = f"""
WITH shingled AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, {_BASE_HASH_SQL} AS bh
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM hashed GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
band_rows AS ({_BAND_UNNEST_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM band_rows a JOIN band_rows b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_a < doc_b) near-dup candidate pairs — the shared
    front half of the LSH query and the duplicate-cluster query.

    The signature is a pure per-document computation, so it's built with
    array expressions (transform + array_min) instead of
    explode + groupBy: zero shuffles until the band join, and the shingle
    rows are never materialized. At corpus scale this drops an entire
    exchange whose width is O(total shingles)."""
    d = load(spark, sf_dir, "documents")
    # Materialize the token array in its own projection FIRST: an inline
    # split() referenced from inside the transform() lambda is
    # re-evaluated per element (O(tokens^2) per doc — measured 8x slower
    # at sf0.1). slice+array_join builds each shingle in one pass.
    tokenized = (
        d.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
    )
    hashed = tokenized.select(
        "doc_id", F.transform(mh_shingles(), mh_base_hash).alias("bhs")
    )
    sigs = hashed.select("doc_id", *mh_signature_cols())
    bands = sigs.select("doc_id", *mh_band_cols())
    band_rows = bands.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("band_key"))
                for b in range(N_BANDS)
            ])
        ).alias("bk"),
        # NOT checkpointed (round-14 A/B): materializing the band rows
        # measured 0.71 -> 0.96 s — at 16 md5/doc the double-computed
        # signature map is cheaper than the checkpoint round-trip
    ).select("doc_id", "bk.band_idx", "bk.band_key")
    a = band_rows.select(
        F.col("doc_id").alias("doc_a"), "band_idx", "band_key"
    )
    b = band_rows.select(
        F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
    )
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


@query("q_dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Duplicate-cluster assembly: candidate pairs -> connected components ->
# one canonical doc per group. Iterative min-label propagation on Spark
# (operators.components); transitive closure via recursive CTE in the
# oracle — same fixpoint, so the hash check covers the iteration too.
# ---------------------------------------------------------------------------

_COMPONENTS_ORACLE = f"""
WITH RECURSIVE shingled AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, {_BASE_HASH_SQL} AS bh
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM hashed GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
band_rows AS ({_BAND_UNNEST_SQL}),
edges AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_rows a JOIN band_rows b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
bi AS (
  SELECT doc_a AS s, doc_b AS t FROM edges
  UNION ALL
  SELECT doc_b AS s, doc_a AS t FROM edges
),
reach AS (
  SELECT doc_id AS node, doc_id AS r FROM documents
  UNION
  SELECT reach.node, bi.t FROM reach JOIN bi ON reach.r = bi.s
)
SELECT component, count(*) AS group_size, min(node) AS canonical_doc
FROM (SELECT node, min(r) AS component FROM reach GROUP BY node)
GROUP BY component
HAVING count(*) > 1
ORDER BY component
"""


@query("q_dedup_components", oracle=_COMPONENTS_ORACLE)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.components import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(spark, sf_dir)
    # candidate pairs are DISTINCT with doc_a < doc_b by construction,
    # so the bidirected union inside CC is already duplicate-free —
    # skip its dedup exchange (round-15)
    labeled = connected_components(
        d.select("doc_id"), pairs, edges_distinct=True
    )
    return (
        labeled.groupBy("component")
        .agg(
            F.count("*").alias("group_size"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("group_size") > 1)
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit): per token, md5 -> 32 bits via hex digits; each bit
# contributes +1/-1; fingerprint bit = sign of the sum. Bit extraction
# uses only strpos/substring arithmetic so both engines agree exactly.
# ---------------------------------------------------------------------------

_SIMHASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, md5(tok) AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 100)
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN ((strpos('0123456789abcdef', substring(h, (b // 4) + 1, 1)) - 1)
                        // CAST(pow(2, 3 - (b % 4)) AS INT)) % 2 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tok, (SELECT unnest(range(32)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS simhash_bits
FROM bits
GROUP BY doc_id
ORDER BY doc_id
"""


def simhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, simhash_bits) — 32-bit SimHash over distinct tokens,
    bit b = sign of the per-bit vote sum across token md5 hashes.
    Shared by q_dedup_simhash and q_dedup_simhash_eval."""
    tok = d.select(
        "doc_id",
        F.explode_outer(F.array_distinct(F.split("text", " "))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    bit_idx = F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b")
    tok_bits = tok.select("doc_id", "h", bit_idx)
    hexdigit = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.col("h"), (F.col("b") / 4).cast("int") + 1, 1),
    ) - 1
    bit = (hexdigit / F.pow(F.lit(2), 3 - (F.col("b") % 4)).cast("int")).cast("int") % 2
    signed = F.when(bit == 1, 1).otherwise(-1)
    bits = tok_bits.groupBy("doc_id", "b").agg(F.sum(signed).alias("s"))
    fingerprint = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("b"), F.when(F.col("s") >= 0, "1").otherwise("0").alias("bit")))
            ),
            lambda x: x.bit,
        ),
        "",
    )
    return bits.groupBy("doc_id").agg(fingerprint.alias("simhash_bits"))


@query("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash_signatures(d).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SimHash calibration (the q_dedup_minhash_eval twin): for candidate
# pairs sharing an 8-bit signature prefix (the production blocking
# key), relate signature Hamming distance to EXACT token-set Jaccard —
# the report that tells you which Hamming cutoff to deploy. Per-bucket
# stats are integer-exact (summed intersection/union sizes, one final
# IEEE division for the pooled Jaccard), so the whole report is
# driver-hashable with no float-summation hazard. Scale shape: the
# pair join is a hash equi-join on the prefix block (at corpus scale,
# route it through triangle_self_join exactly as the Jaccard/LSH dedup
# paths do); this calibration probe runs on the same doc_id<100 sample
# as q_dedup_simhash.
# ---------------------------------------------------------------------------

_SIMHASH_PREFIX = 8

_HAMMING_SQL = (
    "list_reduce(list_prepend(0, list_transform(range(1, 33), "
    "i -> CASE WHEN substr(a.simhash_bits, i, 1) <> substr(b.simhash_bits, i, 1) "
    "THEN 1 ELSE 0 END)), (acc, x) -> acc + x)"
)

_SIMHASH_EVAL_ORACLE = f"""
WITH sig AS ({_SIMHASH_ORACLE.replace("ORDER BY doc_id", "")}),
toks AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
         len(list_distinct(string_split(text, ' '))) AS n_toks
  FROM documents WHERE doc_id < 100
),
pairs AS (
  SELECT {_HAMMING_SQL} AS hamming,
         len(list_intersect(ta.toks, tb.toks)) AS inter,
         ta.n_toks + tb.n_toks - len(list_intersect(ta.toks, tb.toks)) AS uni
  FROM sig a JOIN sig b
    ON substr(a.simhash_bits, 1, {_SIMHASH_PREFIX})
       = substr(b.simhash_bits, 1, {_SIMHASH_PREFIX})
   AND a.doc_id < b.doc_id
  JOIN toks ta ON ta.doc_id = a.doc_id
  JOIN toks tb ON tb.doc_id = b.doc_id
)
SELECT hamming,
       count(*) AS n_pairs,
       CAST(sum(inter) AS BIGINT) AS sum_inter,
       CAST(sum(uni) AS BIGINT) AS sum_union,
       CAST(sum(inter) AS DOUBLE) / sum(uni) AS pooled_jaccard,
       min(CAST(inter AS DOUBLE) / uni) AS min_jaccard,
       max(CAST(inter AS DOUBLE) / uni) AS max_jaccard
FROM pairs
GROUP BY hamming
ORDER BY hamming
"""


@query("q_dedup_simhash_eval", oracle=_SIMHASH_EVAL_ORACLE)
def q_dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sig = simhash_signatures(d)
    toks = d.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("n_toks", F.size("toks"))
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 0.90 s vs plain 0.57 s): the a/b sides re-derive the
    # signature pipeline, but the cal-slice input is a FIXED 256 docs,
    # so the doubled work is constant-bounded at any corpus size and
    # cheaper than the checkpoint round-trip + per-invocation rebuild.
    st = sig.join(toks, "doc_id").select(
        "doc_id",
        "simhash_bits",
        F.substring("simhash_bits", 1, _SIMHASH_PREFIX).alias("prefix"),
        "toks",
        "n_toks",
    )
    a = st.select(*[F.col(c).alias(f"{c}_a") for c in st.columns], "prefix").drop(
        "prefix_a"
    )
    b = st.select(*[F.col(c).alias(f"{c}_b") for c in st.columns], "prefix").drop(
        "prefix_b"
    )
    hamming = sum(
        F.when(
            F.substring("simhash_bits_a", i, 1)
            != F.substring("simhash_bits_b", i, 1),
            1,
        ).otherwise(0)
        for i in range(1, 33)
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    pairs = (
        a.join(b, "prefix")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            hamming.alias("hamming"),
            inter.alias("inter"),
            (F.col("n_toks_a") + F.col("n_toks_b") - inter).alias("uni"),
        )
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("inter").alias("sum_inter"),
            F.sum("uni").alias("sum_union"),
            (
                F.sum("inter").cast("double") / F.sum("uni")
            ).alias("pooled_jaccard"),
            F.min(F.col("inter").cast("double") / F.col("uni")).alias(
                "min_jaccard"
            ),
            F.max(F.col("inter").cast("double") / F.col("uni")).alias(
                "max_jaccard"
            ),
        )
        .orderBy("hamming")
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: candidate pairs come from a cheap blocking key
# (lang + token-count bucket) — a hash-equality join — then the exact
# Jaccard over distinct-token sets is integer set arithmetic.
# ---------------------------------------------------------------------------

# Union size is |A| + |B| - |A n B| (sets are already distinct), so the
# per-pair work is ONE list_intersect — never a per-pair concat+distinct
# rebuild of the union array.
_JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) // 10 AS size_bucket,
         list_distinct(string_split(text, ' ')) AS toks,
         len(list_distinct(string_split(text, ' '))) AS n_toks
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (a.n_toks + b.n_toks - len(list_intersect(a.toks, b.toks))) AS jaccard
FROM t a JOIN t b
  ON a.lang = b.lang AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * 2
      >= a.n_toks + b.n_toks - len(list_intersect(a.toks, b.toks))
ORDER BY doc_a, doc_b
"""


@query("q_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise token-Jaccard within (lang, size_bucket) blocks. The
    blocked self-join is triangle-decomposed (operators/triangle.py) so
    one oversized block can't land w^2 comparisons on a single task —
    per-task pair count is bounded by (w/n_sub)^2 while the pair set
    (and therefore the oracle) is exactly the plain self-join's."""
    from ..operators.triangle import triangle_self_join

    d = load(spark, sf_dir, "documents")
    # NOT checkpointed (round-14 A/B): tokenize-distinct is cheap
    # relative to serializing the token arrays — materializing measured
    # 0.86 -> 1.67 s, the opposite of the md5-shingle queries
    t = (
        d.select(
            "doc_id",
            "lang",
            (F.size(F.split("text", " ")) / 10).cast("int").alias("size_bucket"),
            F.array_distinct(F.split("text", " ")).alias("toks"),
            F.size(F.array_distinct(F.split("text", " "))).alias("n_toks"),
        )
    )
    pairs = triangle_self_join(
        t,
        block_cols=["lang", "size_bucket"],
        id_col="doc_id",
        n_sub=4,
    )
    # A plain withColumn("inter", ...) gets collapsed into the
    # downstream filter+project and the array_intersect inlined into
    # each reference — verified on the generated code (explain
    # "codegen", AQE off): 3 separate arrayIntersect call sites, zero
    # subexpression-elimination functions. The intersection is the
    # dominant per-pair cost, so force single evaluation with a
    # 1-element explode: Generate is an optimizer barrier (predicates
    # referencing its output don't get substituted through it), and
    # row multiplicity is unchanged since the array is always exactly
    # one non-null element. Generate-as-barrier is undocumented
    # Catalyst behavior — codegen inspection done on Spark 4.1.2;
    # re-check on engine upgrades (a future optimizer could substitute
    # through it, silently reverting to 3x evaluation — perf only,
    # correctness unaffected).
    inter = F.col("inter")
    union = F.col("n_toks_a") + F.col("n_toks_b") - inter
    return (
        pairs.select(
            "*",
            F.explode(
                F.array(F.size(F.array_intersect("toks_a", "toks_b")))
            ).alias("inter"),
        )
        .filter(inter * 2 >= union)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: candidate pairs blocked on `label` (the
# cheap partitioner — at scale this is an IVF/LSH bucket, never all
# pairs), exact cosine on candidates only. Dot products fold
# sequentially in array order on both engines (F.aggregate <->
# list_reduce) so the threshold filter is bit-deterministic.
# ---------------------------------------------------------------------------

_EMB_THRESHOLD = 0.35

_EMB_ORACLE = f"""
WITH {sql_directional_cte()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       {sql_dot('a.embedding', 'b.embedding')}
         / ({sql_norm('a.embedding')} * {sql_norm('b.embedding')}) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {sql_dot('a.embedding', 'b.embedding')}
        / ({sql_norm('a.embedding')} * {sql_norm('b.embedding')}) >= {_EMB_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@query("q_dedup_embedding_cosine", oracle=_EMB_ORACLE)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine near-dup over label-blocked candidate pairs. The
    `label` block is a STAND-IN partitioner kept for its teaching
    clarity; the production ANN paths with data-derived blocking are
    q_dedup_embedding_lsh (SRP buckets + triangle decomposition) and
    q_dedup_semantic (SemDeDup quantizer clusters) — same pair-predicate
    discipline, honest candidate generation."""
    e = directional(load(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("va")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("vb")
    )
    cosine = dot(F.col("va"), F.col("vb")) / (norm(F.col("va")) * norm(F.col("vb")))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= _EMB_THRESHOLD)
        .select("vec_a", "vec_b", "label", "cosine")
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Embedding near-dup, SRP-LSH-bucketed: the honest scale path. Where
# q_dedup_embedding_cosine blocks on `label` (a stand-in partitioner),
# this blocks on a signed-random-projection bucket computed IN THE
# PROJECTION from driver-held anchor constants (zero shuffle, no UDF,
# same trick as operators/kmeans.nearest_centroid), then runs the pair
# join triangle-decomposed so a dense bucket can't pile w^2 comparisons
# onto one task. 2^n_anchors buckets x (w/n_sub)^2 per-task pairs.
# ---------------------------------------------------------------------------

_SRP_N_ANCHORS = 6
_SRP_THRESHOLD = 0.35

_SRP_BUCKET_SQL = f"""
  SELECT e.vec_id, e.embedding,
         string_agg(CASE WHEN {sql_dot('e.embedding', 'a.av')} >= 0
                         THEN '1' ELSE '0' END, '' ORDER BY a.aid) AS bucket
  FROM embeddings e,
       (SELECT vec_id AS aid, embedding AS av FROM embeddings
        WHERE vec_id < {_SRP_N_ANCHORS}) a
  GROUP BY e.vec_id, e.embedding
"""

_EMB_LSH_ORACLE = f"""
WITH {sql_directional_cte()},
bucketed AS ({_SRP_BUCKET_SQL})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_dot('a.embedding', 'b.embedding')}
         / ({sql_norm('a.embedding')} * {sql_norm('b.embedding')}) AS cosine
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {sql_dot('a.embedding', 'b.embedding')}
        / ({sql_norm('a.embedding')} * {sql_norm('b.embedding')}) >= {_SRP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@query("q_dedup_embedding_lsh", oracle=_EMB_LSH_ORACLE)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import _sql_dot_lit
    from ..operators.triangle import triangle_self_join

    e = directional(load(spark, sf_dir, "embeddings"))
    anchors = [
        [float(x) for x in row[0]]
        for row in e.filter(F.col("vec_id") < _SRP_N_ANCHORS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    # SQL-text fast path (kmeans._sql_dot_lit): 16 anchor-dot
    # expressions parse from one string instead of py4j-per-node
    bucket = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN {_sql_dot_lit('embedding', av)} >= 0"
            " THEN '1' ELSE '0' END"
            for av in anchors
        )
        + ")"
    ).alias("bucket")
    # 16-anchor SRP projection embedded twice by the triangle join's
    # a/b sides — materialize once per invocation (guide §3.3).
    # Checkpointed frame: O(corpus vectors) rows INCLUDING the embedding
    # array (the pair cosine needs it — no narrower projection exists).
    # Round-15 honest A/B: keep 0.96 s vs revert 1.20 s — KEPT; at
    # cluster scale pass materialize a checkpoint_dir so the O(corpus)
    # blocks go to fault-tolerant storage.
    bucketed = (
        e.select("vec_id", "embedding")
        .select("vec_id", "embedding", bucket)
        .transform(materialize)
    )
    cosine = dot(F.col("embedding_a"), F.col("embedding_b")) / (
        norm(F.col("embedding_a")) * norm(F.col("embedding_b"))
    )
    pairs = triangle_self_join(
        bucketed,
        block_cols=["bucket"],
        id_col="vec_id",
        n_sub=4,
        pair_filter=cosine >= _SRP_THRESHOLD,
    )
    return pairs.select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        cosine.alias("cosine"),
    ).orderBy("vec_a", "vec_b")


# C4-style cross-document span dedup: split every document into fixed
# 10-token spans, find spans whose md5 occurs in more than one document,
# and re-emit each document with its duplicated spans removed. The join
# and the frequency groupBy both key on the 16-byte span hash — bodies
# never shuffle twice — and reassembly is one groupBy(doc_id) with an
# order-preserving sorted collect. At 100 TB this is the canonical
# "remove boilerplate repeated across pages" pass: linear, all
# hash-partitioned, no pairwise comparison anywhere.
_SPAN_W = 10

_SPAN_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
chunks AS (
  SELECT doc_id, chunk_idx, chunk, md5(chunk) AS chunk_hash
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(CAST(ceil(len(toks) / {_SPAN_W}.0) AS BIGINT)),
             i -> {{'chunk_idx': i,
                    'chunk': array_to_string(toks[i*{_SPAN_W}+1 : i*{_SPAN_W}+{_SPAN_W}], ' ')}}),
             recursive := true)
    FROM t
  )
),
freq AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs_with FROM chunks GROUP BY chunk_hash)
SELECT doc_id,
       count(*) AS n_spans,
       count(*) FILTER (WHERE n_docs_with > 1) AS n_dup_spans,
       coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx) FILTER (WHERE n_docs_with = 1), '') AS cleaned_text
FROM chunks JOIN freq USING (chunk_hash)
GROUP BY doc_id
ORDER BY doc_id
"""


@query("q_dedup_span_c4", oracle=_SPAN_ORACLE)
def q_dedup_span_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    n_spans = F.ceil(F.size("toks") / F.lit(float(_SPAN_W))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice("toks", i * _SPAN_W + 1, _SPAN_W), " "),
    )
    chunks = (
        t.select("doc_id", F.posexplode_outer(spans).alias("chunk_idx", "chunk"))
        .withColumn("chunk_hash", F.md5("chunk"))
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("n_docs_with")
    )
    joined = chunks.join(freq, "chunk_hash")
    kept = F.when(F.col("n_docs_with") == 1, F.struct("chunk_idx", "chunk"))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count(F.when(F.col("n_docs_with") > 1, 1)).alias("n_dup_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["chunk"]
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


# Duplicate-cluster size distribution — the dedup QA report: how many
# exact-duplicate clusters exist at each multiplicity, and how many
# documents deduplication would remove. Two cascaded partial-agg'd
# groupBys over 16-byte fingerprints; the report is O(max cluster size)
# rows no matter the corpus size.
_CLUSTER_SIZES_ORACLE = """
WITH clusters AS (
  SELECT md5(text) AS fp, count(*) AS cluster_size
  FROM documents
  GROUP BY md5(text)
)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
FROM clusters
GROUP BY cluster_size
ORDER BY cluster_size
"""


@query("q_dedup_cluster_sizes", oracle=_CLUSTER_SIZES_ORACLE)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    clusters = d.groupBy(F.md5("text").alias("fp")).agg(
        F.count("*").alias("cluster_size")
    )
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_removable"
            ),
        )
        .orderBy("cluster_size")
    )


# MinHash quality evaluation: for every LSH candidate pair, compare the
# signature-estimated similarity (fraction of equal minhash components)
# against the exact shingle-set Jaccard — the calibration report that
# answers "are 16 permutations and 4x4 banding enough for this corpus".
# The candidate set is the (small) LSH output, so the signature and
# shingle-set joins probe it; nothing quadratic runs over the corpus.
_EQ_SUM_SQL = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(N_HASHES)
)

_MINHASH_EVAL_ORACLE = f"""
WITH shingled AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, {_BASE_HASH_SQL} AS bh
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM hashed GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
band_rows AS ({_BAND_UNNEST_SQL}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_rows a JOIN band_rows b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS sh,
         len(list_distinct(shingles)) AS n
  FROM shingled
)
SELECT doc_a, doc_b, est_sim, true_jaccard,
       abs(est_sim - true_jaccard) AS abs_err
FROM (
  SELECT p.doc_a, p.doc_b,
         CAST({_EQ_SUM_SQL} AS DOUBLE) / {N_HASHES} AS est_sim,
         CAST(len(list_intersect(xa.sh, xb.sh)) AS DOUBLE)
           / (xa.n + xb.n - len(list_intersect(xa.sh, xb.sh))) AS true_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.doc_a
  JOIN sigs sb ON sb.doc_id = p.doc_b
  JOIN sets xa ON xa.doc_id = p.doc_a
  JOIN sets xb ON xb.doc_id = p.doc_b
)
ORDER BY doc_a, doc_b
"""


@query("q_dedup_minhash_eval", oracle=_MINHASH_EVAL_ORACLE)
def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tokenized = (
        d.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
    )
    shingles = mh_shingles()
    # NOT materialized (round-15 honest A/B, full recompute per rep:
    # ckpt 1.41 s vs plain 0.92 s): the shingle + 16-md5 map feeds six
    # subtrees, but its input is the FIXED 256-doc cal slice, so the
    # re-derivations are constant-bounded at any corpus size and
    # cheaper than the checkpoint round-trip + per-invocation rebuild.
    # Candidate pairs still derive from THIS frame (band construction
    # identical to minhash_candidate_pairs, so the pair set is
    # unchanged).
    hashed = tokenized.select(
        "doc_id",
        shingles.alias("shs"),
        F.transform(shingles, mh_base_hash).alias("bhs"),
    )
    sigs = hashed.select("doc_id", *mh_signature_cols())
    sets = hashed.select(
        "doc_id",
        F.array_distinct("shs").alias("sh"),
        F.size(F.array_distinct("shs")).alias("n"),
    )
    band_rows = (
        sigs.select("doc_id", *mh_band_cols())
        .select(
            "doc_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band{b}").alias("band_key"),
                    )
                    for b in range(N_BANDS)
                ])
            ).alias("bk"),
        )
        .select("doc_id", "bk.band_idx", "bk.band_key")
    )
    pairs = (
        band_rows.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
        .join(
            band_rows.select(
                F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"ha{i}") for i in range(N_HASHES)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"hb{i}") for i in range(N_HASHES)]
    )
    xa = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n").alias("n_a")
    )
    xb = sets.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n").alias("n_b")
    )
    eq_sum = sum(
        F.when(F.col(f"ha{i}") == F.col(f"hb{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    joined = (
        pairs.join(sa, "doc_a").join(sb, "doc_b").join(xa, "doc_a").join(xb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (eq_sum.cast("double") / N_HASHES).alias("est_sim"),
            (inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)).alias(
                "true_jaccard"
            ),
        )
    )
    return joined.select(
        "doc_a",
        "doc_b",
        "est_sim",
        "true_jaccard",
        F.abs(F.col("est_sim") - F.col("true_jaccard")).alias("abs_err"),
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# MinHash BANDING-recall calibration (round-11; the measurement the
# containment path already has via q_dedup_containment_eval, applied to
# the q_dedup_minhash_lsh machinery): on the deterministic FIXED-SIZE
# md5-rank slice (tables.cal_slice, K = 256 — corpus-size-independent
# calibration cost; round-13 verdict replaced the doc_id % 2 modulus,
# which was additionally still quadratic per language under the
# lang-blocking), bucket EVERY within-slice language pair by its exact Jaccard tier
# (floor(4*J), integer-exact rational arithmetic) and report, per tier,
# how many pairs the production 4x4 banding would catch — overall and
# per band. This is the empirical banding S-curve P(caught | J-tier)
# that sizes b and r for a production corpus: tier 0 measures the
# false-positive floor (band collisions among dissimilar pairs), tier 3
# the recall on true near-dups; the analytic curve is 1-(1-J^r)^b. The
# exhaustive pair join is the CALIBRATION harness, deliberately
# slice-bounded and lang-blocked through triangle_self_join (the scale
# path stays q_dedup_minhash_lsh); counts are exact integers, the catch
# rate is one IEEE division.
# ---------------------------------------------------------------------------

_MB_SIG_LIST_SQL = ", ".join(
    f"list_min(list_transform(shs, s -> ({_mh_a(i)} * "
    f"CAST('0x' || substring(md5(s), 1, 12) AS BIGINT) + {_mh_b(i)}) "
    f"% {_MH_P})) AS h{i}"
    for i in range(N_HASHES)
)

_MINHASH_MB_EVAL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
  ORDER BY {sql_cal_key('doc_id')}, doc_id LIMIT {CAL_SLICE_K}
),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
  FROM t WHERE len(toks) >= 3
),
keyed AS (SELECT doc_id, lang, shs, len(shs) AS n_sh, {_MB_SIG_LIST_SQL}
          FROM sh),
banded AS (SELECT *, {_BAND_COLS_SQL} FROM keyed),
pairs AS (
  SELECT least(3, (len(list_intersect(a.shs, b.shs)) * 4)
               // (a.n_sh + b.n_sh - len(list_intersect(a.shs, b.shs))))
           AS jaccard_tier,
         {", ".join(f"CAST(a.band{b} = b.band{b} AS INT) AS c{b}" for b in range(N_BANDS))}
  FROM banded a JOIN banded b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT jaccard_tier,
       count(*) AS n_pairs,
       CAST(sum(greatest(c0, c1, c2, c3)) AS BIGINT) AS n_caught,
       CAST(sum(greatest(c0, c1, c2, c3)) AS DOUBLE) / count(*)
         AS catch_rate,
       {", ".join(f"CAST(sum(c{b}) AS BIGINT) AS n_caught_b{b}" for b in range(N_BANDS))}
FROM pairs
GROUP BY jaccard_tier
ORDER BY jaccard_tier
"""


@query("q_dedup_minhash_multiband_eval", oracle=_MINHASH_MB_EVAL_ORACLE)
def q_dedup_minhash_multiband_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.triangle import triangle_self_join

    d = cal_slice(load(spark, sf_dir, "documents"), "doc_id")
    keyed = (
        d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        # distinct shingles: the Jaccard ground truth is set-based, and
        # min-hash over the multiset equals min-hash over its support
        .select(
            "doc_id", "lang", F.array_distinct(mh_shingles()).alias("shs")
        )
        .select(
            "doc_id",
            "lang",
            "shs",
            F.transform(F.col("shs"), mh_base_hash).alias("bhs"),
        )
        .select(
            "doc_id",
            "lang",
            "shs",
            F.size("shs").alias("n_sh"),
            *mh_signature_cols(),
        )
        .select("doc_id", "lang", "shs", "n_sh", *mh_band_cols())
        # NOT materialized (round-15 honest A/B, full recompute per
        # rep: ckpt 1.05 s vs plain 0.46 s): the triangle join embeds
        # the cal-slice signature map twice, but the slice is a FIXED
        # 256 docs — constant-bounded double work beats the checkpoint
        # round-trip + per-invocation rebuild at any corpus size
    )
    pairs = triangle_self_join(
        keyed, block_cols=["lang"], id_col="doc_id", n_sub=4
    )
    # single-eval explode barrier for the per-pair intersection (the
    # q_dedup_containment_eval Generate trick)
    scored = (
        pairs.select(
            *[
                (F.col(f"band{b}_a") == F.col(f"band{b}_b"))
                .cast("int")
                .alias(f"c{b}")
                for b in range(N_BANDS)
            ],
            "n_sh_a",
            "n_sh_b",
            F.explode(
                F.array(F.size(F.array_intersect("shs_a", "shs_b")))
            ).alias("n_inter"),
        )
        .select(
            F.expr(
                "least(3, (n_inter * 4) div (n_sh_a + n_sh_b - n_inter))"
            ).alias("jaccard_tier"),
            *[f"c{b}" for b in range(N_BANDS)],
        )
    )
    return (
        scored.groupBy("jaccard_tier")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.greatest("c0", "c1", "c2", "c3")).alias("n_caught"),
            *[F.sum(f"c{b}").alias(f"n_caught_b{b}") for b in range(N_BANDS)],
        )
        .select(
            "jaccard_tier",
            "n_pairs",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_pairs")).alias(
                "catch_rate"
            ),
            *[f"n_caught_b{b}" for b in range(N_BANDS)],
        )
        .orderBy("jaccard_tier")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): cluster
# the embedding space with a coarse quantizer, then mark near-duplicates
# ONLY within each cluster — the cluster assignment is the blocking
# structure, so the pair join is an equi-join on cluster id and total
# work is sum(|cluster|^2), never corpus^2. Keep-policy: a vector is
# dropped iff a LOWER-id member of its cluster sits above the cosine
# threshold (deterministic, transitive-free — mirrors the paper's
# keep-one-per-neighborhood rule with vec_id as the tiebreak).
#
# Centroids here are the first K corpus vectors (the fixed-anchor trick
# from q_sim_ivf_topk) so DuckDB can reproduce the assignment exactly;
# K follows the IVF sizing rule K = ceil(sqrt(N)) computed from the
# corpus count on BOTH engines (Spark: one cheap count() at plan-build;
# oracle: a scalar subquery), so cluster width stays ~sqrt(N) and total
# pair work is N^1.5, not N^2, as the corpus grows. The k-means-trained
# variant of the same plan shape lives in q_sim_ivf_kmeans_topk. At
# 100 TB: assignment is a broadcast cross join evaluated in-projection
# (no shuffle), the pair join shuffles on cluster id, and each cluster's
# pair-space is additionally triangle-decomposed (operators/triangle.py,
# same as q_dedup_ngram_jaccard / q_dedup_embedding_lsh) so one
# oversized cluster cannot land w^2 comparisons on a single task.
# ---------------------------------------------------------------------------

_SEM_THRESHOLD = 0.35

_SEM_K_SQL = "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)"

_SEM_ASSIGN_SQL = f"""
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {sql_dot('e.embedding', 'c.cv')}
                      / ({sql_norm('e.embedding')} * {sql_norm('c.cv')}) DESC,
                      c.cid) AS crnk
    FROM embeddings e,
         (SELECT vec_id AS cid, embedding AS cv FROM embeddings
          WHERE vec_id < {_SEM_K_SQL}) c
  ) WHERE crnk = 1
"""

_SEM_ORACLE = f"""
WITH {sql_directional_cte()},
assign AS ({_SEM_ASSIGN_SQL})
SELECT a.vec_id, a.cid,
       EXISTS (
         SELECT 1 FROM assign b
         WHERE b.cid = a.cid AND b.vec_id < a.vec_id
           AND {sql_dot('a.embedding', 'b.embedding')}
                 / ({sql_norm('a.embedding')} * {sql_norm('b.embedding')})
               >= {_SEM_THRESHOLD}
       ) AS dropped
FROM assign a
ORDER BY vec_id
"""


def semantic_dedup(
    e: DataFrame, centroids: DataFrame, threshold: float
) -> DataFrame:
    """SemDeDup core over any (vec_id, embedding) frame and (cid, cv)
    centroid frame -> (vec_id, cid, dropped). Reused by q_dedup_semantic
    and property-tested against a pure-Python reference on random
    vectors in tests/test_properties.py."""

    # norms hoisted to per-row columns BEFORE the cross join (identical
    # doubles, K-fold less fold work in the assignment projection); the
    # vector norm then rides along into the pair stage for free.
    centroids = F.broadcast(centroids.withColumn("cnrm", norm(F.col("cv"))))
    ranked = (
        e.select("vec_id", "embedding")
        .withColumn("nrm", norm(F.col("embedding")))
        .crossJoin(centroids)
        .withColumn(
            "ccos",
            dot(F.col("embedding"), F.col("cv"))
            / (F.col("nrm") * F.col("cnrm")),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), "cid")
            ),
        )
        .filter(F.col("crnk") == 1)
        .select("vec_id", "embedding", "cid", "nrm")
    )
    # norms arrive pre-hoisted; the pair predicate reuses them.
    # The within-cluster pair join goes through the 4-way triangle
    # decomposition: per-task pair width is bounded by (|cluster|/4)^2
    # even when one cluster is pathologically popular, and every
    # unordered pair is still formed exactly once (vec_id_a < vec_id_b).
    # The K-fold crossJoin + top-1 window assignment is the dominant
    # cost and members feeds THREE subtrees (both pair-join sides and
    # the final label join) — materialize it once per invocation
    # (guide §3.3). Checkpointed frame: O(corpus vectors) rows including
    # the embedding (the pair cosine needs it). Round-15 honest A/B:
    # keep 1.20 s vs revert 1.70 s — KEPT; at cluster scale pass a
    # checkpoint_dir (as in q_dedup_embedding_lsh).
    members = ranked.transform(materialize)
    pairs = triangle_self_join(
        members,
        block_cols=["cid"],
        id_col="vec_id",
        n_sub=4,
        pair_filter=(
            dot(F.col("embedding_a"), F.col("embedding_b"))
            / (F.col("nrm_a") * F.col("nrm_b"))
            >= threshold
        ),
    )
    # pairs are (a < b); the higher id has a lower-id near-duplicate
    # neighbor, so it is the one dropped
    dropped_ids = (
        pairs.select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        members.select("vec_id", "cid")
        .join(dropped_ids, "vec_id", "left")
        .select(
            "vec_id", "cid", F.coalesce("dropped", F.lit(False)).alias("dropped")
        )
        .orderBy("vec_id")
    )


@query("q_dedup_semantic", oracle=_SEM_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = directional(load(spark, sf_dir, "embeddings"))
    # K = ceil(sqrt(N)): one metadata-cheap count at plan-build keeps
    # cluster width ~sqrt(N) at any corpus size (the oracle computes the
    # identical K via a scalar subquery)
    k = math.ceil(math.sqrt(e.count()))
    centroids = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    return semantic_dedup(
        e.select("vec_id", "embedding"), centroids, _SEM_THRESHOLD
    )


# ---------------------------------------------------------------------------
# Shingle-containment near-dup (Broder 1997, "On the resemblance and
# containment of documents"): C(A,B) = |A n B| / min(|A|, |B|) over
# distinct 3-token shingle sets. Containment catches the pair Jaccard
# misses — a short document swallowed whole by a longer one (quote
# farms, wrapper boilerplate, excerpt pages), where the size imbalance
# caps Jaccard at |A|/|B| but containment is ~1. Candidates are blocked
# on (lang, 1-permutation MinHash of the shingle set): md5 is the
# permutation on both engines, a contained pair shares its min-hash
# shingle with probability J(A,B) >= C/(C + |B|/|A|), and at corpus
# scale recall is raised by running b independent hash bands exactly as
# q_dedup_minhash_lsh does — this operator demonstrates the containment
# METRIC on the cheapest (single-band) blocking. The blocked self-join
# is triangle-decomposed so a hot min-shingle block cannot land w^2
# comparisons on one task, and the threshold test is integer-exact
# (inter * DEN >= NUM * min) with one final IEEE division for the
# reported score.
# ---------------------------------------------------------------------------

_CONTAIN_NUM, _CONTAIN_DEN = 1, 2  # flag when containment >= 1/2

_CONTAIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
keyed AS (
  SELECT doc_id, lang, shs, len(shs) AS n_sh,
         list_min(list_transform(shs, s -> md5(s))) AS mh1
  FROM (
    SELECT doc_id, lang,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
    FROM t WHERE len(toks) >= 3
  )
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
       CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_inter,
       CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         / least(a.n_sh, b.n_sh) AS containment,
       CASE WHEN a.n_sh <= b.n_sh THEN a.doc_id ELSE b.doc_id END AS contained_doc
FROM keyed a JOIN keyed b
  ON a.lang = b.lang AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.shs, b.shs)) * {_CONTAIN_DEN}
      >= {_CONTAIN_NUM} * least(a.n_sh, b.n_sh)
ORDER BY doc_a, doc_b
"""


@query("q_dedup_containment", oracle=_CONTAIN_ORACLE)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
        )
    )
    keyed = (
        d.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", "lang", shingles.alias("shs"))
        .select(
            "doc_id",
            "lang",
            "shs",
            F.size("shs").alias("n_sh"),
            F.array_min(F.transform("shs", F.md5)).alias("mh1"),
        )
        # the shingle+md5 map stage dominates and the triangle self-join
        # embeds its input TWICE (a/b sides) — materialize it once per
        # invocation (guide §3.3). Checkpointed frame: O(corpus docs)
        # rows including the shingle ARRAY (the pair intersection needs
        # it). Round-15 honest A/B: keep 0.83 s vs revert 2.14 s — the
        # round's largest keep margin (2.6x); at cluster scale pass a
        # checkpoint_dir (as in q_dedup_embedding_lsh).
    ).transform(materialize)
    pairs = triangle_self_join(
        keyed, block_cols=["lang", "mh1"], id_col="doc_id", n_sub=4
    )
    # single-eval explode barrier for the dominant per-pair intersection
    # (same Generate trick as q_dedup_ngram_jaccard, see comment there)
    inter = F.col("n_inter")
    min_sh = F.least("n_sh_a", "n_sh_b")
    return (
        pairs.select(
            "*",
            F.explode(
                F.array(F.size(F.array_intersect("shs_a", "shs_b")))
            ).alias("n_inter"),
        )
        .filter(inter * _CONTAIN_DEN >= _CONTAIN_NUM * min_sh)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.col("n_sh_a").cast("long").alias("n_a"),
            F.col("n_sh_b").cast("long").alias("n_b"),
            inter.cast("long").alias("n_inter"),
            (inter.cast("double") / min_sh).alias("containment"),
            F.when(F.col("n_sh_a") <= F.col("n_sh_b"), F.col("doc_id_a"))
            .otherwise(F.col("doc_id_b"))
            .alias("contained_doc"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Containment-blocking calibration (the q_dedup_minhash_eval /
# q_dedup_simhash_eval pattern applied to q_dedup_containment): measure
# the single-band (lang, 1-perm-MinHash) blocking's RECALL against
# EXHAUSTIVE within-language containment ground truth on a
# deterministic FIXED-SIZE corpus slice (tables.cal_slice: the K = 256
# docs ranked lowest by md5('cal:' || doc_id) — reproducible, no
# rand(), and CONSTANT-COST at any corpus size; round-13 verdict
# replaced the doc_id % 2 modulus whose pair work scaled quadratically
# with the corpus). For every true pair (containment >= 1/2), "caught" means
# the two docs share their min-hash shingle, i.e. the blocked join
# would have formed the pair. Per-language report: docs in slice, true
# pairs, caught pairs, recall. This is the number that decides how many
# independent hash bands the production run needs (recall_b = 1-(1-r)^b
# with b bands of the q_dedup_minhash_lsh machinery). The exhaustive
# join is the CALIBRATION harness, deliberately slice-bounded — the
# scale path stays q_dedup_containment; recall here is exact
# integer-ratio arithmetic (one IEEE division, bitwise on both
# engines), and the within-slice pair join still rides
# triangle_self_join so one hot language cannot serialize a task.
# ---------------------------------------------------------------------------

_CONTAIN_EVAL_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
  ORDER BY {sql_cal_key('doc_id')}, doc_id LIMIT {CAL_SLICE_K}
),
keyed AS (
  SELECT doc_id, lang, shs, len(shs) AS n_sh,
         list_min(list_transform(shs, s -> md5(s))) AS mh1
  FROM (
    SELECT doc_id, lang,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
    FROM t WHERE len(toks) >= 3
  )
),
truth AS (
  SELECT a.lang, CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END AS caught
  FROM keyed a JOIN keyed b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shs, b.shs)) * {_CONTAIN_DEN}
        >= {_CONTAIN_NUM} * least(a.n_sh, b.n_sh)
),
per_lang AS (
  SELECT lang, count(*) AS n_true_pairs, sum(caught) AS n_caught
  FROM truth GROUP BY lang
),
docs AS (SELECT lang, count(*) AS n_docs FROM keyed GROUP BY lang)
SELECT d.lang, CAST(d.n_docs AS BIGINT) AS n_docs,
       CAST(coalesce(p.n_true_pairs, 0) AS BIGINT) AS n_true_pairs,
       CAST(coalesce(p.n_caught, 0) AS BIGINT) AS n_caught,
       CASE WHEN coalesce(p.n_true_pairs, 0) > 0 THEN
         CAST(p.n_caught AS DOUBLE) / p.n_true_pairs
       END AS recall
FROM docs d LEFT JOIN per_lang p USING (lang)
ORDER BY lang
"""


@query("q_dedup_containment_eval", oracle=_CONTAIN_EVAL_ORACLE)
def q_dedup_containment_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = cal_slice(load(spark, sf_dir, "documents"), "doc_id")
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
        )
    )
    keyed = (
        d.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", "lang", shingles.alias("shs"))
        .select(
            "doc_id",
            "lang",
            "shs",
            F.size("shs").alias("n_sh"),
            F.array_min(F.transform("shs", F.md5)).alias("mh1"),
        )
        # NOT materialized (round-15 honest A/B, full recompute per
        # rep: ckpt 0.65 s vs plain 0.37 s): three subtrees re-derive
        # the cal-slice shingle map, but the slice is a FIXED 256 docs
        # — constant-bounded triple work beats the checkpoint
        # round-trip + per-invocation rebuild at any corpus size
    )
    pairs = triangle_self_join(
        keyed, block_cols=["lang"], id_col="doc_id", n_sub=4
    )
    # single-eval explode barrier for the per-pair intersection (same
    # Generate trick as q_dedup_ngram_jaccard)
    truth = (
        pairs.select(
            "lang",
            "mh1_a",
            "mh1_b",
            "n_sh_a",
            "n_sh_b",
            F.explode(
                F.array(F.size(F.array_intersect("shs_a", "shs_b")))
            ).alias("n_inter"),
        )
        .filter(
            F.col("n_inter") * _CONTAIN_DEN
            >= _CONTAIN_NUM * F.least("n_sh_a", "n_sh_b")
        )
        .select(
            "lang",
            F.when(F.col("mh1_a") == F.col("mh1_b"), 1).otherwise(0).alias(
                "caught"
            ),
        )
    )
    per_lang = truth.groupBy("lang").agg(
        F.count("*").alias("n_true_pairs"), F.sum("caught").alias("n_caught")
    )
    docs = keyed.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        docs.join(per_lang, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_true_pairs", F.lit(0))
            .cast("long")
            .alias("n_true_pairs"),
            F.coalesce("n_caught", F.lit(0)).cast("long").alias("n_caught"),
            F.when(
                F.coalesce("n_true_pairs", F.lit(0)) > 0,
                F.col("n_caught").cast("double") / F.col("n_true_pairs"),
            ).alias("recall"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multiband containment (q_dedup_containment with b=2 independent
# MinHash bands — the knob q_dedup_containment_eval's recall number
# sizes: recall_b = 1 - (1 - r)^b, so a second band lifts e.g. r=0.8
# to 0.96). Candidate pairs are the UNION of two blocked
# triangle_self_joins — band 1 on the raw min-shingle-hash, band 2 on
# a salted second permutation — deduplicated on the pair key BEFORE
# the expensive shingle intersection, so each surviving pair is
# verified exactly once. Per-pair work and task-width bounds are
# identical to the single-band operator; total candidate volume is at
# most 2x band-1's (less after pair dedup). via_band1/via_band2 report
# which band(s) caught each pair — the observability a production
# recall audit wants.
# ---------------------------------------------------------------------------

_CONTAIN_B2_SALT = "#b2"

_CONTAIN_MB_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
keyed AS (
  SELECT doc_id, lang, shs, len(shs) AS n_sh,
         list_min(list_transform(shs, s -> md5(s))) AS mh1,
         list_min(list_transform(shs, s -> md5(s || '{_CONTAIN_B2_SALT}')))
           AS mh2
  FROM (
    SELECT doc_id, lang,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
    FROM t WHERE len(toks) >= 3
  )
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(a.n_sh AS BIGINT) AS n_a, CAST(b.n_sh AS BIGINT) AS n_b,
       CAST(len(list_intersect(a.shs, b.shs)) AS BIGINT) AS n_inter,
       CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         / least(a.n_sh, b.n_sh) AS containment,
       CASE WHEN a.n_sh <= b.n_sh THEN a.doc_id ELSE b.doc_id END
         AS contained_doc,
       a.mh1 = b.mh1 AS via_band1,
       a.mh2 = b.mh2 AS via_band2
FROM keyed a JOIN keyed b
  ON a.lang = b.lang AND (a.mh1 = b.mh1 OR a.mh2 = b.mh2)
     AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.shs, b.shs)) * {_CONTAIN_DEN}
      >= {_CONTAIN_NUM} * least(a.n_sh, b.n_sh)
ORDER BY doc_a, doc_b
"""


@query("q_dedup_containment_multiband", oracle=_CONTAIN_MB_ORACLE)
def q_dedup_containment_multiband(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.array_join(F.slice(F.col("toks"), i, 3), " "),
        )
    )
    keyed = (
        d.select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", "lang", shingles.alias("shs"))
        .select(
            "doc_id",
            "lang",
            "shs",
            F.size("shs").alias("n_sh"),
            F.array_min(F.transform("shs", F.md5)).alias("mh1"),
            F.array_min(
                F.transform(
                    "shs",
                    lambda s: F.md5(F.concat(s, F.lit(_CONTAIN_B2_SALT))),
                )
            ).alias("mh2"),
        )
        # NOT materialized (round-15 honest A/B, full recompute per
        # rep: ckpt 1.56 s vs plain 1.18 s): the triangle-join sides do
        # re-derive the shingle/minhash projection (alias-divergent
        # projections defeat ReuseExchange), but with full recompute
        # per invocation the doubled map stage is cheaper than the
        # checkpoint round-trip + rebuild. Contrast q_dedup_containment,
        # where the SAME projection feeds a wider pair join and the
        # checkpoint wins 2.6x — kept there.
    )
    # ONE banded self-join instead of a union of two (round-14 plan
    # dedup): exploding each doc into (band, mh) rows and blocking on
    # (lang, band, mh) forms exactly the union of band-1 and band-2
    # candidate pairs while the expensive shingle/minhash projection is
    # computed ONCE (the two sides of the single join canonicalize to
    # one exchange; the old two-join form materialized `keyed` twice).
    # Shuffled bytes are unchanged — 2x rows in one exchange vs the
    # full keyed frame in each of two.
    banded = keyed.select(
        "doc_id",
        "lang",
        "shs",
        "n_sh",
        "mh1",
        "mh2",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("band"), F.col("mh1").alias("mh")),
                F.struct(F.lit(2).alias("band"), F.col("mh2").alias("mh")),
            )
        ).alias("bm"),
    ).select(
        "doc_id",
        "lang",
        "shs",
        "n_sh",
        "mh1",
        "mh2",
        F.col("bm.band").alias("band"),
        F.col("bm.mh").alias("mh"),
    )
    # pair-dedup BEFORE the quadratic-cost intersection: a pair caught
    # by both bands appears once per band with identical payloads, so
    # the kept row's carried columns are deterministic; the via flags
    # are recomputed from the carried minhashes, reproducing the old
    # union's per-branch constants
    cand = (
        triangle_self_join(
            banded, block_cols=["lang", "band", "mh"], id_col="doc_id",
            n_sub=4,
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .select(
            "doc_id_a",
            "doc_id_b",
            "shs_a",
            "shs_b",
            "n_sh_a",
            "n_sh_b",
            (F.col("mh1_a") == F.col("mh1_b")).alias("via_band1"),
            (F.col("mh2_a") == F.col("mh2_b")).alias("via_band2"),
        )
    )
    inter = F.col("n_inter")
    min_sh = F.least("n_sh_a", "n_sh_b")
    return (
        cand.select(
            "*",
            F.explode(
                F.array(F.size(F.array_intersect("shs_a", "shs_b")))
            ).alias("n_inter"),
        )
        .filter(inter * _CONTAIN_DEN >= _CONTAIN_NUM * min_sh)
        .select(
            F.col("doc_id_a").alias("doc_a"),
            F.col("doc_id_b").alias("doc_b"),
            F.col("n_sh_a").cast("long").alias("n_a"),
            F.col("n_sh_b").cast("long").alias("n_b"),
            inter.cast("long").alias("n_inter"),
            (inter.cast("double") / min_sh).alias("containment"),
            F.when(F.col("n_sh_a") <= F.col("n_sh_b"), F.col("doc_id_a"))
            .otherwise(F.col("doc_id_b"))
            .alias("contained_doc"),
            "via_band1",
            "via_band2",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Incremental CROSS-RUN dedup: what a real 100 TB ingest does NIGHTLY.
# Both whole-corpus paths above (q_dedup_minhash_lsh, containment)
# re-pair the full corpus; a production pipeline instead PERSISTS the
# MinHash signature store (doc_id + 16 components + 4 band keys — tiny
# against the corpus text) and dedups each incoming shard against it:
#
#   drop a new doc iff it band-collides with, and shares >= INCR_EQ_MIN
#   of N_HASHES minhash components with (est. Jaccard >= 0.5), ANY
#   previously seen doc or any lower-id doc of the same shard.
#
# The earlier-set is every SEEN doc (kept and dropped alike — near-dup
# similarity is not transitive, so dropping a doc must not un-block its
# future near-dups), which is exactly what makes the two-phase run
# algebraically equal to a from-scratch pass over the union in arrival
# order: candidates(union) restricted to pairs touching the shard ==
# candidates(shard x standing) UNION candidates(shard x shard), because
# the signature is a pure per-doc function. The registered query
# computes the TWO-PHASE plan (the standing side never self-pairs; its
# text is never re-read — decisions use stored signatures only) while
# the oracle replays the ONE-SHOT rule on the union, so the driver's
# hash check IS the incremental-equals-recompute certificate, the
# q_time_rollup_merge pattern applied to dedup. Scale shape: signatures
# ride WITH the band rows (~150 B x 4 rows/doc), so the band-bucket
# equi-join needs no second join back to a signature table; the only
# shuffles carry band keys + signatures, never text, and the standing
# corpus contributes O(matching band rows), never O(C^2) pairs.
# ---------------------------------------------------------------------------

INCR_SHARD_MOD = 4
INCR_SHARD_REM = 3  # doc_id % 4 == 3 -> "tonight's shard" (25%)
INCR_EQ_MIN = 8  # of N_HASHES=16 equal components -> est Jaccard >= 0.5


def mh_signature_table(docs: DataFrame) -> DataFrame:
    """``doc_id, h0..h15, band0..band3`` — the standing-store signature
    schema for cross-run dedup. Pure per-doc expressions (one md5 per
    shingle, zero shuffles); docs with < 3 tokens carry no signature
    and are absent (they cannot near-dup under word-3-gram shingling)."""
    tokenized = (
        docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
            F.size("toks") >= 3
        )
    )
    hashed = tokenized.select(
        "doc_id", F.transform(mh_shingles(), mh_base_hash).alias("bhs")
    )
    sigs = hashed.select("doc_id", *mh_signature_cols())
    return sigs.select(
        "doc_id", *[f"h{i}" for i in range(N_HASHES)], *mh_band_cols()
    )


def _sig_band_rows(sig: DataFrame, side: str) -> DataFrame:
    """Explode a signature table to one row per (doc, band), CARRYING
    the 16 signature components so candidate verification needs no
    join back to the signature table; columns suffixed per side."""
    return sig.select(
        F.col("doc_id").alias(f"{side}_id"),
        *[F.col(f"h{i}").alias(f"h{side}{i}") for i in range(N_HASHES)],
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.col(f"band{b}").alias("band_key"),
                )
                for b in range(N_BANDS)
            ])
        ).alias("bk"),
    ).select(f"{side}_id", *[f"h{side}{i}" for i in range(N_HASHES)], "bk.band_idx", "bk.band_key")


def incremental_dedup_decisions(
    new_ids: DataFrame,
    new_sigs: DataFrame,
    standing_sigs: DataFrame,
) -> DataFrame:
    """Keep/drop decision per NEW doc against the standing store and
    the lower-id docs of its own shard — the cross-run dedup rule of
    the registered q_dedup_incremental (standing = the corpus split).

    ``new_ids``: one (doc_id) row per incoming doc, including docs too
    short to sign (trivially kept). Output per doc: action keep|drop,
    dup_src corpus|shard|NULL (corpus match preferred), dup_of = the
    smallest matching doc_id within that source, n_candidates = distinct
    earlier band-collision candidates before verification.

    Standing docs are 'corpus', same-batch docs 'shard'."""
    nb = _sig_band_rows(new_sigs, "new")
    standing_cand = nb.join(
        _sig_band_rows(standing_sigs, "old"), ["band_idx", "band_key"]
    ).withColumn("is_corpus", F.lit(True))
    same_cand = (
        nb.join(_sig_band_rows(new_sigs, "old"), ["band_idx", "band_key"])
        .filter(F.col("old_id") < F.col("new_id"))
        .withColumn("is_corpus", F.lit(False))
    )
    cand = standing_cand.unionByName(same_cand)
    eq_sum = sum(
        F.when(F.col(f"hnew{i}") == F.col(f"hold{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    # one row per candidate PAIR (a pair colliding in several bands
    # carries the identical signatures in each, so max == the value)
    pairs = (
        cand.select(
            "new_id", "old_id", "is_corpus", eq_sum.alias("eq_sum")
        )
        .groupBy("new_id", "old_id", "is_corpus")
        .agg(F.max("eq_sum").alias("eq_sum"))
    )
    matched = F.col("eq_sum") >= INCR_EQ_MIN
    agg = pairs.groupBy("new_id").agg(
        F.count("*").alias("n_candidates"),
        F.min(F.when(matched & F.col("is_corpus"), F.col("old_id"))).alias(
            "min_corpus"
        ),
        F.min(
            F.when(matched & ~F.col("is_corpus"), F.col("old_id"))
        ).alias("min_shard"),
    )
    dropped = F.col("min_corpus").isNotNull() | F.col("min_shard").isNotNull()
    return (
        new_ids.select("doc_id")
        .join(agg.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(dropped, F.lit("drop")).otherwise("keep").alias("action"),
            F.when(F.col("min_corpus").isNotNull(), "corpus")
            .when(F.col("min_shard").isNotNull(), "shard")
            .alias("dup_src"),
            F.coalesce("min_corpus", "min_shard").alias("dup_of"),
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
        )
    )


_INCR_ORACLE = f"""
WITH shingled AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, {_BASE_HASH_SQL} AS bh
  FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)
),
sigs AS (SELECT doc_id, {_SIG_COLS_SQL} FROM hashed GROUP BY doc_id),
bands AS (SELECT doc_id, {_BAND_COLS_SQL} FROM sigs),
band_rows AS ({_BAND_UNNEST_SQL}),
cand AS (
  SELECT a.doc_id AS new_id, b.doc_id AS old_id,
         (b.doc_id % {INCR_SHARD_MOD} != {INCR_SHARD_REM}) AS is_corpus
  FROM band_rows a JOIN band_rows b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
    AND (b.doc_id % {INCR_SHARD_MOD} != {INCR_SHARD_REM}
         OR b.doc_id < a.doc_id)
  GROUP BY 1, 2, 3
),
ver AS (
  SELECT c.new_id, c.old_id, c.is_corpus, {_EQ_SUM_SQL} AS eq_sum
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.new_id
  JOIN sigs sb ON sb.doc_id = c.old_id
),
agg AS (
  SELECT new_id, count(*) AS n_candidates,
         min(CASE WHEN eq_sum >= {INCR_EQ_MIN} AND is_corpus
                  THEN old_id END) AS min_corpus,
         min(CASE WHEN eq_sum >= {INCR_EQ_MIN} AND NOT is_corpus
                  THEN old_id END) AS min_shard
  FROM ver GROUP BY new_id
)
SELECT d.doc_id,
       CASE WHEN min_corpus IS NOT NULL OR min_shard IS NOT NULL
            THEN 'drop' ELSE 'keep' END AS action,
       CASE WHEN min_corpus IS NOT NULL THEN 'corpus'
            WHEN min_shard IS NOT NULL THEN 'shard' END AS dup_src,
       coalesce(min_corpus, min_shard) AS dup_of,
       CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates
FROM documents d LEFT JOIN agg ON agg.new_id = d.doc_id
WHERE d.doc_id % {INCR_SHARD_MOD} = {INCR_SHARD_REM}
ORDER BY d.doc_id
"""


@query("q_dedup_incremental", oracle=_INCR_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    is_shard = (F.col("doc_id") % INCR_SHARD_MOD) == INCR_SHARD_REM
    sig = mh_signature_table(d)
    return incremental_dedup_decisions(
        d.filter(is_shard).select("doc_id"),
        sig.filter(is_shard),
        sig.filter(~is_shard),
    ).orderBy("doc_id")
