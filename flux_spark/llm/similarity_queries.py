"""Embedding-similarity queries: ANN (brute/LSH/IVF/PQ/MIPS), near-dup LSH, semantic dedup, k-means refine, hybrid text+embedding dedup.

Split from ``llm/queries.py`` (registry hygiene, VERDICT r5 #6): shared
corpus augmentation (``dup_corpus`` / ``_CORPUS_CTE``) and ``_hexval``
stay in ``queries.py``; every entry here registers into the same
``LLM_QUERIES`` dict on import. See ``queries.py`` for the oracle-parity
contract all entries follow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analytics.registry import (
    PERSIST_MIN_INPUT_BYTES,
    input_bytes,
    load_table,
    register,
)
from . import dedup, similarity
from .dedup_queries import _minhash_lsh_sql
from .queries import LLM_QUERIES, _CORPUS_CTE, dup_corpus

# ---------------------------------------------------------------------------
# similarity-search queries
# ---------------------------------------------------------------------------

_DIM = 64


def _brute_topk_sql(k: int = 5) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {similarity.sql_cosine("qv", "cv", _DIM)} AS cos_sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """


@register(
    LLM_QUERIES,
    "ann_cosine_topk",
    _brute_topk_sql(),
    "brute-force exact cosine top-5 for 5 query vectors (broadcast queries)",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(e, e.where(F.col("vec_id") < 5), k=5)


_PLANES = similarity.hyperplanes(8, _DIM)

_EMB_AUG_CTE = f"""
WITH aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
  FROM embeddings WHERE vec_id % 29 = 0
  UNION ALL
  SELECT vec_id + 2000000000,
    list_prepend(CAST(embedding[1] AS DOUBLE) * CAST(1.5 AS DOUBLE),
                 list_transform(embedding[2:{_DIM}], x -> CAST(x AS DOUBLE)))
  FROM embeddings WHERE vec_id % 31 = 0
)
"""


def _aug_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select(F.col("vec_id"), as_double.alias("v"))
    copies = e.where(F.col("vec_id") % 29 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"), as_double.alias("v")
    )
    perturbed = e.where(F.col("vec_id") % 31 == 0).select(
        (F.col("vec_id") + 2000000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") * F.lit(1.5)),
            F.transform(
                F.slice("embedding", 2, _DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("v"),
    )
    return base.unionByName(copies).unionByName(perturbed)


@register(
    LLM_QUERIES,
    "emb_near_dup_lsh",
    _EMB_AUG_CTE
    + f"""
, sigs AS (SELECT vec_id, v, {similarity.sql_signature_bits("v", _PLANES, _DIM)} AS sig FROM aug)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {similarity.sql_cosine("a.v", "b.v", _DIM)} AS cos_sim
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98
""",
    "sign-LSH bucketed embedding near-dup pairs, cosine>=0.98 verified",
)
def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_near_dup_pairs(
        _aug_embeddings(spark, sf_dir), vec_col="v", threshold=0.98
    )


_PLANES12 = similarity.hyperplanes(12, _DIM)


@register(
    LLM_QUERIES,
    "emb_near_dup_lsh_scaled",
    _EMB_AUG_CTE
    + f"""
, sigs AS (SELECT vec_id, v, {similarity.sql_signature_bits("v", _PLANES12, _DIM)} AS sig FROM aug)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {similarity.sql_cosine("a.v", "b.v", _DIM)} AS cos_sim
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98
""",
    "sign-LSH near-dup at 12 planes — the corpus-growth knob in action: "
    "candidate volume is ~n²/2^planes, so planes must track log2(n) as "
    "the corpus scales (8 planes for the sf0.1 gate, 12 here => 16× "
    "fewer pairs at the same corpus; recall trades against it). Same "
    "verify path, same exact-cosine oracle",
)
def emb_near_dup_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_near_dup_pairs(
        _aug_embeddings(spark, sf_dir),
        vec_col="v",
        n_planes=12,
        threshold=0.98,
    )


# auto-scaled LSH: plane count derived from the corpus COUNT at run time
# (auto_planes keeps expected bucket size ~constant as the corpus grows —
# the 100 TB knob). The oracle reproduces the derivation in SQL: it
# materializes sign bits for a 24-plane superset, derives np =
# auto_planes(COUNT(*)) as a scalar, and sums bits[i]*2^i over i < np.
_MAXP = 24
_PLANES_SUPER = similarity.hyperplanes(_MAXP, _DIM)

_AUTO_NP_SQL = """
SELECT CASE WHEN cnt <= 16 THEN 4
       ELSE GREATEST(4, CAST(CEIL(LOG2(cnt / 16.0)) AS INT)) END AS np
FROM (SELECT COUNT(*) AS cnt FROM aug)
"""


@register(
    LLM_QUERIES,
    "emb_near_dup_lsh_auto",
    _EMB_AUG_CTE
    + f"""
, params AS ({_AUTO_NP_SQL})
, bitsrc AS (
  SELECT vec_id, v,
         {similarity.sql_signature_bit_list("v", _PLANES_SUPER, _DIM)} AS bits
  FROM aug)
, sigs AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(
           generate_series(0, (SELECT np FROM params) - 1),
           i -> CASE WHEN bits[CAST(i + 1 AS INT)]
                     THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                     ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
  FROM bitsrc)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {similarity.sql_cosine("a.v", "b.v", _DIM)} AS cos_sim
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98
""",
    "sign-LSH near-dup with the plane count DERIVED from the corpus size "
    "(auto_planes: ceil(log2(n/16)), floored at 4) instead of pinned — "
    "the knob that keeps candidate volume linear as the corpus scales "
    "(sf0.01 -> 6 planes, sf10 -> 14). The oracle re-derives the same "
    "plane count from COUNT(*) in SQL and masks a 24-plane bit superset",
)
def emb_near_dup_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _aug_embeddings(spark, sf_dir)
    n_planes = similarity.auto_planes(corpus.count())
    return similarity.lsh_near_dup_pairs(
        corpus, vec_col="v", n_planes=n_planes, threshold=0.98
    )


def _hier_params_sql(cnt_src: str, target: int = 256) -> str:
    """params CTE body deriving (k, b) from COUNT(*) with exact integer
    math: k = auto_centroids (ceil(n/target), floored at 1), b =
    ceil(sqrt(k)) (FLOOR(SQRT()) guarded ±1 against float error — exact
    integer ceil-sqrt for any realistic k). Mirrors
    similarity.hier_branches."""
    return f"""
  SELECT k, CASE WHEN (b0-1)*(b0-1) >= k THEN b0-1
                 WHEN b0*b0 >= k THEN b0 ELSE b0+1 END AS b
  FROM (SELECT k, CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT) AS b0
        FROM (SELECT GREATEST(1, CAST(CEIL(cnt / {target}.0) AS BIGINT)) AS k
              FROM ({cnt_src})))"""


# two-level (hierarchical) assignment CTEs shared by the auto-K oracles
# (the exact rule of similarity._centroid_assign_hier_arrow, documented
# on similarity.hier_branches): cen gets 0-based positions in
# ascending-cid order; the representatives are the b lowest positions
# (reps); every fine centroid joins its max-cosine representative's
# branch (cbr, ties -> lowest branch — PROXIMITY grouping); each vector
# routes to its 2 best representatives (rn <= 2) and argmaxes over the
# union of those branches' members (ties -> lowest cid).
def _hier_route_sql(src: str, idc: str, vc: str, n: int = 2) -> str:
    return f"""
  SELECT {idc}, {vc}, branch FROM (
    SELECT s.{idc}, s.{vc}, r.branch,
           ROW_NUMBER() OVER (PARTITION BY s.{idc}
                              ORDER BY {similarity.sql_cosine(f"s.{vc}", "r.cv", _DIM)} DESC,
                                       r.branch ASC) AS rn
    FROM {src} s CROSS JOIN reps r) WHERE rn <= {n}"""


_HIER_CBR_SQL = f"""
  SELECT cid, cv, branch FROM (
    SELECT c.cid, c.cv, r.branch,
           ROW_NUMBER() OVER (PARTITION BY c.cid
                              ORDER BY {similarity.sql_cosine("c.cv", "r.cv", _DIM)} DESC,
                                       r.branch ASC) AS rn
    FROM cen c CROSS JOIN reps r) WHERE rn = 1"""


@register(
    LLM_QUERIES,
    "emb_semantic_dedup_auto",
    _EMB_AUG_CTE
    + f"""
, params AS ({_hier_params_sql("SELECT COUNT(*) AS cnt FROM aug")}),
cen AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos
  FROM embeddings WHERE vec_id < (SELECT k FROM params)),
reps AS (SELECT pos AS branch, cv FROM cen WHERE pos < (SELECT b FROM params)),
cbr AS ({_HIER_CBR_SQL}),
route AS ({_hier_route_sql("aug", "vec_id", "v")}),
asg AS (
  SELECT vec_id, v, cid AS cluster_id FROM (
    SELECT t.vec_id, t.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {similarity.sql_cosine("t.v", "c.cv", _DIM)} DESC,
                                       c.cid ASC) AS rn
    FROM route t JOIN cbr c USING (branch))
  WHERE rn = 1),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98
  GROUP BY b.vec_id)
SELECT g.vec_id, g.cluster_id, d.dup_of, d.dup_of IS NULL AS is_kept
FROM asg g LEFT JOIN dups d ON d.vec_id = g.vec_id
""",
    "SemDeDup with the centroid count DERIVED from the corpus size "
    "(auto_centroids: ceil(n/256), floored at 1) AND two-level "
    "hierarchical assignment (r12, the r11 sf100 wall catch: flat "
    "assignment is n*K = n^2/256 — ~24x wall at 10x data; routing via "
    "ceil(sqrt(K)) proximity-grouped branch representatives then the 2 "
    "best branches' fine centroids is n*~3sqrt(K), back to ~linear, "
    "and keeps sum(|cluster|^2) within ~1.15x of flat). The oracle "
    "re-derives K, b, the proximity grouping AND the two-stage argmax "
    "from COUNT(*) in SQL; same min-id survivor rule and 0.98 threshold",
)
def emb_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _aug_embeddings(spark, sf_dir)
    k = similarity.auto_centroids(corpus.count(), target_cluster=256)
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    return similarity.semantic_dedup(
        corpus,
        centroids,
        vec_col="v",
        id_col="vec_id",
        threshold=0.98,
        hierarchical=True,
    )


@register(
    LLM_QUERIES,
    "emb_hier_route_gate",
    _EMB_AUG_CTE
    + f"""
, params AS ({_hier_params_sql("SELECT COUNT(*) AS cnt FROM aug")}),
cen AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos
  FROM embeddings WHERE vec_id < (SELECT k FROM params)),
reps AS (SELECT pos AS branch, cv FROM cen WHERE pos < (SELECT b FROM params)),
cbr AS ({_HIER_CBR_SQL}),
route AS ({_hier_route_sql("aug", "vec_id", "v")}),
asg AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT t.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY {similarity.sql_cosine("t.v", "c.cv", _DIM)} DESC,
                                       c.cid ASC) AS rn
    FROM route t JOIN cbr c USING (branch))
  WHERE rn = 1),
vb AS (
  SELECT c.branch, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM asg a JOIN cbr c ON c.cid = a.cluster_id GROUP BY c.branch),
fb AS (
  SELECT branch, CAST(COUNT(*) AS BIGINT) AS n_fine FROM cbr GROUP BY branch)
SELECT f.branch, f.n_fine, COALESCE(v.n_vecs, CAST(0 AS BIGINT)) AS n_vecs,
       (SELECT k FROM params) AS k, (SELECT b FROM params) AS b
FROM fb f LEFT JOIN vb v USING (branch)
""",
    "derivation gate for the two-level assignment model (r12, the "
    "ann_cosine_lsh_autocap mold): k = auto_centroids(COUNT(*)) and "
    "b = ceil(sqrt(k)) are re-derived by the oracle from COUNT(*) with "
    "exact integer math, and the per-branch fine-centroid counts "
    "(proximity grouping under the b lowest-id representatives) plus "
    "routed-vector counts pin the full two-stage argmax — so the scale "
    "knob AND the branch model are oracle-pinned, not just the "
    "downstream dedup/vote results that consume them",
)
def emb_hier_route_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-branch occupancy of the hierarchical router: n_fine = fine
    centroids grouped under each representative, n_vecs = corpus vectors
    whose ASSIGNED centroid lives in that branch. The oracle recomputes
    the grouping and both two-stage argmaxes from scratch in SQL."""
    corpus = _aug_embeddings(spark, sf_dir)
    k = similarity.auto_centroids(corpus.count(), target_cluster=256)
    b = similarity.hier_branches(k)
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    asg = similarity.assign_centroids(
        corpus, centroids, vec_col="v", id_col="vec_id", hierarchical=True
    )
    spark_ = spark
    cbr = spark_.createDataFrame(
        similarity.centroid_branches(centroids, vec_col="v"),
        "centroid_id long, branch long",
    )
    vecs = (
        asg.join(
            F.broadcast(cbr), asg["cluster_id"] == cbr["centroid_id"]
        )
        .groupBy("branch")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
    )
    fine = cbr.groupBy("branch").agg(
        F.count("*").cast("bigint").alias("n_fine")
    )
    return fine.join(vecs, "branch", "left").select(
        "branch",
        "n_fine",
        F.coalesce(F.col("n_vecs"), F.lit(0)).cast("bigint").alias("n_vecs"),
        F.lit(k).cast("bigint").alias("k"),
        F.lit(b).cast("bigint").alias("b"),
    )


def _lsh_topk_sql(n_planes: int = 8, k: int = 5) -> str:
    sig = similarity.sql_signature_bits("embedding", _PLANES, _DIM)
    masks = ", ".join(f"CAST({2**i} AS BIGINT)" for i in range(n_planes))
    return f"""
    WITH c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             CAST({sig} AS BIGINT) AS sig
      FROM embeddings),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv,
             CAST({sig} AS BIGINT) AS qsig
      FROM embeddings WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, qsig AS sig FROM qs
      UNION ALL
      SELECT query_id, qv, xor(qsig, m.m) AS sig
      FROM qs CROSS JOIN (SELECT unnest([{masks}]) AS m) m),
    scored AS (
      SELECT p.query_id, c.neighbor_id,
             {similarity.sql_cosine("p.qv", "c.cv", _DIM)} AS cos_sim
      FROM probes p JOIN c USING (sig)
      WHERE c.neighbor_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """


@register(
    LLM_QUERIES,
    "ann_cosine_lsh",
    _lsh_topk_sql(),
    "LSH-bucketed ANN: sign-signature bucket join with Hamming-1 "
    "multiprobe, exact-cosine top-5 rerank",
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(e, e.where(F.col("vec_id") < 5), k=5)


def _lsh_autocap_sql(n_planes: int = 8, k: int = 5) -> str:
    sig = similarity.sql_signature_bits("embedding", _PLANES, _DIM)
    masks = ", ".join(f"CAST({2**i} AS BIGINT)" for i in range(n_planes))
    return f"""
    WITH aug AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT e.vec_id + 1000000000 * j.j AS vec_id, e.embedding
      FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 41)) AS j) j
      WHERE e.vec_id % 7 = 0),
    c0 AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             CAST({sig} AS BIGINT) AS sig
      FROM aug),
    occ AS (SELECT sig, COUNT(*) AS c FROM c0 GROUP BY sig),
    p99 AS (
      SELECT MAX(c) AS p99c FROM (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, sig ASC) AS r,
               COUNT(*) OVER () AS b
        FROM occ)
      WHERE r <= CAST(CEIL(0.99 * b) AS BIGINT)),
    capv AS (SELECT GREATEST({4 * k}, LEAST(p99c, 64)) AS cap FROM p99),
    c AS (
      SELECT neighbor_id, cv, sig FROM (
        SELECT c0.*, ROW_NUMBER() OVER (
          PARTITION BY sig
          ORDER BY md5(CAST(neighbor_id AS VARCHAR)) ASC, neighbor_id ASC
        ) AS slot
        FROM c0)
      WHERE slot <= (SELECT cap FROM capv)),
    qs AS (
      SELECT vec_id AS query_id, embedding AS qv,
             CAST({sig} AS BIGINT) AS qsig
      FROM embeddings WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, qsig AS sig FROM qs
      UNION ALL
      SELECT query_id, qv, xor(qsig, m.m) AS sig
      FROM qs CROSS JOIN (SELECT unnest([{masks}]) AS m) m),
    scored AS (
      SELECT p.query_id, c.neighbor_id,
             {similarity.sql_cosine("p.qv", "c.cv", _DIM)} AS cos_sim
      FROM probes p JOIN c USING (sig)
      WHERE c.neighbor_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """


@register(
    LLM_QUERIES,
    "ann_cosine_lsh_autocap",
    _lsh_autocap_sql(),
    "LSH ANN with the OCCUPANCY-DERIVED bucket cap (r11 — the r10 sf100 "
    "bucket-occupancy catch promoted from a hand-picked constant to a "
    "measured knob): a 40x-replica-augmented corpus gives some buckets "
    "duplicated mass; one occupancy pass derives cap = max(4k, min(p99, "
    "4*target_bucket)) and the oracle RE-DERIVES the cap from the same "
    "aggregate in SQL (rank-based p99, no interpolation) plus the same "
    "md5-order slot filter — so the knob itself is oracle-pinned, not "
    "just the capped result",
)
def ann_cosine_lsh_autocap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-mass ANN with a measured bucket cap. The corpus takes
    every vec_id % 7 == 0 vector 40 extra times (ids offset by j*1e9 —
    collision-free below 1e9 base ids, the SCALE.md r7 id-scheme lesson),
    the exact shape that defeats plane scaling: no plane count splits
    identical vectors, so their bucket grows with the dup factor and the
    occupancy² bucket join goes quadratic (the r10 sf100 catch, 2,593 s
    uncapped vs 700 s at the hand-tuned cap=64). auto_bucket_cap measures
    actual occupancy p99 and clamps it to the [4k, 4*target_bucket]
    rails — healthy corpora keep their full buckets (p99 ~2x target,
    below the rail), duplicated ones clamp to the rail (sf100: p99 909
    -> cap 64, the hand-tuned value, now derived)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = (
        e.where(F.col("vec_id") % 7 == 0)
        .crossJoin(F.broadcast(spark.range(1, 41).select(F.col("id").alias("__j"))))
        .select(
            (F.col("vec_id") + F.col("__j") * F.lit(1_000_000_000)).alias(
                "vec_id"
            ),
            "embedding",
        )
    )
    corpus = e.unionAll(reps)
    return similarity.lsh_topk(
        corpus,
        e.where(F.col("vec_id") < 5),
        k=5,
        n_planes=8,
        bucket_cap="auto",
    )


def _ivf_sql(n_centroids: int = 8, nprobe: int = 2, k: int = 5) -> str:
    cos_vc = similarity.sql_cosine("vv", "cv", _DIM)
    return f"""
    WITH cen AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {n_centroids}),
    corpus AS (SELECT vec_id, embedding AS vv FROM embeddings),
    assign_scored AS (
      SELECT c.vec_id, c.vv, n.cid, {cos_vc} AS ccos,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY {cos_vc} DESC, n.cid ASC) AS r
      FROM corpus c CROSS JOIN cen n),
    assigned AS (SELECT vec_id AS neighbor_id, vv AS cv2, cid AS bucket FROM assign_scored WHERE r = 1),
    queries AS (SELECT vec_id, vv FROM corpus WHERE vec_id < 5),
    probe_scored AS (
      SELECT q.vec_id, q.vv, n.cid, {similarity.sql_cosine("q.vv", "cv", _DIM)} AS ccos,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {similarity.sql_cosine("q.vv", "cv", _DIM)} DESC, n.cid ASC) AS r
      FROM queries q CROSS JOIN cen n),
    probes AS (SELECT vec_id AS query_id, vv AS qv, cid AS bucket FROM probe_scored WHERE r <= {nprobe}),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             {similarity.sql_cosine("p.qv", "a.cv2", _DIM)} AS cos_sim
      FROM probes p JOIN assigned a USING (bucket)
      WHERE a.neighbor_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """


@register(
    LLM_QUERIES,
    "ann_cosine_ivf",
    _ivf_sql(),
    "IVF ANN: 8 seed centroids, nprobe=2 bucket-pruned cosine top-5",
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.ivf_topk(
        e, e.where(F.col("vec_id") < 5), centroids, k=5, nprobe=2
    )


@register(
    LLM_QUERIES,
    "emb_pq_codes",
    similarity.sql_pq_encode(),
    "product quantization: 8 subspaces x 16 seed codes, per-vector code "
    "assignment (nearest L2, ties -> lowest code) + reconstruction error "
    "— the 256B->8B compression billion-vector search runs on; codebook "
    "broadcasts as one row, encoding is zero-shuffle. Output is one row "
    "per (vector, subspace): driver-sortable, no top-level arrays",
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    codebook = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    # a plain posexplode lets Spark infer size(codes) > 0 below the
    # Generate, which evaluates the _dists kernel a second time; the outer
    # form infers nothing, and the filter above it still drops NULL and
    # empty codes
    return (
        similarity.pq_encode(e, codebook)
        .select(
            "vec_id",
            "recon_err",
            F.posexplode_outer("codes").alias("sub_idx", "code"),
        )
        .where(F.col("sub_idx").isNotNull())
    )


@register(
    LLM_QUERIES,
    "emb_pq_adc_topk",
    similarity.sql_pq_adc_topk(),
    "PQ asymmetric-distance top-5: per-query distance lookup tables "
    "(broadcast) summed over each candidate's 8 codes — n_sub lookups "
    "replace the 64-wide dot product, the query path that makes "
    "billion-vector search bandwidth-feasible",
)
def emb_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    codebook = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    return similarity.pq_adc_topk(
        e, e.where(F.col("vec_id") < 5), codebook, k=5
    )


@register(
    LLM_QUERIES,
    "emb_ivf_pq_topk",
    similarity.sql_ivf_pq_topk(),
    "composed IVF-PQ (FAISS IVFADC): residual product quantization inside "
    "IVF buckets — corpus assigned to 8 seed centroids, residuals encoded "
    "against a shared 16-code book, queries probe 2 buckets with "
    "BUCKET-RELATIVE residual LUTs; the full composition (assignment, "
    "residual encode, per-probe LUT, ADC rank) oracle-exact",
)
def emb_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    codebook = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    return similarity.ivf_pq_topk(
        e, e.where(F.col("vec_id") < 5), centroids, codebook, k=5, nprobe=2
    )


def _ivf_probe_sweep_sql(max_probe: int = 4, k: int = 5, n_q: int = 5) -> str:
    total = k * n_q
    probe_selects = "\n      UNION ALL\n".join(
        f"      SELECT {np} AS nprobe, query_id, neighbor_id "
        f"FROM ({_ivf_sql(nprobe=np)}) t{np}"
        for np in range(1, max_probe + 1)
    )
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({_brute_topk_sql()}) tx),
    probes AS (
{probe_selects}
    ),
    counts AS (
      SELECT pr.nprobe, COUNT(*) AS n_hit
      FROM probes pr JOIN exact e
        ON e.query_id = pr.query_id AND e.neighbor_id = pr.neighbor_id
      GROUP BY pr.nprobe)
    SELECT n.nprobe,
           CAST(COALESCE(c.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(c.n_hit, 0) AS DOUBLE) / {total} AS recall_at_{k}
    FROM (SELECT CAST(unnest(range(1, {max_probe + 1})) AS INTEGER) AS nprobe) n
    LEFT JOIN counts c ON c.nprobe = n.nprobe
    """


@register(
    LLM_QUERIES,
    "emb_ivf_probe_sweep",
    _ivf_probe_sweep_sql(),
    "ANN tuning sweep: overall recall@5 vs nprobe (1..4 of 8 centroid "
    "buckets) — the cost/recall frontier an index owner walks before "
    "fixing nprobe for production; raising nprobe to K recovers exact "
    "search. (The sweep re-assigns per nprobe here for oracle clarity; "
    "a production sweep assigns once and varies only the probe list)",
)
def emb_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    probes = None
    for np_ in range(1, 5):
        p = similarity.ivf_topk(e, q, centroids, k=5, nprobe=np_).select(
            F.lit(np_).cast("int").alias("nprobe"), "query_id", "neighbor_id"
        )
        probes = p if probes is None else probes.unionByName(p)
    counts = probes.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "nprobe"
    ).agg(F.count("*").alias("n_hit"))
    grid = spark.range(1, 5).select(F.col("id").cast("int").alias("nprobe"))
    return grid.join(counts, "nprobe", "left").select(
        "nprobe",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.lit(25)
        ).alias("recall_at_5"),
    )


def _hybrid_emb_aug_sql() -> str:
    """Embedding twin of _CORPUS_CTE's augmentation: same +1e9 exact /
    +2e9 perturbed id scheme, so text pairs and embedding pairs talk
    about the same documents."""
    return f"""
    eaug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id % 17 = 0
      UNION ALL
      SELECT vec_id + 2000000000,
        list_prepend(CAST(embedding[1] AS DOUBLE) * CAST(1.5 AS DOUBLE),
                     list_transform(embedding[2:{_DIM}], x -> CAST(x AS DOUBLE)))
      FROM embeddings WHERE vec_id % 23 = 0
    )"""


@register(
    LLM_QUERIES,
    "doc_dedup_hybrid",
    f"""
    WITH {_hybrid_emb_aug_sql().lstrip()},
    esigs AS (SELECT vec_id, v,
              {similarity.sql_signature_bits("v", _PLANES, _DIM)} AS sig
              FROM eaug),
    epairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {similarity.sql_cosine("a.v", "b.v", _DIM)} AS cos_sim
      FROM esigs a JOIN esigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98),
    tpairs AS (SELECT * FROM ({_minhash_lsh_sql()}) tsub)
    SELECT COALESCE(t.id_a, e.id_a) AS id_a,
           COALESCE(t.id_b, e.id_b) AS id_b,
           t.jaccard IS NOT NULL AS text_candidate,
           e.cos_sim IS NOT NULL AS emb_candidate,
           t.jaccard, e.cos_sim
    FROM tpairs t
    FULL JOIN epairs e ON e.id_a = t.id_a AND e.id_b = t.id_b
    """,
    "multi-signal near-dup ensemble: MinHash-LSH text pairs FULL OUTER "
    "JOINed with sign-LSH embedding pairs over the SAME augmented ids — "
    "per pair, which signal(s) fired plus both scores. The production "
    "curation pattern: text dedup misses paraphrases, embedding dedup "
    "misses short-text collisions; the union with per-signal evidence "
    "lets the pipeline set per-signal thresholds and audit disagreements",
)
def doc_dedup_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select(F.col("vec_id"), as_double.alias("v"))
    copies = e.where(F.col("vec_id") % 17 == 0).select(
        (F.col("vec_id") + 1000000000).alias("vec_id"), as_double.alias("v")
    )
    perturbed = e.where(F.col("vec_id") % 23 == 0).select(
        (F.col("vec_id") + 2000000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") * F.lit(1.5)),
            F.transform(
                F.slice("embedding", 2, _DIM - 1), lambda x: x.cast("double")
            ),
        ).alias("v"),
    )
    eaug = base.unionByName(copies).unionByName(perturbed)
    epairs = similarity.lsh_near_dup_pairs(eaug, vec_col="v", threshold=0.98)
    tpairs = dedup.minhash_lsh_pairs(dup_corpus(spark, sf_dir), threshold=0.5)
    return (
        tpairs.join(epairs, ["id_a", "id_b"], "full")
        .select(
            "id_a",
            "id_b",
            F.col("jaccard").isNotNull().alias("text_candidate"),
            F.col("cos_sim").isNotNull().alias("emb_candidate"),
            "jaccard",
            "cos_sim",
        )
    )


@register(
    LLM_QUERIES,
    "emb_ivf_recall",
    f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({_brute_topk_sql()}) t),
    ivf AS (SELECT query_id, neighbor_id, 1 AS hit FROM ({_ivf_sql()}) t)
    SELECT e.query_id,
           CAST(COUNT(i.hit) AS BIGINT) AS n_hit,
           CAST(COUNT(i.hit) AS DOUBLE) / 5 AS recall_at_5
    FROM exact e LEFT JOIN ivf i
      ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    "ANN calibration: recall@5 of the IVF index vs exact brute force per "
    "query — the measurement a pipeline runs on its own corpus before "
    "trusting approximate retrieval at scales where exact search is "
    "unaffordable (the companion of the MinHash est-vs-exact view)",
)
def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    ivf = (
        similarity.ivf_topk(e, q, centroids, k=5, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_hit"),
            (F.count("__hit").cast("double") / F.lit(5)).alias("recall_at_5"),
        )
    )


@register(
    LLM_QUERIES,
    "emb_kmeans_refine",
    f"""
    WITH cen AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < 8),
    corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    scored AS (
      SELECT c.vec_id, cen.cid, {similarity.sql_cosine("v", "cv", _DIM)} AS cc
      FROM corp c CROSS JOIN cen),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid ASC) AS rn
        FROM scored) WHERE rn = 1),
    ex AS (
      SELECT b.cid AS bucket, i.i - 1 AS dim_idx, c.v[i.i] AS val
      FROM best b
      JOIN corp c USING (vec_id)
      CROSS JOIN (SELECT CAST(range AS INT) + 1 AS i FROM range(0, {_DIM})) i),
    per_dim AS (
      SELECT bucket, dim_idx,
             CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
      FROM ex GROUP BY bucket, dim_idx)
    SELECT bucket AS centroid_id, CAST(dim_idx AS INT) AS dim_idx,
           m AS dim_value
    FROM per_dim
    """,
    "one Lloyd iteration of IVF centroid training: max-cosine assignment + "
    "exact per-dimension decimal means (iterate driver-side for full "
    "k-means). Output is one row per (centroid, dimension): "
    "driver-sortable, no top-level arrays",
)
def emb_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.kmeans_refine(e, centroids, dim=_DIM).select(
        "centroid_id", F.posexplode("centroid").alias("dim_idx", "dim_value")
    )


@register(
    LLM_QUERIES,
    "emb_semantic_dedup",
    _EMB_AUG_CTE
    + f"""
, cen AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < 8),
asg AS (
  SELECT vec_id, v, cid AS cluster_id FROM (
    SELECT a.vec_id, a.v, c.cid,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY {similarity.sql_cosine("a.v", "c.cv", _DIM)} DESC,
                                       c.cid ASC) AS rn
    FROM aug a CROSS JOIN cen c) WHERE rn = 1),
dups AS (
  SELECT b.vec_id, MIN(a.vec_id) AS dup_of
  FROM asg a JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE {similarity.sql_cosine("a.v", "b.v", _DIM)} >= 0.98
  GROUP BY b.vec_id)
SELECT g.vec_id, g.cluster_id, d.dup_of, d.dup_of IS NULL AS is_kept
FROM asg g LEFT JOIN dups d ON d.vec_id = g.vec_id
""",
    "SemDeDup (Abbas et al. 2023) semantic dedup: max-cosine centroid "
    "assignment (8 broadcast centroids), within-cluster-only pairwise "
    "cosine, min-id survivor per >=0.98 group — pair cost is "
    "sum(|cluster|^2), kept linear at scale by growing K with the corpus "
    "(auto_centroids), never the n^2 all-pairs matrix",
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    return similarity.semantic_dedup(
        _aug_embeddings(spark, sf_dir),
        centroids,
        vec_col="v",
        id_col="vec_id",
        threshold=0.98,
    )


@register(
    LLM_QUERIES,
    "emb_mips_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {similarity.sql_dot("qv", "cv", _DIM)} AS ip
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id ASC) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, ip, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= 5
    """,
    "exact maximum-inner-product top-5 (MIPS, the ANN objective when "
    "magnitudes carry signal — recommendation retrieval, unnormalized "
    "two-tower embeddings): broadcast queries, one corpus pass, raw "
    "float64-fold dot product scores bit-matched by the oracle",
)
def emb_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.mips_topk(e, e.where(F.col("vec_id") < 5), k=5)


@register(
    LLM_QUERIES,
    "emb_knn_label_vote",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label AS nl
          FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, nl,
             {similarity.sql_cosine("qv", "cv", _DIM)} AS cos_sim
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= 5 GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes)
    SELECT w.query_id, w.nl AS predicted_label, w.n_votes, q.true_label,
           w.nl = q.true_label AS correct
    FROM win w JOIN q USING (query_id) WHERE vr = 1
    """,
    "kNN label vote: majority label among the exact cosine top-5 "
    "neighbors of 20 query vectors (ties -> smallest label) vs the true "
    "label — the embedding-space auto-labeling / label-propagation "
    "primitive of model-based data curation; queries broadcast, one "
    "corpus scoring pass + one narrow (id, label) lookup pass",
)
def emb_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.knn_label_vote(e, e.where(F.col("vec_id") < 20), k=5)


def _knn_vote_ivf_sql(
    k: int = 5,
    nprobe: int = 2,
    cen_pred: str = "vec_id < 8",
    q_pred: str = "vec_id % 4 = 0",
) -> str:
    """DuckDB twin of the IVF-backed label vote: same centroid set
    (``cen_pred``, default the gate-pinned vec_id < 8), same
    labeled/unlabeled split, same tie rules at every stage (assign/probe
    cos DESC + cid ASC, rank cos DESC + id ASC, vote count DESC + label
    ASC)."""
    return f"""
    WITH cen AS (SELECT vec_id AS cid, embedding AS cv
                 FROM embeddings WHERE {cen_pred}),
    lab AS (SELECT vec_id AS neighbor_id, embedding AS lv, label AS nl
            FROM embeddings WHERE vec_id % 4 <> 0),
    q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
          FROM embeddings WHERE {q_pred}),
    lasg AS (
      SELECT neighbor_id, lv, nl, cid AS bucket FROM (
        SELECT l.*, c.cid,
               ROW_NUMBER() OVER (PARTITION BY l.neighbor_id
                                  ORDER BY {similarity.sql_cosine("l.lv", "c.cv", _DIM)} DESC,
                                           c.cid ASC) AS rn
        FROM lab l CROSS JOIN cen c) WHERE rn = 1),
    probes AS (
      SELECT query_id, qv, cid AS bucket FROM (
        SELECT q.query_id, q.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY {similarity.sql_cosine("q.qv", "c.cv", _DIM)} DESC,
                                           c.cid ASC) AS rn
        FROM q CROSS JOIN cen c) WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, l.neighbor_id, l.nl,
             {similarity.sql_cosine("p.qv", "l.lv", _DIM)} AS cos_sim
      FROM probes p JOIN lasg l USING (bucket)
      WHERE l.neighbor_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= {k} GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes)
    SELECT w.query_id, w.nl AS predicted_label, w.n_votes, q.true_label,
           w.nl = q.true_label AS correct
    FROM win w JOIN q USING (query_id) WHERE vr = 1
    """


@register(
    LLM_QUERIES,
    "emb_knn_label_vote_ivf",
    _knn_vote_ivf_sql(),
    "corpus-scale label propagation (VERDICT r6 #3): every 4th vector is "
    "the unlabeled corpus, the rest the labeled seed set bucketed by an "
    "8-centroid IVF index; each corpus vector probes its 2 nearest "
    "buckets and takes the majority label of its exact-cosine top-5 "
    "among probed candidates. The seed index broadcasts, so the corpus "
    "never shuffles its embeddings — the 100 TB auto-labeling shape the "
    "brute-force emb_knn_label_vote (queries broadcast) cannot take",
)
def emb_knn_label_vote_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.knn_label_vote_ivf(
        labeled=e.where(F.col("vec_id") % 4 != 0),
        unlabeled=e.where(F.col("vec_id") % 4 == 0),
        centroids=centroids,
        k=5,
        nprobe=2,
    )


def _knn_vote_ivf_hier_sql(
    k: int = 5,
    nprobe: int = 2,
    q_pred: str = "vec_id % 4 = 0",
    coarse_probes: int = 3,
) -> str:
    """Two-level twin of :func:`_knn_vote_ivf_sql` for the auto-K lane:
    (k, b) derive from the seed-set COUNT(*); fine centroids group under
    their max-cosine representative (proximity branches, cbr); the seed
    assignment and the corpus probe both route through their
    ``coarse_probes`` best representatives (3 for the vote lane — r13,
    VERDICT r12 #5: the vote argmax is more routing-sensitive than the
    dedup threshold, and the 3-probe widening is the gated fallback;
    the assignment-only lanes keep 2) and rank over the union of those
    branches' members
    (exact rule of similarity._centroid_{assign,probe}_hier_arrow — the
    probe takes the ``nprobe`` nearest over the union, fewer when the
    routed branches hold fewer centroids)."""
    cnt = "SELECT COUNT(*) AS cnt FROM embeddings WHERE vec_id % 4 <> 0"
    return f"""
    WITH params AS ({_hier_params_sql(cnt)}),
    cen AS (
      SELECT vec_id AS cid, embedding AS cv,
             ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos
      FROM embeddings WHERE vec_id < (SELECT k FROM params)),
    reps AS (SELECT pos AS branch, cv FROM cen
             WHERE pos < (SELECT b FROM params)),
    cbr AS ({_HIER_CBR_SQL}),
    lab AS (SELECT vec_id AS neighbor_id, embedding AS lv, label AS nl
            FROM embeddings WHERE vec_id % 4 <> 0),
    q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
          FROM embeddings WHERE {q_pred}),
    lroute AS (
      SELECT neighbor_id, lv, nl, branch FROM (
        SELECT l.*, r.branch,
               ROW_NUMBER() OVER (PARTITION BY l.neighbor_id
                                  ORDER BY {similarity.sql_cosine("l.lv", "r.cv", _DIM)} DESC,
                                           r.branch ASC) AS rn
        FROM lab l CROSS JOIN reps r) WHERE rn <= {coarse_probes}),
    lasg AS (
      SELECT neighbor_id, lv, nl, cid AS bucket FROM (
        SELECT t.neighbor_id, t.lv, t.nl, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.neighbor_id
                                  ORDER BY {similarity.sql_cosine("t.lv", "c.cv", _DIM)} DESC,
                                           c.cid ASC) AS rn
        FROM lroute t JOIN cbr c USING (branch)) WHERE rn = 1),
    qroute AS (
      SELECT query_id, qv, true_label, branch FROM (
        SELECT z.*, r.branch,
               ROW_NUMBER() OVER (PARTITION BY z.query_id
                                  ORDER BY {similarity.sql_cosine("z.qv", "r.cv", _DIM)} DESC,
                                           r.branch ASC) AS rn
        FROM q z CROSS JOIN reps r) WHERE rn <= {coarse_probes}),
    probes AS (
      SELECT query_id, qv, cid AS bucket FROM (
        SELECT t.query_id, t.qv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY t.query_id
                                  ORDER BY {similarity.sql_cosine("t.qv", "c.cv", _DIM)} DESC,
                                           c.cid ASC) AS rn
        FROM qroute t JOIN cbr c USING (branch)) WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, l.neighbor_id, l.nl,
             {similarity.sql_cosine("p.qv", "l.lv", _DIM)} AS cos_sim
      FROM probes p JOIN lasg l USING (bucket)
      WHERE l.neighbor_id <> p.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= {k} GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes)
    SELECT w.query_id, w.nl AS predicted_label, w.n_votes, q.true_label,
           w.nl = q.true_label AS correct
    FROM win w JOIN q USING (query_id) WHERE vr = 1
    """


@register(
    LLM_QUERIES,
    "emb_knn_label_vote_ivf_auto",
    _knn_vote_ivf_hier_sql(),
    "IVF label propagation with the centroid count DERIVED from the "
    "seed-set size (auto_centroids: ceil(n/256)) AND two-level "
    "hierarchical routing (r12, the r11 sf100 wall catch: flat "
    "assign/probe score n*K = n^2/256 — 1,678 s at sf100, ~24x wall at "
    "10x data; routing via ceil(sqrt(K)) proximity-grouped branch "
    "representatives then the 3 best branches is n*~4sqrt(K), back to "
    "~linear; 3 coarse probes, not the dedup lanes' 2, because the "
    "vote argmax is routing-sensitive — r13 audit). "
    "The oracle re-derives K, b and the proximity grouping "
    "from COUNT(*) in SQL and replays both routing stages; vote/rank "
    "tie rules identical to emb_knn_label_vote_ivf",
)
def emb_knn_label_vote_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    labeled = e.where(F.col("vec_id") % 4 != 0)
    k_c = similarity.auto_centroids(labeled.count(), target_cluster=256)
    centroids = e.where(F.col("vec_id") < k_c).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.knn_label_vote_ivf(
        labeled=labeled,
        unlabeled=e.where(F.col("vec_id") % 4 == 0),
        centroids=centroids,
        k=5,
        nprobe=2,
        hierarchical=True,
    )


@register(
    LLM_QUERIES,
    "emb_hier_vote_recall",
    f"""
    WITH ivf AS ({_knn_vote_ivf_hier_sql(
        q_pred="vec_id % 4 = 0 AND vec_id < 4000"
    ).replace(chr(10), chr(10) + '    ')}),
    lab AS (SELECT vec_id AS neighbor_id, embedding AS lv, label AS nl
            FROM embeddings WHERE vec_id % 4 <> 0),
    q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
          FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 4000),
    scored AS (
      SELECT q.query_id, l.neighbor_id, l.nl,
             {similarity.sql_cosine("q.qv", "l.lv", _DIM)} AS cos_sim
      FROM q CROSS JOIN lab l WHERE l.neighbor_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= 5 GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes),
    brute AS (
      SELECT w.query_id, w.nl AS predicted_label,
             w.nl = q.true_label AS correct
      FROM win w JOIN q USING (query_id) WHERE vr = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN i.predicted_label = b.predicted_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN i.predicted_label = b.predicted_label
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS agree_rate,
           CAST(SUM(CASE WHEN i.correct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct_ivf,
           CAST(SUM(CASE WHEN b.correct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct_brute
    FROM ivf i JOIN brute b USING (query_id)
    """,
    "hier-routing quality audit (r12 — the emb_label_vote_ivf_recall "
    "companion for the two-level auto-K lane): per-vector prediction "
    "agreement between the hierarchical-routed auto-K IVF vote and the "
    "exact brute-force vote over a bounded probe set, plus both "
    "accuracy counts — the measurement that tells a pipeline owner "
    "whether 2-branch routing retains enough recall to trust propagated "
    "labels at scales where brute force (and flat n*K assignment) are "
    "unaffordable",
)
def emb_hier_vote_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    labeled = e.where(F.col("vec_id") % 4 != 0)
    unlabeled = e.where((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000))
    k_c = similarity.auto_centroids(labeled.count(), target_cluster=256)
    centroids = e.where(F.col("vec_id") < k_c).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    ivf = similarity.knn_label_vote_ivf(
        labeled, unlabeled, centroids, k=5, nprobe=2, hierarchical=True
    ).select("query_id", "predicted_label", "correct")
    lab = labeled.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("__nl"),
    )
    q = unlabeled.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("true_label"),
    )
    # r13 (guide §2.6): spread the bounded query batch across the
    # cluster BEFORE fanning out against the broadcast seed set — a
    # mid-size parquet reads as ONE input split, which otherwise pins
    # |q| x |lab| pair scoring AND the per-query window sort to a
    # single task (measured: the sf10 recall audit sat on one core for
    # 37+ min). The partition count is EXPLICIT: the query batch is
    # only ~KBs, so AQE would coalesce an un-pinned shuffle right back
    # to one partition before the fan-out stage. Hashing on query_id
    # also satisfies the window's required distribution, so no extra
    # exchange is introduced.
    scored = (
        q.repartition(
            spark.sparkContext.defaultParallelism, "query_id"
        )
        .crossJoin(F.broadcast(lab))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            similarity.pair_cosine_arrow(F.col("__qv"), F.col("__cv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    votes = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= 5)
        .groupBy("query_id", "true_label", "__nl")
        .agg(F.count("*").alias("n_votes"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__nl")
    )
    brute = (
        votes.withColumn("__vr", F.row_number().over(w2))
        .where(F.col("__vr") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("b_pred"),
            (F.col("__nl") == F.col("true_label")).alias("b_correct"),
        )
    )
    joined = ivf.join(brute, "query_id")
    agree = F.sum(
        F.when(F.col("predicted_label") == F.col("b_pred"), 1).otherwise(0)
    ).cast("bigint")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        agree.alias("n_agree"),
        (agree.cast("double") / F.count("*")).alias("agree_rate"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct_ivf"),
        F.sum(F.when(F.col("b_correct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct_brute"),
    )


@register(
    LLM_QUERIES,
    "emb_label_vote_ivf_recall",
    f"""
    WITH ivf AS ({_knn_vote_ivf_sql(
        q_pred="vec_id % 4 = 0 AND vec_id < 4000"
    ).replace(chr(10), chr(10) + '    ')}),
    lab AS (SELECT vec_id AS neighbor_id, embedding AS lv, label AS nl
            FROM embeddings WHERE vec_id % 4 <> 0),
    q AS (SELECT vec_id AS query_id, embedding AS qv, label AS true_label
          FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 4000),
    scored AS (
      SELECT q.query_id, l.neighbor_id, l.nl,
             {similarity.sql_cosine("q.qv", "l.lv", _DIM)} AS cos_sim
      FROM q CROSS JOIN lab l WHERE l.neighbor_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= 5 GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes),
    brute AS (
      SELECT w.query_id, w.nl AS predicted_label,
             w.nl = q.true_label AS correct
      FROM win w JOIN q USING (query_id) WHERE vr = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN i.predicted_label = b.predicted_label
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN i.predicted_label = b.predicted_label
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS agree_rate,
           CAST(SUM(CASE WHEN i.correct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct_ivf,
           CAST(SUM(CASE WHEN b.correct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct_brute
    FROM ivf i JOIN brute b USING (query_id)
    """,
    "ANN-vote calibration (the emb_ivf_recall companion for label "
    "propagation): per-corpus-vector prediction agreement between the "
    "IVF-probed vote and the exact brute-force vote, plus both accuracy "
    "counts — the measurement that tells a pipeline owner whether "
    "nprobe/K is high enough to trust propagated labels at scales where "
    "brute force is unaffordable",
)
def emb_label_vote_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    labeled = e.where(F.col("vec_id") % 4 != 0)
    # the recall AUDIT probes a bounded deterministic sample, not every
    # unlabeled vector: the brute twin is O(|probe| x corpus), so an
    # unbounded probe set makes the audit quadratic in the corpus
    # (measured 64 s at sf1; the production op emb_knn_label_vote_ivf
    # itself stays unbounded — it's bucket-pruned, the audit is not)
    unlabeled = e.where((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000))
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    ivf = similarity.knn_label_vote_ivf(
        labeled, unlabeled, centroids, k=5, nprobe=2
    ).select("query_id", "predicted_label", "correct")
    # brute twin: same labeled/unlabeled split, full seed-set scan. The
    # unlabeled side is corpus-sized, so the generic knn_label_vote
    # (broadcast queries) shape is wrong here — score via a plain join
    # with the labeled side broadcast, mirroring the IVF plan minus
    # bucket pruning.
    from pyspark.sql import Window

    lab = labeled.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("__nl"),
    )
    q = unlabeled.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("true_label"),
    )
    # r13 (guide §2.6): spread the bounded query batch across the
    # cluster BEFORE fanning out against the broadcast seed set — a
    # mid-size parquet reads as ONE input split, which otherwise pins
    # |q| x |lab| pair scoring AND the per-query window sort to a
    # single task (measured: the sf10 recall audit sat on one core for
    # 37+ min). The partition count is EXPLICIT: the query batch is
    # only ~KBs, so AQE would coalesce an un-pinned shuffle right back
    # to one partition before the fan-out stage. Hashing on query_id
    # also satisfies the window's required distribution, so no extra
    # exchange is introduced.
    scored = (
        q.repartition(
            spark.sparkContext.defaultParallelism, "query_id"
        )
        .crossJoin(F.broadcast(lab))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            similarity.pair_cosine_arrow(F.col("__qv"), F.col("__cv")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    votes = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= 5)
        .groupBy("query_id", "true_label", "__nl")
        .agg(F.count("*").alias("n_votes"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__nl")
    )
    brute = (
        votes.withColumn("__vr", F.row_number().over(w2))
        .where(F.col("__vr") == 1)
        .select(
            "query_id",
            F.col("__nl").alias("b_pred"),
            (F.col("__nl") == F.col("true_label")).alias("b_correct"),
        )
    )
    joined = ivf.join(brute, "query_id")
    agree = F.sum(
        F.when(F.col("predicted_label") == F.col("b_pred"), 1).otherwise(0)
    ).cast("bigint")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        agree.alias("n_agree"),
        (agree.cast("double") / F.count("*")).alias("agree_rate"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct_ivf"),
        F.sum(F.when(F.col("b_correct"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct_brute"),
    )


# ---------------------------------------------------------------------------
# scalar int8 quantization (r8)
# ---------------------------------------------------------------------------

_INT8_CTE = f"""
WITH q8 AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
           (acc, x) -> greatest(acc, x)) AS maxabs,
         embedding
  FROM embeddings),
codes AS (
  SELECT vec_id, maxabs,
         list_transform(embedding, x ->
           CASE WHEN maxabs = 0 THEN 0
                ELSE greatest(-127, least(127,
                  CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5)
                       AS INTEGER))) END) AS codes
  FROM q8),
i8 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.maxabs * c.maxabs / 16129.0 * CAST(
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, {_DIM + 1}),
                            i -> CAST(q.codes[i] * c.codes[i] AS BIGINT))),
             (acc, x) -> acc + x) AS DOUBLE) AS approx_dot
  FROM codes q CROSS JOIN codes c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
i8r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, neighbor_id ASC)
              AS rnk
  FROM i8)
"""


@register(
    LLM_QUERIES,
    "emb_int8_topk",
    _INT8_CTE
    + """
    SELECT query_id, neighbor_id, approx_dot, CAST(rnk AS INT) AS "rank"
    FROM i8r WHERE rnk <= 5
    """,
    "scalar int8 embedding quantization + approximate dot top-5 (r8): "
    "per-vector symmetric max-abs scale, codes clamp(floor(x*127/m+0.5)) "
    "— 4x less scan bandwidth than float32, the standard first-line "
    "compression before PQ. The integer code dot is an exact int64 fold "
    "and the rescale is one deterministic double expression, so even the "
    "APPROXIMATE scores oracle-check bit-for-bit. Plan: quantization is "
    "one narrow whole-stage-codegen pass (no shuffle, no Python), "
    "queries broadcast, corpus never shuffles",
)
def emb_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.int8_topk(e, e.where(F.col("vec_id") < 5), k=5)


@register(
    LLM_QUERIES,
    "emb_int8_recall",
    _INT8_CTE
    + f"""
    , exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {similarity.sql_dot("q.embedding", "c.embedding", _DIM)} AS ip
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
    exr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id ASC) AS rnk
      FROM exact)
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           COUNT(a.neighbor_id) / 10.0 AS recall
    FROM exr e
    LEFT JOIN (SELECT query_id, neighbor_id FROM i8r WHERE rnk <= 10) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    WHERE e.rnk <= 10
    GROUP BY e.query_id
    """,
    "recall@10 of int8-quantized dot ranking vs the exact float64 MIPS "
    "ranking, per query — the quantization-quality metric itself is "
    "oracle-gated (both rankings and the intersection count are "
    "deterministic), so a quantizer regression that silently hurt recall "
    "would fail the gate, not just a benchmark",
)
def emb_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    approx = similarity.int8_topk(e, q, k=10).select(
        "query_id", "neighbor_id"
    )
    exact = similarity.mips_topk(e, q, k=10).select(
        "query_id", F.col("neighbor_id").alias("__en")
    )
    return (
        exact.join(
            approx,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.__en),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("neighbor_id").cast("bigint").alias("n_matched"),
            (F.count("neighbor_id") / F.lit(10.0)).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (r8 session 4)
# ---------------------------------------------------------------------------

# 16-dim Rademacher projection: reuses the seedless hyperplanes() family —
# same literals embedded in the Spark plan and the oracle SQL
_RP_PLANES = similarity.hyperplanes(16, _DIM)

_RP_CTE = f"""
WITH p AS (
  SELECT vec_id,
         {similarity.sql_rp_project("embedding", _RP_PLANES, _DIM)} AS pv
  FROM embeddings),
rp AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {similarity.sql_dot("q.pv", "c.pv", 16)} AS approx_dot
  FROM p q CROSS JOIN p c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
rpr AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, neighbor_id ASC)
              AS rnk
  FROM rp)
"""


@register(
    LLM_QUERIES,
    "emb_rp_topk",
    _RP_CTE
    + """
    SELECT query_id, neighbor_id, approx_dot, CAST(rnk AS INT) AS "rank"
    FROM rpr WHERE rnk <= 5
    """,
    "Johnson-Lindenstrauss random-projection ANN (r8): 64-dim embeddings "
    "projected to 16 dims through a seedless ±1 Rademacher matrix "
    "(Achlioptas 2003 — ±1 entries satisfy the JL lemma), then ranked by "
    "the projected dot product — 4x less per-vector bandwidth in the "
    "scoring pass, the standard first step before quantization when the "
    "index must stay float. The projection and score are deterministic "
    "float64 folds over shared literals, so even the APPROXIMATE scores "
    "oracle-check bit-for-bit. Plan: projection is one narrow "
    "Arrow-kernel pass (no shuffle; same-order fold, so still exact), "
    "queries broadcast, corpus never shuffles",
)
def emb_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.rp_topk(
        e, e.where(F.col("vec_id") < 5), _RP_PLANES, k=5
    )


@register(
    LLM_QUERIES,
    "emb_rp_recall",
    _RP_CTE
    + f"""
    , exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {similarity.sql_dot("q.embedding", "c.embedding", _DIM)} AS ip
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
    exr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id ASC) AS rnk
      FROM exact)
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           COUNT(a.neighbor_id) / 10.0 AS recall
    FROM exr e
    LEFT JOIN (SELECT query_id, neighbor_id FROM rpr WHERE rnk <= 10) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    WHERE e.rnk <= 10
    GROUP BY e.query_id
    """,
    "recall@10 of the 16-dim JL-projected ranking vs the exact float64 "
    "MIPS ranking, per query — closes the gated compression-quality "
    "ladder (int8, binary, matryoshka, PQ, now JL): the distortion the "
    "JL lemma bounds in theory is oracle-measured in practice, so a "
    "projection regression fails the gate, not just a benchmark",
)
def emb_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    approx = similarity.rp_topk(e, q, _RP_PLANES, k=10).select(
        "query_id", "neighbor_id"
    )
    exact = similarity.mips_topk(e, q, k=10).select(
        "query_id", F.col("neighbor_id").alias("__en")
    )
    return (
        exact.join(
            approx,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.__en),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("neighbor_id").cast("bigint").alias("n_matched"),
            (F.count("neighbor_id") / F.lit(10.0)).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# hybrid lexical + vector retrieval with reciprocal-rank fusion (r8)
# ---------------------------------------------------------------------------

_HYBRID_QS = (11, 23, 37)  # query doc ids (arbitrary, deterministic)
_RRF_K = 60
_TOPN = 20


def _hybrid_sql() -> str:
    qs = ", ".join(str(q) for q in _HYBRID_QS)
    return f"""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qterms AS (
      SELECT query_id, term FROM (
        SELECT t.doc_id AS query_id, t.term,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                  ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC,
                                           t.term ASC) AS rnk
        FROM tf t JOIN df d ON d.term = t.term
        WHERE t.doc_id IN ({qs}))
      WHERE rnk <= 3),
    lex AS (
      SELECT q.query_id, t.doc_id,
             CAST(SUM(CAST(floor(CAST(t.tf AS DOUBLE) / d.df * 1000000)
                           AS BIGINT)) AS BIGINT) AS lex_q
      FROM qterms q
      JOIN tf t ON t.term = q.term AND t.doc_id <> q.query_id
      JOIN df d ON d.term = q.term
      GROUP BY 1, 2),
    lexr AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY lex_q DESC, doc_id ASC) AS lex_rank
      FROM lex),
    sem AS (
      SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
             {similarity.sql_cosine("q.embedding", "c.embedding", _DIM)}
               AS cos_sim
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id IN ({qs}) AND c.vec_id <> q.vec_id
        AND c.vec_id IN (SELECT doc_id FROM documents)),
    semr AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, doc_id ASC)
               AS sem_rank
      FROM sem),
    fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             COALESCE(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({_RRF_K} + s.sem_rank), 0.0) AS rrf_score
      FROM (SELECT * FROM lexr WHERE lex_rank <= {_TOPN}) l
      FULL OUTER JOIN (SELECT * FROM semr WHERE sem_rank <= {_TOPN}) s
        ON s.query_id = l.query_id AND s.doc_id = l.doc_id)
    SELECT query_id, doc_id, CAST(lex_rank AS INT) AS lex_rank,
           CAST(sem_rank AS INT) AS sem_rank, rrf_score,
           CAST(fr AS INT) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf_score DESC, doc_id ASC)
                      AS fr
          FROM fused)
    WHERE fr <= 10
    """


@register(
    LLM_QUERIES,
    "doc_hybrid_retrieval",
    _hybrid_sql(),
    "hybrid retrieval with reciprocal-rank fusion (r8): a lexical "
    "channel (top-3 tf/df query terms, per-doc score = sum of "
    "1e6-quantized tf/df parts — integer-exact, so the float-sum "
    "ordering problem never exists) and a semantic channel (exact "
    "cosine over the aligned embedding table) each rank top-20; RRF "
    "1/(60+r) fuses them, missing-channel docs contribute 0. The "
    "RAG-ingestion ranking primitive: rrf needs only RANKS, so the "
    "fusion is engine-exact even though the channels use different "
    "score scales. Plan: tf/df broadcast joins, both channels reuse the "
    "query_id window partitioning, corpus never shuffles embeddings",
)
def doc_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = load_table(spark, sf_dir, "embeddings")
    qs = list(_HYBRID_QS)

    # r13 (guide §2.4): persist the posting table once — it feeds
    # df_tab and both scored_terms consumers (query-term ranking + the
    # lexical scoring join); same materialize-the-index shape as
    # doc_bm25_retrieval and the LSH signature tables. r14 (VERDICT r13
    # #2): size-gated like bm25's — the unconditional persist REGRESSED
    # the bench-SF lane; above the input-bytes threshold the saved
    # corpus passes dominate and the persist stays.
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    if input_bytes(sf_dir, "documents") >= PERSIST_MIN_INPUT_BYTES:
        tf = tf.persist()
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored_terms = tf.join(F.broadcast(df_tab), "term")
    w_q = Window.partitionBy("doc_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), F.asc("term")
    )
    qterms = (
        scored_terms.where(F.col("doc_id").isin(qs))
        .withColumn("__r", F.row_number().over(w_q))
        .where(F.col("__r") <= 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    part = F.floor(
        F.col("tf").cast("double") / F.col("df") * F.lit(1000000.0)
    ).cast("long")
    lex = (
        scored_terms.join(F.broadcast(qterms), "term")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(part).cast("long").alias("lex_q"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("lex_q"), F.asc("doc_id")
    )
    lexr = (
        lex.withColumn("lex_rank", F.row_number().over(w_lex))
        .where(F.col("lex_rank") <= _TOPN)
        .select("query_id", "doc_id", "lex_rank")
    )

    corpus = e.join(
        d.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    sem = similarity.brute_force_topk(
        corpus, e.where(F.col("vec_id").isin(qs)), k=_TOPN
    ).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("sem_rank"),
    )

    fused = lexr.join(sem, ["query_id", "doc_id"], "full_outer").withColumn(
        "rrf_score",
        F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)
        ),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .where(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            "rrf_score",
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
    )


@register(
    LLM_QUERIES,
    "emb_matryoshka_recall",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    tr AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {similarity.sql_cosine("qv", "cv", 32)} DESC,
               neighbor_id ASC) AS rnk
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
    fu AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               {similarity.sql_cosine("qv", "cv", _DIM)} DESC,
               neighbor_id ASC) AS rnk
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id)
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_matched,
           COUNT(t.neighbor_id) / 10.0 AS recall
    FROM fu f
    LEFT JOIN (SELECT query_id, neighbor_id FROM tr WHERE rnk <= 10) t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    WHERE f.rnk <= 10
    GROUP BY f.query_id
    """,
    "matryoshka-truncation recall (r8): rank by cosine over only the "
    "FIRST 32 of 64 dims (the MRL deploy pattern — half the scan "
    "bandwidth and index memory) and measure recall@10 against the "
    "full-dimension exact ranking, per query. Like emb_int8_recall, the "
    "quality metric of the approximation is itself oracle-gated",
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    half = e.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    q_ids = F.col("vec_id") < 5
    approx = similarity.brute_force_topk(
        half, half.where(q_ids), k=10
    ).select("query_id", "neighbor_id")
    exact = similarity.brute_force_topk(e, e.where(q_ids), k=10).select(
        "query_id", F.col("neighbor_id").alias("__en")
    )
    return (
        exact.join(
            approx,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.__en),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("neighbor_id").cast("bigint").alias("n_matched"),
            (F.count("neighbor_id") / F.lit(10.0)).alias("recall"),
        )
    )


@register(
    LLM_QUERIES,
    "emb_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS negative_id, embedding AS cv, label AS cl
          FROM embeddings),
    scored AS (
      SELECT anchor_id, negative_id,
             {similarity.sql_cosine("qv", "cv", _DIM)} AS cos_sim
      FROM q CROSS JOIN c
      WHERE cl IS DISTINCT FROM ql AND negative_id <> anchor_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY cos_sim DESC, negative_id ASC)
                  AS rnk
      FROM scored)
    SELECT anchor_id, negative_id, cos_sim, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= 3
    """,
    "hard-negative mining for contrastive training (r8): per anchor, "
    "the top-3 highest-cosine vectors carrying a DIFFERENT label — the "
    "near-misses that make contrastive/triplet losses learn anything "
    "(random negatives are trivially separable). Same broadcast-anchors "
    "/ one-corpus-pass / per-anchor-window plan as brute-force top-k "
    "with the label-mismatch predicate fused into the scan; exact "
    "cosine, deterministic ties, oracle-exact",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    c = e.select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("__cl"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(
            ~F.col("__cl").eqNullSafe(F.col("__ql"))
            & (F.col("negative_id") != F.col("anchor_id"))
        )
        .withColumn(
            "cos_sim", similarity.cosine(F.col("__qv"), F.col("__cv"))
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "anchor_id",
            "negative_id",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


@register(
    LLM_QUERIES,
    "emb_training_triplets",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding AS cv, label AS cl FROM embeddings),
    pos AS (
      SELECT anchor_id, vec_id AS positive_id, cos_sim AS cos_pos FROM (
        SELECT anchor_id, vec_id,
               {similarity.sql_cosine("qv", "cv", _DIM)} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY
                 {similarity.sql_cosine("qv", "cv", _DIM)} DESC,
                 vec_id ASC) AS rnk
        FROM q CROSS JOIN c
        WHERE cl = ql AND vec_id <> anchor_id)
      WHERE rnk = 1),
    neg AS (
      SELECT anchor_id, vec_id AS negative_id, cos_sim AS cos_neg FROM (
        SELECT anchor_id, vec_id,
               {similarity.sql_cosine("qv", "cv", _DIM)} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY
                 {similarity.sql_cosine("qv", "cv", _DIM)} DESC,
                 vec_id ASC) AS rnk
        FROM q CROSS JOIN c
        WHERE cl IS DISTINCT FROM ql AND vec_id <> anchor_id)
      WHERE rnk = 1)
    SELECT p.anchor_id, p.positive_id, n.negative_id, p.cos_pos, n.cos_neg,
           p.cos_pos - n.cos_neg AS margin,
           p.cos_pos - n.cos_neg > 0.0 AS satisfied
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
    "contrastive triplet assembly (r8): per anchor, the nearest "
    "same-label vector (positive) and the nearest different-label "
    "vector (hardest negative) with the triplet margin cos_pos - "
    "cos_neg and a satisfied flag — the (a, p, n) training-example prep "
    "for triplet/InfoNCE losses, and the margin audit that tells you "
    "which anchors are currently violated. One corpus pass scores both "
    "roles (label predicate splits it), everything else is per-anchor "
    "windows over broadcast-sized rows",
)
def emb_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("__ql"),
    )
    c = e.select(
        "vec_id", F.col("embedding").alias("__cv"), F.col("label").alias("__cl")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("anchor_id"))
        .withColumn(
            "cos_sim", similarity.cosine(F.col("__qv"), F.col("__cv"))
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )

    def top1(df):
        return (
            df.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .drop("__r")
        )

    pos = top1(scored.where(F.col("__cl") == F.col("__ql"))).select(
        "anchor_id",
        F.col("vec_id").alias("positive_id"),
        F.col("cos_sim").alias("cos_pos"),
    )
    neg = top1(
        scored.where(~F.col("__cl").eqNullSafe(F.col("__ql")))
    ).select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        F.col("cos_sim").alias("cos_neg"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "cos_pos",
        "cos_neg",
        (F.col("cos_pos") - F.col("cos_neg")).alias("margin"),
        (F.col("cos_pos") - F.col("cos_neg") > 0.0).alias("satisfied"),
    )


# ---------------------------------------------------------------------------
# 1-bit sign quantization + Hamming retrieval (r8)
# ---------------------------------------------------------------------------

def _sign_pack_sql(col: str, lo: int) -> str:
    # MSB-first multiplication fold, twin of sign_pack_codes: acc*2 + bit
    # over i = 31..0 (no shifts, no overflow)
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(31, -1, -1), "
        f"i -> CASE WHEN {col}[CAST(i + 1 + {lo} AS INT)] >= 0 "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)), "
        "(acc, x) -> acc * 2 + x)"
    )


_BIN_CTE = f"""
WITH codes AS (
  SELECT vec_id,
         {_sign_pack_sql('embedding', 0)} AS code_lo,
         {_sign_pack_sql('embedding', 32)} AS code_hi,
         embedding
  FROM embeddings),
bh AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.code_lo, c.code_lo))
              + bit_count(xor(q.code_hi, c.code_hi)) AS INT) AS hamming
  FROM codes q CROSS JOIN codes c
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
bhr AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, neighbor_id ASC) AS rnk
  FROM bh)
"""


@register(
    LLM_QUERIES,
    "emb_binary_hamming_topk",
    _BIN_CTE
    + """
    SELECT query_id, neighbor_id, hamming, CAST(rnk AS INT) AS "rank"
    FROM bhr WHERE rnk <= 10
    """,
    "1-bit sign quantization + Hamming top-10 (r8): each 64-dim float32 "
    "vector packs to TWO int64 words (sign bit per dim, shifts < 32 so "
    "the packing is engine-portable) — 32x less memory than float32, "
    "ranked by XOR popcount. The roughest tier of the quantization "
    "ladder (float32 -> int8 -> 1-bit), integer-exact so even this "
    "approximation oracle-checks bit-for-bit",
)
def emb_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.binary_hamming_topk(
        e, e.where(F.col("vec_id") < 5), k=10
    )


@register(
    LLM_QUERIES,
    "emb_binary_recall",
    _BIN_CTE
    + f"""
    , exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {similarity.sql_cosine("q.embedding", "c.embedding", _DIM)}
               AS cos_sim
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
    exr AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC)
                  AS rnk
      FROM exact)
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_matched,
           COUNT(a.neighbor_id) / 10.0 AS recall
    FROM exr e
    LEFT JOIN (SELECT query_id, neighbor_id FROM bhr WHERE rnk <= 10) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    WHERE e.rnk <= 10
    GROUP BY e.query_id
    """,
    "recall@10 of the 1-bit Hamming ranking vs exact cosine — completes "
    "the gated quantization-quality ladder (emb_int8_recall, "
    "emb_matryoshka_recall, this): every compression tier's quality "
    "metric is itself oracle-exact, so a quantizer regression shows as "
    "a failed gate, not a quiet quality drop",
)
def emb_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    approx = similarity.binary_hamming_topk(e, q, k=10).select(
        "query_id", "neighbor_id"
    )
    exact = similarity.brute_force_topk(e, q, k=10).select(
        "query_id", F.col("neighbor_id").alias("__en")
    )
    return (
        exact.join(
            approx,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.__en),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("neighbor_id").cast("bigint").alias("n_matched"),
            (F.count("neighbor_id") / F.lit(10.0)).alias("recall"),
        )
    )


def _cluster_quality_sql(n_centroids: int = 8, dim: int = 64) -> str:
    cos_a = similarity.sql_cosine("c.v", "n.cv", dim)
    d2 = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> "
        f"(v[i] - cv[i]) * (v[i] - cv[i]))), (acc, x) -> acc + x)"
    )
    cd2 = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> "
        f"(ca[i] - cb[i]) * (ca[i] - cb[i]))), (acc, x) -> acc + x)"
    )
    cosv = similarity.sql_cosine("v", "cv", dim)
    return f"""
    WITH cen AS (
      SELECT vec_id AS cluster_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < {n_centroids}),
    corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    assign_scored AS (
      SELECT c.vec_id, c.v, n.cluster_id, n.cv,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {cos_a} DESC, n.cluster_id ASC) AS r
      FROM corp c CROSS JOIN cen n),
    assigned AS (SELECT vec_id, v, cluster_id, cv
                 FROM assign_scored WHERE r = 1),
    per AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CAST(floor({d2} * 1e9) AS BIGINT)) AS BIGINT) AS sse_q,
             CAST(SUM(CAST(floor({cosv} * 1e9) AS BIGINT)) AS BIGINT) AS cos_q
      FROM assigned GROUP BY cluster_id),
    seps AS (
      SELECT a.cluster_id, b.cluster_id AS other_id, {cd2} AS cd2,
             ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                                ORDER BY {cd2} ASC, b.cluster_id ASC) AS r
      FROM (SELECT cluster_id, cv AS ca FROM cen) a
      CROSS JOIN (SELECT cluster_id, cv AS cb FROM cen) b
      WHERE a.cluster_id <> b.cluster_id),
    sep AS (SELECT cluster_id, other_id AS nearest_cid, sqrt(cd2) AS centroid_sep
            FROM seps WHERE r = 1)
    SELECT p.cluster_id, p.n_members,
           CAST(p.sse_q AS DOUBLE) / 1e9 AS sse,
           CAST(p.sse_q AS DOUBLE) / (CAST(p.n_members AS DOUBLE) * 1e9)
             AS mean_sq_dist,
           CAST(p.cos_q AS DOUBLE) / (CAST(p.n_members AS DOUBLE) * 1e9)
             AS mean_cos,
           s.nearest_cid, s.centroid_sep
    FROM per p JOIN sep s USING (cluster_id)
    """


@register(
    LLM_QUERIES,
    "emb_cluster_quality",
    _cluster_quality_sql(),
    "k-means/IVF cluster-quality report: per-cluster member count, "
    "within-cluster SSE + mean squared L2 + mean cosine to centroid "
    "(int64-quantized order-free sums, bit-exact on any partitioning), "
    "nearest-other-centroid separation — the K-is-too-small diagnostic "
    "before building IVF/SemDeDup on the clustering",
)
def emb_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return similarity.cluster_quality_report(e, centroids)


@register(
    LLM_QUERIES,
    "emb_dim_stats",
    """
    WITH ex AS (
      SELECT CAST(u.i - 1 AS INT) AS dim_idx,
             CAST(embedding[u.i] AS DOUBLE) AS v
      FROM embeddings
      CROSS JOIN (SELECT CAST(range AS INT) + 1 AS i
                  FROM range(0, 64)) u),
    agg AS (
      SELECT dim_idx,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(v * 1e9) AS BIGINT)) AS BIGINT) AS sq,
             CAST(SUM(CAST(floor(v * v * 1e9) AS BIGINT)) AS BIGINT) AS ssq,
             MIN(v) AS min_val,
             MAX(v) AS max_val
      FROM ex GROUP BY dim_idx)
    SELECT dim_idx, n,
           CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9) AS mean,
           CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)
             - (CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))
               * (CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)) AS variance,
           sqrt(greatest(
             CAST(ssq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)
             - (CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9))
               * (CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e9)), 0.0)) AS std,
           min_val, max_val
    FROM agg
    """,
    "per-dimension embedding stats (n/mean/variance/std/min/max) via "
    "int64-quantized order-free sums — the z-score fit table and "
    "distribution-drift check; posexplode fans out but the 64-group "
    "aggregate is partial map-side, so the shuffle is O(dims), not the "
    "corpus",
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.dim_stats(e)


@register(
    LLM_QUERIES,
    "emb_mutual_knn",
    f"""
    WITH c AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id % 5 = 0),
    scored AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
             {similarity.sql_cosine("a.embedding", "b.embedding", _DIM)}
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {similarity.sql_cosine("a.embedding", "b.embedding",
                                               _DIM)} DESC,
                        b.vec_id ASC) AS r
      FROM c a JOIN c b ON a.vec_id <> b.vec_id),
    topk AS (SELECT * FROM scored WHERE r <= 5)
    SELECT a.q AS id_a, a.n AS id_b, a.cos_sim AS score,
           CAST(a.r AS INT) AS rank_ab, CAST(b.r AS INT) AS rank_ba
    FROM topk a JOIN topk b ON a.q = b.n AND a.n = b.q
    WHERE a.q < a.n
    """,
    "reciprocal (mutual) k-NN pairs: an edge survives only if each "
    "endpoint is in the other's top-5 — the hub-suppressing robustness "
    "filter before near-dup clustering; composes with any retrieval "
    "backend, cost one O(n*k) self-join of the top-k table (gate uses "
    "the %5 corpus subset with brute scoring; the scale path feeds it "
    "IVF/IVF-PQ top-k instead)",
)
def emb_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 5 == 0
    )
    # self-retrieval is n^2/25 scored pairs -> Arrow kernel (bit-identical
    # to the fold; 44 s -> 17 s at sf1, remainder is the top-k window
    # shuffle, not scoring). The mutual filter itself stays
    # O(n*k) regardless of backend.
    return similarity.mutual_topk_pairs(
        similarity.brute_force_topk(e, e, k=5, use_arrow=True)
    )


@register(
    LLM_QUERIES,
    "emb_ivf_pq_recall",
    f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM ({_brute_topk_sql()}) x),
    approx AS (
      SELECT query_id, neighbor_id
      FROM ({similarity.sql_ivf_pq_topk()}) y)
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    "recall@5 of composed IVF-PQ against the exact ranking, per query — "
    "closes the recall-gate matrix (IVF, int8, 1-bit, matryoshka, now "
    "IVFADC): the two-stage approximation (bucket pruning x residual "
    "codes) is itself oracle-measured, not assumed",
)
def emb_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    codebook = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    approx = (
        similarity.ivf_pq_topk(e, q, centroids, codebook, k=5, nprobe=2)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("bigint").alias("n_hit"),
            (F.count("__hit").cast("double") / F.lit(5)).alias(
                "recall_at_5"
            ),
        )
    )


def _power_iter_sql(dim: int = 64, iterations: int = 4) -> str:
    parts = [
        "WITH corp AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x "
        "FROM embeddings)",
        f"v0 AS (SELECT list_transform(range(1, {dim + 1}), "
        "i -> CAST(1.0 AS DOUBLE)) AS v)",
    ]
    for t in range(1, iterations + 1):
        parts.append(f"""sc{t} AS (
          SELECT c.x, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, {dim + 1}), j -> c.x[j] * p.v[j])),
            (acc, y) -> acc + y) AS s
          FROM corp c CROSS JOIN v{t - 1} p)""")
        parts.append(f"""q{t} AS (
          SELECT CAST(u.j - 1 AS INT) AS dim_idx,
                 CAST(floor((x[u.j] * s) * 1e6) AS BIGINT) AS q
          FROM sc{t} CROSS JOIN (SELECT CAST(range AS INT) + 1 AS j
                                FROM range(0, {dim})) u)""")
        parts.append(
            f"ps{t} AS (SELECT dim_idx, CAST(SUM(q) AS BIGINT) AS sq "
            f"FROM q{t} GROUP BY dim_idx)"
        )
        parts.append(f"mx{t} AS (SELECT MAX(abs(sq)) AS m FROM ps{t})")
        if t < iterations:
            parts.append(
                f"v{t} AS (SELECT list(CAST(sq AS DOUBLE) / CAST(m AS DOUBLE)"
                f" ORDER BY dim_idx) AS v FROM ps{t} CROSS JOIN mx{t})"
            )
    body = ", ".join(parts[1:])
    return (
        parts[0] + ", " + body
        + f""" SELECT dim_idx, sq AS u_q,
                 CAST(sq AS DOUBLE) / CAST(m AS DOUBLE) AS u_val
           FROM ps{iterations} CROSS JOIN mx{iterations}"""
    )


def _pi_block(prefix: str, corp: str, dim: int, iterations: int) -> list[str]:
    """Unrolled power-iteration CTE chain over the ``corp`` CTE, with all
    intermediate names prefixed (so two chains can coexist in one query).
    Mirrors _power_iter_sql's arithmetic exactly."""
    parts = [
        f"{prefix}v0 AS MATERIALIZED (SELECT list_transform(range(1, {dim + 1}), "
        "i -> CAST(1.0 AS DOUBLE)) AS v)"
    ]
    for t in range(1, iterations + 1):
        parts.append(f"""{prefix}sc{t} AS MATERIALIZED (
          SELECT c.x, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, {dim + 1}), j -> c.x[j] * p.v[j])),
            (acc, y) -> acc + y) AS s
          FROM {corp} c CROSS JOIN {prefix}v{t - 1} p)""")
        parts.append(f"""{prefix}q{t} AS MATERIALIZED (
          SELECT CAST(u.j - 1 AS INT) AS dim_idx,
                 CAST(floor((x[u.j] * s) * 1e6) AS BIGINT) AS q
          FROM {prefix}sc{t} CROSS JOIN (SELECT CAST(range AS INT) + 1 AS j
                                FROM range(0, {dim})) u)""")
        parts.append(
            f"{prefix}ps{t} AS MATERIALIZED (SELECT dim_idx, CAST(SUM(q) AS BIGINT) AS sq "
            f"FROM {prefix}q{t} GROUP BY dim_idx)"
        )
        parts.append(
            f"{prefix}mx{t} AS MATERIALIZED (SELECT MAX(abs(sq)) AS m FROM {prefix}ps{t})"
        )
        if t < iterations:
            parts.append(
                f"{prefix}v{t} AS MATERIALIZED (SELECT list(CAST(sq AS DOUBLE) / "
                f"CAST(m AS DOUBLE) ORDER BY dim_idx) AS v "
                f"FROM {prefix}ps{t} CROSS JOIN {prefix}mx{t})"
            )
    return parts


def _power_iter2_sql(dim: int = 64, iterations: int = 4) -> str:
    """Two components by deflation: the first chain runs on the raw
    vectors, the residual projection x - (x.u/u.u) u is per-row double
    arithmetic (division-then-multiply, the exact expression the engine
    codegens), and the second chain runs on the residuals."""
    n = iterations
    parts = [
        "WITH corp AS MATERIALIZED (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x "
        "FROM embeddings)"
    ]
    parts += _pi_block("a", "corp", dim, n)
    parts.append(
        f"au AS MATERIALIZED (SELECT list(CAST(sq AS DOUBLE) / CAST(m AS DOUBLE) "
        f"ORDER BY dim_idx) AS v FROM aps{n} CROSS JOIN amx{n})"
    )
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), j -> {{a}}[j] * {{b}}[j])), "
        "(acc, y) -> acc + y)"
    )
    parts.append(f"""proj AS MATERIALIZED (
      SELECT c.vec_id, c.x, u.v,
        {dot.format(a="c.x", b="u.v")} AS xu,
        {dot.format(a="u.v", b="u.v")} AS uu
      FROM corp c CROSS JOIN au u)""")
    parts.append(
        f"corp2 AS MATERIALIZED (SELECT vec_id, list_transform(range(1, {dim + 1}), "
        "j -> x[j] - (xu / uu) * v[j]) AS x FROM proj)"
    )
    parts += _pi_block("b", "corp2", dim, n)
    return (
        ", ".join(parts)
        + f""" SELECT CAST(1 AS INT) AS component, dim_idx, sq AS u_q,
                 CAST(sq AS DOUBLE) / CAST(m AS DOUBLE) AS u_val
           FROM aps{n} CROSS JOIN amx{n}
           UNION ALL
           SELECT CAST(2 AS INT), dim_idx, sq,
                 CAST(sq AS DOUBLE) / CAST(m AS DOUBLE)
           FROM bps{n} CROSS JOIN bmx{n}"""
    )


@register(
    LLM_QUERIES,
    "emb_top_component",
    _power_iter_sql(),
    "top singular direction by distributed power iteration (4 corpus "
    "passes, SIF common-component, Arora et al. 2017): X^T(Xv) per pass "
    "with int64-quantized order-free per-dim sums and an int/int double "
    "renormalization, so the direction is BIT-IDENTICAL to the oracle's "
    "unrolled recomputation after every iteration; covariance never "
    "materializes, driver holds 64 numbers",
)
def emb_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.power_iteration_top_component(e)


@register(
    LLM_QUERIES,
    "emb_ivf_index_persist",
    _ivf_sql(),
    "persisted-IVF lifecycle: build the index ONCE on disk (centroids + "
    "postings partitioned by bucket), then answer the query batch from "
    "the index alone — the probed buckets inline as an isin literal, so "
    "the postings scan partition-prunes to nprobe/K of the index bytes "
    "(plan-asserted). Results must equal the in-memory IVF path: the "
    "oracle is the same 8-centroid nprobe=2 derivation, so a persistence "
    "bug (dropped bucket dir, wrong pruning) fails the value hash",
)
def emb_ivf_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    root = tempfile.mkdtemp(prefix="flux-ivfidx-")
    try:
        similarity.build_ivf_index(e, centroids, root)
        out = similarity.ivf_index_topk(
            spark, root, e.where(F.col("vec_id") < 5), k=5, nprobe=2
        )
        # materialize before deleting the index files (same eager-cleanup
        # pattern as doc_dedup_incremental; result is queries x k rows)
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    LLM_QUERIES,
    "emb_top2_components",
    _power_iter2_sql(),
    "top-2 singular directions by power iteration + Hotelling deflation: "
    "u1 on the raw vectors, the zero-shuffle residual projection "
    "x - (x.u1/u1.u1) u1, then u2 on the residuals; 2 x 4 corpus passes, "
    "driver holds 2 x 64 numbers, covariance never materializes. Both "
    "directions BIT-IDENTICAL to the oracle's unrolled recomputation "
    "(int64-quantized order-free sums + per-row double projection)",
)
def emb_top2_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.power_iteration_top2(e)


def _uncertainty_margin_sql(k: int = 5, select_n: int = 20) -> str:
    cos = similarity.sql_cosine("q.qv", "l.lv", _DIM)
    return f"""
    WITH lab AS (SELECT vec_id AS neighbor_id, embedding AS lv, label AS nl
                 FROM embeddings WHERE vec_id % 4 <> 0),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 4000),
    scored AS (
      SELECT q.query_id, l.neighbor_id, l.nl, {cos} AS cos_sim
      FROM q CROSS JOIN lab l WHERE l.neighbor_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC)
             AS rnk
      FROM scored),
    votes AS (
      SELECT query_id, nl, CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM ranked WHERE rnk <= {k} GROUP BY query_id, nl),
    win AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, nl ASC) AS vr
      FROM votes),
    agg AS (
      SELECT query_id,
        MAX(CASE WHEN vr = 1 THEN nl END) AS predicted_label,
        MAX(CASE WHEN vr = 1 THEN n_votes END) AS n_top,
        CAST(COALESCE(MAX(CASE WHEN vr = 2 THEN n_votes END), 0) AS BIGINT)
          AS n_second
      FROM win GROUP BY query_id),
    sel AS (
      SELECT *, CAST(n_top - n_second AS BIGINT) AS margin,
        CAST(ROW_NUMBER() OVER (ORDER BY n_top - n_second ASC,
                                query_id ASC) AS INTEGER) AS priority
      FROM agg)
    SELECT query_id, predicted_label, n_top, n_second, margin, priority
    FROM sel WHERE priority <= {select_n}
    """


@register(
    LLM_QUERIES,
    "emb_active_learning_margin",
    _uncertainty_margin_sql(),
    "active-learning acquisition (uncertainty sampling by vote margin): "
    "kNN-vote a BOUNDED acquisition batch (vec_id % 4 = 0 and < 4000 — "
    "a per-round labeling budget is bounded by the human loop, so the "
    "query side must NOT scale with the corpus; unbounded %4 measured "
    "161 s at sf1, the quadratic the fixed-config law exists to catch) "
    "against the labeled pool, then surface the 20 points whose top-two "
    "label votes are closest — the 'what to label next' primitive of a "
    "curation loop. Votes are integers and ties total-ordered, so the "
    "selection is engine-exact",
)
def emb_active_learning_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.uncertainty_margin(
        e.where(F.col("vec_id") % 4 != 0),
        # bounded acquisition batch: the labeling budget per round is a
        # human-loop constant, so the brute-scored query side stays
        # O(batch x pool), linear in the corpus, at every sf
        e.where((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 4000)),
        k=5,
        select_n=20,
    )


# ---------------------------------------------------------------------------
# k-center coreset selection (r8 session 4)
# ---------------------------------------------------------------------------


def _kcenter_sql(k: int = 8) -> str:
    """Chained-CTE oracle for the greedy farthest-point selection: CTE
    c_i picks the argmax-of-min-distance point, m_{i+1} folds the new
    center into the running min with LEAST (exact — no arithmetic), so
    the whole greedy trajectory is re-derived in SQL."""

    def sd(a: str, b: str) -> str:
        return similarity.sql_sqdist(a, b, _DIM)

    parts = [
        "WITH c0 AS (SELECT vec_id, embedding FROM embeddings"
        " ORDER BY vec_id LIMIT 1)",
        "m1 AS (SELECT e.vec_id, e.embedding, "
        + sd("e.embedding", "c.embedding")
        + " AS md FROM embeddings e CROSS JOIN c0 c"
        " WHERE e.vec_id <> c.vec_id)",
    ]
    for i in range(1, k):
        parts.append(
            f"c{i} AS (SELECT vec_id, embedding, md FROM m{i}"
            " ORDER BY md DESC, vec_id ASC LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"m{i + 1} AS (SELECT p.vec_id, p.embedding, "
                "LEAST(p.md, "
                + sd("p.embedding", "c.embedding")
                + f") AS md FROM m{i} p CROSS JOIN c{i} c"
                " WHERE p.vec_id <> c.vec_id)"
            )
    selects = [
        "SELECT CAST(0 AS INT) AS selection_rank, vec_id AS id,"
        " CAST(NULL AS DOUBLE) AS d2_selected FROM c0"
    ]
    for i in range(1, k):
        selects.append(f"SELECT CAST({i} AS INT), vec_id, md FROM c{i}")
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    LLM_QUERIES,
    "emb_kcenter_coreset",
    _kcenter_sql(8),
    "k-center coreset selection (Gonzalez farthest-point greedy, the "
    "Sener & Savarese 2018 core-set acquisition): 8 centers chosen to "
    "COVER the embedding space — each round takes the point farthest "
    "from its nearest chosen center (exact float64 fold sqdist, "
    "tie-break min id). The oracle re-derives the entire greedy "
    "trajectory through chained CTEs (argmax + LEAST fold per round), "
    "so every selection decision is value-checked, not just the final "
    "set. Scale shape: k one-pass corpus scans against driver-side "
    "center literals (model-sized, like the k-means/PQ codebooks); the "
    "corpus never shuffles",
)
def emb_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.kcenter_coreset(e, k=8)


# ---------------------------------------------------------------------------
# retrieval-quality evaluation: MRR + NDCG (r8 session 4)
# ---------------------------------------------------------------------------

# log2 position discounts quantized to integer nano-units and shared as
# literals (the hyperplanes trick applied to the NDCG weight table): DCG
# sums become exact integer arithmetic, order-independent in both engines
_NDCG_K = 10
_NDCG_W = [
    int(round(1.0 / __import__("math").log2(i + 1) * 1_000_000_000))
    for i in range(1, _NDCG_K + 1)
]
_NDCG_PREFIX = [0]
for _w in _NDCG_W:
    _NDCG_PREFIX.append(_NDCG_PREFIX[-1] + _w)


def _ndcg_sql() -> str:
    w_case = " ".join(
        f"WHEN rnk = {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    )
    idcg_case = " ".join(
        f"WHEN n_rel_total >= {j} THEN {_NDCG_PREFIX[j]}"
        for j in range(_NDCG_K, 0, -1)
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS qlab
      FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, q.qlab, c.vec_id AS neighbor_id, c.label AS nlab,
             {similarity.sql_dot("q.qv", "c.embedding", _DIM)} AS ip
      FROM q CROSS JOIN embeddings c WHERE c.vec_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id ASC)
               AS rnk
      FROM scored),
    rel AS (
      SELECT query_id,
             CAST(SUM(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rel_total
      FROM ranked GROUP BY query_id),
    top AS (SELECT * FROM ranked WHERE rnk <= {_NDCG_K}),
    aggd AS (
      SELECT query_id,
        CAST(SUM(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS BIGINT)
          AS n_relevant_top{_NDCG_K},
        CAST(SUM(CASE WHEN nlab = qlab
                      THEN (CASE {w_case} ELSE 0 END) ELSE 0 END)
             AS BIGINT) AS dcg_int,
        MIN(CASE WHEN nlab = qlab THEN rnk END) AS first_rel
      FROM top GROUP BY query_id)
    SELECT a.query_id, a.n_relevant_top{_NDCG_K},
      CASE WHEN a.first_rel IS NULL THEN CAST(0.0 AS DOUBLE)
           ELSE CAST(1.0 AS DOUBLE) / a.first_rel END AS mrr,
      CASE WHEN r.n_rel_total = 0 THEN NULL
           ELSE CAST(a.dcg_int AS DOUBLE)
                / (CASE {idcg_case} ELSE 1 END) END AS ndcg
    FROM aggd a JOIN rel r USING (query_id)
    """


@register(
    LLM_QUERIES,
    "emb_retrieval_ndcg",
    _ndcg_sql(),
    "retrieval-quality evaluation — MRR and NDCG@10 of the exact MIPS "
    "ranking against same-label relevance: THE offline metrics a "
    "retrieval stack reports before shipping an index change. The log2 "
    "position discounts are integer nano-unit literals shared with the "
    "oracle, so DCG/IDCG are exact integer sums (order-independent) and "
    "the only doubles are the two final divisions — the eval itself is "
    "oracle-gated. Scale shape: queries broadcast, one corpus pass, "
    "per-query windows over k rows; the relevance total is a 2-column "
    "aggregate",
)
def emb_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("label").alias("qlab"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("label").alias("nlab"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("ip", similarity.dot(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rnk", F.row_number().over(w)).select(
        "query_id", "qlab", "neighbor_id", "nlab", "rnk"
    )
    is_rel = F.when(F.col("nlab") == F.col("qlab"), 1).otherwise(0)
    rel = ranked.groupBy("query_id").agg(
        F.sum(is_rel).cast("bigint").alias("n_rel_total")
    )
    w_expr = "CASE " + " ".join(
        f"WHEN rnk = {i + 1} THEN {wv}" for i, wv in enumerate(_NDCG_W)
    ) + " ELSE 0 END"
    top = ranked.where(F.col("rnk") <= _NDCG_K)
    aggd = top.groupBy("query_id").agg(
        F.sum(is_rel).cast("bigint").alias(f"n_relevant_top{_NDCG_K}"),
        F.sum(F.when(F.col("nlab") == F.col("qlab"), F.expr(w_expr))
              .otherwise(0))
        .cast("bigint")
        .alias("dcg_int"),
        F.min(F.when(F.col("nlab") == F.col("qlab"), F.col("rnk"))).alias(
            "first_rel"
        ),
    )
    idcg_expr = "CASE " + " ".join(
        f"WHEN n_rel_total >= {j} THEN {_NDCG_PREFIX[j]}"
        for j in range(_NDCG_K, 0, -1)
    ) + " ELSE 1 END"
    return (
        aggd.join(rel, "query_id")
        .select(
            "query_id",
            f"n_relevant_top{_NDCG_K}",
            F.when(
                F.col("first_rel").isNull(), F.lit(0.0)
            )
            .otherwise(F.lit(1.0) / F.col("first_rel"))
            .alias("mrr"),
            F.when(F.col("n_rel_total") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("dcg_int").cast("double") / F.expr(idcg_expr)
            )
            .alias("ndcg"),
        )
    )
