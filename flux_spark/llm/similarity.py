"""Similarity search over embedding columns (array<float>).

Four operators, all with the same portable cosine kernel:

* **brute_force_topk** — exact top-k neighbors for a (small) query set.
  Plan: broadcast the queries, one pass over the corpus, per-query
  TakeOrdered. At 100 TB the corpus side stays partition-parallel and
  nothing shuffles except the k rows per query per partition.
* **sign-LSH near-dup** — random-hyperplane signatures bucket the corpus;
  pairs sharing a full signature are verified with exact cosine. The
  hyperplanes are deterministic (md5-seeded +-1 components), so results
  are reproducible and oracle-checkable.
* **LSH-bucketed top-k** — approximate top-k: corpus bucketed by sign
  signature, queries multiprobe their bucket plus all Hamming-1
  neighbors, candidates ranked by exact cosine.
* **IVF top-k** — the scale path: vectors are assigned to their nearest
  of K centroids (one narrow pass); a query probes only `nprobe` centroid
  buckets, cutting the scanned fraction to ~nprobe/K. Recall tracks
  cluster quality; exactness is restored by raising nprobe to K.

Float determinism: every dot product folds left-to-right over the array
in float64 (exact float32->float64 widening, IEEE-identical sequential
adds), so Spark and DuckDB produce bit-identical cosines — the oracle
compares exactly, no tolerance.

The reference has no similarity surface (SURVEY.md §2.7); this is the
BASELINE.json LLM-pipeline layer.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# portable cosine kernel
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Left-to-right float64 fold of elementwise products.

    NOTE: Catalyst's higher-order array functions (``aggregate`` /
    ``zip_with``) are CodegenFallback — evaluated by the interpreter,
    fine for signature computation and small candidate sets but ~1000×
    slower than vectorized math when a join emits millions of candidate
    pairs. Hot verify paths use :func:`pair_cosine_arrow`, which computes
    the SAME sequential float64 fold batch-vectorized over Arrow.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def pair_cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine, bit-identical to :func:`cosine`.

    The accumulation loops over DIMENSIONS while numpy vectorizes over the
    BATCH: ``acc += a[:, i] * b[:, i]`` performs, per row, exactly the
    left-to-right float64 multiply-add sequence of the Catalyst fold (and
    of the DuckDB ``list_reduce`` oracle), so results hash-match while the
    per-pair interpreter overhead disappears. Use on verify paths where a
    bucket join emits many candidate pairs; plain :func:`cosine` stays the
    right choice inside signature/centroid expressions (no Python round
    trip, input volume is O(corpus), not O(candidate pairs)).
    """
    from pyspark.sql.functions import pandas_udf

    # no type annotations: the returnType string is authoritative (local
    # annotations don't resolve under `from __future__ import annotations`)
    @pandas_udf("double")
    def _pc(va, vb):
        import numpy as np
        import pandas as pd

        A = np.array(va.tolist(), dtype=np.float64)  # exact f32->f64 widen
        B = np.array(vb.tolist(), dtype=np.float64)
        d = np.zeros(len(A))
        na = np.zeros(len(A))
        nb = np.zeros(len(A))
        for i in range(A.shape[1] if A.ndim == 2 else 0):
            d += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(d / (np.sqrt(na) * np.sqrt(nb)))

    return _pc(a, b)


# Per-task bound on in-kernel cosine grids (float64 cells). Column chunks
# are sized so one chunk never exceeds this many cells, keeping a
# duplicate-heavy mega-cluster from OOMing its task (~256 MB at 32M).
# Module-level so tests can force multi-chunk execution on small inputs;
# kernels capture it by value when they are built, because their closures
# ship to Python workers, which re-import this module and would not see a
# test's monkeypatched value.
_GRID_CHUNK_TARGET = 32_000_000


def _f64_rows(vecs):
    """Stack a batch of vectors into a float64 matrix, widening float32
    exactly FIRST, as the Catalyst fold casts each element before it
    multiplies."""
    import numpy as np

    return np.stack(vecs).astype(np.float64)


def _dimloop_norms(A):
    """Row norms of ``A`` with the dimension-loop float64 fold of
    :func:`norm`."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * A[:, i]
    return np.sqrt(acc)


def _dimloop_cosine(A, C, na=None, nc=None):
    """Rows-x-columns cosine grid of float64 matrices with the module's
    canonical fold: looping over DIMENSIONS while numpy vectorizes over
    the grid gives every (row, column) pair the left-to-right float64
    multiply-add sequence of :func:`cosine` and the DuckDB oracle, so each
    score is bit-identical to theirs for any row or column subset.
    ``na``/``nc`` are the row/column norms when the caller already holds
    them."""
    import numpy as np

    acc = np.zeros((A.shape[0], C.shape[0]))
    for i in range(A.shape[1]):
        acc += A[:, i, None] * C[None, :, i]
    na = _dimloop_norms(A) if na is None else na
    nc = _dimloop_norms(C) if nc is None else nc
    return acc / (na[:, None] * nc[None, :])


def _cosine_blocks(A, C, chunk_target, na, nc, start=0):
    """Yield ``(cols, cos)`` column blocks of the ``A`` x ``C[start:]``
    cosine grid, each at most ~``chunk_target`` cells (and 4096 columns),
    so a hot bucket or cluster cannot OOM its task. Scores do not depend
    on the chunking."""
    import numpy as np

    ch = max(1, min(4096, -(-chunk_target // len(A))))
    for s in range(start, len(C), ch):
        e = min(s + ch, len(C))
        yield np.arange(s, e), _dimloop_cosine(A, C[s:e], na, nc[s:e])


def _self_grid_hits(vecs, threshold, chunk_target):
    """Yield ``(cols, hit, cos)`` column blocks of a group's self cosine
    grid, where ``hit`` marks the upper-triangle pairs (row < col) whose
    cosine passes ``threshold``. Row/column indices are positions in
    ``vecs``."""
    import numpy as np

    V = _f64_rows(vecs)
    nrm = _dimloop_norms(V)
    rows = np.arange(len(V))[:, None]
    for cols, cos in _cosine_blocks(V, V, chunk_target, nrm, nrm, start=1):
        # Spark SQL orders NaN ABOVE every number, so the Catalyst filter
        # these kernels replaced kept NaN cosines (zero-norm or NaN
        # vectors); numpy's NaN >= t is False — replicate Spark's
        # semantics so degenerate inputs cannot diverge from the SQL
        # oracle
        yield cols, (rows < cols) & ((cos >= threshold) | np.isnan(cos)), cos


def _nonnull_map(v, score):
    """Arrow batch ``v`` of vectors -> Series holding ``score(A)[j]`` for
    the j-th non-NULL vector, where ``A`` is their float64 matrix; a
    NULL vector yields NULL, like the Catalyst fold, never an executor
    crash."""
    import pandas as pd

    good = v.notna().to_numpy()
    res = iter(score(_f64_rows(v[good].to_numpy())) if good.any() else ())
    # object dtype: a numeric Series would turn None into NaN and round
    # int64 ids through float64
    return pd.Series([next(res) if g else None for g in good], dtype=object)


def sql_dot(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`dot` — same order, same widening."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> "
        f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
    )


def sql_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})))"
    )


# ---------------------------------------------------------------------------
# brute-force exact top-k
# ---------------------------------------------------------------------------


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    `queries` is broadcast (it is the small side by construction); ranking
    is a window per query id — ties break on neighbor id ascending so the
    result is total-ordered and engine-independent. ``use_arrow`` swaps
    the Catalyst fold for the bit-identical
    :func:`pair_cosine_arrow` kernel — same hashes, ~25x less interpreter
    overhead; turn it on when |queries| x |corpus| reaches tens of
    millions of scored pairs (the fold is ~1M pairs/s interpreter-bound).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    score = pair_cosine_arrow if use_arrow else cosine
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", score(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """kNN classification by majority vote over exact cosine top-k — the
    label-propagation / auto-labeling primitive of embedding-based data
    curation (predict a quality/domain label for every unlabeled vector
    from its nearest labeled neighbors).

    Plan shape: one corpus pass scores neighbors
    (:func:`brute_force_topk`, queries broadcast); the k x |queries| result
    is broadcast back onto a second narrow corpus scan of (id, label) to
    fetch neighbor labels, so label lookup never shuffles the corpus. Vote
    resolution is a window over O(k x queries) rows. Ties break on the
    smallest label (then the vote count), so the prediction is
    total-ordered and engine-independent.

    Returns (query_id, predicted_label, n_votes, true_label, correct).
    """
    from pyspark.sql import Window

    nn = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    lab = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        lab.join(F.broadcast(nn), "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__nl")
    )
    pred = (
        votes.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .drop("__r")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id",
        F.col("__nl").alias("predicted_label"),
        "n_votes",
        "true_label",
        (F.col("__nl") == F.col("true_label")).alias("correct"),
    )


def mips_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact maximum-inner-product top-k per query (MIPS — the retrieval
    objective when magnitudes carry signal, e.g. recommendation scores or
    unnormalized two-tower embeddings; cosine is MIPS on the unit
    sphere). Same broadcast-queries / one-corpus-pass / per-query-window
    plan as :func:`brute_force_topk`; the score is the raw float64 fold
    dot product, so the oracle compares bit-for-bit."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("ip", dot(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "ip", "rank")
    )


# ---------------------------------------------------------------------------
# sign-LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def auto_planes(corpus_size: int, target_bucket: int = 16) -> int:
    """Plane count that keeps expected LSH bucket size ~``target_bucket``
    as the corpus grows: candidate volume is ~n²/2^planes, so planes must
    track log2(n) — with planes FIXED, a 10× corpus means 100× the pairs
    (the measured r4 cliff). ceil(log2(n / target_bucket)), floored at 4:
    2k vectors -> 7 planes, 20k -> 11, 1B -> 26."""
    import math

    if corpus_size <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(corpus_size / target_bucket)))


def occupancy_p99(sig_counts: DataFrame, count_col: str = "count") -> int:
    """Exact rank-based 99th-percentile bucket occupancy: the value at
    ascending rank ceil(0.99 * n_buckets) — an integer, no interpolation,
    so a SQL oracle re-derives it bit-for-bit.

    Scale shape: aggregates the per-signature counts into a HISTOGRAM of
    occupancy values first (one tiny shuffle; the number of DISTINCT
    occupancy values is bounded by the max occupancy, thousands at most
    even for billion-vector corpora), then walks the cumulative sum on
    the driver — the collect is histogram-sized, never bucket-count-sized
    (a 1B-vector corpus at 26 planes has ~60M occupied buckets but only
    ~10^3 distinct occupancy values)."""
    return occupancy_stats(sig_counts, count_col)[0]


def occupancy_stats(
    sig_counts: DataFrame, count_col: str = "count"
) -> tuple[int, int]:
    """(p99, max) bucket occupancy from ONE histogram-sized aggregate —
    see :func:`occupancy_p99` for the scale shape. The max rides along
    for free and lets the fused auto-cap lane prove the slot filter is
    an IDENTITY on healthy corpora (max <= cap) and skip its window
    shuffle entirely (r12, VERDICT r11 #6)."""
    hist = sorted(
        (int(r["occ"]), int(r["n_buckets"]))
        for r in sig_counts.groupBy(F.col(count_col).alias("occ"))
        .agg(F.count("*").alias("n_buckets"))
        .collect()
    )
    total = sum(n for _, n in hist)
    if total == 0:
        return 0, 0
    rank = math.ceil(0.99 * total)
    seen = 0
    for occ, n in hist:
        seen += n
        if seen >= rank:
            return occ, hist[-1][0]
    return hist[-1][0], hist[-1][0]


def auto_bucket_cap(
    corpus: DataFrame,
    n_planes: int,
    dim: int = 64,
    k: int = 5,
    vec_col: str = "embedding",
    target_bucket: int = 16,
    k_mult: int = 4,
    target_mult: int = 4,
) -> int:
    """Occupancy-derived per-bucket candidate cap for :func:`lsh_topk` —
    the r10 sf100 bucket-occupancy catch promoted from a hand-picked
    constant to a measured knob (r11).

    One cheap pass over the corpus signatures (groupBy(sig).count() →
    occupancy histogram → :func:`occupancy_p99`; the collect is
    histogram-sized) yields ACTUAL occupancy, then::

        cap = max(k_mult * k, min(p99, target_mult * target_bucket))

    Why the rails: ``auto_planes`` holds EXPECTED occupancy near
    ``target_bucket``, so on a healthy corpus p99 lands at ~2-3x the
    target (measured sf0.1: p99 34 vs target 16) and the cap tracks it —
    above every real bucket, never engaging, recall untouched. Occupancy
    far beyond the target is duplicated mass BY CONSTRUCTION (no plane
    count separates identical vectors), so the upper rail
    ``target_mult * target_bucket`` clamps it (measured sf100 replica
    corpus: p99 909, median 182 → cap 64, the value the r10 catch
    hand-tuned; per-bucket pair work is occupancy², so following p99
    there would cost ~6x). The lower rail ``k_mult * k`` guarantees each
    probe retains several times the top-k ask. Deterministic given the
    corpus, and re-derivable in SQL from the same aggregate — the
    ann_cosine_lsh_autocap gate pins exactly that.

    This standalone form recomputes the signatures; when the consumer is
    :func:`lsh_topk` itself, pass ``bucket_cap="auto"`` there instead —
    the fused lane materializes the signature column once for both the
    occupancy aggregate and the bucket join (same formula, same rails)."""
    planes = hyperplanes(n_planes, dim)
    occ = (
        corpus.select(signature_bits(F.col(vec_col), planes).alias("__sig"))
        .groupBy("__sig")
        .count()
    )
    p99 = occupancy_p99(occ)
    return max(k_mult * k, min(p99, target_mult * target_bucket))


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic +-1 hyperplanes: component (i, d) is +1 iff the first
    md5 hex digit of "i:d" is odd. Seedless and engine-independent — the
    same literals are embedded in the Spark plan and the SQL oracle."""
    planes = []
    for i in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{i}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 1 else -1.0)
        planes.append(row)
    return planes


def signature_bits(vec_col: Column, planes: list[list[float]]) -> Column:
    """LSH signature as an integer: bit i = 1 iff dot(vec, plane_i) > 0."""
    sig = None
    for i, p in enumerate(planes):
        lit = F.array(*[F.lit(x) for x in p])
        bit = (dot(vec_col, lit) > 0).cast("long") * F.lit(2**i)
        sig = bit if sig is None else sig + bit
    return sig


def sql_signature_bits(vec: str, planes: list[list[float]], dim: int) -> str:
    terms = []
    for i, p in enumerate(planes):
        lit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in p) + "]"
        terms.append(
            f"(CASE WHEN {sql_dot(vec, lit, dim)} > 0 THEN {2**i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def sql_signature_bit_list(vec: str, planes: list[list[float]], dim: int) -> str:
    """SQL list of per-plane sign bits (booleans) — the building block for
    data-derived plane counts: the oracle materializes bits for a plane
    SUPERSET, then sums ``bits[i] * 2^i`` over only the first
    ``auto_planes(COUNT(*))`` entries (see emb_near_dup_lsh_auto), so the
    static SQL text reproduces a signature whose width is only known at
    run time."""
    terms = []
    for p in planes:
        lit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in p) + "]"
        terms.append(f"({sql_dot(vec, lit, dim)} > 0)")
    return "[" + ", ".join(terms) + "]"


def sqdist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance as a left-to-right float64 fold —
    same determinism contract as :func:`dot`."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_sqdist(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`sqdist` — same order, same widening."""
    term = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), i -> {term} * {term})), "
        f"(acc, x) -> acc + x)"
    )


def min_sqdist_arrow(vec_col: Column, centers: list[list[float]]) -> Column:
    """Arrow-vectorized ``min over centers of sqdist(vec, center)`` —
    bit-identical to ``F.least(*[sqdist(vec, lit(c)) for c in centers])``:
    the accumulation loops over DIMENSIONS in the same left-to-right
    float64 order as the Catalyst fold while numpy vectorizes over the
    batch, and ``np.minimum`` is the same exact comparison as LEAST.
    The k-center scoring pass is corpus-scaled (ladder-caught at sf3:
    the interpreted fold cost 20 s where this kernel is ~linear in
    corpus bytes), so it must not pay per-row interpreter overhead."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _md(v):
        import numpy as np
        import pandas as pd

        A = np.array(v.tolist(), dtype=np.float64)
        best = None
        for c in centers:
            acc = np.zeros(len(A))
            for i, cv in enumerate(c):
                d = A[:, i] - cv
                acc += d * d
            best = acc if best is None else np.minimum(best, acc)
        return pd.Series(best)

    return _md(vec_col)


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Farthest-point k-center selection (Gonzalez 1985; the core-set
    acquisition of Sener & Savarese 2018): seed with the smallest id,
    then repeatedly pick the point MAXIMIZING its distance to the
    nearest already-chosen center (tie-break min id) — a 2-approximation
    of the k-center objective and the standard diversity/coreset sampler
    when a training budget must cover the embedding space rather than
    its densest mode.

    Scale shape: each of the k-1 rounds is ONE corpus pass scoring
    min(sqdist to each chosen center) through the Arrow kernel
    :func:`min_sqdist_arrow` (bit-identical to the Catalyst fold;
    ladder-caught — the interpreted fold cost 20 s at sf3 on a
    corpus-scaled pass) — centers are driver-side literals (k x dim
    doubles, model-sized, same pattern as the k-means and PQ
    codebooks), so the corpus never shuffles and the per-round
    reduction is an argmax, not a sort. Total cost k scans; k is a
    budget knob, never corpus-scaled.

    Returns a k-row DataFrame (selection_rank, id, d2_selected) where
    d2_selected is the squared distance to the nearest prior center at
    selection time (NULL for the seed) — the running coverage radius.
    """
    src = corpus.select(F.col(id_col), F.col(vec_col))
    seed = src.orderBy(F.asc(id_col)).limit(1).collect()[0]
    chosen: list[tuple[int, list[float], float | None]] = [
        (seed[0], [float(v) for v in seed[1]], None)
    ]
    for _ in range(1, k):
        mind = min_sqdist_arrow(
            F.col(vec_col), [vec for _, vec, _ in chosen]
        )
        picked = (
            src.where(
                ~F.col(id_col).isin([cid for cid, _, _ in chosen])
            )
            .select(F.col(id_col), F.col(vec_col), mind.alias("__md"))
            .orderBy(F.desc("__md"), F.asc(id_col))
            .limit(1)
            .collect()[0]
        )
        chosen.append(
            (picked[0], [float(v) for v in picked[1]], float(picked[2]))
        )
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [
            (rank, cid, d2)
            for rank, (cid, _, d2) in enumerate(chosen)
        ],
        "selection_rank INT, id LONG, d2_selected DOUBLE",
    )


def rp_project(vec_col: Column, planes: list[list[float]]) -> Column:
    """Johnson-Lindenstrauss random projection to ``len(planes)`` dims.

    The projection matrix is the seedless ±1 Rademacher family from
    :func:`hyperplanes` (Achlioptas 2003 shows ±1 entries satisfy the JL
    lemma with the same distortion bounds as Gaussian entries) — the same
    literals are embedded in the Spark plan and the SQL oracle, so the
    REAL-VALUED projection (unlike sign-LSH, which keeps only the sign
    bit) is bit-identical across engines. One narrow whole-stage-codegen
    pass over the corpus: no shuffle, no Python.
    """
    return F.array(
        *[
            dot(vec_col, F.array(*[F.lit(x) for x in p]))
            for p in planes
        ]
    )


def sql_rp_project(vec: str, planes: list[list[float]], dim: int) -> str:
    """DuckDB twin of :func:`rp_project` — same literals, same fold."""
    exprs = []
    for p in planes:
        lit = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in p) + "]"
        exprs.append(sql_dot(vec, lit, dim))
    return "[" + ", ".join(exprs) + "]"


def rp_project_arrow(
    vec_col: Column, planes: list[list[float]]
) -> Column:
    """Arrow-vectorized twin of :func:`rp_project` — per plane, the
    accumulation loops over DIMENSIONS in the identical left-to-right
    float64 order as the Catalyst fold (and the DuckDB list_reduce
    oracle), so the projected values hash-match while the per-row
    interpreter overhead disappears. The projection is a corpus-scaled
    pass (dim x out_dim multiply-adds per row — the heaviest per-row
    arithmetic in the RP plan), which is exactly the class of pass the
    k-center ladder fix showed must not run on the interpreted fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def _rp(v):
        import numpy as np
        import pandas as pd

        A = np.array(v.tolist(), dtype=np.float64)
        outs = []
        for p in planes:
            acc = np.zeros(len(A))
            for i, s in enumerate(p):
                acc += A[:, i] * s
            outs.append(acc)
        M = np.stack(outs, axis=1) if outs else np.zeros((len(A), 0))
        return pd.Series(list(M))

    return _rp(vec_col)


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate MIPS top-k in JL-projected space: project both sides
    to ``len(planes)`` dims (a single codegen pass — the corpus scan
    reads ``len(planes)/dim`` of the float bandwidth thereafter), then
    rank by the projected dot product. Same broadcast-queries /
    one-corpus-pass / per-query-window plan as :func:`mips_topk`; the
    projected score is a deterministic float64 fold, so even the
    APPROXIMATE scores oracle-check bit-for-bit."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        rp_project_arrow(F.col(vec_col), planes).alias("__qp"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        rp_project_arrow(F.col(vec_col), planes).alias("__cp"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("approx_dot", dot(F.col("__qp"), F.col("__cp")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rank")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.98,
) -> DataFrame:
    """Near-duplicate vector pairs: bucket on the full sign signature,
    score each bucket's triangle in a grouped Arrow grid kernel.

    Each bucket is grouped once on the signature (one shuffle) and its
    pairs are scored as a numpy grid inside applyInPandas — every vector
    crosses the Python boundary once per bucket, not once per pair, and
    only pairs passing id_a < id_b AND cosine >= threshold leave the
    kernel. At 100 TB bucket sizes stay ~n/2^n_planes, and raising
    n_planes (log2 of the corpus size + a few bits) keeps candidate
    volume linear as the corpus grows — with the planes FIXED, pairs grow
    ~n²/2^n_planes, which is why this knob is exposed. Per-pair
    arithmetic is the identical sequential float64 fold, so scores are
    bit-identical to the Catalyst expression and the SQL oracle.
    """
    planes = hyperplanes(n_planes, dim)
    s = corpus.select(
        F.col(id_col), F.col(vec_col), signature_bits(F.col(vec_col), planes).alias("__sig")
    )
    # r13 (guide §8 / §4.2): the shuffle_hash self-join materialized
    # every in-bucket candidate pair and shipped BOTH vectors per pair to
    # pair_cosine_arrow. Grouping the bucket once ships each vector ONCE;
    # _self_grid_hits scores its triangle with the bit-identical fold in
    # column chunks (duplicated-mass buckets cannot OOM), and only
    # qualifying near-dup pairs leave Python.
    id_t = dict(s.dtypes)[id_col]
    chunk_target = _GRID_CHUNK_TARGET

    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        # seeded with ids[:0] so an empty frame keeps the id column's
        # ACTUAL dtype (ADVICE r13: a hardcoded int64 relied on an Arrow
        # cast that non-int64 id columns may refuse at runtime)
        out_a, out_b, out_c = [ids[:0]], [ids[:0]], [np.empty(0)]
        hits = _self_grid_hits(pdf[vec_col].to_numpy(), threshold, chunk_target)
        for cols, hit, cos in hits:
            ri, ci = np.nonzero(hit)
            out_a.append(ids[ri])
            out_b.append(ids[cols[ci]])
            out_c.append(cos[ri, ci])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_c),
            }
        )

    # null signatures (null/short embeddings) never matched in the
    # equi-join this kernel replaced (NULL == NULL is not TRUE), but
    # groupBy collects them into ONE group — filter them out so rows
    # with null signatures cannot be scored against each other
    # (ADVICE r13)
    return (
        s.where(F.col("__sig").isNotNull())
        .groupBy("__sig")
        .applyInPandas(
            _bucket_pairs, f"id_a {id_t}, id_b {id_t}, cos_sim double"
        )
    )


def _bucket_grid_scores(q: DataFrame, c: DataFrame) -> DataFrame:
    """Cogrouped per-bucket cosine grid for the self-ANN bucket join.

    ``q``: (query_id, __qv, __qnorm, __sig) probe rows; ``c``:
    (neighbor_id, __cv, __cnorm, __sig) capped corpus rows. Emits every
    in-bucket (query, neighbor) pair with ``cos_sim`` bit-identical to
    ``dot(__qv, __cv) / (__qnorm * __cnorm)`` (the :func:`_dimloop_cosine`
    fold over the Catalyst norms). Group payloads are bounded by the
    occupancy cap on the corpus side (<= cap rows) and by
    probes x occupancy on the query side, so per-group memory is
    O(Q x C) <= O(probes x occupancy x cap) — the same candidate mass the
    pair join would materialize, held one bucket at a time.
    """
    id_t = dict(q.dtypes)["query_id"]
    nid_t = dict(c.dtypes)["neighbor_id"]
    out_schema = (
        f"query_id {id_t}, neighbor_id {nid_t}, cos_sim double"
    )
    chunk_target = _GRID_CHUNK_TARGET

    def _score(qpdf, cpdf):
        import numpy as np
        import pandas as pd

        qid = qpdf["query_id"].to_numpy()
        nid = cpdf["neighbor_id"].to_numpy()
        # seeded with the input batches' empty ids so an empty frame keeps
        # their ACTUAL dtypes (ADVICE r13 — cogroup hands each side with
        # its declared schema even when empty)
        out_q, out_n, out_c = [qid[:0]], [nid[:0]], [np.empty(0)]
        if len(qid) and len(nid):
            # chunked on the corpus side (ADVICE r13 medium): lsh_topk's
            # default bucket_cap=None concentrates a duplicated-mass hot
            # bucket in one group; the qid/nid expansion is built per
            # chunk AFTER the keep mask
            blocks = _cosine_blocks(
                _f64_rows(qpdf["__qv"].to_numpy()),
                _f64_rows(cpdf["__cv"].to_numpy()),
                chunk_target,
                qpdf["__qnorm"].to_numpy(),
                cpdf["__cnorm"].to_numpy(),
            )
            for cols, cos in blocks:
                qi = np.repeat(qid, len(cols))
                ni = np.tile(nid[cols], len(qid))
                keep = qi != ni
                out_q.append(qi[keep])
                out_n.append(ni[keep])
                out_c.append(cos.ravel()[keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cos_sim": np.concatenate(out_c),
            }
        )

    # null signatures never matched in the equi-joins this kernel
    # replaced — keep them out of the cogroup (ADVICE r13)
    return (
        q.where(F.col("__sig").isNotNull())
        .groupBy("__sig")
        .cogroup(c.where(F.col("__sig").isNotNull()).groupBy("__sig"))
        .applyInPandas(_score, out_schema)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 1,
    use_arrow: bool = False,
    bucket_cap: int | str | None = None,
    target_bucket: int = 16,
) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (the bucket-join scale path).

    Corpus vectors are bucketed once by their sign-LSH signature; each
    query probes its own bucket plus every signature within Hamming
    distance ``probe_hamming`` (bit-flip expansion, 1 + n_planes probes at
    distance 1). Candidates are ranked by exact cosine; ties break on
    ascending neighbor id. Probe signatures are pairwise distinct, so no
    (query, neighbor) pair is produced twice and no dedup pass is needed.

    Scale shape: the corpus side shuffles once on the signature; a query
    touches ~(1+n_planes)/2^n_planes of the corpus instead of all of it,
    and raising n_planes sharpens buckets while probe_hamming buys recall.
    Deterministic end-to-end (md5-seeded hyperplanes, sequential float64
    dots), so the approximate result is still exactly oracle-checkable.

    ``bucket_cap`` (opt-in) bounds the CANDIDATE side of every bucket:
    per signature, only the first ``bucket_cap`` corpus vectors in
    deterministic hash order (md5 of the id, id tie-break) remain
    joinable. This is the dedup family's skew cap transplanted to ANN:
    ``auto_planes`` keeps EXPECTED occupancy near target_bucket, but no
    plane count can split exact/near-duplicate vectors apart — a corpus
    where some vector is duplicated m times has an m-sized bucket at any
    resolution, and per-bucket pair work is occupancy², so duplicated
    mass turns the bucket join quadratic (measured: gen_sf's 1000×
    replica corpus at sf100 holds 2M vectors in 8,067 occupied buckets —
    median occupancy 182 vs the target 16 — and the uncapped walk costs
    2,593 s where cap=64 is linear). On corpora whose occupancy actually
    tracks target_bucket the cap never engages, and where it does
    engage, the dropped candidates are interchangeable near-copies of
    the survivors; callers whose contract treats sparse candidate sets
    conservatively (emb_knn_distance_outliers's -1 rule) stay safe by
    construction. Default None = exact pre-cap behavior (the oracle-exact
    ann_cosine_lsh gate path). Don't hand-pick the value: pass
    ``bucket_cap="auto"`` (r11) — the FUSED occupancy derivation: the
    signature column is materialized once (localCheckpoint), a
    histogram-sized occupancy aggregate yields the exact rank-based p99
    (:func:`occupancy_p99`), and the cap follows the
    :func:`auto_bucket_cap` rails ``max(4k, min(p99, 4*target_bucket))``.
    Fused beats calling :func:`auto_bucket_cap` standalone because the
    signature folds (interpreted higher-order exprs, the expensive part
    at corpus scale — measured 909 s standalone vs ~700 s fused at
    sf100) are computed once and reused by the bucket join. Oracle-pinned
    by the ann_cosine_lsh_autocap gate, which re-derives the cap in SQL
    from the same aggregate.
    """
    from pyspark.sql import Window

    assert probe_hamming in (0, 1)
    planes = hyperplanes(n_planes, dim)
    # r13 (VERDICT r12 #1, measured 92 -> 27 s at sf10 in the outliers
    # lane): per-vector norms are precomputed ONCE per side so each
    # candidate pair pays a single interpreted dot fold instead of
    # cosine's three (dot + both norms). norm() is deterministic per
    # vector, and dot/( __qnorm * __cnorm ) is the exact expression
    # cosine() evaluates, so every score is bit-identical. The Arrow
    # path keeps its fused in-batch kernel (already one Python transfer).
    extra = [] if use_arrow else [norm(F.col(vec_col)).alias("__cnorm")]
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        signature_bits(F.col(vec_col), planes).alias("__sig"),
        *extra,
    )
    self_query = queries is corpus
    sigs = c
    if bucket_cap == "auto":
        # materialize the signatures once: the occupancy aggregate AND the
        # bucket join below both read the checkpointed frame instead of
        # re-running the per-plane interpreted dot folds over the corpus
        c = c.localCheckpoint()
        sigs = c
        p99, max_occ = occupancy_stats(c.groupBy("__sig").count())
        bucket_cap = max(4 * k, min(p99, 4 * target_bucket))
        if max_occ <= bucket_cap:
            # the slot filter would keep every row — provably an identity
            # from the SAME histogram aggregate, so skip its per-signature
            # window (a full shuffle+sort of the corpus side) outright.
            # Healthy corpora take this branch (sf0.1: max 40 <= cap 40);
            # duplicated-mass corpora (the sf100 replica catch: max 2,092
            # > cap 64) still pay the cap that saves them. Result-
            # identical either way, so the autocap oracle is unaffected
            # (r12, VERDICT r11 #6 — the knowingly-paid +1.2 s at sf0.1
            # was mostly this never-engaging window).
            bucket_cap = None
    if bucket_cap is not None:
        # Known bound (advisor r10): this window ranks each signature's
        # FULL bucket in one task — O(m log m) on one core for an m-row
        # duplicated bucket (fine at the measured 2M-dup scale; if dup
        # mass grows 100x further, two-phase it: per-partition local
        # top-cap on the md5 order first, then the exact global window
        # over the <= cap * n_partitions survivors).
        wcap = Window.partitionBy("__sig").orderBy(
            F.md5(F.col("neighbor_id").cast("string")).asc(),
            F.col("neighbor_id").asc(),
        )
        c = (
            c.withColumn("__slot", F.row_number().over(wcap))
            .where(F.col("__slot") <= int(bucket_cap))
            .drop("__slot")
        )
    # Probe expansion by XOR MASK over a materialized __qsig column (not
    # an array of 1+n_planes expressions each embedding the full
    # signature sum): the Generate sits between the project that
    # computes __qsig once per row and the project that XORs, so the
    # per-plane folds run exactly once per query row. Self-queries
    # (corpus is queries — the outliers/near-dup shape) skip even that:
    # the corpus-side signature frame (checkpointed in auto mode)
    # already holds every (id, vec, sig[, norm]), so the query side is a
    # zero-fold re-read of it.
    if self_query:
        qbase = sigs.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("__cv").alias("__qv"),
            F.col("__sig").alias("__qsig"),
            *([] if use_arrow else [F.col("__cnorm").alias("__qnorm")]),
        )
    else:
        qbase = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            signature_bits(F.col(vec_col), planes).alias("__qsig"),
            *(
                []
                if use_arrow
                else [norm(F.col(vec_col)).alias("__qnorm")]
            ),
        )
    masks = F.array(
        F.lit(0),
        *(
            [F.lit(2**i) for i in range(n_planes)]
            if probe_hamming >= 1
            else []
        ),
    )
    keep = ["query_id", "__qv"] + ([] if use_arrow else ["__qnorm"])
    q = (
        qbase.select("*", F.explode(masks).alias("__mask"))
        .select(
            *keep,
            F.col("__qsig").bitwiseXOR(F.col("__mask")).alias("__sig"),
        )
    )
    # pair_cosine_arrow is bit-identical to the Catalyst fold (same
    # sequential float64 order) at ~25x the throughput; flip it on when
    # candidate volume reaches tens of millions (same switch as
    # brute_force_topk)
    if self_query and not use_arrow:
        # r13 (guide §8 / §4.2): in the self-ANN shape every corpus row is
        # also 1 + n_planes probe rows, so candidate volume is
        # n x occupancy x probes and a per-PAIR scorer must either ship
        # 2 x dim float64s per pair across the Python boundary
        # (pair_cosine_arrow: measured 188 s at sf10) or pay the
        # interpreted fold per pair (dot: 133 s pre-norms, ~25 s after).
        # Cogrouping by signature instead moves each vector across the
        # boundary once per BUCKET MEMBERSHIP (corpus: once, query: once
        # per probe) and scores the whole bucket as one bit-identical
        # _dimloop_cosine grid (sf10: 59.4M pairs, fold score+rank
        # 38-41 s -> 9-10 s). Selective-query callers
        # (ann_cosine_lsh's 5-vector batch) keep the broadcast equi-join
        # below: cogroup would shuffle and ship the WHOLE corpus to
        # Python where the join touches only the probed buckets.
        scored = _bucket_grid_scores(q, c)
    else:
        joined = q.join(c, "__sig").where(
            F.col("neighbor_id") != F.col("query_id")
        )
        if use_arrow:
            scored = joined.withColumn(
                "cos_sim", pair_cosine_arrow(F.col("__qv"), F.col("__cv"))
            )
        else:
            scored = joined.withColumn(
                "cos_sim",
                dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qnorm") * F.col("__cnorm")),
            )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """One Lloyd iteration for IVF centroid training: assign every vector
    to its max-cosine centroid (ties -> lowest centroid id), then emit the
    per-cluster mean vector.

    Centroids broadcast in the assignment join; the only shuffle is the
    per-(cluster, dimension) mean — posexplode fans each vector into `dim`
    rows keyed (bucket, dim_idx), whose partial sums combine map-side, so
    shuffle volume is O(clusters x dim), not O(corpus). Per-dimension sums
    go through DECIMAL so the means are exact and order-independent
    (oracle-checkable); empty clusters simply emit no row, mirroring
    standard k-means drop semantics. Iterate by feeding the output back as
    ``centroids``; each iteration is one job, the loop lives in the driver
    like llm.dedup.connected_components.
    """
    from pyspark.sql import Window

    cen = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = corpus.crossJoin(F.broadcast(cen)).withColumn(
        "__ccos", cosine(F.col(vec_col), F.col("__cvec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__ccos"), F.asc("__cid"))
    assigned = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(F.col("__cid").alias("bucket"), F.posexplode(vec_col).alias("dim_idx", "__v"))
    )
    per_dim = assigned.groupBy("bucket", "dim_idx").agg(
        (
            F.sum(F.col("__v").cast("double").cast("decimal(25,6)")).cast("double")
            / F.count("*")
        ).alias("__mean")
    )
    return (
        per_dim.groupBy("bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim_idx", "__mean"))
            ).alias("__pairs")
        )
        .select(
            F.col("bucket").alias(centroid_id_col),
            F.transform(F.col("__pairs"), lambda p: p["__mean"]).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate top-k
# ---------------------------------------------------------------------------


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF ANN: assign corpus vectors to their max-cosine centroid, then
    each query scans only its `nprobe` closest centroid buckets.

    Centroids are broadcast in both the assignment and probe joins; the
    only shuffle is the bucket-pruned candidate join keyed on centroid id.
    Ties in assignment/probe/rank all break on ascending id, keeping the
    operator deterministic (and oracle-checkable) despite being approximate.
    """
    from pyspark.sql import Window

    cen = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )

    def nearest(df: DataFrame, idc: str, vecc: str, n: int, out: str) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cen)).withColumn(
            "__ccos", cosine(F.col(vecc), F.col("__cvec"))
        )
        w = Window.partitionBy(idc).orderBy(F.desc("__ccos"), F.asc("__cid"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= n)
            .select(df["*"], F.col("__cid").alias(out))
        )

    assigned = nearest(corpus, id_col, vec_col, 1, "bucket")
    probes = nearest(queries, id_col, vec_col, nprobe, "bucket")

    q = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), "bucket"
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "bucket"
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def auto_centroids(corpus_size: int, target_cluster: int = 1024) -> int:
    """Centroid count that keeps expected cluster size ~``target_cluster``
    as the corpus grows: within-cluster pair cost is Σ|cluster|², so K
    must track n/target (the paper uses 11k clusters for 100M docs ≈
    9k/cluster). ceil(n / target), floored at 1."""
    import math

    return max(1, math.ceil(corpus_size / target_cluster))


def _centroid_assign_arrow(cents: list[tuple[int, list[float]]]):
    """Arrow pandas UDF: max-cosine centroid id for each batch vector.

    ``cents`` must be sorted by centroid id ascending — ties on equal
    cosine then resolve to the LOWEST id via ``argmax``'s first-occurrence
    rule, matching the ROW_NUMBER (cos DESC, cid ASC) oracle exactly.
    Scores are the :func:`_dimloop_cosine` fold, bit-identical to the
    Catalyst fold in :func:`cosine`. A NULL vector gets a NULL cluster.
    """
    from pyspark.sql.functions import pandas_udf

    cids = [c[0] for c in cents]
    cmat = [c[1] for c in cents]

    @pandas_udf("long")
    def _assign(v):
        import numpy as np

        ids = np.asarray(cids, dtype=np.int64)
        C = np.asarray(cmat, dtype=np.float64)  # K x dim
        return _nonnull_map(
            v, lambda A: ids[np.argmax(_dimloop_cosine(A, C), axis=1)]
        )

    return _assign


def hier_branches(k: int) -> int:
    """Branch count for two-level centroid assignment: exact integer
    ceil(sqrt(k)), so both routing stages are ~sqrt(K) wide.

    This is THE scale fix for the auto-K assignment lanes (VERDICT r11
    top item): :func:`auto_centroids` makes K ∝ n, so scoring every
    vector against all K centroids is n*K = n²/256 — measured ~24× wall
    at 10× data on the r11 sf100 ladder. Two-level routing scores each
    vector against b = ceil(sqrt(K)) branch REPRESENTATIVES (the b
    lowest-id centroids), then only the fine centroids grouped under
    the 2 best representatives: n*(b + 2*branch) ≈ n*3√K — ~30-70× less
    assignment work at sf100's K, and the lane is back to ~linear.

    The full rule (deterministic and oracle-derivable in SQL — see
    emb_hier_route_gate):
      * representatives = the b lowest-id centroids;
      * each fine centroid joins the branch of its max-cosine
        representative (ties -> lowest branch) — PROXIMITY grouping, so
        branches are angularly coherent. (Consecutive-id grouping was
        measured first and rejected: incoherent branches concentrate the
        routed mass, inflating SemDeDup's within-cluster pair volume
        Σ|cluster|² 7.5× at sf10; proximity grouping + 2-branch routing
        keeps it within 1.15× of flat assignment — r12 balance
        experiment, SCALE.md.)
      * each vector routes to its 2 best representatives' branches
        (cos DESC, branch ASC) and argmaxes over their union
        (cos DESC, cid ASC). For k <= 4, b <= 2 means BOTH branches are
        always probed and two-level assignment degenerates exactly to
        the flat argmax.
    """
    import math

    b = math.isqrt(k)
    if b * b < k:
        b += 1
    return b


_HIER_COARSE_PROBES = 2


def _hier_model(cents: list[tuple[int, list[float]]]):
    """Driver-side two-level model from the collected centroid list:
    (ids, C, n_branches, members) where members[b] = ascending positions
    of the fine centroids grouped under representative b (each
    centroid's max-cosine representative, ties -> lowest branch; the
    representatives are C's first n_branches rows). Cost K*sqrt(K) dots
    — model-sized driver work, same class as collecting the centroids.
    """
    import numpy as np

    ids = np.asarray([c[0] for c in cents], dtype=np.int64)
    C = np.asarray([c[1] for c in cents], dtype=np.float64)
    n_b = hier_branches(len(cents))
    cbr = np.argmax(_dimloop_cosine(C, C[:n_b]), axis=1)
    members = [np.where(cbr == b)[0] for b in range(n_b)]
    return ids, C, n_b, members


def _hier_route2(A, C, n_b, probes=_HIER_COARSE_PROBES):
    """(rows x min(probes, n_b)) routed branch ids, best first: stable
    argsort of -cosine over the representatives (C's first n_b rows), so
    equal cosines keep ascending-branch order — the ROW_NUMBER (cos DESC,
    branch ASC) oracle rule. ``probes`` is the coarse fan-out: 2 for the
    assignment lanes (SemDeDup — dup-set overlap vs flat measured 0.985
    jaccard at 2), 3 for the label-vote lane (r13, VERDICT r12 #5: the
    vote argmax is far more routing-sensitive than the dup threshold —
    2-probe agreement vs flat-IVF measured 0.66, the 3-probe widening is
    the gated fallback)."""
    import numpy as np

    cos = _dimloop_cosine(A, C[:n_b])
    p = min(probes, n_b)
    return np.argsort(-cos, axis=1, kind="stable")[:, :p]


def _centroid_assign_hier_arrow(
    cents: list[tuple[int, list[float]]],
    coarse_probes: int = _HIER_COARSE_PROBES,
):
    """Two-level twin of :func:`_centroid_assign_arrow`: route each batch
    vector to its ``coarse_probes`` max-cosine branch representatives,
    then argmax over the union of those branches' fine centroids (ties ->
    lowest centroid id, exactly the flat kernel's rule over the reduced
    candidate set).

    Bit-exactness: cosine for any (vector, centroid) pair is the same
    left-to-right dimension-loop float64 fold regardless of which other
    centroids share the matrix, so every score here is bit-identical to
    the flat kernel's and to the Catalyst/DuckDB fold — the routing rule
    changes WHICH centroids are scored, never their values, and the
    oracle replays the identical rule. ``cents`` must be sorted by
    centroid id ascending (argmax first-occurrence = lowest id/branch).
    """
    from pyspark.sql.functions import pandas_udf

    ids_l = [c[0] for c in cents]
    cmat = [c[1] for c in cents]
    # the branch model is computed ONCE driver-side (K*sqrt(K) dots) and
    # shipped as plain lists — executors never repeat the grouping
    _ids, _C, n_b, members_np = _hier_model(cents)
    members_l = [m.tolist() for m in members_np]

    @pandas_udf("long")
    def _assign(v):
        import numpy as np

        ids = np.asarray(ids_l, dtype=np.int64)
        C = np.asarray(cmat, dtype=np.float64)

        def _best(A):
            routed = _hier_route2(A, C, n_b, coarse_probes)
            best_cos = np.full(A.shape[0], -np.inf)
            best_cid = np.full(A.shape[0], np.iinfo(np.int64).max, dtype=np.int64)
            for b in np.unique(routed):
                mem = np.asarray(members_l[b], dtype=np.int64)
                m = (routed == b).any(axis=1)
                if mem.size == 0 or not m.any():
                    continue
                cos = _dimloop_cosine(A[m], C[mem])
                loc = np.argmax(cos, axis=1)  # first occurrence -> lowest cid
                val = cos[np.arange(cos.shape[0]), loc]
                cand = ids[mem[loc]]
                idx = np.where(m)[0]
                upd = (val > best_cos[idx]) | (
                    (val == best_cos[idx]) & (cand < best_cid[idx])
                )
                best_cos[idx[upd]] = val[upd]
                best_cid[idx[upd]] = cand[upd]
            sentinel = best_cid == np.iinfo(np.int64).max
            if sentinel.any():
                # Degenerate routing: both routed branches were empty (only
                # possible when duplicate representative vectors leave a
                # branch memberless). Fall back to the flat argmax over ALL
                # centroids for those rows — same dimension-loop fold, same
                # ties->lowest-id rule — so the kernel never emits the
                # sentinel and stays aligned with the oracle's route-join
                # (which scores real centroids only).
                cos = _dimloop_cosine(A[sentinel], C)
                best_cid[sentinel] = ids[np.argmax(cos, axis=1)]
            return best_cid

        return _nonnull_map(v, _best)

    return _assign


def _centroid_probe_hier_arrow(
    cents: list[tuple[int, list[float]]],
    nprobe: int,
    coarse_probes: int = _HIER_COARSE_PROBES,
):
    """Two-level twin of :func:`_centroid_probe_arrow`: route to the
    ``coarse_probes`` max-cosine branches, then return the ``nprobe``
    nearest fine centroids over their UNION (cos DESC, cid ASC; fewer when the routed
    branches hold fewer than ``nprobe`` centroids). Per branch the
    within-branch top-``nprobe`` is computed vectorized; the global
    top-``nprobe`` is a per-row merge of <= coarse_probes*nprobe candidates."""
    from pyspark.sql.functions import pandas_udf

    ids_l = [c[0] for c in cents]
    cmat = [c[1] for c in cents]
    _ids, _C, n_b, members_np = _hier_model(cents)
    members_l = [m.tolist() for m in members_np]

    @pandas_udf("array<long>")
    def _probe(v):
        import numpy as np

        ids = np.asarray(ids_l, dtype=np.int64)
        C = np.asarray(cmat, dtype=np.float64)

        def _top(A):
            routed = _hier_route2(A, C, n_b, coarse_probes)
            cand: list[list] = [[] for _ in range(A.shape[0])]
            for b in np.unique(routed):
                mem = np.asarray(members_l[b], dtype=np.int64)
                m = (routed == b).any(axis=1)
                if mem.size == 0 or not m.any():
                    continue
                cos = _dimloop_cosine(A[m], C[mem])
                # stable sort on -cos: equal cosines keep ascending-id order
                order = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
                take = cos[np.arange(cos.shape[0])[:, None], order]
                cid = ids[mem[order]]
                for r, cs, cds in zip(np.where(m)[0], take, cid):
                    cand[r].extend(zip(cs.tolist(), cds.tolist()))
            res = []
            for lst in cand:
                lst.sort(key=lambda t: (-t[0], t[1]))
                res.append([c for _, c in lst[:nprobe]])
            return res

        return _nonnull_map(v, _top)

    return _probe


def centroid_branches(
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> "list[tuple[int, int]]":
    """(centroid_id, branch) pairs of the two-level model — the
    proximity grouping :func:`hier_branches` documents, exposed so gates
    and callers can see the split the kernels will use. Driver-side
    (model-sized, like the centroid collect itself)."""
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    ids, _C, _n_b, members = _hier_model(cents)
    out = []
    for b, mem in enumerate(members):
        out.extend((int(ids[p]), b) for p in mem)
    return sorted(out)


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    hierarchical: bool = False,
) -> DataFrame:
    """(id, cluster_id) for every corpus vector: max-cosine centroid via
    the Arrow kernel — flat (n*K) or two-level (n*2√K, see
    :func:`hier_branches`). One narrow corpus pass, centroids are a
    driver-collected model; the shared assignment stage of
    semantic_dedup / IVF, exposed for derivation gates and pipelines
    that only need the routing. A NULL embedding gets a NULL cluster_id."""
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    assign = (
        _centroid_assign_hier_arrow(cents)
        if hierarchical
        else _centroid_assign_arrow(cents)
    )
    return corpus.select(
        F.col(id_col), assign(F.col(vec_col)).alias("cluster_id")
    )


def _centroid_probe_arrow(cents: list[tuple[int, list[float]]], nprobe: int):
    """Arrow pandas UDF: the ``nprobe`` nearest centroid ids (cosine DESC,
    centroid id ASC) for each batch vector — the multi-probe twin of
    :func:`_centroid_assign_arrow` (same dimension-loop float64 fold, so
    cosines are bit-identical to the Catalyst/DuckDB fold; ``cents`` must
    be sorted by centroid id ascending so stable argsort resolves ties to
    the lowest id, matching the ROW_NUMBER (cos DESC, cid ASC) oracle)."""
    from pyspark.sql.functions import pandas_udf

    cids = [c[0] for c in cents]
    cmat = [c[1] for c in cents]

    @pandas_udf("array<long>")
    def _probe(v):
        import numpy as np

        ids = np.asarray(cids, dtype=np.int64)
        C = np.asarray(cmat, dtype=np.float64)  # K x dim

        def _top(A):
            # stable sort on -cos: equal cosines keep ascending-id order
            order = np.argsort(-_dimloop_cosine(A, C), axis=1, kind="stable")
            return ids[order[:, :nprobe]].tolist()

        return _nonnull_map(v, _top)

    return _probe


def knn_label_vote_ivf(
    labeled: DataFrame,
    unlabeled: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_id_col: str = "centroid_id",
    broadcast_index: bool = True,
    hierarchical: bool = False,
) -> DataFrame:
    """Corpus-scale kNN label propagation over an IVF index (VERDICT r6
    #3): predict a label for EVERY vector of ``unlabeled`` (the corpus —
    the big side) from its ``k`` nearest neighbors among ``labeled`` (the
    seed set), scanning only ``nprobe`` centroid buckets per vector
    instead of the whole seed set.

    This inverts :func:`knn_label_vote`'s brute-force shape (which
    broadcasts the QUERIES and is O(|corpus| x |queries|) — right when a
    handful of queries probe a huge corpus, wrong when the query side IS
    the corpus). Plan shape here:

    * centroids are a driver-collected MODEL (K rows, like the PQ
      codebook); the seed set is bucketed by max-cosine centroid and the
      corpus probes its ``nprobe`` nearest buckets — both via Arrow
      kernels, one narrow pass each, no K-way crossJoin or window.
    * with ``broadcast_index=True`` (default — seed sets are normally
      executor-memory sized) the bucketed seed set broadcasts, so the
      corpus NEVER shuffles its embeddings; the only wide ops are the
      top-k window and the vote groupBy over O(candidates) narrow rows,
      both keyed on query_id (AQE reuses the exchange). Set it False for
      a seed set too big to broadcast: the join becomes shuffle-hash on
      the bucket id.
    * candidate scoring uses :func:`pair_cosine_arrow` (bit-identical to
      the fold), so the approximate result is still exactly
      oracle-checkable.

    Ties break like everywhere in this module: assignment/probe on
    (cos DESC, cid ASC), rank on (cos DESC, neighbor_id ASC), vote on
    (n_votes DESC, label ASC). Returns (query_id, predicted_label,
    n_votes, true_label, correct) — ``true_label`` is ``unlabeled``'s own
    label column when present (held-out evaluation), else NULL.
    """
    from pyspark.sql import Window

    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    # hierarchical=True (auto-K lanes): both the seed assignment AND the
    # corpus probe are n*K stages under the flat kernels — two-level
    # routing (hier_branches) drops each to n*~(coarse+2)√K; the probe
    # then returns the nprobe nearest over the routed branches' union
    # (VERDICT r11 top item; the SQL oracle replays the same rule).
    # This lane routes through 3 coarse branches, not the assignment
    # lanes' 2 (r13, VERDICT r12 #5): the vote argmax is far more
    # routing-sensitive than SemDeDup's 0.98-cosine dup test — 2-probe
    # prediction agreement vs flat-IVF measured 0.66 on the sf0.1
    # audit (scripts/hier_quality_sf10.py), and widening the coarse
    # fan-out one step is the measured fix at ~1.3x assignment cost,
    # still ~sqrt(K) vs flat's K. For b <= 3 (K <= 9) every branch is
    # probed and the lane degenerates exactly to flat IVF.
    if hierarchical:
        assign = _centroid_assign_hier_arrow(cents, coarse_probes=3)
        probe = _centroid_probe_hier_arrow(cents, nprobe, coarse_probes=3)
    else:
        assign = _centroid_assign_arrow(cents)
        probe = _centroid_probe_arrow(cents, nprobe)
    idx = labeled.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__nl"),
        assign(F.col(vec_col)).alias("bucket"),
    )
    q = unlabeled.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probe(F.col(vec_col))).alias("bucket"),
    )
    idx_side = F.broadcast(idx) if broadcast_index else idx.hint("shuffle_hash")
    scored = (
        q.join(idx_side, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim", pair_cosine_arrow(F.col("__qv"), F.col("__cv"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    votes = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .groupBy("query_id", "__nl")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("__nl"))
    pred = (
        votes.withColumn("__vr", F.row_number().over(w2))
        .where(F.col("__vr") == 1)
        .drop("__vr")
    )
    # the operator's namesake use case is a GENUINELY unlabeled corpus:
    # true_label is NULL when the column is absent (ADVICE r7 — the
    # unconditional select raised AnalysisException on exactly that input)
    truth_col = (
        F.col(label_col)
        if label_col in unlabeled.columns
        else F.lit(None).cast("string")
    )
    truth = unlabeled.select(
        F.col(id_col).alias("query_id"), truth_col.alias("true_label")
    )
    return pred.join(truth, "query_id").select(
        "query_id",
        F.col("__nl").alias("predicted_label"),
        "n_votes",
        "true_label",
        (F.col("__nl") == F.col("true_label")).alias("correct"),
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    threshold: float = 0.95,
    hierarchical: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-
    threshold semantic deduplication. Each vector is assigned to its
    max-cosine centroid (broadcast join, one narrow corpus pass — same
    kernel as :func:`ivf_topk`); pairwise cosine is then computed only
    WITHIN clusters, and a vector is marked duplicate when a lower-id
    cluster-mate has cosine >= ``threshold`` (deterministic greedy
    min-id retention, the same survivor rule the text-dedup pipeline
    uses).

    Returns one row per corpus vector: (id, cluster_id, dup_of, is_kept)
    where ``dup_of`` is the smallest qualifying cluster-mate id (NULL
    for kept vectors). A NULL embedding has a NULL cluster_id and is kept.

    Scale shape: pair cost is Σ|cluster|² — K must grow with the corpus
    (see :func:`auto_centroids`) exactly as LSH planes must
    (:func:`auto_planes`); with K ∝ n the total candidate volume stays
    linear. The verify path uses the Arrow-vectorized cosine
    (bit-identical to the Catalyst fold), so the per-pair cost is batch
    SIMD, not interpreter evaluation.

    The reference has no similarity surface (SURVEY.md §2.7); this is
    the BASELINE.json LLM-pipeline dedup family's embedding member.

    Assignment kernel: centroids are a MODEL (like the PQ codebook) —
    collected to the driver (K rows, driver-memory bounded exactly like a
    k-means model) and closed over by an Arrow pandas UDF that scores a
    whole batch against the K×dim matrix with the same left-to-right
    float64 fold as :func:`cosine` / the DuckDB oracle (loop over
    DIMENSIONS, numpy vectorizes over batch×K). One narrow corpus pass,
    no join, no window exchange — the previous broadcast-NLJ + window
    form evaluated K interpreted Catalyst folds per row and hit a wall at
    auto_centroids scale (K=834 at a 213k corpus never finished; this
    kernel does it in seconds).
    """
    cents = sorted(
        (r[0], [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    # hierarchical=True is the auto-K production posture (VERDICT r11
    # top item): with K ∝ n from auto_centroids, the flat kernel's
    # n*K scoring is n²/256 — two-level routing (hier_branches) makes
    # it n*~3√K while staying oracle-exact (the SQL twin replays the
    # same branch rule) and keeps cluster balance (proximity branches:
    # Σ|cluster|² within ~1.15x of flat — the pair stage depends on it).
    # Flat stays the default for pinned small-K callers.
    assign = (
        _centroid_assign_hier_arrow(cents)
        if hierarchical
        else _centroid_assign_arrow(cents)
    )
    # persisted (MEMORY_AND_DISK): the assignment pass (corpus scan +
    # K-centroid scoring) feeds TWO consumers — the grouped in-cluster
    # dup kernel below and the final left join — so without the persist
    # it runs twice. The relation stays cached after the caller's action
    # (it is part of the returned lazy plan, so this function cannot
    # unpersist it); long-lived sessions rely on LRU eviction, and batch
    # drivers that run many such queries (bench.py) clearCache() between
    # them.
    assigned = corpus.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cluster_id")
    ).persist()
    # r13 (guide §8 / §4.2): the previous shuffle_hash self-join
    # materialized Σ|cluster|² pair rows, each carrying BOTH vectors
    # across the Python boundary into pair_cosine_arrow. A grouped kernel
    # per cluster ships each vector ONCE; _self_grid_hits scores the
    # in-cluster triangle with the bit-identical fold in column chunks (a
    # duplicate-heavy mega-cluster cannot OOM a task), and the MIN(id_a)
    # verdict is fused in-kernel — only (id, dup_of) rows for actual
    # duplicates ever leave Python.
    id_t = dict(assigned.dtypes)[id_col]
    chunk_target = _GRID_CHUNK_TARGET

    def _cluster_dups(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        # seeded with ids[:0] so an empty frame keeps the id column's
        # ACTUAL dtype (ADVICE r13)
        out_ids, out_dup = [ids[:0]], [ids[:0]]
        hits = _self_grid_hits(pdf[vec_col].to_numpy(), threshold, chunk_target)
        for cols, hit, _cos in hits:
            any_b = hit.any(axis=0)
            # rows are in ascending id order, so the first qualifying row
            # index IS MIN(id_a)
            out_ids.append(ids[cols[any_b]])
            out_dup.append(ids[hit.argmax(axis=0)[any_b]])
        return pd.DataFrame(
            {
                id_col: np.concatenate(out_ids),
                "dup_of": np.concatenate(out_dup),
            }
        )

    # null cluster ids (NULL embeddings) never matched in the self-join
    # this kernel replaced (NULL == NULL is not TRUE) — keep them out of
    # the group (ADVICE r13); the left join below keeps those rows
    dups = (
        assigned.where(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .applyInPandas(_cluster_dups, f"{id_col} {id_t}, dup_of {id_t}")
    )
    return assigned.join(dups, id_col, "left").select(
        id_col,
        "cluster_id",
        "dup_of",
        F.col("dup_of").isNull().alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# product quantization (PQ)
# ---------------------------------------------------------------------------


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_id_col: str = "code_id",
    n_sub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``n_sub``
    contiguous subvectors; per subspace, assign the nearest codebook entry
    (L2, ties -> lowest code id). Returns (id, codes array<int>,
    recon_err double = sum of per-subspace squared distances).

    ``codes`` are the codebook's actual ``code_id`` values — sparse or
    non-zero-based id spaces encode faithfully (the id is looked up from
    the matched entry, not inferred from its position in the sorted
    codebook array).

    PQ is how billion-vector search fits in memory (Jegou et al. 2011):
    a 64-dim float32 vector (256 B) compresses to ``n_sub`` bytes, and
    asymmetric distances against the codes need only a per-query lookup
    table. Plan shape: the codebook aggregates into ONE row (sorted
    struct array) broadcast to every partition; encoding is then a pure
    per-row expression — zero shuffle, scan-bandwidth at any corpus size.

    Float determinism: squared-distance folds run left-to-right in
    float64, so codes and errors are bit-identical to the DuckDB oracle.
    """
    scored = _pq_scored(
        corpus, codebook, vec_col, id_col, code_id_col, n_sub, dim
    )
    # map each subspace's argmin POSITION to the matched entry's cid value
    codes = F.transform(
        F.col("__ds"),
        lambda d: F.element_at(
            F.col("__cids"), F.array_position(d, F.array_min(d)).cast("int")
        ).cast("int"),
    )
    return scored.select(
        id_col,
        codes.alias("codes"),
        F.aggregate(
            F.transform(F.col("__ds"), F.array_min),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("recon_err"),
    )


def _pq_scored(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str,
    id_col: str,
    code_id_col: str,
    n_sub: int,
    dim: int,
) -> DataFrame:
    """(id, __ds, __cids) where __ds[s][c] = squared L2 distance from the
    row's subvector s to codebook entry c — the shared kernel of encoding
    (argmin per subspace) and ADC search (the query's lookup table).

    Production path: the n_sub x n_codes x sub squared-diff fold is
    ~n_codes*dim interpreted ops per row under Catalyst (all HOFs are
    CodegenFallback — 1024 ops/row at the 8x16x64 gate shape), so the
    distances come from an Arrow kernel closing over the driver-collected
    codebook (model-sized, n_codes rows — same discipline as
    semantic_dedup's centroids). Left-to-right float64 accumulation per
    subdimension matches the Catalyst fold and the DuckDB list_reduce
    bit-for-bit; :func:`_pq_scored_catalyst` stays as the pinned
    reference implementation."""
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in codebook.select(code_id_col, vec_col).collect()
    )
    cids = [c for c, _ in cents]
    sub = dim // n_sub

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<array<double>>")
    def _dists(col):
        import numpy as np
        import pandas as pd

        CB = np.array([v for _, v in cents], dtype=np.float64)
        # Catalyst's transform tower builds the outer arrays even for a
        # NULL vector (each aggregate fold is NULL): mask such rows out of
        # the batch matrix and emit [[NULL]*n_codes]*n_sub for them
        null_mask = [v is None for v in col]
        V = np.array(
            [[0.0] * dim if v is None else list(v) for v in col],
            dtype=np.float64,
        )
        n_codes = CB.shape[0]
        # acc[s][c] per batch: left-to-right over the sub dimensions
        per_sc = []
        for s in range(n_sub):
            row = []
            for c in range(n_codes):
                acc = np.zeros(len(V))
                for j in range(sub):
                    diff = V[:, s * sub + j] - CB[c, s * sub + j]
                    acc = acc + diff * diff
                row.append(acc)
            per_sc.append(row)
        out = [
            [[None] * n_codes for _ in range(n_sub)]
            if null_mask[r]
            else [
                [per_sc[s][c][r] for c in range(n_codes)]
                for s in range(n_sub)
            ]
            for r in range(len(V))
        ]
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        _dists(F.col(vec_col)).alias("__ds"),
        F.array(*[F.lit(c) for c in cids]).alias("__cids"),
    )


def _pq_scored_catalyst(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str,
    id_col: str,
    code_id_col: str,
    n_sub: int,
    dim: int,
) -> DataFrame:
    """Pure-Catalyst reference form of :func:`_pq_scored` (one-row
    broadcast codebook, per-row HOF folds); tests pin the Arrow kernel
    against it bit-for-bit."""
    sub = dim // n_sub
    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cb = codebook.select(
        F.col(code_id_col).alias("cid"), as_double.alias("cv")
    ).agg(
        F.sort_array(F.collect_list(F.struct("cid", "cv"))).alias("__cb")
    )
    v = F.col("__v")

    def dists(s: int) -> Column:
        # distances from this row's subvector s to every codebook entry
        return F.transform(
            F.col("__cb"),
            lambda c: F.aggregate(
                F.transform(
                    F.sequence(F.lit(1), F.lit(sub)),
                    lambda j: (
                        (
                            F.element_at(v, (F.lit(s * sub) + j).cast("int"))
                            - F.element_at(
                                c["cv"], (F.lit(s * sub) + j).cast("int")
                            )
                        )
                        * (
                            F.element_at(v, (F.lit(s * sub) + j).cast("int"))
                            - F.element_at(
                                c["cv"], (F.lit(s * sub) + j).cast("int")
                            )
                        )
                    ),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )

    ds = F.array(*[dists(s) for s in range(n_sub)])
    cids = F.transform(F.col("__cb"), lambda c: c["cid"])
    return (
        df.select(F.col(id_col), as_double.alias("__v"))
        .crossJoin(F.broadcast(cb))
        .select(id_col, ds.alias("__ds"), cids.alias("__cids"))
    )


def _pq_codes_expr() -> Column:
    return F.transform(
        F.col("__ds"),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    code_id_col: str = "code_id",
    n_sub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (Jegou et al. 2011 ADC):
    each query turns its ``__ds`` into a lookup table; a candidate's
    approximate distance is the sum of table entries picked by its codes
    — ``n_sub`` array lookups instead of a ``dim``-wide dot product.

    Plan shape for 100 TB: the corpus is scanned as CODES (n_sub bytes of
    effective payload per vector, not the raw embeddings), the per-query
    LUTs broadcast, and only the window's top-k ranking shuffles — the
    memory/bandwidth profile that makes billion-vector search feasible.
    Ties break (adc_dist asc, neighbor_id asc) so results are
    total-ordered and engine-independent.
    """
    from pyspark.sql import Window

    enc = _pq_scored(
        corpus, codebook, vec_col, id_col, code_id_col, n_sub, dim
    ).select(
        F.col(id_col).alias("neighbor_id"), _pq_codes_expr().alias("__codes")
    )
    qlut = _pq_scored(
        queries, codebook, vec_col, id_col, code_id_col, n_sub, dim
    ).select(F.col(id_col).alias("query_id"), F.col("__ds").alias("__qds"))
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_sub)),
            lambda s: F.element_at(
                F.element_at(F.col("__qds"), s.cast("int")),
                F.element_at(F.col("__codes"), s.cast("int")) + F.lit(1),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.crossJoin(F.broadcast(qlut))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def sql_pq_ctes(n_sub: int = 8, dim: int = 64, n_codes: int = 16) -> str:
    """Shared CTE prefix for the PQ oracles: cbt/cbrow (sorted seed
    codebook, vec_id < n_codes convention like _ivf_sql), corp, and
    scored(vec_id, ds) where ds = per-subspace distance arrays."""
    sub = dim // n_sub
    d_exprs = ", ".join(
        f"""list_transform(cb, c -> list_reduce(
              list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, {sub + 1}), j ->
                  (v[{s * sub} + j] - c.cv[{s * sub} + j])
                  * (v[{s * sub} + j] - c.cv[{s * sub} + j]))),
              (acc, x) -> acc + x))"""
        for s in range(n_sub)
    )
    return f"""
    WITH cbt AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < {n_codes}),
    cbrow AS (
      SELECT list(struct_pack(cid := cid, cv := cv) ORDER BY cid) AS cb,
             list(cid ORDER BY cid) AS cids
      FROM cbt),
    corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    scored AS (
      SELECT vec_id, [{d_exprs}] AS ds, cids FROM corp CROSS JOIN cbrow)
    """


def sql_pq_encode(n_sub: int = 8, dim: int = 64, n_codes: int = 16) -> str:
    """DuckDB twin of :func:`pq_encode`, flattened to one row per
    (vector, subspace) — top-level array columns are not sortable by the
    driver's canonicalizer (VERDICT r5 #2), so the registry emits the
    posexploded shape and this oracle mirrors it."""
    return (
        sql_pq_ctes(n_sub, dim, n_codes)
        + f"""
    , encoded AS (
      SELECT vec_id,
        list_transform(ds, d ->
          CAST(cids[list_position(d, list_min(d))] AS INT)) AS codes,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                 list_transform(ds, d -> list_min(d))),
                    (acc, x) -> acc + x) AS recon_err
      FROM scored)
    SELECT vec_id, recon_err, CAST(s.i - 1 AS INT) AS sub_idx,
           codes[s.i] AS code
    FROM encoded
    CROSS JOIN (SELECT CAST(range AS INT) + 1 AS i
                FROM range(0, {n_sub})) s
    """
    )


def sql_pq_adc_topk(
    n_sub: int = 8,
    dim: int = 64,
    n_codes: int = 16,
    n_queries: int = 5,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`pq_adc_topk` (vec_id < n_queries queries)."""
    return (
        sql_pq_ctes(n_sub, dim, n_codes)
        + f"""
    , encoded AS (
      SELECT vec_id AS neighbor_id,
             list_transform(ds, d ->
               CAST(list_position(d, list_min(d)) - 1 AS INT)) AS codes
      FROM scored),
    qlut AS (
      SELECT vec_id AS query_id, ds AS qds
      FROM scored WHERE vec_id < {n_queries}),
    adc AS (
      SELECT q.query_id, e.neighbor_id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, {n_sub + 1}),
                         s -> q.qds[s][e.codes[s] + 1])),
          (acc, x) -> acc + x) AS adc_dist
      FROM encoded e CROSS JOIN qlut q
      WHERE e.neighbor_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist ASC, neighbor_id ASC)
                  AS rnk
      FROM adc)
    SELECT query_id, neighbor_id, adc_dist, CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """
    )


# ---------------------------------------------------------------------------
# composed IVF-PQ (IVFADC, Jegou et al. 2011 §IV) — the billion-scale
# architecture both halves exist for: IVF prunes the candidate set to
# nprobe buckets, PQ compresses what remains to n_sub bytes, and the
# residual encoding (vector MINUS its assigned centroid) is what makes
# the two compose losslessly-enough — residuals are centered near zero,
# so a shared codebook quantizes every bucket well. This is FAISS's
# IndexIVFPQ; at 100 TB the corpus is scanned once (assignment + codes,
# both per-row Arrow kernels, zero shuffle), the query side's per-probe
# LUTs broadcast, and only the top-k window shuffles.
# ---------------------------------------------------------------------------


def _pq_residual_scored(
    cents: list[tuple[int, list[float]]],
    codebook: list[tuple[int, list[float]]],
    n_sub: int,
    dim: int,
):
    """Arrow kernel: per-subspace squared-L2 distance arrays from each
    row's RESIDUAL (vector minus the centroid named by its ``bucket``
    column) to every codebook entry — the encoding/LUT kernel of IVF-PQ.

    IEEE discipline matches :func:`_pq_scored`: the residual is computed
    once in float64, then each ``((v - cent) - cb)^2`` accumulates
    left-to-right over the sub dimensions, bit-identical to the DuckDB
    ``((v[i] - centv[i]) - c.cv[i])`` fold. NULL vectors emit
    ``[[NULL] * n_codes] * n_sub`` like the non-residual kernel.
    """
    from pyspark.sql.functions import pandas_udf

    cent_rows = {c: v for c, v in cents}
    cb_mat = [v for _, v in codebook]
    sub = dim // n_sub

    @pandas_udf("array<array<double>>")
    def _dists(vec, bucket):
        import numpy as np
        import pandas as pd

        CB = np.array(cb_mat, dtype=np.float64)
        vals = vec.tolist()
        bks = bucket.tolist()
        null_mask = [v is None or b is None for v, b in zip(vals, bks)]
        V = np.array(
            [[0.0] * dim if v is None else list(v) for v in vals],
            dtype=np.float64,
        )
        C = np.array(
            [
                [0.0] * dim if (b is None or b not in cent_rows)
                else cent_rows[b]
                for b in bks
            ],
            dtype=np.float64,
        )
        R = V - C  # the residual, computed once like the SQL subexpression
        n_codes = CB.shape[0]
        per_sc = []
        for s in range(n_sub):
            row = []
            for c in range(n_codes):
                acc = np.zeros(len(R))
                for j in range(sub):
                    diff = R[:, s * sub + j] - CB[c, s * sub + j]
                    acc = acc + diff * diff
                row.append(acc)
            per_sc.append(row)
        out = [
            [[None] * n_codes for _ in range(n_sub)]
            if null_mask[r]
            else [
                [per_sc[s][c][r] for c in range(n_codes)]
                for s in range(n_sub)
            ]
            for r in range(len(V))
        ]
        return pd.Series(out)

    return _dists


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    code_id_col: str = "code_id",
    n_sub: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Composed IVF-PQ top-k (FAISS IndexIVFPQ / IVFADC): each corpus
    vector is assigned to its max-cosine centroid, its residual
    product-quantized against a shared codebook; each query probes its
    ``nprobe`` nearest centroids and, PER PROBED BUCKET, builds an ADC
    lookup table from its residual relative to THAT centroid (the part
    plain PQ search skips — residual LUTs are bucket-relative). A
    candidate's approximate distance is ``n_sub`` table lookups; ranking
    is (adc_dist asc, neighbor_id asc) over all probed buckets.

    Plan shape for 100 TB: centroids + codebook are driver-side models
    (K + n_codes rows); corpus assignment and encoding are per-row Arrow
    kernels (zero shuffle — the corpus is scanned once and reduced to
    ``n_sub``-byte codes); the query side (n_q x nprobe LUT rows)
    broadcasts into the bucket join, so corpus embeddings never move.
    Only the final top-k window shuffles, keyed by query.
    """
    from pyspark.sql import Window

    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    cb = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in codebook.select(code_id_col, vec_col).collect()
    )
    res_scored = _pq_residual_scored(cents, cb, n_sub, dim)
    assign = _centroid_assign_arrow(cents)
    probe = _centroid_probe_arrow(cents, nprobe)

    enc = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        )
        .withColumn("bucket", assign(F.col("__v")))
        .withColumn("__ds", res_scored(F.col("__v"), F.col("bucket")))
        .select("neighbor_id", "bucket", _pq_codes_expr().alias("__codes"))
    )
    qp = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        )
        .withColumn("bucket", F.explode(probe(F.col("__qv"))))
        .withColumn("__qds", res_scored(F.col("__qv"), F.col("bucket")))
        .select("query_id", "bucket", "__qds")
    )
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(n_sub)),
            lambda s: F.element_at(
                F.element_at(F.col("__qds"), s.cast("int")),
                F.element_at(F.col("__codes"), s.cast("int")) + F.lit(1),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        enc.join(F.broadcast(qp), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", adc)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            "adc_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sql_ivf_pq_topk(
    n_centroids: int = 8,
    n_codes: int = 16,
    nprobe: int = 2,
    n_queries: int = 5,
    k: int = 5,
    n_sub: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk` with the gate's seed
    conventions (centroids = vec_id < n_centroids, codebook = vec_id <
    n_codes, queries = vec_id < n_queries) — the whole composition
    (assignment, residual encode, per-probe LUT, ADC rank) re-derived
    symbolically."""
    sub = dim // n_sub
    d_exprs = ", ".join(
        f"""list_transform(cb, c -> list_reduce(
              list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(range(1, {sub + 1}), j ->
                  ((v[{s * sub} + j] - centv[{s * sub} + j])
                   - c.cv[{s * sub} + j])
                  * ((v[{s * sub} + j] - centv[{s * sub} + j])
                     - c.cv[{s * sub} + j]))),
              (acc, x) -> acc + x))"""
        for s in range(n_sub)
    )
    cos_a = sql_cosine("c.v", "n.cv", dim)
    cos_q = sql_cosine("q.v", "n.cv", dim)
    return f"""
    WITH cen AS (
      SELECT vec_id AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < {n_centroids}),
    cbrow AS (
      SELECT list(struct_pack(
               cid := vec_id,
               cv := list_transform(embedding, x -> CAST(x AS DOUBLE)))
             ORDER BY vec_id) AS cb
      FROM embeddings WHERE vec_id < {n_codes}),
    corp AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    assign_scored AS (
      SELECT c.vec_id, c.v, n.cid, n.cv,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {cos_a} DESC, n.cid ASC) AS r
      FROM corp c CROSS JOIN cen n),
    assigned AS (
      SELECT vec_id AS neighbor_id, v, cid AS bucket, cv AS centv
      FROM assign_scored WHERE r = 1),
    enc AS (
      SELECT neighbor_id, bucket,
             list_transform([{d_exprs}], d ->
               CAST(list_position(d, list_min(d)) - 1 AS INT)) AS codes
      FROM assigned CROSS JOIN cbrow),
    probe_scored AS (
      SELECT q.vec_id, q.v, n.cid, n.cv,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY {cos_q} DESC, n.cid ASC) AS r
      FROM corp q CROSS JOIN cen n
      WHERE q.vec_id < {n_queries}),
    probes AS (
      SELECT vec_id AS query_id, v, cid AS bucket, cv AS centv
      FROM probe_scored WHERE r <= {nprobe}),
    qlut AS (
      SELECT query_id, bucket, [{d_exprs}] AS qds
      FROM probes CROSS JOIN cbrow),
    adc AS (
      SELECT q.query_id, e.neighbor_id, e.bucket,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, {n_sub + 1}),
                         s -> q.qds[s][e.codes[s] + 1])),
          (acc, x) -> acc + x) AS adc_dist
      FROM enc e JOIN qlut q USING (bucket)
      WHERE e.neighbor_id <> q.query_id),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist ASC, neighbor_id ASC)
                  AS rnk
      FROM adc)
    SELECT query_id, neighbor_id, bucket, adc_dist,
           CAST(rnk AS INT) AS "rank"
    FROM ranked WHERE rnk <= {k}
    """


# ---------------------------------------------------------------------------
# scalar int8 quantization (r8) — the standard first-line embedding
# compression before PQ: 4 bytes/dim float32 -> 1 byte/dim symmetric
# int8, 4x less scan bandwidth and cache footprint at 100 TB, with
# near-exact dot products (the per-vector max-abs scale bounds the
# element error at 1/254 of the vector's range). Everything stays in
# whole-stage codegen: quantization is one narrow transform()/aggregate()
# pass (no shuffle, no Python), scoring is an integer zip_with fold.
# ---------------------------------------------------------------------------


def int8_quantize(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale m = max|x_i|,
    code_i = clamp(floor(x_i * 127 / m + 0.5), -127, 127) — round-half-up
    in double, the same IEEE expression the DuckDB oracle runs, so codes
    are engine-exact. Zero vectors (m = 0) code to all-zeros. Returns
    (id, codes array<int>, maxabs double)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    m = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    base = df.select(F.col(id_col), v.alias("__v"), m.alias("maxabs"))
    codes = F.transform(
        F.col("__v"),
        lambda x: F.when(F.col("maxabs") == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(x * F.lit(127.0) / F.col("maxabs") + F.lit(0.5))
                    .cast("int"),
                ),
            )
        ),
    )
    return base.withColumn("codes", codes).drop("__v")


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate dot-product top-k over int8 codes: the integer code
    dot (exact int64 fold) is rescaled by (m_q * m_c / 127^2) — one
    deterministic double expression, so even the APPROXIMATE scores are
    oracle-exact. Plan shape: corpus quantized in one narrow pass and
    never shuffled; the (tiny) quantized query side broadcasts; ranking
    is the standard per-query top-k window. Ties break on neighbor_id."""
    from pyspark.sql import Window

    cq = int8_quantize(corpus, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("__cc"),
        F.col("maxabs").alias("__cm"),
    )
    qq = int8_quantize(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("__qc"),
        F.col("maxabs").alias("__qm"),
    )
    idot = F.aggregate(
        F.zip_with("__qc", "__cc", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        cq.join(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "approx_dot",
            F.col("__qm") * F.col("__cm") / F.lit(16129.0)
            * idot.cast("double"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "approx_dot",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sign_pack_codes(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """1-bit sign quantization: bit i set when x_i >= 0, packed into TWO
    int64 words of 32 dims each (shifts stay < 32 so the packing is
    portable to engines where a 63-bit shift wraps). 64 bytes/dim
    float32 -> 8 bytes/vector: the most aggressive embedding compression
    tier, ranked by Hamming distance (popcount of XOR)."""
    v = F.col(vec_col)

    def pack(lo: int) -> Column:
        # MSB-first multiplication fold (acc*2 + bit over i = 31..0), so
        # no shift-by-column is needed and the max value 2^32-1 can
        # never overflow — bit i of the result is dim lo+i's sign bit
        return F.aggregate(
            F.sequence(F.lit(31), F.lit(0), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda acc, i: acc * 2
            + F.when(
                F.element_at(v, (i + 1 + lo).cast("int")) >= 0, F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )

    return df.select(
        F.col(id_col), pack(0).alias("code_lo"), pack(32).alias("code_hi")
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hamming top-k over sign-packed codes: XOR + popcount on two int64
    words per pair — integer-exact, so even this roughest approximation
    ranks identically in any engine. Broadcast queries, one corpus pass,
    per-query window; ties break (hamming ASC, neighbor_id ASC)."""
    from pyspark.sql import Window

    cq = sign_pack_codes(corpus, vec_col, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("code_lo").alias("__cl"),
        F.col("code_hi").alias("__ch"),
    )
    qq = sign_pack_codes(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("code_lo").alias("__ql"),
        F.col("code_hi").alias("__qh"),
    )
    ham = (
        F.bit_count(F.col("__cl").bitwiseXOR(F.col("__ql")))
        + F.bit_count(F.col("__ch").bitwiseXOR(F.col("__qh")))
    ).cast("int")
    scored = (
        cq.join(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("hamming", ham)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cluster_quality_report(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    dim: int = 64,
) -> DataFrame:
    """Per-cluster quality diagnostics after a k-means/IVF assignment:
    member count, within-cluster SSE (squared L2 to the assigned
    centroid), mean squared distance, mean cosine to centroid, and the
    separation to the nearest OTHER centroid — the numbers that tell you
    whether K is too small (fat, overlapping clusters) before you build
    an IVF index or SemDeDup pass on top of it.

    Assignment is max-cosine (the family's convention — IVF, SemDeDup and
    label-vote all assign by cosine); dispersion is measured in L2, the
    k-means objective. Float sums are ORDER-FREE exact: each row's
    squared distance / cosine is quantized to int64 (floor(x * 1e9))
    before the SUM, so the aggregate is bit-identical on any engine and
    any partitioning; means divide the exact integer sum at the end.

    Plan shape at 100 TB: centroids are a driver model (K rows); the
    corpus is scanned once (Arrow assign + codegen distance fold, no
    shuffle) into a K-row partial aggregate; the K^2 separation table
    never touches the corpus. Returns one row per non-empty cluster.
    """
    from pyspark.sql import Window

    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    assign = _centroid_assign_arrow(cents)
    cen_df = centroids.select(
        F.col(centroid_id_col).alias("cluster_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__cv"),
    )
    rows = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn("cluster_id", assign(F.col("__v")))
    d2 = F.aggregate(
        F.zip_with("__v", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosc = dot(F.col("__v"), F.col("__cv")) / (
        norm(F.col("__v")) * norm(F.col("__cv"))
    )
    per = (
        rows.join(F.broadcast(cen_df), "cluster_id")
        .select(
            "cluster_id",
            F.floor(d2 * F.lit(1e9)).cast("long").alias("__d2q"),
            F.floor(cosc * F.lit(1e9)).cast("long").alias("__cq"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum("__d2q").alias("__sse_q"),
            F.sum("__cq").alias("__cos_q"),
        )
    )
    # K^2 separation table — model-sized, never touches the corpus
    a = cen_df.select(
        F.col("cluster_id"), F.col("__cv").alias("__ca")
    )
    b = cen_df.select(
        F.col("cluster_id").alias("other_id"), F.col("__cv").alias("__cb")
    )
    cd2 = F.aggregate(
        F.zip_with("__ca", "__cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc("__cd2"), F.asc("other_id")
    )
    sep = (
        a.crossJoin(b)
        .where(F.col("cluster_id") != F.col("other_id"))
        .withColumn("__cd2", cd2)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(
            "cluster_id",
            F.col("other_id").alias("nearest_cid"),
            F.sqrt("__cd2").alias("centroid_sep"),
        )
    )
    n_d = F.col("n_members").cast("double")
    return per.join(sep, "cluster_id").select(
        "cluster_id",
        "n_members",
        (F.col("__sse_q").cast("double") / F.lit(1e9)).alias("sse"),
        (F.col("__sse_q").cast("double") / (n_d * F.lit(1e9))).alias(
            "mean_sq_dist"
        ),
        (F.col("__cos_q").cast("double") / (n_d * F.lit(1e9))).alias(
            "mean_cos"
        ),
        "nearest_cid",
        "centroid_sep",
    )


def dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension statistics of an embedding column — the fit half of
    feature standardization (z-score), and the drift check you run before
    trusting a PQ codebook or IVF centroids trained on last month's
    distribution: one row per dimension with n, mean, variance, std,
    min, max.

    Float sums are ORDER-FREE exact: each value and its square are
    quantized to int64 (floor(x * 1e9)) before the SUM, so mean/var are
    derived from exact integers by one deterministic double expression —
    bit-identical on any engine/partitioning. Plan shape: posexplode
    fans out dim-per-row but the aggregate is partial map-side into
    ``dim`` groups (64), so the shuffle carries O(dims x partitions)
    rows, not the corpus.
    """
    ex = df.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim_idx", "__v")
    )
    agg = ex.groupBy("dim_idx").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.floor(F.col("__v") * F.lit(1e9)).cast("long")).alias("__sq"),
        F.sum(
            F.floor(F.col("__v") * F.col("__v") * F.lit(1e9)).cast("long")
        ).alias("__ssq"),
        F.min("__v").alias("min_val"),
        F.max("__v").alias("max_val"),
    )
    nd = F.col("n").cast("double") * F.lit(1e9)
    mean = F.col("__sq").cast("double") / nd
    var = F.col("__ssq").cast("double") / nd - mean * mean
    return agg.select(
        F.col("dim_idx").cast("int").alias("dim_idx"),
        "n",
        mean.alias("mean"),
        var.alias("variance"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"),
        "min_val",
        "max_val",
    )


def zscore_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "normalized",
    eps: float = 1e-12,
) -> DataFrame:
    """Standardize each embedding dimension to mean 0 / std 1 using
    :func:`dim_stats` — per-dim constants collect to the driver (a
    model-sized 64-row table) and the normalization is one zip_with
    against literal arrays: zero shuffle, zero Python, scan-bandwidth at
    any corpus size. Constant dimensions (std < ``eps``) pass through
    centered but unscaled."""
    stats = {
        int(r["dim_idx"]): (float(r["mean"]), float(r["std"]))
        for r in dim_stats(df, vec_col, id_col).collect()
    }
    dims = sorted(stats)
    means = F.array(*[F.lit(stats[d][0]) for d in dims])
    stds = F.array(
        *[F.lit(stats[d][1] if stats[d][1] >= eps else 1.0) for d in dims]
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(
        out_col,
        F.zip_with(
            F.zip_with(v, means, lambda a, m: a - m),
            stds,
            lambda c, s: c / s,
        ),
    )


def mutual_topk_pairs(
    topk: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    score_col: str = "cos_sim",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal (mutual) k-NN pairs from ANY top-k table: (a, b) kept
    only if b is in a's top-k AND a is in b's top-k. One-directional
    nearest-neighbor edges are asymmetric in dense regions (a hub is
    everyone's neighbor but reciprocates few); the mutual filter is the
    standard robustness step before near-dup clustering or kNN-graph
    community detection. Composes with any retrieval backend — brute,
    IVF, IVF-PQ, int8 or 1-bit Hamming — since it only consumes the
    (query, neighbor, score, rank) shape; cost is one self-join of the
    top-k table (O(n*k) rows, never the corpus).

    Returns (id_a, id_b, score, rank_ab, rank_ba) with id_a < id_b.
    """
    a = topk.select(
        F.col(query_col).alias("id_a"),
        F.col(neighbor_col).alias("id_b"),
        F.col(score_col).alias("score"),
        F.col(rank_col).alias("rank_ab"),
    )
    b = topk.select(
        F.col(neighbor_col).alias("id_a"),
        F.col(query_col).alias("id_b"),
        F.col(rank_col).alias("rank_ba"),
    )
    return (
        a.join(b.hint("shuffle_hash"), ["id_a", "id_b"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "score", "rank_ab", "rank_ba")
    )


def power_iteration_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iterations: int = 4,
) -> DataFrame:
    """Top singular direction of the embedding matrix by distributed
    power iteration — the "common discourse component" whose removal
    sharpens sentence embeddings (Arora et al. 2017 SIF), and the
    dominant-drift axis a monitoring pipeline tracks. Never materializes
    the covariance: each iteration is one corpus pass computing
    ``X^T (X v)`` as a per-row dot (codegen fold) followed by a per-dim
    sum, with the driver holding only the 64-value iterate.

    Engine-exact across iterations: per-dim sums quantize each row's
    contribution to int64 (``floor(x * s * 1e6)``) so the reduce is
    order-free, and the next iterate is ``S_j / max|S_j|`` — an
    int64-by-int64 double division both engines round identically, so
    after any number of iterations the direction is bit-identical to
    the DuckDB oracle's unrolled recomputation.

    Plan shape at 100 TB: ``iterations`` corpus scans (cache the
    projected column to pay I/O once), each reducing map-side into 64
    groups; driver state is 64 numbers. Returns one row per dimension:
    (dim_idx, u_q int64 raw sum, u_val double in [-1, 1] scaled by the
    max-abs component).
    """
    # pay the scan/decode once: the raw vector column is cached (floats —
    # half the bytes of a double projection; the exact f32->f64 widen
    # happens inside the Arrow kernel) and every iteration reads the
    # in-memory column — at 100 TB this is the difference between 1 and
    # `iterations` parquet passes
    proj = df.select(F.col(vec_col).alias("__v")).persist()
    try:
        last, v = _power_iterate_arrow(proj, dim, iterations)
    finally:
        proj.unpersist()
    out = [(j, last[j], v[j]) for j in range(dim)]
    return df.sparkSession.createDataFrame(
        out, "dim_idx int, u_q long, u_val double"
    )


def _power_iterate_arrow(
    proj: DataFrame,
    dim: int,
    iterations: int,
    deflate: "list[float] | None" = None,
):
    """The power-iteration loop over a cached raw ``__v`` column, each
    pass an Arrow map task emitting one partial int64 per-dim sum per
    batch (r13; the r12 shape evaluated two interpreted Catalyst folds —
    the x·v dot inside the quantized contribution transform — per row
    per pass, measured 4x slower at sf10 and 367 s at sf100).

    Bit-exactness contract (same discipline as :func:`pair_cosine_arrow`):
    the kernel loops over DIMENSIONS while numpy vectorizes over the
    batch — ``s += A[:, i] * v[i]`` replays the Catalyst fold's
    left-to-right float64 multiply-add sequence exactly (acc starts 0.0),
    ``floor((A * s) * 1e6)`` is the same association as the expression
    ``floor(x * s * lit(1e6))``, the f32->f64 widen is exact, and the
    per-dim reduce is an order-free int64 sum — so every iterate is
    bit-identical to the r12 Catalyst form and to the DuckDB oracle's
    unrolled recomputation.

    ``deflate`` folds Hotelling deflation into the SAME pass: given the
    exact u1 floats, each batch computes the residual
    ``x - (x·u1 / u1·u1) u1`` with the identical left-fold dots and
    elementwise ops as :func:`remove_top_component`'s Catalyst
    expression, then iterates on residuals — no second corpus scan, no
    second full-width cache, no recompute-per-pass expression blowup.

    Returns ({dim_idx: raw int64 sum}, final iterate as python floats).
    """
    from pyspark.sql.functions import pandas_udf  # noqa: F401 (env gate)

    u_l = list(map(float, deflate)) if deflate is not None else None
    uu = None
    if u_l is not None:
        uu = 0.0  # left fold, the exact association of similarity.norm's
        for x in u_l:  # F.aggregate over the literal array
            uu = uu + x * x

    v = [1.0] * dim
    last = None
    for _ in range(iterations):
        vv = list(map(float, v))

        def gen(batches, _vv=vv, _u=u_l, _uu=uu):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.array(pdf["__v"].tolist(), dtype=np.float64)
                if _u is not None:
                    U = np.asarray(_u, dtype=np.float64)
                    acc = np.zeros(len(A))
                    for i in range(dim):
                        acc += A[:, i] * U[i]
                    A = A - (acc / _uu)[:, None] * U[None, :]
                s = np.zeros(len(A))
                for i in range(dim):
                    s += A[:, i] * _vv[i]
                q = np.floor((A * s[:, None]) * 1e6).astype(np.int64)
                yield pd.DataFrame(
                    {"dim_idx": np.arange(dim, dtype=np.int32),
                     "sq": q.sum(axis=0)}
                )

        rows = (
            proj.mapInPandas(gen, "dim_idx int, sq long")
            .groupBy("dim_idx")
            .agg(F.sum("sq").cast("bigint").alias("sq"))
            .collect()
        )
        last = {int(r["dim_idx"]): int(r["sq"]) for r in rows}
        m = max(abs(x) for x in last.values())
        v = [last[j] / m if m else 0.0 for j in range(dim)]
    return last, v


def remove_top_component(
    df: DataFrame,
    component: list[float],
    vec_col: str = "embedding",
    out_col: str = "residual",
) -> DataFrame:
    """SIF post-processing: subtract each vector's projection onto the
    (unnormalized) top component u — ``x - (x.u / u.u) u``. Pure
    zip_with/aggregate codegen against literal arrays; zero shuffle."""
    u = F.array(*[F.lit(float(x)) for x in component])
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    xu = F.aggregate(
        F.zip_with(vd, u, lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    uu = F.aggregate(
        F.zip_with(u, u, lambda a, b: a * b), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    coef = xu / uu
    return df.withColumn(
        out_col, F.zip_with(vd, u, lambda a, b: a - coef * b)
    )


# ---------------------------------------------------------------------------
# persisted IVF index: build once, query many (partition-pruned reads)
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> None:
    """Materialize an IVF index on disk: ``centroids/`` (the model, K
    rows) and ``postings/`` — every corpus vector assigned to its
    max-cosine centroid, written **partitionBy(bucket)** so query-time
    reads prune to the probed buckets' directories only.

    This is the build-once half of the FAISS IVF lifecycle: at 100 TB the
    assignment scan runs once, and every later query batch touches
    ``nprobe/K`` of the postings bytes via partition pruning instead of
    re-scanning (and re-shuffling) the corpus. Vectors are stored inline
    in the postings (what IndexIVFFlat does); the 8-byte-code variant is
    ``ivf_pq_topk``. Assignment ties break on ascending centroid id, so
    the index is deterministic and the query path stays oracle-exact.
    """
    from pyspark.sql import Window

    cen = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    scored = corpus.select(id_col, vec_col).crossJoin(
        F.broadcast(cen)
    ).withColumn("__ccos", cosine(F.col(vec_col), F.col("__cvec")))
    w = Window.partitionBy(id_col).orderBy(F.desc("__ccos"), F.asc("__cid"))
    assigned = (
        scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(id_col, vec_col, F.col("__cid").alias("bucket"))
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/postings"
    )


def ivf_index_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Query a persisted IVF index (``build_ivf_index``): probe each
    query's ``nprobe`` closest centroids, then rank exact cosine over the
    probed buckets only.

    The probed bucket set is model-sized (<= n_queries x nprobe distinct
    ids), so it is collected and inlined as an ``isin`` literal — which
    turns into **PartitionFilters on the postings scan** (plan-asserted):
    Spark lists only the probed ``bucket=…`` directories and never reads
    the rest of the index. Results are identical to the in-memory
    ``ivf_topk`` on the same centroids, which is exactly what the gate
    checks (persistence must not change answers).
    """
    from pyspark.sql import Window

    cen = spark.read.parquet(f"{index_dir}/centroids").select(
        F.col(centroid_id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    probe_scored = queries.select(id_col, vec_col).crossJoin(
        F.broadcast(cen)
    ).withColumn("__ccos", cosine(F.col(vec_col), F.col("__cvec")))
    w = Window.partitionBy(id_col).orderBy(F.desc("__ccos"), F.asc("__cid"))
    probes = (
        probe_scored.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.col("__cid").cast("bigint").alias("bucket"),
        )
    )
    bucket_ids = sorted(
        r["bucket"] for r in probes.select("bucket").distinct().collect()
    )
    postings = (
        spark.read.parquet(f"{index_dir}/postings")
        .where(F.col("bucket").cast("bigint").isin(bucket_ids))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            F.col("bucket").cast("bigint").alias("bucket"),
        )
    )
    scored = (
        probes.join(postings, "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def power_iteration_top2(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iterations: int = 4,
) -> DataFrame:
    """Top TWO singular directions by power iteration + deflation: find
    u1 on the raw vectors, project it out of every row
    (``remove_top_component`` — zero-shuffle codegen), then find u2 on
    the residuals. The classic Hotelling deflation, distributed: each
    component costs ``iterations`` corpus passes and the driver only
    ever holds 2 x 64 numbers — the covariance never materializes.

    Engine-exact end to end: u1 is bit-identical to the oracle (int64
    per-dim sums, int/int renormalization); the residual
    ``x - (x.u1/u1.u1) u1`` is per-row double arithmetic against exact
    literal components (left-fold dots, same association as the
    oracle's list_reduce); u2 then re-quantizes, so BOTH directions
    hash-match the DuckDB unrolled recomputation. Output: one row per
    (component, dim_idx).

    Fused plan (r13, VERDICT r12 #3): ONE parquet scan and ONE cached
    raw-vector column serve both chains, and every pass is the Arrow
    partial-sum kernel (:func:`_power_iterate_arrow`) — u2's passes
    fold the deflation residual into the same kernel invocation, so the
    r12 shape's second corpus scan + second full-width residual cache
    (2 x corpus bytes pinned at sf100) and its two-interpreted-folds-
    per-row pass cost are both gone. The residual arithmetic replays
    remove_top_component's expression ops exactly, so both directions
    stay bit-exact against the unchanged oracle.
    """
    spark = df.sparkSession
    proj = df.select(F.col(vec_col).alias("__v")).persist()
    try:
        last1, u1 = _power_iterate_arrow(proj, dim, iterations)
        last2, u2 = _power_iterate_arrow(
            proj, dim, iterations, deflate=u1
        )
    finally:
        proj.unpersist()
    rows = [(1, j, last1[j], u1[j]) for j in range(dim)] + [
        (2, j, last2[j], u2[j]) for j in range(dim)
    ]
    return spark.createDataFrame(
        rows, "component int, dim_idx int, u_q long, u_val double"
    )


def uncertainty_margin(
    labeled: DataFrame,
    unlabeled: DataFrame,
    k: int = 5,
    select_n: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Active-learning acquisition by vote margin: kNN-vote every
    unlabeled vector against the labeled pool, then surface the
    ``select_n`` points whose top-two label vote counts are closest —
    the classic uncertainty-sampling rule for "what should a human
    label next" in a data-curation loop.

    Plan shape: the exact top-k scoring broadcasts the unlabeled batch
    over one labeled-pool pass (:func:`brute_force_topk`); everything
    after — votes, top-two margin, the global priority rank — runs on
    O(k x unlabeled) then O(unlabeled) rows, so the final unpartitioned
    rank window is model-sized, never corpus-sized. Integer votes and
    total-ordered ties (margin ASC, query_id ASC) keep the selection
    engine-exact.
    """
    from pyspark.sql import Window

    # batch x pool scored pairs reach tens of millions once the pool is
    # corpus-sized -> Arrow kernel (bit-identical; fold is ~1M pairs/s)
    nn = brute_force_topk(
        labeled, unlabeled, k=k, id_col=id_col, vec_col=vec_col,
        use_arrow=True,
    )
    lab = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        lab.join(F.broadcast(nn), "neighbor_id")
        .groupBy("query_id", "__nl")
        .agg(F.count("*").cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__nl")
    )
    ranked = votes.withColumn("vr", F.row_number().over(w))
    agg = ranked.groupBy("query_id").agg(
        F.max(F.when(F.col("vr") == 1, F.col("__nl"))).alias(
            "predicted_label"
        ),
        F.max(F.when(F.col("vr") == 1, F.col("n_votes"))).alias("n_top"),
        F.coalesce(
            F.max(F.when(F.col("vr") == 2, F.col("n_votes"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_second"),
    )
    sel = agg.withColumn(
        "margin", (F.col("n_top") - F.col("n_second")).cast("bigint")
    ).withColumn(
        "priority",
        F.row_number()
        .over(Window.orderBy(F.asc("margin"), F.asc("query_id")))
        .cast("int"),
    )
    return sel.where(F.col("priority") <= select_n).select(
        "query_id", "predicted_label", "n_top", "n_second", "margin",
        "priority",
    )
