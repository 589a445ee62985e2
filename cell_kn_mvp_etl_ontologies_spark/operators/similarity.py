"""Embedding similarity operators (SURVEY.md §2.12).

Brute-force cosine is the correctness baseline; the LSH-bucketed variant is
the scale path (random-hyperplane signatures shrink the candidate set from
O(N·Q) to per-bucket joins).  All math stays JVM-side: ``zip_with`` +
``aggregate`` over array columns — no Python in the hot path.

Determinism note: cross-engine float reduction differs (DuckDB's
list_dot_product on FLOAT[] accumulates in single precision), so the
oracle-checked variant quantizes to integers (exact, associative) and only
then divides in double — bit-identical across engines.  The default double
path is used for benchmarking.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .windows import window_rank_topk


# The round-14 optimization round A/B'd a size-guarded UNROLLED fast path
# here (``CASE WHEN size(a)=d THEN a[0]*b[0]+... ELSE <hof> END`` for the
# known widths) and REVERTED it: the unroll multiplies references to its
# input columns (64 GetArrayItems + size() guards), and when the input is
# itself a derived expression — exactly the serving paths, where
# ``quantize_vec`` output feeds ``_dot_long`` through CollapseProject —
# the planner duplicates that subtree per reference.  Interleaved same-
# session A/B at the bench rows (``git show 3609c14:tools/probe_r14_regress_ab.py``):
# ann_ivf_80k 1.59 s (HOF) vs 6.38 s (unroll), ann_hamming_80k 1.61 vs
# 5.75, cosine_topk_80k a wash.  The HOF fold stays: one reference per
# input array, specialized evaluation loop.


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _dot_long(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def quantize_vec(v: Column, scale: int = 1000) -> Column:
    """array<float> -> array<long> of round(x*scale), HALF_UP (round half
    away from zero).  Dyadic embedding values DO land exactly on .5 after
    scaling (0.0625 * 1000 = 62.5 exactly), so the rounding mode is part of
    the cross-engine contract: Spark ``round`` and DuckDB ``round`` both
    round half away from zero, and every numpy twin must replicate that via
    ``quantize_np`` below — ``np.rint`` (half-even) silently diverges at
    exactly those values."""
    return F.transform(v, lambda x: F.round(x.cast("double") * scale, 0).cast("long"))


def quantize_np(x, scale: int = 1000):
    """numpy twin of ``quantize_vec``: HALF_UP quantization matching Spark
    and DuckDB ``round`` (half away from zero).  ``np.rint`` is half-even
    and disagrees at dyadic values (0.0625*1000=62.5 -> rint 62, Spark 63),
    which would silently break the bit-identical contract of the vectorized
    ANN twins (ADVICE r4, high)."""
    import numpy as np

    y = np.asarray(x, dtype=np.float64) * scale
    # branch-free HALF_UP: |y| rounds up at .5, copysign restores the sign
    # (floor(|y| + 0.5) == round-half-away-from-zero for non-negative |y|)
    return np.copysign(np.floor(np.abs(y) + 0.5), y).astype(np.int64)


def sq_dist_long(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 over quantized vectors — THE canonical copy
    of the exactness-doctrine expression (int64 arithmetic, left-fold
    order); clustering and PQ import it rather than re-deriving."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def md5_seed_cells(df: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """THE seed draw of every md5-seeded cell set (k-means and the
    cell-routed rungs): the first ``n`` rows of ``df`` by
    (md5(cast(id as string)), id), numbered ``cell`` 0..n-1 in that order,
    with their vectors as ``cv`` — a uniform but deterministic draw, a pure
    function of the ids.  orderBy+limit plans as TakeOrderedAndProject
    (per-partition n-heaps, driver merge), so the numbering window runs
    over n rows only.  ``cell`` is the window's INT; callers cast."""
    top = df.select(
        id_col, vec_col, F.md5(F.col(id_col).cast("string")).alias("h")
    ).orderBy("h", id_col).limit(n)
    return top.select(
        (F.row_number().over(Window.orderBy("h", F.col(id_col))) - 1).alias("cell"),
        F.col(vec_col).alias("cv"),
    )


def nearest_cells(
    side: DataFrame, id_col: str, vec_col: str, centers: DataFrame, keep: int
) -> DataFrame:
    """THE nearest-cell assignment: each ``side`` row's ``keep`` nearest
    ``centers`` (cell, cv) by exact int64 squared L2 (``sq_dist_long``),
    ties to the smaller cell — (id_col, cell).  The centers are n_cells
    rows by construction and broadcast, so the side never shuffles for the
    distances, only for the per-id top-``keep`` window."""
    scored = side.join(F.broadcast(centers), on=F.lit(True)).select(
        id_col, "cell", sq_dist_long(F.col(vec_col), F.col("cv")).alias("d")
    )
    return window_rank_topk(
        scored, [id_col], [F.col("d").asc(), F.col("cell").asc()], keep
    ).select(id_col, "cell")


def with_norm_sq(df: DataFrame, vec_col: str, out_col: str = "norm_sq") -> Column:
    return df.withColumn(out_col, _dot_long(F.col(vec_col), F.col(vec_col)))


def _quantized_side(
    df: DataFrame,
    id_alias: str,
    side: str,
    scale: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_alias, {side}_vec, {side}_norm): HALF_UP-quantized vectors with
    their exact int64 squared norms — one side of a quantized cosine."""
    vec = f"{side}_vec"
    return df.select(
        F.col(id_col).alias(id_alias), quantize_vec(F.col(vec_col), scale).alias(vec)
    ).withColumn(f"{side}_norm", _dot_long(F.col(vec), F.col(vec)))


def _cos_quantized(a: str, b: str) -> Column:
    """Quantized cosine of two ``_quantized_side`` sides: the exact int64
    dot and ONE IEEE-deterministic division,
    ``double(dot) / sqrt(double(a_norm) * double(b_norm))``."""
    return _dot_long(F.col(f"{a}_vec"), F.col(f"{b}_vec")).cast("double") / F.sqrt(
        F.col(f"{a}_norm").cast("double") * F.col(f"{b}_norm").cast("double")
    )


def cosine_join_quantized(
    queries: DataFrame, targets: DataFrame, scale: int = 1000
) -> DataFrame:
    """Exact-deterministic all-pairs cosine: (q_id, t_id, cos DOUBLE).

    Input frames need columns (vec_id, embedding).  Quantized integer dot
    products are exact and associative; the single double division
    ``dot / sqrt(double(nq) * double(nt))`` is IEEE-deterministic.
    """
    q = _quantized_side(queries, "q_id", "q", scale)
    t = _quantized_side(targets, "t_id", "t", scale)
    # Broadcast the query side: top-k/near-dup workloads have |Q| << |T|.
    pairs = t.join(F.broadcast(q), on=F.lit(True), how="inner")
    return pairs.select("q_id", "t_id", _cos_quantized("q", "t").alias("cos"))


def cosine_join(queries: DataFrame, targets: DataFrame) -> DataFrame:
    """Double-precision all-pairs cosine (bench path; same plan shape)."""
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("q_vec"),
    ).withColumn("q_norm", _dot(F.col("q_vec"), F.col("q_vec")))
    t = targets.select(
        F.col("vec_id").alias("t_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("t_vec"),
    ).withColumn("t_norm", _dot(F.col("t_vec"), F.col("t_vec")))
    pairs = t.join(F.broadcast(q), on=F.lit(True), how="inner")
    return pairs.select(
        "q_id",
        "t_id",
        (_dot(F.col("q_vec"), F.col("t_vec")) / F.sqrt(F.col("q_norm") * F.col("t_norm"))).alias("cos"),
    )


def similarity_topk(
    queries: DataFrame, targets: DataFrame, k: int, quantized: bool = True
) -> DataFrame:
    """Top-k cosine neighbors per query (excluding self)."""
    join = cosine_join_quantized if quantized else cosine_join
    pairs = join(queries, targets).filter(F.col("q_id") != F.col("t_id"))
    return window_rank_topk(
        pairs, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def embedding_near_dups(corpus: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Near-duplicate pairs (a < b) by cosine over the full corpus.

    At scale, pre-bucket (``embedding_near_dups_clustered`` below, or
    hyperplane LSH) and run this join per bucket instead of all-pairs."""
    pairs = cosine_join_quantized(corpus, corpus).filter(F.col("q_id") < F.col("t_id"))
    return pairs.filter(F.col("cos") > threshold).select(
        F.col("q_id").alias("a"), F.col("t_id").alias("b"), "cos"
    )


def embedding_near_dups_clustered(
    corpus: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    threshold: float = 0.95,
    scale: int = 1000,
) -> DataFrame:
    """Scale path for embedding near-dup detection: k-means-bucket the
    corpus (deterministic integer k-means), then score pairs WITHIN each
    cell only — the all-pairs O(N²) cross join becomes k equi-join buckets
    of ~(N/k)² and the pair-generation join is a plain shuffle on cell.

    Recall trade, stated plainly: a near-dup pair whose members fall in
    different cells is missed (same class of trade as LSH banding).  An
    exact duplicate vector can never split cells — identical vectors have
    identical centroid distances and the argmin tie-breaks on cell id — so
    true duplicates always survive; raise k for tighter buckets, lower k
    (or union multiple clusterings) for recall.  Every stage is
    integer-deterministic, so results are hash-gateable cross-engine."""
    from .clustering import kmeans_integer

    cells = kmeans_integer(corpus, "vec_id", "embedding", k=k, n_iter=n_iter, scale=scale)
    t = _quantized_side(corpus, "vec_id", "v", scale).join(cells, on="vec_id")
    a, b = (
        t.select(
            F.col("vec_id").alias(s), F.col("v_vec").alias(f"{s}_vec"),
            F.col("v_norm").alias(f"{s}_norm"), "cell",
        )
        for s in ("a", "b")
    )
    pairs = a.join(b, on="cell").filter(F.col("a") < F.col("b"))
    scored = pairs.select("a", "b", _cos_quantized("a", "b").alias("cos"))
    return scored.filter(F.col("cos") > threshold)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: each vector mapped to its ``nprobe`` nearest
    centroids by exact quantized cosine (ties broken by centroid id).

    Output: (id_col, cell, probe_rank).  The centroid set is broadcast (k is
    small by construction); assignment is a narrow map over the data — no
    shuffle of the corpus.  Centroid choice is the caller's (deterministic
    subsets work fine for oracle checking; k-means iterations can refine the
    same contract at scale)."""
    c = _quantized_side(centroids, "cell", "c", scale, id_col, vec_col)
    v = _quantized_side(df, id_col, "v", scale, id_col, vec_col)
    pairs = v.join(F.broadcast(c), on=F.lit(True), how="inner")
    scored = pairs.select(id_col, "cell", _cos_quantized("v", "c").alias("c_cos"))
    ranked = window_rank_topk(
        scored, [id_col], [F.col("c_cos").desc(), F.col("cell").asc()], nprobe,
        rank_col="probe_rank",
    )
    return ranked.select(id_col, "cell", "probe_rank")


def _ivf_probe(
    df: DataFrame, centroids: DataFrame, nprobe: int, scale: int
) -> DataFrame:
    """The numpy probe map of the routed IVF rungs: (vec_id, cell,
    probe_rank, qv) — each vector's ``nprobe`` nearest centroids, the same
    rows as ``ivf_assign``, plus its quantized vector ``qv``, repeated once
    per probe so a routed rung needs no join back to the queries.

    The k-row centroid table is collected driver-side (k-scale — the one
    collect that is always legal here) and each Arrow batch scores against
    it with ONE matmul instead of k interpreted HOF dot products per row.
    Both sides quantize through the expression path (``quantize_vec``), so
    exactly one rounding mode is in play; cosine is the identical IEEE shape
    (double(dot)/sqrt(double·double)); the nprobe selection replays the
    (c_cos DESC, cell ASC) total order with a stable argsort over
    cell-sorted centroid columns."""
    import numpy as np
    import pyarrow as pa

    from .guards import check_driver_bound

    crows = centroids.select(
        F.col("vec_id").alias("cell"), quantize_vec(F.col("embedding"), scale).alias("cv")
    ).collect()
    check_driver_bound(
        len(crows),
        65_536,
        "_ivf_probe (centroid driver collect)",
        "a coarser cell count at index build time (centroids are "
        "structurally k_cells rows — this bound failing means the index "
        "was built with a corpus-scale cell count)",
    )
    cells = np.array([int(r.cell) for r in crows], dtype=np.int64)
    C = np.array([list(r.cv) for r in crows], dtype=np.int64)
    ord_c = np.argsort(cells, kind="stable")
    cells, C = cells[ord_c], C[ord_c]
    c_norm = (C * C).sum(axis=1)
    kk = min(nprobe, cells.size)

    def probe(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([batch])
            V = _pa_list_matrix(tbl.column("qv"), np)
            v_norm = (V * V).sum(axis=1)
            cos = exact_int_matmul(V, C.T) / np.sqrt(
                v_norm[:, None].astype(np.float64) * c_norm[None, :].astype(np.float64)
            )
            order = np.argsort(-cos, axis=1, kind="stable")[:, :kk]
            rows = np.repeat(np.arange(batch.num_rows), kk)
            d = V.shape[1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(tbl.column("vec_id").to_numpy()[rows], pa.int64()),
                    pa.array(cells[order].reshape(-1), pa.int64()),
                    pa.array(np.tile(np.arange(1, kk + 1, dtype=np.int32), batch.num_rows)),
                    pa.ListArray.from_arrays(
                        pa.array(np.arange(rows.size + 1, dtype=np.int32) * d),
                        pa.array(V[rows].reshape(-1), pa.int64()),
                    ),
                ],
                names=["vec_id", "cell", "probe_rank", "qv"],
            )

    return df.select(
        "vec_id", quantize_vec(F.col("embedding"), scale).alias("qv")
    ).mapInArrow(probe, "vec_id long, cell long, probe_rank int, qv array<bigint>")


def _ivf_route(
    queries: DataFrame, centroids: DataFrame, nprobe: int, scale: int
) -> DataFrame:
    """(cell, q_id, q_vec): the routed-query side of the IVF rungs, one row
    per probed cell, straight from the probe map — the query batch is never
    joined back or broadcast, so its size has no broadcast bound."""
    return _ivf_probe(queries, centroids, nprobe, scale).select(
        "cell", F.col("vec_id").alias("q_id"), F.col("qv").alias("q_vec")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """IVF-flat ANN: corpus vectors live in their single nearest cell; each
    query probes its ``nprobe`` nearest cells and exact-scores only those
    cells' members.  One shuffle keyed on cell; recall is tuned by nprobe —
    the classic inverted-file trade replacing the O(N·Q) cross product."""
    corpus_cells = ivf_assign(corpus, centroids, nprobe=1, scale=scale).select(
        F.col("vec_id").alias("t_id"), "cell"
    )
    query_cells = ivf_assign(queries, centroids, nprobe=nprobe, scale=scale).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    t = _quantized_side(corpus, "t_id", "t", scale)
    q = _quantized_side(queries, "q_id", "q", scale)
    cand = (
        query_cells.join(corpus_cells, on="cell")
        .select("q_id", "t_id")
        .distinct()
        .filter(F.col("q_id") != F.col("t_id"))
    )
    pairs = cand.join(t, on="t_id").join(F.broadcast(q), on="q_id")
    scored = pairs.select("q_id", "t_id", _cos_quantized("q", "t").alias("cos"))
    return window_rank_topk(
        scored, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    scale: int = 1000,
    n_partitions: int | None = None,
) -> DataFrame:
    """One-time IVF index build: corpus quantized, normed, assigned to its
    nearest cell, and hash-partitioned BY cell — the layout the probe join
    needs.  Returns (t_id, t_vec ARRAY<BIGINT>, t_norm, cell).

    Persist (or write bucketed by cell) the result and serve many query
    batches from it: the build is the O(corpus) cost that end-to-end timing
    unfairly charges to every batch — at 100 TB the index is built once per
    corpus version while query batches arrive continuously.  Because the
    output is partitioned on cell, ``ivf_topk_prebuilt``'s candidate join
    reuses that partitioning instead of re-shuffling the corpus per batch.
    """
    cells = ivf_assign(corpus, centroids, nprobe=1, scale=scale).select(
        F.col("vec_id").alias("t_id"), "cell"
    )
    t = _quantized_side(corpus, "t_id", "t", scale)
    indexed = t.join(cells, on="t_id")
    if n_partitions:
        indexed = indexed.repartition(n_partitions, "cell")
    return indexed


def ivf_topk_prebuilt(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Serving path of IVF ANN over a prebuilt ``build_ivf_index`` frame:
    probe assignment is a broadcast-centroid map over the (small) query
    batch, the candidate join touches only the probed cells' partitions, and
    exact scoring runs on |Q|·nprobe·cell_size pairs instead of |Q|·N."""
    query_cells = ivf_assign(queries, centroids, nprobe=nprobe, scale=scale).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    q = _quantized_side(queries, "q_id", "q", scale)
    cand = index.join(F.broadcast(query_cells), on="cell").filter(
        F.col("q_id") != F.col("t_id")
    )
    scored = cand.join(F.broadcast(q), on="q_id").select(
        "q_id", "t_id", _cos_quantized("q", "t").alias("cos")
    )
    return window_rank_topk(
        scored, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def _plane_hash16(seed: int, p: Column, d: Column) -> Column:
    """The hyperplane LSH plane component's hash for (plane p, dim d): the
    first 4 hex chars of md5(seed|p|d) as a decimal string in [0, 65535]."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), p.cast("string"), d.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10)


def hyperplane_lsh_bucket_quantized(
    df: DataFrame, vec_col: str = "embedding", n_planes: int = 8, seed: int = 42, scale: int = 1000
) -> DataFrame:
    """Exact-deterministic random-hyperplane LSH bucket over the quantized
    vector: plane component for (plane p, dim d) = 2*h - 65535 where h is the
    first-4-hex-chars value of md5(seed|p|d) — an odd integer, so the dot
    product is a nonzero-biased exact integer and the sign bit is identical
    in any engine.  Bucket id packs the n_planes sign bits.

    This is the scale path for cosine search: candidate generation joins on
    bucket id (vectors at small angles agree on most sign bits), cutting the
    exact-scoring join from O(N·Q) to per-bucket."""
    qv = quantize_vec(F.col(vec_col), scale)

    def plane_dot(p: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                qv,
                F.sequence(F.lit(0), F.size(qv) - 1),
                lambda x, d: x * (_plane_hash16(seed, p, d).cast("long") * 2 - 65535),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(plane_dot(p) > 0, F.pow(F.lit(2.0), p.cast("double")).cast("long")).otherwise(F.lit(0).cast("long")),
    )
    bucket = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.withColumn("lsh_bucket", bucket)


def hyperplane_lsh_bucket(df: DataFrame, vec_col: str, n_planes: int = 16, seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH bucket id (scale path for cosine search).

    Plane components are derived deterministically from md5(seed, plane, dim)
    so the bucketing is reproducible across engines and runs without RNG
    state.  Vectors whose angle is small agree on most sign bits; candidate
    generation joins on bucket id.
    """
    dims = F.size(F.col(vec_col))
    planes = F.sequence(F.lit(0), F.lit(n_planes - 1))

    def plane_component(p: Column, d: Column) -> Column:
        # [0, 65535] -> centered
        return _plane_hash16(seed, p, d).cast("double") - F.lit(32767.5)

    sign_bits = F.transform(
        planes,
        lambda p: (
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.sequence(F.lit(0), dims - 1),
                    lambda x, d: x.cast("double") * plane_component(p, d),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("int"),
    )
    bucket = F.aggregate(
        F.zip_with(
            sign_bits,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda b, i: b * F.pow(F.lit(2.0), i.cast("double")).cast("int"),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return df.withColumn("lsh_bucket", bucket)


def ivf_topk_prebuilt_routed(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Fully-distributed vectorized IVF serving — NO driver collect of the
    query side (VERDICT r4 #2).  Bit-identical to ``ivf_topk_prebuilt``.

    Queries stay a DataFrame end-to-end: the probe map (``_ivf_route``)
    emits each query's quantized vector once per probed cell, and
    ``routed_topk`` cogroups those rows with the index members on cell and
    scores them with the cosine kernel (each t_id lives in exactly one
    cell, so per-cell candidates are duplicate-free and the
    union-of-local-top-k property applies per query).

    Shuffle shape: one exchange of the routed queries + one of the index on
    cell (the second is free when the index was written
    partitioned/bucketed by cell — same co-location contract as
    ``ivf_topk_prebuilt``).  Per-cell state is bounded by cell size x
    probing-query count; a hot cell is the IVF analogue of a hot key,
    mitigated by raising k_cells at build time (documented trade, same as
    the expression path).

    A zero-norm query, or a zero-norm member of a probed cell, raises
    ``ValueError`` (see ``_cosine_scores``) where the expression path
    ranks its NULL cosine last."""
    members = index.select("cell", "t_id", "t_vec")
    return routed_topk(
        members, _ivf_route(queries, centroids, nprobe, scale), COSINE, k
    )


def exact_int_matmul(A, B):
    """``A @ B`` over int64 matrices, computed through float64 BLAS when
    provably exact, else the numpy int64 loop.  numpy has no BLAS kernel
    for integer dtypes — an int64 matmul is a naive C triple loop, 10-50×
    slower than dgemm.  Every partial sum here is an integer, and every
    integer with |x| < 2^53 is exactly representable in float64 with exact
    IEEE addition, so when max|A|·max|B|·K < 2^53 the BLAS result equals
    the int64 result bit-for-bit after rounding back (guide §4.2: hand
    batches to vectorized native libraries).  Quantized embeddings are
    |v| ≲ 1e3·scale_margin, so the guard passes by ~6 orders of magnitude;
    it exists so adversarial inputs degrade to slow-but-exact, never to
    silently-wrong.  Returns integer-valued float64 when the guard held,
    else the exact int64 product (dividing callers see the same float64
    either way; the MaxSim kernel keeps every dot exact)."""
    import numpy as np

    ka = A.shape[1]
    ma = int(np.abs(A).max(initial=0))
    mb = int(np.abs(B).max(initial=0))
    if ma * mb * ka < 2**53:
        return A.astype(np.float64) @ B.astype(np.float64)
    return A @ B


def grouped_topk_indices(key, t_ids_sorted, q_ids, k: int):
    """Vectorized per-query top-k used by ``routed_topk``: for each
    column j of ``key`` (shape (n_t, n_q)), select the k smallest entries
    ASCENDING with NaN last and ties broken by row order — callers pass
    rows pre-sorted by t_id ASC, so a stable argsort reproduces the
    reference ``np.lexsort((t_id, key))`` total order — excluding the
    (at most one) self row where t_id == q_ids[j].  Returns flat
    (q_col_idx, t_row_idx) index arrays.

    This replaces the per-query Python loop (np.nonzero + np.lexsort per
    query — 80k interpreter iterations at the |Q|=10k bench shape) with
    one C-level argsort over the whole matrix: argsort-then-drop-self over
    k+1 rows is exactly select-top-k-among-non-self because each t_id
    occurs once per cell."""
    import numpy as np

    n_t, n_q = key.shape
    kk = min(k + 1, n_t)
    ord_ = np.argsort(key, axis=0, kind="stable")[:kk, :]
    sel_t = t_ids_sorted[ord_]
    not_self = sel_t != q_ids[None, :]
    take = not_self & (np.cumsum(not_self, axis=0) <= k)
    q_idx = np.broadcast_to(np.arange(n_q)[None, :], take.shape)[take]
    return q_idx, ord_[take]


def _pa_list_matrix(col, np):
    """(n, d) matrix from a pyarrow primitive-list column (int64, int32,
    float64, …) in ONE flat copy: the list column's value buffer is a
    single contiguous array, so ``flatten().to_numpy()`` + a reshape
    replaces the pandas path's per-row object boxing (one numpy array
    allocated per row) and the O(n) ``np.stack`` gather.  Dtype follows
    the Arrow value type.  Rejects nulls and ragged widths loudly (as a
    per-row ``np.stack`` would)."""
    arr = col.combine_chunks()
    if arr.null_count:
        raise ValueError("NULL vector in cogroup scorer input")
    offs = np.asarray(arr.offsets)
    lens = np.diff(offs)
    d = int(lens[0]) if lens.size else 0
    if lens.size and not (lens == d).all():
        raise ValueError("ragged vector column in cogroup scorer input")
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(-1, d)


class TopkKernel(NamedTuple):
    """What ``routed_topk`` needs to know about one score: ``score`` maps a
    cell's (members, queries) Arrow tables — members sorted by t_id — to
    an (n_t, n_q) numpy score matrix; ``col``/``ddl`` name and type the
    output score column; ``descending`` says whether larger scores rank
    first (a similarity) or last (a distance)."""

    score: Callable
    col: str
    ddl: str
    descending: bool


def routed_topk(
    members: DataFrame, routed_queries: DataFrame, kernel: TopkKernel, k: int
) -> DataFrame:
    """THE routed top-k of the cogrouped ANN rungs: (q_id, t_id, <score>,
    rnk).  ``members`` carry (cell, t_id, …) and ``routed_queries`` carry
    (cell, q_id, …); each cell's two sides meet in one cogrouped
    ``applyInArrow`` task, where the kernel scores them as one matrix and
    ``grouped_topk_indices`` keeps each query's local top-k (self
    excluded) under the final (score, t_id ASC) total order — members are
    stably sorted by t_id first so the argsort replays that tie order.  A
    global ``window_rank_topk`` refines the per-cell candidates: each t_id
    lives in exactly one cell, so candidates are duplicate-free and the
    union of local top-k sets holds the global top-k (the per-partition
    top-k plus global merge of TakeOrderedAndProject and REPOSE).

    The groups cross the Python boundary as ``pyarrow.Table`` pairs, so
    vector columns arrive as flat buffers (``_pa_list_matrix``) rather than
    object-dtype pandas columns boxed row by row.  Results are
    bit-identical to each rung's expression reference, pinned by
    tools/verify_routed_ann.py and the rung tests."""
    import pyarrow as pa

    score_type = {"double": pa.float64(), "long": pa.int64()}[kernel.ddl]
    empty = pa.schema(
        [("q_id", pa.int64()), ("t_id", pa.int64()), (kernel.col, score_type)]
    ).empty_table()

    def score(mem: "pa.Table", qs: "pa.Table") -> "pa.Table":
        if mem.num_rows == 0 or qs.num_rows == 0:
            return empty
        mem = mem.sort_by("t_id")  # stable: replays the t_id ASC tie order
        t_ids = mem.column("t_id").to_numpy()
        q_ids = qs.column("q_id").to_numpy()
        S = kernel.score(mem, qs)
        q_idx, t_row = grouped_topk_indices(
            -S if kernel.descending else S, t_ids, q_ids, k
        )
        return pa.table(
            {"q_id": q_ids[q_idx], "t_id": t_ids[t_row], kernel.col: S[t_row, q_idx]}
        )

    cand = (
        members.groupBy("cell")
        .cogroup(routed_queries.groupBy("cell"))
        .applyInArrow(score, f"q_id long, t_id long, {kernel.col} {kernel.ddl}")
    )
    order = F.col(kernel.col).desc() if kernel.descending else F.col(kernel.col).asc()
    return window_rank_topk(cand, ["q_id"], [order, F.col("t_id").asc()], k, rank_col="rnk")


def _seq_fold_matmul(T, Q, np):
    """(n_t, d) × (n_q, d) → (n_t, n_q) float64 dot products with STRICT
    left-to-right per-dimension accumulation — the exact IEEE association
    of the expression path's ``aggregate ∘ zip_with`` fold (acc starts at
    0.0 and adds one product per dim in index order), vectorized across
    pairs: d fused multiply-adds over the (n_t, n_q) plane.  BLAS dgemm
    would be faster still but reassociates the sum (blocked/SIMD partial
    sums), which is NOT bit-identical for doubles — this shape is, by
    construction, while still running at C speed instead of one
    interpreted fold per pair."""
    acc = np.zeros((T.shape[0], Q.shape[0]), dtype=np.float64)
    for j in range(T.shape[1]):
        acc += T[:, j][:, None] * Q[:, j][None, :]
    return acc


def _seq_fold_norms(V, np):
    """Per-row ‖v‖² with the same strict left-to-right fold as
    ``_dot(v, v)`` — bit-identical to the expression norm."""
    acc = np.zeros(V.shape[0], dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return acc


def _cosine_scores(mem, qs):
    """The cosine kernel: (n_t, n_q) cos of members' ``t_vec`` against
    queries' ``q_vec``, in the expression path's exact IEEE shape
    ``double(dot) / sqrt(double(q_norm) · double(t_norm))``.  The Arrow
    value type of the vector column picks the arithmetic: integer
    (``quantize_vec`` output) → exact int64 dots and norms
    (``exact_int_matmul``; order-free), float64 → the sequential fold that
    replays the ``cosine_join`` HOF's association (``_seq_fold_matmul`` /
    ``_seq_fold_norms``).

    A zero-norm query or member raises ``ValueError`` naming its id: its
    cos is NaN, which crosses Arrow as NaN and which Spark's DESC window
    ranks FIRST, while the expression path's NULL ranks last."""
    import numpy as np
    import pyarrow as pa

    T = _pa_list_matrix(mem.column("t_vec"), np)
    Q = _pa_list_matrix(qs.column("q_vec"), np)
    if pa.types.is_integer(mem.schema.field("t_vec").type.value_type):
        t_norm, q_norm = (T * T).sum(axis=1), (Q * Q).sum(axis=1)
        dots = exact_int_matmul(T, Q.T)
    else:
        t_norm, q_norm = _seq_fold_norms(T, np), _seq_fold_norms(Q, np)
        dots = _seq_fold_matmul(T, Q, np)
    if (q_norm == 0).any() or (t_norm == 0).any():
        raise ValueError(
            "routed cosine top-k: zero-norm vectors have no cosine; "
            f"q_id={qs.column('q_id').to_numpy()[q_norm == 0].tolist()} "
            f"t_id={mem.column('t_id').to_numpy()[t_norm == 0].tolist()}"
        )
    return dots / np.sqrt(
        q_norm[None, :].astype(np.float64) * t_norm[:, None].astype(np.float64)
    )


COSINE = TopkKernel(_cosine_scores, "cos", "double", descending=True)

# queries per stacked MaxSim matmul: one block's dot matrix is (Σ doc
# tokens of the cell) × (Σ tokens of at most this many queries), however
# many queries probe the cell
_MAXSIM_Q_BLOCK = 128


def _packed_tokens(tbl, np):
    """A ``maxsim_topk_routed_vectorized`` packed side — per row, its
    tokens' quantized vectors concatenated in one flat ``toks`` list plus
    their count ``n_toks`` — as the (Σ tokens, d) int64 token matrix and
    each row's first token index."""
    arr = tbl.column("toks").combine_chunks()
    if arr.null_count:
        raise ValueError("NULL token matrix in MaxSim kernel input")
    counts = tbl.column("n_toks").to_numpy()
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return flat.reshape(int(counts.sum()), -1), starts


def _maxsim_scores(mem, qs):
    """The MaxSim kernel: (n_t, n_q) int64 Σ_{query token} max_{doc token}
    ⟨q_tok, t_tok⟩.  Per block of ``_MAXSIM_Q_BLOCK`` queries, ONE stacked
    matmul (Σ doc tokens, d) × (Σ query tokens, d)ᵀ (``exact_int_matmul``),
    a segmented max over each doc's token rows, and an int64 segmented
    sum over each query's token columns.  Max and int64 sum are exact and
    order-free, so the scores equal the expression path's per-token-pair
    fold bit for bit."""
    import numpy as np

    T, t_starts = _packed_tokens(mem, np)
    Q, q_starts = _packed_tokens(qs, np)
    q_ends = np.append(q_starts[1:], Q.shape[0])
    S = np.empty((t_starts.size, q_starts.size), dtype=np.int64)
    for b in range(0, q_starts.size, _MAXSIM_Q_BLOCK):
        e = min(b + _MAXSIM_Q_BLOCK, q_starts.size)
        lo = q_starts[b]
        dots = exact_int_matmul(T, Q[lo:q_ends[e - 1]].T)
        best = np.maximum.reduceat(dots, t_starts, axis=0).astype(np.int64)
        S[:, b:e] = np.add.reduceat(best, q_starts[b:e] - lo, axis=1)
    return S


MAXSIM = TopkKernel(_maxsim_scores, "maxsim_units", "long", descending=True)


def _cosine_topk_blocked(
    queries: DataFrame, targets: DataFrame, k: int, n_blocks: int | None, vec
) -> DataFrame:
    """Brute-force cosine top-k through ``routed_topk`` with deterministic
    hash blocks standing in for trained cells (nprobe = ALL blocks): each
    target lives in one block, each query is replicated to every block via
    explode(sequence(..)) — a pure codegen projection, no join node, so the
    plan auditor's cartesian check stays meaningful.  ``vec`` maps the
    embedding column to the vector the kernel scores; it runs before the
    explode, once per query rather than once per (query, block)."""
    if n_blocks is None:
        n_blocks = int(queries.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    members = targets.select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("cell"),
        F.col("vec_id").alias("t_id"),
        vec(F.col("embedding")).alias("t_vec"),
    )
    routed = queries.select(
        F.col("vec_id").alias("q_id"), vec(F.col("embedding")).alias("q_vec")
    ).select(
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("cell"), "q_id", "q_vec"
    )
    return routed_topk(members, routed, COSINE, k)


def cosine_topk_routed(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    scale: int = 1000,
    n_blocks: int | None = None,
) -> DataFrame:
    """Brute-force quantized cosine top-k served through the routed
    cogroup — the ``ivf_topk_prebuilt_routed`` serving shape at nprobe =
    ALL cells, with hash blocks for cells (VERDICT r7 #2): queries stay a
    DataFrame end-to-end, no driver collect on either side.

    Bit-identical to ``similarity_topk(quantized=True)``: ONE quantization
    mode (expression-side HALF_UP ``quantize_vec`` on both sides), the
    int64 cosine kernel, and blocks that partition the targets.  A
    zero-norm vector raises instead (see ``_cosine_scores``).

    Shuffle shape at 100 TB: one exchange of targets on block (free if
    the corpus is stored bucketed by the same hash) and one of the
    block-replicated queries (|Q|·B rows of K-dim int vectors —
    executor-side replication, never a driver hop).  Block count defaults
    to shuffle parallelism; raise it to bound per-task matmul memory
    (|block| × |Q| floats)."""
    return _cosine_topk_blocked(
        queries, targets, k, n_blocks, lambda c: quantize_vec(c, scale)
    )


def cosine_topk_routed_double(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """Brute-force DOUBLE cosine top-k served through the routed cogroup —
    the ``cosine_topk_routed`` shape for the unquantized rung (round 15,
    VERDICT r14 #3).  Bit-identical to ``similarity_topk(quantized=False)``:
    vectors cross as float64 (the expression path's cast), and the cosine
    kernel replays the HOF fold's sequential IEEE association for that
    value type.

    What it removes vs the expression twin: the per-pair interpreted
    ``aggregate ∘ zip_with`` fold of the BroadcastNestedLoopJoin plan —
    |Q|·|T| interpreted 64-dim folds become d vectorized multiply-adds per
    block.  The expression twin stays as the reference rung (bench row
    cosine_topk) pinning bit-identity."""
    return _cosine_topk_blocked(
        queries, targets, k, n_blocks, lambda c: F.transform(c, lambda x: x.cast("double"))
    )


def maxsim_topk(
    q_tokens: DataFrame,
    t_tokens: DataFrame,
    k: int,
    scale: int = 1000,
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT-style MaxSim):
    each document is a SET of token embeddings and the query-document
    score is Σ_{query token} max_{doc token} <q_tok, t_tok> — the scoring
    family that beats single-vector cosine when relevance is carried by a
    few tokens, and the retrieval shape a multi-vector training corpus
    needs audited.

    Exactness: token vectors are HALF_UP integer-quantized
    (``quantize_vec``) and every pairwise interaction is an int64 dot —
    max and sum over int64 are order-free, so the score, and therefore
    the top-k set under the (score DESC, t_id ASC) tie rule, is
    bit-identical across engines and reduction orders.

    Shape: this is the brute-force baseline rung of the ladder (the
    ``cosine_topk`` analogue): the token-pair interaction is a broadcast
    cross join (query tokens ≪ corpus tokens — the |Q|≪|T| contract),
    folded immediately by a two-stage aggregation: max over doc tokens
    keyed (q_id, t_id, q_tok), then sum keyed (q_id, t_id) — both stages
    partial-aggregate map-side, so the shuffle carries per-pair rows, not
    per-token-pair.  The scale rung routes candidates through IVF over
    per-document centroid vectors first and MaxSim-scores only the
    shortlist (compose with ``ivf_topk_prebuilt_routed``).

    Inputs: (q_id, q_tok, vec) / (t_id, t_tok, vec); output (q_id, t_id,
    maxsim_units, n_q_tokens) = top-k docs per query.
    """
    q = q_tokens.select(
        F.col("q_id"), F.col("q_tok"), quantize_vec(F.col("vec"), scale).alias("_qv")
    )
    t = t_tokens.select(
        F.col("t_id"), F.col("t_tok"), quantize_vec(F.col("vec"), scale).alias("_tv")
    )
    inter = t.join(F.broadcast(q), on=F.lit(True), how="inner").select(
        "q_id", "t_id", "q_tok", _dot_long(F.col("_qv"), F.col("_tv")).alias("_dot")
    )
    per_qtok = inter.groupBy("q_id", "t_id", "q_tok").agg(
        F.max("_dot").alias("_best")
    )
    scores = per_qtok.groupBy("q_id", "t_id").agg(
        F.sum("_best").cast("long").alias("maxsim_units"),
        F.count(F.lit(1)).cast("long").alias("n_q_tokens"),
    )
    return window_rank_topk(
        scores.filter(F.col("q_id") != F.col("t_id")),
        ["q_id"],
        [F.col("maxsim_units").desc(), F.col("t_id").asc()],
        k,
        rank_col="rnk",
    )


def maxsim_doc_summaries(
    tokens: DataFrame, id_col: str, scale: int = 1000
) -> DataFrame:
    """Per-document routing summary for multi-vector MaxSim: the int64
    element-wise SUM of the document's quantized token vectors — order-free
    (int64 addition commutes), division-free (a mean would round), and
    computed with the ``ema_integer`` fold pattern: collect the token
    vectors per doc and zip_with-add them, first element as the seed.
    Output: (id_col, svec array<long>)."""
    q = tokens.select(
        F.col(id_col), quantize_vec(F.col("vec"), scale).alias("_qv")
    )
    g = q.groupBy(id_col).agg(F.collect_list("_qv").alias("_xs"))
    xs = F.col("_xs")
    svec = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return g.select(id_col, svec.alias("svec"))


def merge_doc_summaries(partials: DataFrame, id_col: str = "t_id") -> DataFrame:
    """Merge per-shard/per-batch token-SUM summaries: int64 vector addition
    is associative and commutative, so summaries maintained one micro-batch
    at a time (or one backfill shard at a time) equal the single-pass
    summary regardless of how tokens were bundled — the property
    ``stream_maxsim_maintain`` gates.  Same fold pattern as
    ``maxsim_doc_summaries`` (collect + zip_with-add, first element as
    seed)."""
    g = partials.groupBy(id_col).agg(F.collect_list("svec").alias("_xs"))
    xs = F.col("_xs")
    svec = F.aggregate(
        F.slice(xs, 2, F.size(xs) - 1),
        F.element_at(xs, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return g.select(id_col, svec.alias("svec"))


def maxsim_route_cells(
    q_tokens: DataFrame,
    t_tokens: DataFrame,
    n_cells: int,
    nprobe: int,
    scale: int = 1000,
    q_sum: DataFrame | None = None,
    t_sum: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """THE routing chain for cell-routed MaxSim, shared verbatim by the
    expression path (``maxsim_topk_routed``) and the cogrouped vectorized
    path (``maxsim_topk_routed_vectorized``) so their candidate sets are
    identical by construction: int64 token-sum summaries
    (``maxsim_doc_summaries``), seeds = first ``n_cells`` docs by
    (md5(t_id), t_id) (``md5_seed_cells``), assignment = exact int64
    squared L2 to the nearest seed, ties → smaller cell (``nearest_cells``);
    queries keep their ``nprobe`` nearest cells.  Returns (q_cells,
    t_cells) as (id, cell BIGINT) frames.

    ``q_sum``/``t_sum`` (id, svec) override the internally-computed
    summaries — the streaming maintainer's hook: token-SUM summaries are
    ADDITIVE, so a stream can keep them fresh by merging per-batch sums
    (`stream_maxsim_maintain`) and route through the maintained table
    without ever rescanning the corpus tokens."""
    if t_sum is None:
        t_sum = maxsim_doc_summaries(t_tokens, "t_id", scale)
    if q_sum is None:
        q_sum = maxsim_doc_summaries(q_tokens, "q_id", scale)
    seeds = md5_seed_cells(t_sum, "t_id", "svec", n_cells)
    seeds = seeds.withColumn("cell", F.col("cell").cast("long"))
    return (
        nearest_cells(q_sum, "q_id", "svec", seeds, nprobe),
        nearest_cells(t_sum, "t_id", "svec", seeds, 1),
    )


def maxsim_topk_routed(
    q_tokens: DataFrame,
    t_tokens: DataFrame,
    k: int,
    n_cells: int = 4,
    nprobe: int | None = None,
    scale: int = 1000,
    q_sum: DataFrame | None = None,
    t_sum: DataFrame | None = None,
) -> DataFrame:
    """Cell-routed multi-vector MaxSim — the scale rung of ``maxsim_topk``:
    exact token-level late interaction runs ONLY on (query, doc) pairs
    that share a routing cell, so per-task work is per-cell, never
    |Q|·|T|·tokens².

    Routing is deterministic end-to-end (the trained-IVF doctrine): each
    doc is summarized by its int64 token-sum vector
    (``maxsim_doc_summaries``), seeds are the first ``n_cells`` docs by
    (md5(t_id), t_id) — a pure function of the ids — and assignment is
    exact int64 squared L2 to the nearest seed (ties → smaller cell).
    Queries route through the same metric to their ``nprobe`` nearest
    cells.  With ``nprobe = n_cells`` the candidate set is all pairs and
    the output is BIT-IDENTICAL to ``maxsim_topk`` — cells become a pure
    partitioning device (the IVF-PQ routed-identity doctrine), which is
    exactly what the shared-oracle gate pins.

    Shape: summaries are one aggregation each side; the n_cells-row seed
    table broadcasts (corpus never shuffles for assignment); candidates
    come from an equi-join on cell; scoring joins tokens by id within
    candidates — every join keyed, the only broadcast is O(n_cells) or
    O(|Q| tokens).  Hot-cell degradation is one straggler task, the
    measured IVF hot-cell story (SCALE.md §hot-cell).
    """
    if nprobe is None:
        nprobe = n_cells
    q_cells, t_cells = maxsim_route_cells(
        q_tokens, t_tokens, n_cells, nprobe, scale, q_sum=q_sum, t_sum=t_sum
    )
    cand = q_cells.join(t_cells, "cell").select("q_id", "t_id").distinct()
    q = q_tokens.select(
        "q_id", "q_tok", quantize_vec(F.col("vec"), scale).alias("_qv")
    )
    t = t_tokens.select(
        "t_id", "t_tok", quantize_vec(F.col("vec"), scale).alias("_tv")
    )
    inter = (
        cand.join(q, "q_id")
        .join(t, "t_id")
        .select("q_id", "t_id", "q_tok", _dot_long(F.col("_qv"), F.col("_tv")).alias("_dot"))
    )
    per_qtok = inter.groupBy("q_id", "t_id", "q_tok").agg(F.max("_dot").alias("_best"))
    scores = per_qtok.groupBy("q_id", "t_id").agg(
        F.sum("_best").cast("long").alias("maxsim_units"),
        F.count(F.lit(1)).cast("long").alias("n_q_tokens"),
    )
    return window_rank_topk(
        scores.filter(F.col("q_id") != F.col("t_id")),
        ["q_id"],
        [F.col("maxsim_units").desc(), F.col("t_id").asc()],
        k,
        rank_col="rnk",
    )


def maxsim_topk_routed_vectorized(
    q_tokens: DataFrame,
    t_tokens: DataFrame,
    k: int,
    n_cells: int = 4,
    nprobe: int | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Fully-distributed vectorized MaxSim serving — ``routed_topk`` with
    the MaxSim kernel, and the production hot path: the expression twin's
    per-token-pair HOF dots evaluate interpreted (the documented HOF
    landmine), while here each cell does stacked int64 matmuls over all
    its (query, doc) token pairs and keeps each query's local top-k.

    Routing is ``maxsim_route_cells`` — the SAME chain as
    ``maxsim_topk_routed``, shared by construction, so the candidate sets
    are identical and the scoring is bit-identical: quantization happens
    in the expression layer (``quantize_vec``, one rounding mode in play)
    BEFORE the tokens reach numpy, and int64 matmul/max/sum are exact.
    No driver collect anywhere: queries and corpus stay DataFrames
    end-to-end; per-doc token matrices are packed by a
    ``sort_array(collect_list(struct(tok, vec)))`` aggregation (token
    order fixed by the sort, though max over doc tokens and sum over the
    sorted query tokens are order-free anyway).

    Shuffle shape: one pack aggregation per side, one exchange of each on
    cell, the cogroup, then the global window top-k over per-cell
    candidates (each doc lives in exactly one cell → candidates are
    duplicate-free; union-of-local-top-k applies per query).  Hot cells
    are one straggler task — k_cells at route-build time is the documented
    mitigation, as for IVF.  Output: (q_id, t_id, maxsim_units,
    n_q_tokens, rnk).
    """
    if nprobe is None:
        nprobe = n_cells
    q_cells, t_cells = maxsim_route_cells(q_tokens, t_tokens, n_cells, nprobe, scale)

    def _pack(tokens: DataFrame, id_col: str, tok_col: str) -> DataFrame:
        # FLAT array<long> of the concatenated token vectors + a token
        # count, NOT array<array<long>>: pyarrow segfaults converting
        # large doubly-nested list columns on the cogroup deserialization
        # path (observed at the 10k-doc bench scale; single-level arrays
        # are the proven ivf_topk_prebuilt_routed shape) — numpy reshapes
        # per doc instead
        q = tokens.select(
            F.col(id_col),
            F.col(tok_col).alias("_tok"),
            quantize_vec(F.col("vec"), scale).alias("_qv"),
        )
        packed = q.groupBy(id_col).agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_tok", "_qv"))),
                lambda s: s["_qv"],
            ).alias("_toks")
        )
        return packed.select(
            id_col,
            F.size("_toks").cast("long").alias("n_toks"),
            F.flatten("_toks").alias("toks"),
        )

    q_packed = _pack(q_tokens, "q_id", "q_tok")
    # the q and t sides often share lineage (queries ARE corpus docs in the
    # audits), which trips Spark's ambiguous-self-join analysis inside the
    # cogroup — re-alias the grouping column through a fresh exprId on one
    # side so the two children are distinguishable
    routed = q_packed.join(q_cells, "q_id").select(
        (F.col("cell") + F.lit(0)).alias("cell"), "q_id", "n_toks", "toks"
    )
    members = _pack(t_tokens, "t_id", "t_tok").join(t_cells, "t_id").select(
        "cell", "t_id", "n_toks", "toks"
    )
    n_q_tokens = q_packed.select("q_id", F.col("n_toks").alias("n_q_tokens"))
    return (
        routed_topk(members, routed, MAXSIM, k)
        .join(n_q_tokens, "q_id")
        .select("q_id", "t_id", "maxsim_units", "n_q_tokens", "rnk")
    )


def maxsim_route_cells_trained(
    q_tokens: DataFrame,
    t_tokens: DataFrame,
    n_cells: int,
    nprobe: int,
    n_iter: int = 2,
    scale: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """TRAINED routing for cell-routed MaxSim: k-means over the int64
    token-sum summaries (``kmeans_fit`` with scale=1 — the summaries are
    already integers, so quantization is the identity and the whole chain
    stays hash-gateable), replacing the md5-seeded arbitrary cells of
    ``maxsim_route_cells``.  This is the measured recall lever SCALE.md
    §maxsim names: cells that follow the summary distribution keep true
    neighbors co-located, exactly as k-means training did for
    single-vector IVF.  Same return contract: (q_cells, t_cells)."""
    from .clustering import kmeans_fit

    t_sum = maxsim_doc_summaries(t_tokens, "t_id", scale)
    q_sum = maxsim_doc_summaries(q_tokens, "q_id", scale)
    cents = kmeans_fit(
        t_sum.select(F.col("t_id").alias("vec_id"), F.col("svec").alias("embedding")),
        k=n_cells,
        n_iter=n_iter,
        scale=1,
    ).withColumn("cell", F.col("cell").cast("long"))
    return (
        nearest_cells(q_sum, "q_id", "svec", cents, nprobe),
        nearest_cells(t_sum, "t_id", "svec", cents, 1),
    )


def range_search_routed(
    em: DataFrame,
    queries: DataFrame,
    n_cells: int,
    nprobe: int,
    tau_num: int = 1,
    tau_den: int = 4,
) -> DataFrame:
    """Cell-routed RADIUS search: all corpus vectors with cosine ≥
    tau_num/tau_den of each query, candidates served through md5-seeded
    IVF cells instead of a full scan.

    ``em``/``queries`` carry (vec_id, qv, norm_sq) — HALF_UP-quantized
    int64 vectors with exact norms (the `quantize_vec` contract).  Seeds
    are the first ``n_cells`` corpus vectors by (md5(vec_id), vec_id) —
    the `maxsim_route_cells` seeding doctrine; corpus vectors assign to
    their single nearest seed by EXACT int64 squared L2 (ties → smaller
    cell), queries keep their ``nprobe`` nearest cells by the same
    measure, and candidates come from the (cell) equi-join.  The refine
    is the exact integer cross-multiplication the brute tier gates:
    cos ≥ n/d ⟺ dot ≥ 0 ∧ d²·dot² ≥ n²·|q|²·|t|², squared compare in
    DECIMAL(38,0) (dot ~ 7.6e8 wraps d²·dot² past BIGINT).

    At ``nprobe = n_cells`` every cell is probed, the candidate set is
    all (query, corpus) pairs, and the output is bit-identical to the
    brute scan — the routed-identity proof.  At nprobe < n_cells recall
    is structural for exact duplicates: identical vectors quantize
    identically, hence assign to the same cell, hence are recovered at
    nprobe = 1.  Every piece of routing state is integer-exact, so the
    candidate SET (not just the refined output) is engine-independent.
    """
    seeds = md5_seed_cells(em, "vec_id", "qv", n_cells)
    seeds = seeds.withColumn("cell", F.col("cell").cast("long"))
    t_cells = nearest_cells(em, "vec_id", "qv", seeds, 1)
    q_cells = nearest_cells(queries, "vec_id", "qv", seeds, nprobe)
    cand = (
        q_cells.withColumnRenamed("vec_id", "q_id")
        .join(t_cells.withColumnRenamed("vec_id", "t_id"), on="cell")
        .filter(F.col("t_id") != F.col("q_id"))
        .select("q_id", "t_id")
    )
    qv = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("q_qv"),
        F.col("norm_sq").alias("q_norm"),
    )
    tv = em.select(
        F.col("vec_id").alias("t_id"),
        F.col("qv").alias("t_qv"),
        F.col("norm_sq").alias("t_norm"),
    )
    scored = (
        cand.join(F.broadcast(qv), on="q_id")
        .join(tv, on="t_id")
        .select(
            "q_id",
            "t_id",
            _dot_long(F.col("q_qv"), F.col("t_qv")).alias("dot_q"),
            "q_norm",
            "t_norm",
        )
    )
    d2, n2 = tau_den * tau_den, tau_num * tau_num
    return scored.filter(
        (F.col("dot_q") >= 0)
        & (
            F.expr(f"{d2} * CAST(dot_q AS DECIMAL(38,0)) * dot_q")
            >= F.expr(f"{n2} * CAST(q_norm AS DECIMAL(38,0)) * t_norm")
        )
    ).select("q_id", "t_id", "dot_q")
