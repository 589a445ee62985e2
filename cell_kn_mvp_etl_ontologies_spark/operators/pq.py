"""Product quantization (PQ) for embedding columns — the memory side of the
ANN scale story (SURVEY.md §2.12; round 5).

IVF (operators/similarity.py) prunes WHICH vectors a query scores; PQ
compresses WHAT is stored and scored: each d-dim vector becomes m one-byte
codes (one per subspace) against per-subspace codebooks, a 16-64× memory
reduction that is what actually lets a 100 TB embedding corpus live in
serving memory.  Scoring uses the classic asymmetric distance computation
(ADC): the query stays exact, each subspace contributes a looked-up
distance to the stored codeword, so scoring never decodes the corpus.

Everything is integer-exact and engine-portable, the repo's standard
doctrine: vectors quantize via ``quantize_vec`` (HALF_UP ×1000),
subspace distances are int64 squared-L2 sums, codeword assignment
tie-breaks (dist ASC, cell ASC), and ADC totals are exact integer sums —
so codebooks, codes, and top-k results are all hash-gateable cross-engine.

Distance metric note: PQ is formulated in L2 (the classic Jegou et al.
construction).  The cosine-based IVF queries and these L2-based PQ queries
are separate, internally-consistent contracts; for cosine-PQ, L2-normalize
upstream (then L2 order == cosine order).

Scale shapes:
- ``pq_train_codebooks``: m independent k-means runs over subvector slices
  (each reuses the deterministic integer k-means) — corpus-scale scans,
  codebook output is m×ksub rows (KBs, broadcastable forever after).
- ``pq_encode``: corpus ⨯ broadcast codebook per subspace, argmin per
  (vector, subspace) — one m-way explode of the corpus, no shuffle wider
  than the corpus itself; output is (t_id, codes ARRAY<INT>).
- ``pq_adc_topk``: the LUT (|Q|·m·ksub rows — query-scale) broadcasts; the
  corpus codes join it on (sub, code) and partial-aggregating sums fold
  the m per-subspace lookups back to one distance per (q, t).
- ``ivf_pq_topk``: IVF candidate pruning + ADC scoring of only the probed
  cells' codes (expression path — the oracle-replayable correctness twin).
- ``ivf_pq_topk_routed`` (round 6): the serving shape — cogrouped per-cell
  int64 ADC LUT gather over the (cell, t_id, codes) offline artifact;
  bit-identical to the expression path, near-flat in |Q| (SCALE.md §pq).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import (
    TopkKernel,
    _cos_quantized,
    _ivf_route,
    _pa_list_matrix,
    _quantized_side,
    quantize_np,
    quantize_vec,
    routed_topk,
    sq_dist_long as _sq_dist,
)
from .windows import window_rank_topk


def _subvectors(vec: Column, m: int, subdim: int) -> Column:
    """array<long>[d] -> array<struct<sub int, sv array<long>>>[m]."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.struct(
            s.cast("int").alias("sub"),
            F.slice(vec, s * subdim + 1, subdim).alias("sv"),
        ),
    )


def pq_subvector_rows(
    df: DataFrame, m: int, id_col: str = "vec_id", vec_col: str = "embedding",
    scale: int = 1000, subdim: int | None = None,
) -> DataFrame:
    """(id, sub, sv ARRAY<BIGINT>): quantized subvector long-form — the
    common input of training, encoding, and LUT construction.  ``subdim``
    defaults to dim/m and must divide the vector length.  When ``subdim``
    IS passed (the streaming path, where the input may be an empty
    micro-batch), a per-row expression guard raises on any vector whose
    length is not exactly m·subdim — F.slice would otherwise emit short
    subvectors whose zip_with distances are NULL and min_by codes are
    garbage, the silent-misconfiguration failure the inferred path already
    rejects driver-side."""
    if subdim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("pq_subvector_rows: empty input")
        d = int(first["d"])
        if d % m != 0:
            raise ValueError(f"pq_subvector_rows: dim {d} not divisible by m={m}")
        subdim = d // m
        vec = F.col(vec_col)
    else:
        vec = F.when(F.size(vec_col) == m * subdim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.format_string(
                    "pq_subvector_rows: vector dim %s != m*subdim = "
                    f"{m}*{subdim}",
                    F.size(vec_col).cast("string"),
                )
            )
        )
    q = df.select(F.col(id_col).alias("id"), quantize_vec(vec, scale).alias("qv"))
    return q.select(
        "id", F.explode(_subvectors(F.col("qv"), m, subdim)).alias("s")
    ).select("id", "s.sub", "s.sv")


def pq_train_codebooks(
    df: DataFrame,
    m: int = 4,
    ksub: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Train per-subspace codebooks: (sub INT, cell INT, cv ARRAY<BIGINT>).

    One deterministic integer k-means per subspace over the subvector
    slices (same seeding/update/tie-break doctrine as ``kmeans_fit``, which
    it reuses verbatim on a reshaped frame) — m bounded training runs, each
    corpus-scale scans with (cell, dim)-grain partial-aggregating updates.
    The full codebook is m·ksub rows: permanently broadcastable."""
    from .clustering import kmeans_fit

    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_train_codebooks: empty input")
    d = int(first["d"])
    if d % m != 0:
        raise ValueError(f"pq_train_codebooks: dim {d} not divisible by m={m}")
    subdim = d // m
    books = None
    for sub in range(m):
        # kmeans_fit quantizes internally, so feed it FLOAT subvector slices
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), sub * subdim + 1, subdim).alias(vec_col),
        )
        cb = kmeans_fit(sliced, id_col, vec_col, k=ksub, n_iter=n_iter, scale=scale)
        cb = cb.select(F.lit(sub).cast("int").alias("sub"), "cell", "cv")
        books = cb if books is None else books.unionByName(cb)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    subdim: int | None = None,
) -> DataFrame:
    """(t_id, codes ARRAY<INT>): nearest codeword per subspace,
    deterministic tie-break (dist ASC, cell ASC).

    Plan: m-way subvector explode of the corpus, broadcast-join the m·ksub
    codebook, min_by argmin per (vector, subspace), regroup codes in
    subspace order.  Corpus crosses the wire once (the explode is a narrow
    map); the ksub fan-out collapses map-side in the min_by partial agg.

    Pass ``subdim`` explicitly when ``df`` may be EMPTY (a streaming
    micro-batch between arrivals): the default infers it with a one-row
    probe, which both raises on empty input and costs a blocking driver
    job per call."""
    subs = pq_subvector_rows(df, m, id_col, vec_col, scale, subdim=subdim)
    scored = subs.join(F.broadcast(codebooks), on="sub").select(
        "id", "sub", "cell", _sq_dist(F.col("sv"), F.col("cv")).alias("d")
    )
    best = scored.groupBy("id", "sub").agg(
        F.min_by(F.col("cell"), F.struct(F.col("d"), F.col("cell"))).alias("code")
    )
    return best.groupBy("id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "code"))), lambda e: e["code"]
        ).alias("codes")
    ).select(F.col("id").alias("t_id"), "codes")


def _collect_codebooks(codebooks: DataFrame):
    """Codebooks collected driver-side — m·ksub rows, the KB-scale
    always-legal collect — as ({sub: (ksub, subdim) int64 codewords},
    {sub: their cells}), each subspace in ascending cell order so numpy's
    first-minimum ``argmin`` IS the (dist ASC, cell ASC) tie-break and a
    ``searchsorted`` maps a code to its codeword row."""
    import numpy as np

    from .guards import check_driver_bound

    crows = codebooks.select("sub", "cell", "cv").collect()
    check_driver_bound(
        len(crows),
        1_048_576,
        "pq codebook driver collect (m·ksub rows)",
        "a smaller codebook (m·ksub beyond 2^20 entries is no longer the "
        "KB-scale always-legal collect this path assumes)",
    )
    by_sub: dict[int, list] = {}
    for r in crows:
        by_sub.setdefault(int(r.sub), []).append((int(r.cell), list(r.cv)))
    C, cell_order = {}, {}
    for sub, rows_ in by_sub.items():
        rows_.sort()
        cell_order[sub] = np.array([c for c, _ in rows_], dtype=np.int64)
        C[sub] = np.array([v for _, v in rows_], dtype=np.int64)
    return C, cell_order


def pq_encode_vectorized(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Bit-identical numpy twin of ``pq_encode`` — the corpus-scale encode
    path.  The expression encode explodes corpus × m × ksub distance rows
    through an interpreted HOF + hash aggregate, which goes SUPER-linear
    once the intermediate spills (measured 14.5× wall for 10× data at
    800k×64×8×64 — SCALE.md §pq); here each Arrow batch encodes with one
    matmul per subspace and the intermediate never exists.

    Exactness: vectors quantize via ``quantize_np`` (HALF_UP — the same
    single rounding mode as the expression path), distances are int64
    ||v||² − 2v·c + ||c||², and the (dist ASC, cell ASC) tie-break is
    replayed by evaluating codeword columns in ascending-cell order and
    taking numpy's first-minimum ``argmin``.  Codebooks are collected
    driver-side — m·ksub rows, KB-scale, the always-legal collect."""
    import numpy as np
    import pandas as pd

    C, cell_order = _collect_codebooks(codebooks)
    subdim = C[0].shape[1]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = quantize_np(np.stack(pdf[vec_col].to_numpy()), scale)
            if V.shape[1] != m * subdim:
                # the expression twin raises on non-divisible dims via
                # pq_subvector_rows — silently slicing off tail dims here
                # would mask the same misconfiguration
                raise ValueError(
                    f"pq_encode_vectorized: vector dim {V.shape[1]} != "
                    f"m*subdim = {m}*{subdim}"
                )
            codes = np.empty((ids.size, m), dtype=np.int32)
            for s in range(m):
                Vs = V[:, s * subdim:(s + 1) * subdim]
                Cs = C[s]
                d = (
                    (Vs * Vs).sum(axis=1)[:, None]
                    - 2 * (Vs @ Cs.T)
                    + (Cs * Cs).sum(axis=1)[None, :]
                )
                codes[:, s] = cell_order[s][np.argmin(d, axis=1)]
            yield pd.DataFrame({"t_id": ids, "codes": list(codes.astype(int).tolist())})

    return df.select(id_col, vec_col).mapInPandas(encode, "t_id long, codes array<int>")


def pq_adc_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(q_id, sub, code, d): exact int64 squared-L2 from each query
    subvector to each codeword — the ADC lookup table, |Q|·m·ksub rows
    (query-scale, broadcastable)."""
    subs = pq_subvector_rows(queries, m, id_col, vec_col, scale)
    return subs.join(F.broadcast(codebooks), on="sub").select(
        F.col("id").alias("q_id"),
        "sub",
        F.col("cell").alias("code"),
        _sq_dist(F.col("sv"), F.col("cv")).alias("d"),
    )


def _code_rows(codes: DataFrame) -> DataFrame:
    return codes.select(
        "t_id", F.posexplode("codes").alias("sub", "code")
    ).select("t_id", F.col("sub").cast("int").alias("sub"), "code")


def _adc_sum_topk(sub_scores: DataFrame, m: int, k: int) -> DataFrame:
    """Shared ADC finalization (used by plain ADC and IVF-PQ — ONE copy of
    the self-match filter, m-subspace completeness guard, and tie-break):
    per-(q, t) sum of the m subspace lookups, then (adc_dist ASC, t_id
    ASC) top-k."""
    scored = (
        sub_scores.filter(F.col("q_id") != F.col("t_id"))
        .groupBy("q_id", "t_id")
        .agg(F.sum("d").alias("adc_dist"), F.count(F.lit(1)).alias("n_sub"))
        .filter(F.col("n_sub") == m)
        .drop("n_sub")
    )
    return window_rank_topk(
        scored, ["q_id"], [F.col("adc_dist").asc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int,
    m: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Asymmetric-distance top-k: (q_id, t_id, adc_dist, rnk), ascending
    distance, tie-break t_id ASC.  The corpus is scored WITHOUT decoding:
    codes long-form joins the broadcast LUT on (sub, code) and a
    partial-aggregating sum folds the m lookups per (q, t) — the shuffle
    carries (q_id, t_id, partial sums), never vectors."""
    lut = pq_adc_lut(queries, codebooks, m=m, scale=scale)
    sub_scores = _code_rows(codes).join(F.broadcast(lut), on=["sub", "code"])
    return _adc_sum_topk(sub_scores, m, k)


def binarize_sign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    word_bits: int = 32,
) -> DataFrame:
    """(id, words ARRAY<BIGINT>): sign-bit binary embedding, ``word_bits``
    dims packed per word — the 256× compression end of the ladder (64-dim
    float32 → 8 bytes of sign bits).

    32-bit words, not 64, for the same reason as the bloom filter's words
    (operators/sketches.py): bit 63 would need shiftleft(1, 63), whose
    negative result DuckDB rejects — 32-bit words keep every word
    non-negative so the oracle replicates the packing verbatim.  The bit
    threshold is ``x > 0`` on the stored float: both engines read the same
    parquet value, so the comparison is exact."""
    n_words = F.floor(
        (F.size(vec_col) + F.lit(word_bits - 1)) / F.lit(word_bits)
    ).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda w: F.aggregate(
            # bit value 2^i is exact in a double up to i=31, the same
            # packing trick as hyperplane_lsh_bucket
            F.transform(
                F.slice(F.col(vec_col), w * word_bits + 1, word_bits),
                lambda x, i: F.when(
                    x > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    # size 0 would make F.sequence(0, -1) DESCEND to [0, -1] (the bpe.py
    # gotcha) and fabricate two zero words for an empty vector — guard to
    # an empty words array so Spark matches the oracle's generate_series
    words = F.when(F.size(vec_col) > 0, words).otherwise(
        F.array().cast("array<bigint>")
    )
    return df.select(F.col(id_col).alias("id"), words.alias("words"))


def hamming_words(qw: Column, tw: Column) -> Column:
    """Hamming distance between two equal-width packed-sign word arrays:
    sum of bit_count(xor) per word.  The round-14 optimization round A/B'd
    a size-guarded unrolled variant here and REVERTED it — interleaved
    same-session probe (``git show 3609c14:tools/probe_r14_regress_ab.py``)
    measured the bench
    row ann_hamming_80k at 1.61 s (HOF fold) vs 5.75 s (guarded unroll):
    the unroll multiplies references to the packed-word columns, whose
    producing expressions the planner then duplicates per reference."""
    def term(a: Column, b: Column) -> Column:
        return F.bit_count(a.bitwiseXOR(b)).cast("long")

    return F.aggregate(
        F.zip_with(qw, tw, term), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def hamming_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by Hamming distance over sign-bit embeddings: (q_id, t_id,
    hamming BIGINT, rnk) ascending, t_id tie-break.

    The whole scan is codegen'd integer ops — xor + bit_count per word —
    which is why binary sketches are the cheapest candidate generator in
    the ladder: ~2 ALU ops per 32 dims vs a multiply-add per dim for
    integer cosine.  Semantics note: sign-Hamming approximates ANGULAR
    similarity (it is exactly the 1-bit hyperplane LSH with axis-aligned
    planes); use it as a shortlist stage (rerank exact, as in
    ``pq_adc_rerank_topk``) or for dedup-grade near-identity."""
    q = binarize_sign(queries, id_col, vec_col).select(
        F.col("id").alias("q_id"), F.col("words").alias("qw")
    )
    t = binarize_sign(corpus, id_col, vec_col).select(
        F.col("id").alias("t_id"), F.col("words").alias("tw")
    )
    pairs = t.join(F.broadcast(q), on=F.lit(True), how="inner").filter(
        F.col("q_id") != F.col("t_id")
    )
    scored = pairs.select("q_id", "t_id", hamming_words(F.col("qw"), F.col("tw")).alias("hamming"))
    return window_rank_topk(
        scored, ["q_id"], [F.col("hamming").asc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def hamming_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Two-stage binary serving: Hamming shortlist over sign-bit words →
    exact quantized-cosine re-rank of the shortlist — the 256×-compressed
    analogue of ``pq_adc_rerank_topk`` and the cheapest end of the
    shortlist-then-rerank ladder (the scan stage is xor+bit_count inside
    codegen; full vectors are touched only for shortlist·|Q| rows).

    Output: (q_id, t_id, cos, rnk) by exact quantized cosine DESC, t_id
    ASC — the same final order as ``similarity_topk(quantized=True)``, so
    recall against it is purely a question of shortlist coverage."""
    short = hamming_topk(queries, corpus, shortlist, id_col, vec_col).select(
        "q_id", "t_id"
    )
    t = _quantized_side(corpus, "t_id", "t", scale, id_col, vec_col)
    q = _quantized_side(queries, "q_id", "q", scale, id_col, vec_col)
    cand = short.join(t, on="t_id").join(F.broadcast(q), on="q_id")
    scored = cand.select("q_id", "t_id", _cos_quantized("q", "t").alias("cos"))
    return window_rank_topk(
        scored, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def pq_adc_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    k: int,
    shortlist: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    broadcast_shortlist: bool = True,
) -> DataFrame:
    """Two-stage PQ serving: ADC shortlist → exact re-rank — the standard
    production recipe for high recall at PQ memory cost.

    Stage 1 scans only the CODES (the 8-to-32×-compressed representation)
    and keeps ``shortlist`` candidates per query; stage 2 fetches full
    vectors for the shortlist alone (at 100 TB a point-lookup tier, here a
    keyed join) and re-ranks by exact quantized squared-L2.  Measured on
    the 80k jitter-structured corpus: plain ADC recall@10 = 0.41, rerank
    with shortlist=100 recall@10 = **1.000** at both ksub=64 and 256
    (SCALE.md §pq) — the quantization distortion is confined to candidate
    selection, never to the final order.  Output: (q_id, t_id, d, rnk),
    exact distance ascending, t_id tie-break."""
    short = pq_adc_topk(queries, codes, codebooks, shortlist, m=m, scale=scale).select(
        "q_id", "t_id"
    )
    return _exact_rerank(
        short, queries, corpus, k, id_col, vec_col, scale, broadcast_shortlist
    )


def _exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    scale: int,
    broadcast_shortlist: bool = True,
) -> DataFrame:
    """Shared stage-2 of the two-stage recipes: fetch full vectors for the
    (q_id, t_id) shortlist only (a keyed join — at 100 TB a point-lookup
    tier) and re-rank by exact quantized squared-L2, (d ASC, t_id ASC).

    The shortlist side is BROADCAST by default (round 9): it is
    |Q|·shortlist id pairs — bounded by the serving contract (a
    10k-query batch at shortlist=100 is 1M 16-byte rows), while the
    corpus side is the 100 TB frame.  Without the hint the planner
    shuffled BOTH sides into a sort-merge join (measured: the corpus
    exchange alone was ~0.6 s of the 0.77 s stage cost at the 80k bench
    shape); broadcasting the shortlist streams the corpus scan with zero
    corpus exchange — the point-lookup tier the docstring always
    promised.  Callers serving query batches past the broadcast budget
    (|Q|·shortlist approaching the driver/executor broadcast limit,
    ~10⁸ id pairs) pass ``broadcast_shortlist=False`` to keep the
    shuffle-join fallback — results are identical, only the exchange
    shape changes."""
    t = corpus.select(
        F.col(id_col).alias("t_id"), quantize_vec(F.col(vec_col), scale).alias("vb")
    )
    qq = queries.select(
        F.col(id_col).alias("q_id"), quantize_vec(F.col(vec_col), scale).alias("va")
    )
    short_side = F.broadcast(short) if broadcast_shortlist else short
    cand = t.join(short_side, on="t_id").join(F.broadcast(qq), on="q_id")
    scored = cand.select("q_id", "t_id", _sq_dist(F.col("va"), F.col("vb")).alias("d"))
    return window_rank_topk(
        scored, ["q_id"], [F.col("d").asc(), F.col("t_id").asc()], k, rank_col="rnk"
    )


def pq_adc_rerank_topk_routed(
    queries: DataFrame,
    corpus: DataFrame,
    index_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    shortlist: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    broadcast_shortlist: bool = True,
) -> DataFrame:
    """Two-stage PQ serving with the ADC shortlist served through the
    ROUTED cogroup (VERDICT r6 #2): stage 1 probes EVERY cell of the
    (cell, t_id, codes) offline artifact — nprobe = n_cells makes the
    routed scan cover the whole corpus, so the shortlist is bit-identical
    to ``pq_adc_topk``'s (each t_id lives in exactly one cell, every cell
    probed, same int64 LUT sums and (adc, t_id) tie-break; pinned by
    test) — but the scoring runs as the per-cell numpy LUT gather that
    took IVF-PQ from 7.4 s to 1.5 s on the 80k ladder, instead of the
    candidate-scale keyed code-fetch + LUT-sum exchanges of the
    expression path.  Stage 2 is the shared exact re-rank of the
    shortlist alone.

    The cells are a PARTITIONING device here, not a pruning device —
    recall is the full-ADC-shortlist recall (1.000 after re-rank on the
    80k corpus) regardless of the quantizer's quality; cell skew degrades
    only balance, never results (SCALE.md §hot-cell)."""
    n_cells = centroids.count()  # KB-scale frame; the always-legal collect
    short = ivf_pq_topk_routed(
        queries, index_codes, centroids, codebooks, k=shortlist,
        nprobe=n_cells, m=m, scale=scale,
    ).select("q_id", "t_id")
    return _exact_rerank(
        short, queries, corpus, k, id_col, vec_col, scale, broadcast_shortlist
    )


def opq_variance_permutation(
    corpus: DataFrame,
    m: int,
    vec_col: str = "embedding",
    scale: int = 1000,
) -> list[int]:
    """OPQ-lite trained pre-rotation (VERDICT r6 #7): a balanced-variance
    AXIS PERMUTATION chosen from the data, applied before the contiguous
    subspace split — the integer-deterministic member of the OPQ family
    (a full learned rotation would put float matmuls between the engines
    and break hash-gating; sign flips are omitted because squared-L2 and
    k-means are invariant under them).

    Rationale: plain PQ quantizes CONTIGUOUS dim blocks, so if variance
    is concentrated in a few adjacent dims one codebook carries most of
    the signal while others quantize noise.  Ranking dims by variance and
    dealing them round-robin across the m subspaces equalizes per-subspace
    variance — the same allocation heuristic OPQ's permutation ancestor
    uses (Ge et al., "Optimized Product Quantization", CVPR 2013, the
    non-parametric init).

    Deterministic and exactly replayable cross-engine: per-dim variance is
    compared via the integer numerator n·Σv² − (Σv)² over the quantized
    ints (no division), ties break on dim index ASC; rank r maps to
    subspace r % m, slot r // m.  One corpus scan (posexplode + hash agg),
    then a d-row collect — KB-scale.  Returns ``perm`` with
    ``new[j] = old[perm[j]]`` for ``permute_vec``."""
    q = corpus.select(
        F.posexplode(quantize_vec(F.col(vec_col), scale)).alias("i", "v")
    )
    stats = q.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    rows = stats.select(
        "i", (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("var_num")
    ).collect()
    from .guards import check_driver_bound

    check_driver_bound(
        len(rows),
        65_536,
        "opq_variance_permutation (per-dimension variance collect)",
        "dimension reduction before OPQ (a 64k+-dim embedding is outside "
        "this permutation search's contract)",
    )
    order = sorted(rows, key=lambda r: (-r.var_num, r.i))
    d = len(order)
    if d % m != 0:
        raise ValueError(f"opq_variance_permutation: dim {d} not divisible by m={m}")
    subdim = d // m
    dim_at_rank = [r.i for r in order]
    # new position j = s*subdim + t holds the dim ranked r = t*m + s, so
    # contiguous block s gets the balanced set {r ≡ s (mod m)}
    return [dim_at_rank[(j % subdim) * m + (j // subdim)] for j in range(d)]


def permute_vec(col: Column, perm: list[int]) -> Column:
    """Apply an axis permutation to an array column: out[j] = col[perm[j]].
    A d-element array constructor — pure codegen, no UDF."""
    return F.array(*[col.getItem(int(p)) for p in perm])


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    nprobe: int = 2,
    m: int = 4,
    scale: int = 1000,
    codes: DataFrame | None = None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ serving: IVF cell routing prunes candidates, ADC scores only
    the probed cells' CODES — the canonical 100 TB ANN shape (coarse
    quantizer for pruning, product quantizer for memory).

    Pass the prebuilt ``codes`` (from ``pq_encode``/``pq_encode_vectorized``)
    AND ``corpus_cells`` ((t_id, cell), from ``ivf_assign(corpus, nprobe=1)``
    or the streaming maintainer) — both are offline index artifacts, like
    ``build_ivf_index``'s output.  CONTRACT: ``corpus_cells`` must carry
    exactly ONE row per ``t_id`` (an nprobe=1 assignment).  The candidate
    join below deliberately has no ``distinct`` — a duplicate ``t_id`` row
    would double-count every one of that vector's m sub-distances in the
    ADC sum rather than fail loudly, so a maintainer that can emit
    duplicates must ``dropDuplicates(["t_id"])`` before handing the frame
    here (the in-repo maintainers are keyed upserts and cannot).  Without them the corpus is re-encoded /
    re-assigned on every call, O(corpus) and O(corpus × n_cells) costs that
    belong to the build, not to serving; the inline defaults exist for
    one-shot/exploratory use only.  At serving time nothing corpus-sized is
    decoded, collected, or broadcast."""
    from .similarity import ivf_assign

    if corpus_cells is None:
        corpus_cells = ivf_assign(corpus, centroids, nprobe=1, scale=scale).select(
            F.col("vec_id").alias("t_id"), "cell"
        )
    query_cells = ivf_assign(queries, centroids, nprobe=nprobe, scale=scale).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    if codes is None:
        codes = pq_encode(corpus, codebooks, m=m, scale=scale)
    # NO distinct: (q_id, t_id) pairs are unique by construction — each
    # corpus vector lives in exactly ONE cell (nprobe=1 assignment; the
    # prebuilt corpus_cells contract is the same 1-row-per-t_id frame) and
    # a query's nprobe probe cells are distinct (window-ranked) — so a
    # dedup here would only add a candidate-scale shuffle to the serving
    # path (removing it: 8.27 s → 7.35 s on the 80k bench ladder row; the
    # remaining cost is the keyed code-fetch + LUT-sum exchanges)
    cand = query_cells.join(corpus_cells, on="cell").select("q_id", "t_id")
    lut = pq_adc_lut(queries, codebooks, m=m, scale=scale)
    sub_scores = cand.join(_code_rows(codes), on="t_id").join(
        F.broadcast(lut), on=["q_id", "sub", "code"]
    )
    return _adc_sum_topk(sub_scores, m, k)


def _adc_kernel(codebooks: DataFrame, m: int) -> TopkKernel:
    """The ADC kernel of ``ivf_pq_topk_routed``: (n_t, n_q) int64 ADC
    distances of a cell's members' ``codes`` to its queries' ``q_vec``.
    Each query's lookup table (m·ksub squared-L2 entries) comes from one
    broadcast subtract per subspace, and each member's m codes gather
    through it — exact int64 throughout, never a decoded vector."""
    import numpy as np

    C, cell_order = _collect_codebooks(codebooks)
    if sorted(C) != list(range(m)):
        raise ValueError(f"ivf_pq_topk_routed: codebooks cover subs {sorted(C)}, want 0..{m - 1}")
    subdim = C[0].shape[1]

    def score(mem, qs):
        codes = _pa_list_matrix(mem.column("codes"), np).astype(np.int64)  # (n_t, m)
        if codes.shape[1] != m:
            raise ValueError(f"ivf_pq_topk_routed: codes width {codes.shape[1]} != m={m}")
        Q = _pa_list_matrix(qs.column("q_vec"), np)
        adc = np.zeros((codes.shape[0], Q.shape[0]), dtype=np.int64)
        for s in range(m):
            # code -> codebook row, via searchsorted on the sorted cells;
            # clip + verify so a corrupt code (not a codebook cell) fails
            # the task loudly instead of gathering a neighbor's distance
            idx = np.clip(np.searchsorted(cell_order[s], codes[:, s]), 0, cell_order[s].size - 1)
            if not np.array_equal(cell_order[s][idx], codes[:, s]):
                bad = codes[:, s][cell_order[s][idx] != codes[:, s]][0]
                raise ValueError(
                    f"ivf_pq_topk_routed: code {int(bad)} in subspace {s} "
                    "is not a codebook cell"
                )
            diff = Q[:, None, s * subdim:(s + 1) * subdim] - C[s][None, :, :]
            lut = np.einsum("qkd,qkd->qk", diff, diff)          # (n_q, ksub)
            adc += lut[:, idx].T                                # (n_t, n_q)
        return adc

    return TopkKernel(score, "adc_dist", "long", descending=False)


def ivf_pq_topk_routed(
    queries: DataFrame,
    index_codes: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    k: int,
    nprobe: int = 2,
    m: int = 4,
    scale: int = 1000,
) -> DataFrame:
    """Fully-distributed IVF-PQ serving — the cogrouped-ADC analogue of
    ``ivf_topk_prebuilt_routed`` (which carries full vectors): the same
    probe map routes each query's quantized vector to its probed cells,
    and ``routed_topk`` scores each cell's CODES against its probing
    queries with the ADC kernel (``_adc_kernel``) — never a driver collect
    of anything query- or corpus-sized, never a decoded corpus vector.

    ``index_codes`` is the offline artifact ``stream_ivf_pq_maintain``
    maintains and the batch build produces: (cell, t_id, codes ARRAY<INT>)
    — the prebuilt (corpus_cells ⨝ codes) pair in one frame, partitionable
    by cell.  Ranking is (adc ASC, t_id ASC).

    Exactness: queries quantize via the expression path (``quantize_vec``,
    ONE rounding mode in play), LUT entries and sums are int64 — so the
    output is bit-identical to ``ivf_pq_topk``, pinned by
    tests/test_pq.py::test_ivf_pq_routed_bit_identical_to_expression_path
    and by the shared catalog oracle.

    Shuffle shape: one exchange of the routed queries on cell + one of the
    code index on cell (free when the index is written partitioned by
    cell).  A hot cell degrades to one long task, never a failure — the
    measured doctrine of SCALE.md §hot-cell; mitigation is k_cells at
    build time."""
    kernel = _adc_kernel(codebooks, m)
    members = index_codes.select("cell", "t_id", "codes")
    return routed_topk(members, _ivf_route(queries, centroids, nprobe, scale), kernel, k)
