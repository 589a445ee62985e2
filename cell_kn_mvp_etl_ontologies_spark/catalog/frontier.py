"""Round-7 continuation batch: OHLC resample, interval-overlap join,
PMI collocations, common-neighbor link prediction, multi-vector MaxSim
retrieval, and the matryoshka-truncation recall audit — each with an
exactly-equivalent DuckDB oracle (integer quantization keeps every score
bit-exact across engines; see catalog/__init__ cross-engine rules).

Reference parity notes: these extend the SURVEY §2.12/§2.13 training-data
surface beyond the reference's own operator set (the brief's "operations a
large-scale training-data pipeline would need"):
- temporal_ohlc is the bar/candle resample every telemetry store ships
  (TimescaleDB candlestick_agg) — deterministic open/close via tie-broken
  event order, the same determinism doctrine as the md5 samplers.
- join_interval_overlap generalizes join_range_interval from point-in-range
  to interval-intersects-interval (genomic overlap joins, outage windows).
- text_collocations_pmi is word2vec's phrase-discovery pass.
- graph_common_neighbors is Liben-Nowell/Kleinberg link prediction on the
  same co-purchase graph the kcore/LPA/triangle queries share.
- similarity_maxsim is ColBERT-style late interaction — the multi-vector
  rung of the ANN ladder (brute-force baseline; the scale path routes
  candidates through IVF over per-doc centroids).
- embedding_mrl_recall audits Matryoshka-style dimension truncation the
  way similarity_*_recall audit IVF/PQ/Hamming: measured overlap, not a
  claim.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import commit_state_parquet, load_table, read_state_parquet
from . import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# temporal_ohlc — deterministic open/high/low/close candle rollup
# --------------------------------------------------------------------------
# Shared by the batch rollup and the streaming maintainer (`stream_ohlc`):
# one oracle constant pins window-formulation, struct-extrema partials, and
# the micro-batch merge chain mutually equal.
_OHLC_ORACLE = """
    WITH base AS (
      SELECT user_id AS key,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS bucket,
             ts, event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS v
      FROM events WHERE user_id < 50
    ),
    w AS (
      SELECT key, bucket, v,
        first_value(v) OVER (PARTITION BY key, bucket ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
        last_value(v) OVER (PARTITION BY key, bucket ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
      FROM base
    )
    SELECT CAST(key AS BIGINT) AS key, CAST(bucket AS BIGINT) AS bucket,
      CAST(MIN(o) AS BIGINT) AS open_units,
      CAST(MAX(v) AS BIGINT) AS high_units,
      CAST(MIN(v) AS BIGINT) AS low_units,
      CAST(MIN(c) AS BIGINT) AS close_units,
      CAST(COUNT(*) AS BIGINT) AS n_obs,
      CAST(SUM(v) AS BIGINT) AS sum_units
    FROM w GROUP BY key, bucket
    """


@register("temporal_ohlc", oracle=_OHLC_ORACLE)
def temporal_ohlc_q(spark, sf_dir):
    """Daily OHLC candles per user over the events stream
    (operators/temporal.py ohlc_rollup): open/close are FIRST/LAST by
    (ts, event_id) — the tiebreak makes the candle a pure function of the
    data at any parallelism — high/low/sum over floor-quantized integer
    micro-units.  One shuffle; window and aggregation share it."""
    from ..operators.temporal import ohlc_rollup

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return ohlc_rollup(
        ev, "user_id", "ts", "value",
        bucket_seconds=86400, scale=1_000_000, tiebreak_col="event_id",
    )


# --------------------------------------------------------------------------
# join_interval_overlap — bucketized interval-intersects-interval join
# --------------------------------------------------------------------------
@register(
    "join_interval_overlap",
    oracle="""
    WITH l AS (
      SELECT o_orderkey AS l_id,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS l_start,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400
               + o_orderkey % 45 AS l_end
      FROM orders WHERE o_orderkey % 80 = 0
    ),
    r AS (
      SELECT o_orderkey AS r_id,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS r_start,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400
               + o_orderkey % 45 AS r_end
      FROM orders WHERE o_orderkey % 80 = 1
    )
    SELECT l_id, r_id,
      CAST(l_start AS BIGINT) AS l_start, CAST(l_end AS BIGINT) AS l_end,
      CAST(r_start AS BIGINT) AS r_start, CAST(r_end AS BIGINT) AS r_end,
      CAST(least(l_end, r_end) - greatest(l_start, r_start) AS BIGINT) AS overlap
    FROM l JOIN r ON l_start <= r_end AND r_start <= l_end
    """,
)
def join_interval_overlap_q(spark, sf_dir):
    """Interval-overlap join (operators/joins.py join_interval_overlap):
    order fulfillment windows [orderdate, +orderkey%45 days] from two
    disjoint order samples, every intersecting cross-sample pair with its
    exact overlap length in days.  The engine runs the bucketized shape
    (32-day chunks, equi-join, emit-at-overlap-start dedup — zero distinct
    shuffle); the oracle is the direct inequality join, so the gate
    cross-checks the bucketization against the declarative semantics."""
    from ..operators.joins import join_interval_overlap

    od = _t(spark, sf_dir, "orders")
    day = F.floor(
        F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
        ) / 86400
    ).cast("long")
    left = od.filter(F.col("o_orderkey") % 80 == 0).select(
        F.col("o_orderkey").alias("l_id"),
        day.alias("l_start"),
        (day + F.col("o_orderkey") % 45).cast("long").alias("l_end"),
    )
    right = od.filter(F.col("o_orderkey") % 80 == 1).select(
        F.col("o_orderkey").alias("r_id"),
        day.alias("r_start"),
        (day + F.col("o_orderkey") % 45).cast("long").alias("r_end"),
    )
    return join_interval_overlap(left, right, bucket_size=32)


# --------------------------------------------------------------------------
# text_collocations_pmi — integer-PMI phrase discovery
# --------------------------------------------------------------------------
@register(
    "text_collocations_pmi",
    oracle="""
    WITH base AS (
      SELECT list_filter(string_split_regex(lower(text), '[\\s\x1f]+'),
                         t -> t <> '') AS ws
      FROM documents
    ),
    bi AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2
      FROM base, generate_series(1, 511) t(i)
      WHERE i <= len(ws) - 1
    ),
    b2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2),
    n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n_bi FROM b2),
    lm AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM b2 GROUP BY w1),
    rm AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM b2 GROUP BY w2)
    SELECT b2.w1, b2.w2, b2.c12, lm.c1, rm.c2,
      CAST(FLOOR(log2(b2.c12 * n.n_bi)) AS BIGINT)
        - CAST(FLOOR(log2(lm.c1 * rm.c2)) AS BIGINT) AS pmi_bits
    FROM b2 JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN n
    WHERE b2.c12 >= 5
    """,
)
def text_collocations_pmi_q(spark, sf_dir):
    """Collocation candidates over the documents corpus by integer-envelope
    PMI (operators/text_analysis.py collocations_pmi): floor-log2 of the
    exact int64 products c12·N and c1·c2 — bit-exact, within 1 bit of true
    PMI, rank-faithful for phrase screening.  Marginals are the bigram
    table's own marginals (probabilities sum to 1); the token stream is
    read once."""
    from ..operators.text_analysis import collocations_pmi

    docs = _t(spark, sf_dir, "documents")
    return collocations_pmi(docs, "text", min_count=5)


# --------------------------------------------------------------------------
# graph_common_neighbors — link-prediction scores on the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "graph_common_neighbors",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey % 1500 AS b
      FROM lineitem WHERE l_orderkey % 3 = 0
    ),
    und AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
    adj0 AS (SELECT src AS anchor, dst AS v FROM und),
    da AS (SELECT anchor, COUNT(*) AS d FROM adj0 GROUP BY anchor),
    adj AS (
      SELECT adj0.anchor, adj0.v FROM adj0 JOIN da USING (anchor) WHERE da.d <= 40
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY v),
    pairs AS (
      SELECT a1.v AS a, a2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
      FROM adj a1 JOIN adj a2 USING (anchor)
      WHERE a1.v < a2.v
      GROUP BY a1.v, a2.v
      HAVING COUNT(*) >= 35
    )
    SELECT p.a, p.b, p.common, dl.deg AS deg_a, dr.deg AS deg_b,
      CAST(FLOOR(p.common * 1000000
                 / CAST(dl.deg + dr.deg - p.common AS DOUBLE)) AS BIGINT)
        AS jaccard_ppm
    FROM pairs p
    JOIN deg dl ON dl.v = p.a
    JOIN deg dr ON dr.v = p.b
    """,
)
def graph_common_neighbors_q(spark, sf_dir):
    """Link-prediction candidates on the supplier–part co-purchase graph
    (plans/graph_query.py common_neighbor_scores — same edge set as the
    kcore/LPA/triangle queries): supplier pairs sharing >= 35 parts (the top ~4% of pairs on this graph — a screen, not an enumeration), scored
    by common-neighbor count and ppm-scaled Jaccard.  Hub anchors above
    degree 40 are dropped BEFORE pairing in both engines (the stop-word
    cap that keeps wedge enumeration sub-quadratic); degrees come from the
    same capped graph."""
    from ..plans.graph_query import common_neighbor_scores

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.lit(100000) + F.col("l_partkey") % 1500).cast("long").alias("dst"),
    )
    return common_neighbor_scores(edges, min_common=35, anchor_cap=40)


# --------------------------------------------------------------------------
# similarity_maxsim (+ routed twin, + recall audit) — multi-vector ladder
# --------------------------------------------------------------------------
# Shared CTE prefix: tokens, quantization, all-pairs token dots for the
# 5 query documents, MaxSim scores.  One oracle constant gates BOTH the
# brute-force path and the routed path at nprobe = n_cells (the
# _IVF_PQ_ORACLE shared-constant doctrine: integer-exact scoring makes
# routed-vs-expression identity a free second gate).
_MAXSIM_SCORES_CTE = """
    WITH tok AS (
      SELECT vec_id // 8 AS d_id, vec_id % 8 AS t, embedding FROM embeddings
    ),
    quant AS (
      SELECT d_id, t, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM tok, generate_series(1, 64) s(i)
      WHERE i <= len(embedding)
    ),
    dots AS (
      SELECT q.d_id AS q_id, q.t AS q_tok, c.d_id AS t_id, c.t AS t_tok,
             SUM(q.v * c.v) AS dot
      FROM quant q JOIN quant c ON q.i = c.i
      WHERE q.d_id < 5
      GROUP BY q.d_id, q.t, c.d_id, c.t
    ),
    best AS (
      SELECT q_id, t_id, q_tok, MAX(dot) AS best
      FROM dots GROUP BY q_id, t_id, q_tok
    ),
    scores AS (
      SELECT q_id, t_id, CAST(SUM(best) AS BIGINT) AS maxsim_units,
             CAST(COUNT(*) AS BIGINT) AS n_q_tokens
      FROM best WHERE q_id <> t_id GROUP BY q_id, t_id
    )"""

_MAXSIM_ORACLE = (
    _MAXSIM_SCORES_CTE
    + """
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(t_id AS BIGINT) AS t_id,
           maxsim_units, n_q_tokens
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY maxsim_units DESC, t_id ASC) AS rnk
      FROM scores
    ) WHERE rnk <= 5
    """
)


@register("similarity_maxsim", oracle=_MAXSIM_ORACLE)
def similarity_maxsim_q(spark, sf_dir):
    """Multi-vector MaxSim retrieval (operators/similarity.py maxsim_topk):
    the embeddings table regrouped into 8-token documents (d_id =
    vec_id//8, token = vec_id%8), first five documents as queries, top-5
    neighbors per query by Σ_q max_t <q, t> over HALF_UP-quantized int64
    dots — score and tie rule bit-exact, so the top-k SET is hash-gated,
    not just plausible.  Brute-force rung of the multi-vector ladder; the
    scale path IVF-routes per-doc centroids first."""
    from ..operators.similarity import maxsim_topk

    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    out = maxsim_topk(q_tokens, t_tokens, k=5, scale=1000)
    return out.select("q_id", "t_id", "maxsim_units", "n_q_tokens")


def _maxsim_frames(spark, sf_dir):
    """Token frames for the multi-vector family: embeddings regrouped into
    8-token documents (d_id = vec_id//8, token = vec_id%8); first five
    documents double as the query set."""
    em = _t(spark, sf_dir, "embeddings")
    toks = em.select(
        F.expr("vec_id div 8").cast("long").alias("d_id"),
        (F.col("vec_id") % 8).cast("long").alias("tok"),
        F.col("embedding"),
    )
    q_tokens = toks.filter(F.col("d_id") < 5).select(
        F.col("d_id").alias("q_id"), F.col("tok").alias("q_tok"), F.col("embedding").alias("vec")
    )
    t_tokens = toks.select(
        F.col("d_id").alias("t_id"), F.col("tok").alias("t_tok"), F.col("embedding").alias("vec")
    )
    return q_tokens, t_tokens


@register("similarity_maxsim_routed", oracle=_MAXSIM_ORACLE)
def similarity_maxsim_routed_q(spark, sf_dir):
    """Cell-routed MaxSim at nprobe = n_cells (operators/similarity.py
    maxsim_topk_routed): the fully-distributed serving shape — int64
    token-sum summaries, md5-seeded nearest-seed assignment, candidates
    from a cell equi-join, exact late interaction only on candidates —
    run with every cell probed, which makes the candidate set all pairs
    and the output bit-identical to ``similarity_maxsim``.  The SAME
    oracle constant gates both (the _IVF_PQ_ORACLE doctrine): cells as a
    partitioning device, pruning off, identity proven rather than
    claimed."""
    from ..operators.similarity import maxsim_topk_routed

    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    out = maxsim_topk_routed(q_tokens, t_tokens, k=5, n_cells=4, nprobe=4, scale=1000)
    return out.select("q_id", "t_id", "maxsim_units", "n_q_tokens")


@register("similarity_maxsim_routed_vec", oracle=_MAXSIM_ORACLE)
def similarity_maxsim_routed_vec_q(spark, sf_dir):
    """Cogrouped-vectorized MaxSim serving at nprobe = n_cells
    (operators/similarity.py maxsim_topk_routed_vectorized): the
    production hot path — routed_topk with the MaxSim kernel, whose
    stacked int64 matmuls per cell replace the expression twin's
    interpreted per-token-pair HOF dots, routing shared verbatim
    (maxsim_route_cells), quantization still expression-side so ONE
    rounding mode is in play.  Third share of the same oracle
    constant: brute, routed-expression, and routed-vectorized are pinned
    mutually bit-identical."""
    from ..operators.similarity import maxsim_topk_routed_vectorized

    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    out = maxsim_topk_routed_vectorized(
        q_tokens, t_tokens, k=5, n_cells=4, nprobe=4, scale=1000
    )
    return out.select("q_id", "t_id", "maxsim_units", "n_q_tokens")


@register(
    "similarity_maxsim_recall",
    oracle=(
        _MAXSIM_SCORES_CTE
        + """
    , sums AS (SELECT d_id, i, SUM(v) AS sv FROM quant GROUP BY d_id, i),
    seeds AS (
      SELECT d_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(d_id AS VARCHAR)), d_id) AS r
      FROM (SELECT DISTINCT d_id FROM sums)
    ),
    seedv AS (
      SELECT CAST(s.r - 1 AS BIGINT) AS cell, m.i, m.sv
      FROM seeds s JOIN sums m USING (d_id) WHERE s.r <= 4
    ),
    dist AS (
      SELECT m.d_id, v.cell, SUM((m.sv - v.sv) * (m.sv - v.sv)) AS d2
      FROM sums m JOIN seedv v ON m.i = v.i
      GROUP BY m.d_id, v.cell
    ),
    t_cells AS (
      SELECT d_id, cell FROM (
        SELECT d_id, cell,
               ROW_NUMBER() OVER (PARTITION BY d_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    q_cells AS (
      SELECT d_id, cell FROM (
        SELECT d_id, cell,
               ROW_NUMBER() OVER (PARTITION BY d_id ORDER BY d2 ASC, cell ASC) AS rn
        FROM dist WHERE d_id < 5
      ) WHERE rn <= 1
    ),
    cand AS (
      SELECT q.d_id AS q_id, t.d_id AS t_id
      FROM q_cells q JOIN t_cells t USING (cell)
    ),
    routed_topk AS (
      SELECT q_id, t_id FROM (
        SELECT s.q_id, s.t_id, ROW_NUMBER() OVER (
          PARTITION BY s.q_id ORDER BY s.maxsim_units DESC, s.t_id ASC) AS rnk
        FROM scores s JOIN cand c ON c.q_id = s.q_id AND c.t_id = s.t_id
      ) WHERE rnk <= 5
    ),
    brute_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY maxsim_units DESC, t_id ASC) AS rnk
        FROM scores
      ) WHERE rnk <= 5
    )
    SELECT CAST(COALESCE(b.q_id, r.q_id) AS BIGINT) AS q_id,
      CAST(COUNT(b.t_id) AS BIGINT) AS n_exact,
      CAST(COUNT(r.t_id) AS BIGINT) AS n_routed,
      CAST(SUM(CASE WHEN b.t_id IS NOT NULL AND r.t_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM brute_topk b FULL OUTER JOIN routed_topk r
      ON r.q_id = b.q_id AND r.t_id = b.t_id
    GROUP BY COALESCE(b.q_id, r.q_id)
    """
    ),
)
def similarity_maxsim_recall_q(spark, sf_dir):
    """Recall audit for the PRUNING configuration of routed MaxSim
    (nprobe = 1 of 4 cells) against the brute-force ground truth — the
    similarity_*_recall doctrine extended to the multi-vector rung: both
    paths integer-deterministic, the per-query top-5 overlap profile
    full-outer-joined and hash-gated, so single-probe retrieval loss is
    measured evidence.  The oracle independently replays the whole
    routing chain (token-sum summaries, md5 seeding, int64 L2
    assignment) in SQL."""
    from ..operators.similarity import maxsim_topk, maxsim_topk_routed

    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    brute = maxsim_topk(q_tokens, t_tokens, k=5, scale=1000).select(
        "q_id", "t_id", F.lit(1).alias("in_exact")
    )
    routed = maxsim_topk_routed(
        q_tokens, t_tokens, k=5, n_cells=4, nprobe=1, scale=1000
    ).select("q_id", "t_id", F.lit(1).alias("in_routed"))
    j = brute.join(routed, on=["q_id", "t_id"], how="full_outer")
    return j.groupBy("q_id").agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_routed").cast("long").alias("n_routed"),
        F.sum(
            (F.col("in_exact").isNotNull() & F.col("in_routed").isNotNull()).cast("int")
        ).cast("long").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# embedding_mrl_recall — matryoshka truncation overlap audit
# --------------------------------------------------------------------------
@register(
    "embedding_mrl_recall",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) s(i)
      WHERE i <= len(embedding)
    ),
    nf AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    nt AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant WHERE i <= 32 GROUP BY vec_id),
    df_ AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 20 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    dt_ AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i AND q.i <= 32 AND t.i <= 32
      WHERE q.vec_id < 20 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    full_topk AS (
      SELECT q_id, t_id FROM (
        SELECT d.q_id, d.t_id, ROW_NUMBER() OVER (
          PARTITION BY d.q_id
          ORDER BY CAST(d.dot AS DOUBLE)
                   / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                   d.t_id ASC) AS rnk
        FROM df_ d JOIN nf na ON na.vec_id = d.q_id JOIN nf nb ON nb.vec_id = d.t_id
      ) WHERE rnk <= 3
    ),
    trunc_topk AS (
      SELECT q_id, t_id FROM (
        SELECT d.q_id, d.t_id, ROW_NUMBER() OVER (
          PARTITION BY d.q_id
          ORDER BY CAST(d.dot AS DOUBLE)
                   / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                   d.t_id ASC) AS rnk
        FROM dt_ d JOIN nt na ON na.vec_id = d.q_id JOIN nt nb ON nb.vec_id = d.t_id
      ) WHERE rnk <= 3
    )
    SELECT COALESCE(f.q_id, t.q_id) AS q_id,
      CAST(COUNT(f.t_id) AS BIGINT) AS n_full,
      CAST(COUNT(t.t_id) AS BIGINT) AS n_trunc,
      CAST(SUM(CASE WHEN f.t_id IS NOT NULL AND t.t_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM full_topk f FULL OUTER JOIN trunc_topk t
      ON t.q_id = f.q_id AND t.t_id = f.t_id
    GROUP BY COALESCE(f.q_id, t.q_id)
    """,
)
def embedding_mrl_recall_q(spark, sf_dir):
    """Matryoshka truncation audit (the similarity_*_recall doctrine
    applied to dimension truncation): exact quantized-cosine top-3 over
    the full 64 dims vs over the FIRST 32 dims only, per-query overlap
    full-outer-joined — the measured evidence for how much retrieval a
    half-width embedding column keeps, which is the decision a 100 TB
    store actually faces (half the bytes, half the ANN compute).  Both
    paths integer-deterministic, so the overlap profile is hash-gated."""
    from ..operators.similarity import similarity_topk

    em = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    queries = em.filter(F.col("vec_id") < 20)
    full = similarity_topk(queries, em, k=3, quantized=True).select(
        "q_id", "t_id", F.lit(1).alias("in_full")
    )
    em32 = em.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    trunc = similarity_topk(
        em32.filter(F.col("vec_id") < 20), em32, k=3, quantized=True
    ).select("q_id", "t_id", F.lit(1).alias("in_trunc"))
    j = full.join(trunc, on=["q_id", "t_id"], how="full_outer")
    return j.groupBy("q_id").agg(
        F.count("in_full").cast("long").alias("n_full"),
        F.count("in_trunc").cast("long").alias("n_trunc"),
        F.sum(
            (F.col("in_full").isNotNull() & F.col("in_trunc").isNotNull()).cast("int")
        ).cast("long").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# agg_bitmap_sliding_distinct — trailing-window distinct via sketch merge
# --------------------------------------------------------------------------
@register(
    "agg_bitmap_sliding_distinct",
    oracle="""
    WITH ev AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS bucket, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT bucket FROM ev)
    SELECT CAST(d.bucket AS BIGINT) AS bucket,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_distinct
    FROM days d JOIN ev e ON e.bucket BETWEEN d.bucket - 2 AND d.bucket
    GROUP BY d.bucket
    """,
)
def agg_bitmap_sliding_distinct_q(spark, sf_dir):
    """Per-day TRAILING-3-DAY distinct users from the bitmap-word sketch
    (operators/aggregates.py bitmap_distinct_sliding): per-day words built
    once, each fanned to its 3 target days and merged with bit_or — the
    overlapping-window rollup count(distinct) would answer by re-shuffling
    raw ids once per window.  The oracle IS that naive recount, so the
    gate proves the sketch path exact."""
    from ..operators.aggregates import bitmap_distinct_sliding, bitmap_distinct_words

    ev = _t(spark, sf_dir, "events").select(
        F.floor(
            F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            / 86400
        ).cast("long").alias("bucket"),
        "user_id",
    )
    words = bitmap_distinct_words(ev, ["bucket"], "user_id")
    return bitmap_distinct_sliding(words, "bucket", window=3)


# --------------------------------------------------------------------------
# temporal_rolling_anomaly — integer rolling z-score screen
# --------------------------------------------------------------------------
@register(
    "temporal_rolling_anomaly",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id,
             CAST(FLOOR(value * 1000) AS BIGINT) AS v_units,
             ts
      FROM events WHERE user_id < 40
    ),
    w AS (
      SELECT user_id, event_id, v_units,
        CAST(COUNT(v_units) OVER win AS BIGINT) AS win_n,
        CAST(COALESCE(SUM(v_units) OVER win, 0) AS BIGINT) AS win_sum,
        CAST(COALESCE(SUM(v_units * v_units) OVER win, 0) AS BIGINT) AS win_sumsq
      FROM base
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, event_id, v_units,
      win_n, win_sum, win_sumsq,
      CASE WHEN win_n = 7
           THEN (v_units * 7 - win_sum) * (v_units * 7 - win_sum)
                > 9 * (7 * win_sumsq - win_sum * win_sum)
           ELSE FALSE END AS is_anomaly
    FROM w
    """,
)
def temporal_rolling_anomaly_q(spark, sf_dir):
    """Each event flagged against its own trailing 7-event window by the
    division-free integer z² test (operators/temporal.py
    rolling_anomaly_integer, k=3): (v·n−S)² > k²(n·S2−S²) in exact int64 —
    no float variance, no sqrt, cold-start rows explicit (win_n < 7 →
    false).  One shuffle, one ordered window pass for count/sum/sumsq."""
    from ..operators.temporal import rolling_anomaly_integer

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return rolling_anomaly_integer(
        ev, "user_id", ["ts", "event_id"], "value", n=7, k=3, scale=1000
    ).select(
        "user_id", "event_id", "v_units", "win_n", "win_sum", "win_sumsq", "is_anomaly"
    )


# --------------------------------------------------------------------------
# profile_topk_values — per-column frequent-values profile
# --------------------------------------------------------------------------
@register(
    "profile_topk_values",
    oracle="""
    WITH long_ AS (
      SELECT 'lang' AS col_name, lang AS value FROM documents
      UNION ALL
      SELECT 'source', source FROM documents
      UNION ALL
      SELECT 'len_bucket', CAST(n_chars // 200 AS VARCHAR) FROM documents
    ),
    counts AS (
      SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM long_ GROUP BY col_name, value
    )
    SELECT col_name, value, cnt, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS rnk
      FROM counts
    ) WHERE rnk <= 3
    """,
)
def profile_topk_values_q(spark, sf_dir):
    """Frequent-values profile — the data-profiling companion of
    `profile_numeric`: top-3 values per column (deterministic ties: count
    DESC, value ASC) over a SINGLE scan via `stack()` (the
    agg_unpivot_long doctrine — the oracle's k-scan UNION ALL is exactly
    what the single-scan melt avoids at fact scale), one count
    aggregation, one per-column window top-k."""
    docs = _t(spark, sf_dir, "documents")
    long_ = docs.select(
        F.expr(
            "stack(3, 'lang', lang, 'source', source,"
            " 'len_bucket', CAST(n_chars div 200 AS STRING))"
        ).alias("col_name", "value")
    )
    counts = long_.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("col_name").orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("col_name", "value", "cnt", "rnk")
    )


# --------------------------------------------------------------------------
# stream_ohlc — streaming candle maintenance via mergeable partials
# --------------------------------------------------------------------------
@register("stream_ohlc", oracle=_OHLC_ORACLE)
def stream_ohlc_q(spark, sf_dir):
    """Streaming OHLC maintenance: each micro-batch computes its candle
    PARTIALS (operators/temporal.py ohlc_partial — open/close carried as
    full (ts, tiebreak, units) structs so min/max merge them) and
    foreachBatch folds them into keyed parquet state with ohlc_merge; the
    returned table is ohlc_finalize over the final state.  Because the
    partial merge is associative + commutative, the maintained candles
    are INDEPENDENT of how the file source bundles rows into micro-batches
    — and the gate proves it: this query shares `temporal_ohlc`'s oracle
    constant, so stream-maintained == batch-window == DuckDB, hash-exact.
    O(batch + touched buckets) per trigger; the 100 TB shape partitions
    state by bucket range so a trigger rewrites only the open candles."""
    import shutil
    import tempfile

    from ..operators.temporal import ohlc_finalize, ohlc_merge, ohlc_partial
    from ..streaming import read_events_stream
    from . import finish_and_clean

    stream = read_events_stream(spark, sf_dir).filter(F.col("user_id") < 50)
    root = tempfile.mkdtemp(prefix="stream_ohlc_")
    state_path = root + "/state"

    def handle_batch(batch_df, batch_id):
        sp = batch_df.sparkSession
        part = ohlc_partial(
            batch_df, "user_id", "ts", "value",
            bucket_seconds=86400, scale=1_000_000, tiebreak_col="event_id",
        )
        state = read_state_parquet(sp, state_path)
        if state is not None:
            merged = ohlc_merge(state.unionByName(part))
        else:  # first batch: the partial IS the state
            merged = ohlc_merge(part)
        commit_state_parquet(merged, state_path)

    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", root + "/checkpoint")
        .start()
    )
    query.awaitTermination()
    return finish_and_clean(ohlc_finalize(spark.read.parquet(state_path)), root)


# --------------------------------------------------------------------------
# stream_maxsim_maintain — streaming routing-summary maintenance + serve
# --------------------------------------------------------------------------
@register("stream_maxsim_maintain", oracle=_MAXSIM_ORACLE)
def stream_maxsim_maintain_q(spark, sf_dir):
    """Streaming maintenance of the MaxSim routing structure: token-SUM
    doc summaries are ADDITIVE (int64 vector addition commutes), so each
    micro-batch's partial summaries fold into keyed parquet state with
    one merge (operators/similarity.py merge_doc_summaries) — a document
    whose tokens arrive across many triggers converges to the same
    summary as a single-pass build, independent of bundling.  Serving
    then routes through the MAINTAINED table (the q_sum/t_sum hooks of
    maxsim_topk_routed) at nprobe = n_cells and must therefore be
    bit-identical to the all-batch chain — the FOURTH share of the MaxSim
    oracle constant (brute, routed, routed-vectorized, stream-maintained
    all mutually pinned).  O(batch) per trigger; the corpus token stream
    is never rescanned for routing."""
    import shutil
    import tempfile

    from ..operators.similarity import (
        maxsim_doc_summaries,
        maxsim_topk_routed,
        merge_doc_summaries,
    )
    from ..streaming import read_embeddings_stream
    from . import finish_and_clean

    stream = read_embeddings_stream(spark, sf_dir).select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="stream_maxsim_")
    state_path = root + "/state"

    def handle_batch(batch_df, batch_id):
        sp = batch_df.sparkSession
        toks = batch_df.select(
            F.expr("vec_id div 8").cast("long").alias("t_id"),
            F.col("embedding").alias("vec"),
        )
        part = maxsim_doc_summaries(toks, "t_id", scale=1000)
        state = read_state_parquet(sp, state_path)
        if state is not None:
            merged = merge_doc_summaries(state.unionByName(part), "t_id")
        else:  # first batch
            merged = part
        commit_state_parquet(merged, state_path)

    query = (
        stream.writeStream.foreachBatch(handle_batch)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", root + "/checkpoint")
        .start()
    )
    query.awaitTermination()

    t_sum = spark.read.parquet(state_path)
    q_sum = t_sum.filter(F.col("t_id") < 5).withColumnRenamed("t_id", "q_id")
    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    out = maxsim_topk_routed(
        q_tokens, t_tokens, k=5, n_cells=4, nprobe=4, scale=1000,
        q_sum=q_sum, t_sum=t_sum,
    ).select("q_id", "t_id", "maxsim_units", "n_q_tokens")
    return finish_and_clean(out, root)


# --------------------------------------------------------------------------
# fn_json_extract_agg — typed extraction from a semi-structured JSON column
# --------------------------------------------------------------------------
@register(
    "fn_json_extract_agg",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_k,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def fn_json_extract_agg_q(spark, sf_dir):
    """Typed extraction from the semi-structured ``props`` JSON column
    (the payload shape every event pipeline carries): `get_json_object`
    path extraction + cast, aggregated per event type.  The extraction is
    a pure codegen projection — no UDF, no parse-to-struct materialization
    — and a missing/malformed key degrades to NULL (counted via n vs n_k)
    rather than failing the job, which is the production contract for
    schema-drifting payloads.  At 100 TB: JSON stays a string column in
    parquet; extraction cost is per-row CPU in the scan stage, and
    frequently-read keys should be materialized to typed columns by
    exactly this operator feeding a column sink."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(k).cast("long").alias("n_k"),
        F.min(k).cast("long").alias("min_k"),
        F.max(k).cast("long").alias("max_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


# --------------------------------------------------------------------------
# semistructured_keys_profile — key/type census over a JSON column
# --------------------------------------------------------------------------
@register(
    "semistructured_keys_profile",
    oracle="""
    WITH kv AS (
      SELECT e.event_type, k.key,
             json_extract_string(e.props, '$.' || k.key) AS v
      FROM events e, unnest(json_keys(e.props)) AS k(key)
    )
    SELECT event_type, key,
      CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'int'
           WHEN regexp_matches(v, '^-?[0-9]*\\.[0-9]+$') THEN 'float'
           WHEN v IN ('true', 'false') THEN 'bool'
           ELSE 'string' END AS vtype,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
    FROM kv GROUP BY 1, 2, 3
    """,
)
def semistructured_keys_profile_q(spark, sf_dir):
    """Schema census over the semi-structured column — the profiling pass
    that decides WHICH JSON keys deserve promotion to typed columns:
    every key observed per event type, its inferred value class
    (int/float/bool/string by lexical test, identical regexes both
    engines), occurrence count, and distinct-value count.  Spark side
    parses once to map<string,string> (`from_json` — key set need not be
    known in advance, the whole point) and explodes; pure codegen."""
    ev = _t(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias("key", "v"),
    )
    vtype = (
        F.when(F.col("v").rlike(r"^-?[0-9]+$"), F.lit("int"))
        .when(F.col("v").rlike(r"^-?[0-9]*\.[0-9]+$"), F.lit("float"))
        .when(F.col("v").isin("true", "false"), F.lit("bool"))
        .otherwise(F.lit("string"))
    )
    return (
        kv.select("event_type", "key", vtype.alias("vtype"), "v")
        .groupBy("event_type", "key", "vtype")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("v").cast("long").alias("n_distinct"),
        )
    )


# --------------------------------------------------------------------------
# similarity_maxsim_trained_recall — trained-cells single-probe audit
# --------------------------------------------------------------------------
def _kms_assign(n: int, p: int) -> str:
    return f"""
    d{n} AS (
      SELECT q.vec_id, c.cell, SUM((q.v - c.v) * (q.v - c.v)) AS d
      FROM sums q JOIN c{p} c ON c.i = q.i
      GROUP BY q.vec_id, c.cell
    ),
    a{n} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM d{n}
      ) WHERE rn = 1
    )"""


def _kms_update(n: int) -> str:
    return f"""
    c{n} AS (
      SELECT a.cell, q.i, CAST(floor(CAST(SUM(q.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM a{n} a JOIN sums q ON q.vec_id = a.vec_id
      GROUP BY a.cell, q.i
    )"""


@register(
    "similarity_maxsim_trained_recall",
    oracle=(
        _MAXSIM_SCORES_CTE
        + """
    , sums AS (SELECT d_id AS vec_id, i, SUM(v) AS v FROM quant GROUP BY d_id, i),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM (SELECT DISTINCT vec_id FROM sums)
    ),
    c0 AS (
      SELECT CAST(s.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds s JOIN sums q USING (vec_id) WHERE s.r <= 4
    ),"""
        + _kms_assign(1, 0)
        + ","
        + _kms_update(1)
        + ","
        + _kms_assign(2, 1)
        + ","
        + _kms_update(2)
        + ","
        + _kms_assign(3, 2)
        + """,
    t_cells AS (SELECT vec_id AS t_id, cell FROM a3),
    q_cells AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM d3 WHERE vec_id < 5
      ) WHERE rn <= 1
    ),
    cand AS (SELECT q.q_id, t.t_id FROM q_cells q JOIN t_cells t USING (cell)),
    routed_topk AS (
      SELECT q_id, t_id FROM (
        SELECT s.q_id, s.t_id, ROW_NUMBER() OVER (
          PARTITION BY s.q_id ORDER BY s.maxsim_units DESC, s.t_id ASC) AS rnk
        FROM scores s JOIN cand c ON c.q_id = s.q_id AND c.t_id = s.t_id
      ) WHERE rnk <= 5
    ),
    brute_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY maxsim_units DESC, t_id ASC) AS rnk
        FROM scores
      ) WHERE rnk <= 5
    )
    SELECT CAST(COALESCE(b.q_id, r.q_id) AS BIGINT) AS q_id,
      CAST(COUNT(b.t_id) AS BIGINT) AS n_exact,
      CAST(COUNT(r.t_id) AS BIGINT) AS n_routed,
      CAST(SUM(CASE WHEN b.t_id IS NOT NULL AND r.t_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM brute_topk b FULL OUTER JOIN routed_topk r
      ON r.q_id = b.q_id AND r.t_id = b.t_id
    GROUP BY COALESCE(b.q_id, r.q_id)
    """
    ),
)
def similarity_maxsim_trained_recall_q(spark, sf_dir):
    """The A/B half SCALE.md §maxsim calls for: single-probe recall with
    TRAINED cells (k-means over the summaries, 2 rounds — the oracle
    unrolls the training as chained CTEs, the cluster_kmeans doctrine
    applied to the sums table) vs the same audit on md5-seeded cells
    (`similarity_maxsim_recall`).  Identical query set, k, and nprobe, so
    the two gates' n_overlap columns ARE the measured uplift; the
    recorded numbers live in SCALE.md §maxsim."""
    from pyspark.sql import Window

    from ..operators.similarity import maxsim_route_cells_trained, maxsim_topk

    q_tokens, t_tokens = _maxsim_frames(spark, sf_dir)
    q_cells, t_cells = maxsim_route_cells_trained(
        q_tokens, t_tokens, n_cells=4, nprobe=1, n_iter=2, scale=1000
    )
    cand = q_cells.join(t_cells, "cell").select("q_id", "t_id")
    # exact MaxSim scores (k far beyond any corpus size keeps every pair),
    # restricted to the trained candidates, then re-ranked to the routed
    # top-5
    scores = maxsim_topk(q_tokens, t_tokens, k=10**6, scale=1000).select(
        "q_id", "t_id", "maxsim_units"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("maxsim_units").desc(), F.col("t_id").asc()
    )
    routed = (
        cand.join(scores, on=["q_id", "t_id"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("q_id", "t_id", F.lit(1).alias("in_routed"))
    )
    brute = maxsim_topk(q_tokens, t_tokens, k=5, scale=1000).select(
        "q_id", "t_id", F.lit(1).alias("in_exact")
    )
    j = brute.join(routed, on=["q_id", "t_id"], how="full_outer")
    return j.groupBy("q_id").agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_routed").cast("long").alias("n_routed"),
        F.sum(
            (F.col("in_exact").isNotNull() & F.col("in_routed").isNotNull()).cast("int")
        ).cast("long").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# sample_repeat_temperature — deterministic fractional epoch repetition
# --------------------------------------------------------------------------
@register(
    "sample_repeat_temperature",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
        CASE (('0x' || substring(md5('srcw' || source), 1, 8))::BIGINT % 4)
          WHEN 0 THEN 3.0 WHEN 1 THEN 1.5 WHEN 2 THEN 0.75 ELSE 0.375 END AS wt
      FROM documents
    ),
    r AS (
      SELECT doc_id, source,
        CAST(FLOOR(wt) AS BIGINT)
          + CASE WHEN (('0x' || substring(md5('repeat' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        / 4294967296.0) < (wt - FLOOR(wt))
                 THEN 1 ELSE 0 END AS n_repeats
      FROM w
    )
    SELECT doc_id, source, n_repeats, CAST(e.epoch AS INT) AS epoch
    FROM r, generate_series(1, 3) e(epoch)
    WHERE n_repeats >= 1 AND e.epoch <= n_repeats
    """,
)
def sample_repeat_temperature_q(spark, sf_dir):
    """Deterministic fractional upsampling (operators/training.py
    repeat_by_weight): per-source mixing weights {3.0, 1.5, 0.75, 0.375}
    (assigned by source-hash bucket so every fractional class is
    exercised), each doc materialized floor(w) times plus a
    hash-fraction coin for the remainder — expected copies = w exactly,
    and the epoch multiset is a pure function of the data (retry/
    repartition-stable, hence oracle-replicable: the md5 coin is replayed
    bit-exactly in SQL).  Zero-repeat rows drop, so fractional weights
    double as subsampling."""
    from ..operators.training import hash_bucket, repeat_by_weight

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    wt = (
        F.when(hash_bucket(F.col("source"), 4, "srcw") == 0, F.lit(3.0))
        .when(hash_bucket(F.col("source"), 4, "srcw") == 1, F.lit(1.5))
        .when(hash_bucket(F.col("source"), 4, "srcw") == 2, F.lit(0.75))
        .otherwise(F.lit(0.375))
    )
    out = repeat_by_weight(docs, "doc_id", wt, salt="repeat")
    return out.select("doc_id", "source", "n_repeats", "epoch")


# --------------------------------------------------------------------------
# dedup_remove_segments — duplicated-segment corpus rewrite
# --------------------------------------------------------------------------
@register(
    "dedup_remove_segments",
    oracle="""
    WITH uni AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
    ),
    base AS (
      SELECT id, list_filter(string_split_regex(lower(text), '[\\s\x1f]+'),
                             t -> t <> '') AS ws
      FROM uni
    ),
    segs AS (
      SELECT id, i AS seg_idx,
             array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ') AS seg
      FROM base, generate_series(0, 63) t(i)
      WHERE i * 10 < len(ws)
    ),
    kept AS (
      SELECT id, seg_idx, seg FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY seg ORDER BY id, seg_idx) AS rn
        FROM segs
      ) WHERE rn = 1
    ),
    rebuilt AS (
      SELECT id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY id
    ),
    totals AS (SELECT id, CAST(len(ws) AS BIGINT) AS n_tok FROM base)
    SELECT t.id, COALESCE(r.clean_text, '') AS clean_text,
      CAST(CEIL(t.n_tok / 10.0) AS BIGINT) AS n_segments,
      COALESCE(r.n_kept, 0) AS n_kept
    FROM totals t LEFT JOIN rebuilt r ON r.id = t.id
    """,
)
def dedup_remove_segments_q(spark, sf_dir):
    """Duplicated-segment corpus REWRITE (operators/dedup.py
    remove_duplicate_segments): the corpus plus planted full duplicates
    (every 7th doc re-inserted at id+100000), cut into aligned 10-token
    segments; each distinct segment survives only at its globally first
    (id, position) occurrence and every doc is rebuilt from its kept
    segments — the planted copies come back EMPTY (visible removal),
    originals intact.  The detection siblings report; this emits the
    cleaned corpus a training pipeline actually ships."""
    from ..operators.dedup import remove_duplicate_segments

    docs = _t(spark, sf_dir, "documents")
    uni = docs.select(F.col("doc_id").alias("id"), "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 100000).alias("id"), "text"
        )
    )
    return remove_duplicate_segments(uni, "text", "id", seg_tokens=10)


# --------------------------------------------------------------------------
# window_distribution — ntile / percent_rank / cume_dist analytics
# --------------------------------------------------------------------------
@register(
    "window_distribution",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id, event_id,
      CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
      PERCENT_RANK() OVER w AS prnk,
      CUME_DIST() OVER w AS cdist
    FROM events WHERE user_id < 30
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def window_distribution_q(spark, sf_dir):
    """Distribution analytics completing the §2.5 window family beyond
    `window_analytics` (rank/lag/frames): quartile assignment (ntile),
    percent_rank, cume_dist per user ordered by (value, event_id) — the
    tiebreak makes the ordering total, so ntile boundaries and both
    rational statistics ((rank−1)/(n−1), rank/n — exact IEEE doubles at
    these cardinalities) are deterministic and hash-gateable."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy(F.col("value").asc(), F.col("event_id").asc())
    return ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_id",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


# --------------------------------------------------------------------------
# quality_referential_integrity — cross-table FK orphan audit
# --------------------------------------------------------------------------
@register(
    "quality_referential_integrity",
    oracle="""
    WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0),
    ords AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT 'orders->customer' AS relation,
      CAST(COUNT(*) AS BIGINT) AS n_child,
      CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
    FROM orders o LEFT JOIN cust c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem->orders',
      CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CASE WHEN x.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN ords x ON x.o_orderkey = l.l_orderkey
    """,
)
def quality_referential_integrity_q(spark, sf_dir):
    """Cross-table referential-integrity audit — the quality check
    `quality_expectations` (single-table rules) cannot express: orphan
    counts of each fact table against a dimension SNAPSHOT (here
    deliberately holey — every 10th customer / 7th order removed — so the
    audit measures real orphans instead of vacuously passing).  Shape:
    per relation one left join against the key-only projection of the
    parent (broadcast when dimension-sized) + a conditional count — the
    join carries only keys, never payload columns."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 != 0)
        .select("c_custkey")
    )
    ords = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 != 0)
        .select(F.col("o_orderkey").alias("parent_ok"))
    )
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    r1 = (
        o.join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.col("c_custkey").isNull().cast("int")).cast("long").alias("n_orphan"),
        )
        .select(F.lit("orders->customer").alias("relation"), "n_child", "n_orphan")
    )
    r2 = (
        li.join(F.broadcast(ords), li["l_orderkey"] == ords["parent_ok"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.col("parent_ok").isNull().cast("int")).cast("long").alias("n_orphan"),
        )
        .select(F.lit("lineitem->orders").alias("relation"), "n_child", "n_orphan")
    )
    return r1.unionByName(r2)


# --------------------------------------------------------------------------
# graph_degree_stats — log-bucketed degree distribution profile
# --------------------------------------------------------------------------
@register(
    "graph_degree_stats",
    oracle="""
    WITH raw AS (
      SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey % 1500 AS b
      FROM lineitem WHERE l_orderkey % 3 = 0
    ),
    und AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
    deg AS (
      SELECT src AS v, CASE WHEN src >= 100000 THEN 'part' ELSE 'supplier' END AS side,
             CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY src
    )
    SELECT side, CAST(FLOOR(log2(d)) AS BIGINT) AS log2_bucket,
      CAST(COUNT(*) AS BIGINT) AS n_vertices,
      CAST(MIN(d) AS BIGINT) AS min_deg, CAST(MAX(d) AS BIGINT) AS max_deg
    FROM deg GROUP BY side, CAST(FLOOR(log2(d)) AS BIGINT)
    """,
)
def graph_degree_stats_q(spark, sf_dir):
    """Degree-distribution profile of the shared co-purchase graph —
    the first thing a graph-curation pipeline computes (it decides the
    anchor caps, the skew salts, the k-core thresholds every downstream
    graph op here parameterizes): per bipartite side, vertices bucketed
    by floor(log2(degree)) with count and min/max degree.  Two
    aggregations over the canonical edge list; floor-log2 of an integer
    is the established exact envelope."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    raw = li.select(
        F.col("l_suppkey").cast("long").alias("a"),
        (F.lit(100000) + F.col("l_partkey") % 1500).cast("long").alias("b"),
    ).distinct()
    und = raw.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        raw.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    ).distinct()
    deg = und.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d")).select(
        F.when(F.col("src") >= 100000, F.lit("part")).otherwise(F.lit("supplier")).alias("side"),
        "d",
    )
    return deg.groupBy(
        "side", F.floor(F.log2("d")).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.min("d").cast("long").alias("min_deg"),
        F.max("d").cast("long").alias("max_deg"),
    )
