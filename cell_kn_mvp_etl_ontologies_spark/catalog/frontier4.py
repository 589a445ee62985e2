"""Round-7 final extension surface: retrieval/experiment/representation
EVALUATION as queries, hybrid search, CDC payload dedup, and the
lakehouse/robust-statistics tail.

Families in this module (SURVEY §2.12 carries the per-query rows; §2.13
the facets):

- ranking & retrieval evaluation: exact tie-aware ROC AUC (doubled-rank
  Mann-Whitney), NDCG@10/MRR (hardcoded ppm discount tables — ten
  integers are cross-engine exact, a float log2 is not), recommendation
  diversity + catalog coverage, calibration ECE/MCE summary facet, 1-NN
  label probe with full confusion census
- hybrid retrieval: reciprocal-rank fusion of the integer BM25 and
  quantized-cosine runs — rank-only, no score calibration
- experimentation: CUPED variance reduction, exact-rational Welch t²,
  Beta-Binomial rate shrinkage, four-fifths-rule parity audit,
  deterministic 32-replicate Poisson-bootstrap CI, exact two-sample KS
- multimodal near-dup: content-defined chunking (rolling-hash
  boundaries) — chunk-hash census + Jaccard refine; the Arrow
  mapInPandas production facet shares the relational form's oracle
  (bit-identical by pinned test, ~2x at sf0.1, benched as
  cdc_chunks_5k).  A byte-histogram "perceptual hash" was prototyped
  first and REJECTED on measurement: word-salad payloads share char
  distributions (median inter-doc Hamming 3/60 — no discrimination);
  CDC measured 0.62+ Jaccard on planted edits vs 0.125 max between
  distinct docs, and DISCOVERED a genuine corpus near-dup pair (87/134)
- representation audits: JL ±1 random projection kept as a measured
  NEGATIVE result (4/50 top-5 recall at 16 dims on this near-isotropic
  corpus — the case for trained quantizers), with the integer
  power-iteration isotropy probe (Rayleigh lower bound; spectrum
  measured flat, λ2/λ1 = 0.983) as the explanation
- graph: personalized PageRank (seeded teleport, bit-exact integer
  units), bounded Bellman-Ford weighted SSSP, Markov stationary
  distribution (the chain HAS a spectral gap, so the bounded iteration
  genuinely converges — contrast the Gram matrix)
- lakehouse: manifest-stats data skipping (2/8 files touched for a 10%
  key range, proven in-gate)
- spatial: grid-bucketed radius join (geohash pattern; 47.6x candidate
  reduction measured at sf0.1, results equal to brute force)
- LLM-pipeline curation: hashing-trick feature vectorization,
  token-budget corpus mixing, n-gram benchmark decontamination
  FILTERING with per-source census, lexicon safety screen, source-level
  duplication-flow matrix, packing-efficiency audit
- robust / nonparametric statistics: survival risk table with
  censoring, Mann-Kendall trend + Theil-Sen slope, winsorized means at
  exact rank cutoffs, per-group regression scorecard (SAE/SSE/R²)

Shared doctrines: no RNG (md5 ring), no float logs/divisions in gated
outputs, every truncating division either proven non-negative or
sign-decomposed identically in both engines (negative-operand rounding
is engine-specific — measured in this module: DuckDB integer //
truncates like Spark DIV, python // floors; and 1e6·8000 constant-folds
in INT and overflows under ANSI — large literals are written folded).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table
from . import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# eval_auc_rank — exact tie-aware ROC AUC via Mann-Whitney rank-sum
# --------------------------------------------------------------------------
@register(
    "eval_auc_rank",
    oracle="""
    WITH scored AS (
      SELECT source, n_chars AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    per_score AS (
      SELECT source, s, COUNT(*) AS c, SUM(pos) AS p
      FROM scored GROUP BY source, s
    ),
    ranked AS (
      SELECT source, c, p,
             2 * (SUM(c) OVER (PARTITION BY source ORDER BY s) - c) + c + 1 AS r2
      FROM per_score
    ),
    agg AS (
      SELECT source,
             CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
             CAST(SUM(p * r2) AS BIGINT) AS rsum2
      FROM ranked GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           CAST(rsum2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num2,
           CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den2,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(1000000 * (rsum2 - n_pos * (n_pos + 1))
                          // (2 * n_pos * n_neg) AS BIGINT)
           END AS auc_ppm
    FROM agg
    """,
)
def eval_auc_rank_q(spark, sf_dir):
    """Exact ROC AUC of a score column against a binary label, per group —
    the Mann-Whitney U identity AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos
    n_neg) with midrank tie handling, computed entirely in integers by
    DOUBLING ranks (a tie group's average rank is a half-integer; 2×avg =
    2·cum_before + c + 1 is always integral).  Score = n_chars, label =
    lang == 'en', grouped by source — "does document length predict
    English?" per corpus slice; in production the score is any detector
    (quality, toxicity, langid confidence) and this is its exact
    threshold-free evaluation over the full corpus, no sklearn, no
    driver-side sort.

    AUC_num2 is provably non-negative (rank-sum over positives is
    minimized when positives occupy ranks 1..n_pos, where it equals
    n_pos(n_pos+1)), so the truncating ppm division is cross-engine safe
    without sign decomposition.

    100 TB shape: one hash aggregate to (group, score) granularity — the
    map-side combine collapses the corpus to |distinct scores| rows —
    then ONE window cumsum per group and a final group aggregate; the
    only sort is over distinct scores within a group, never corpus rows.
    """
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").cast("long").alias("pos"),
    )
    per_score = scored.groupBy("source", "s").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").alias("p")
    )
    w = Window.partitionBy("source").orderBy("s")
    ranked = per_score.withColumn(
        "r2", 2 * (F.sum("c").over(w) - F.col("c")) + F.col("c") + 1
    )
    agg = ranked.groupBy("source").agg(
        F.sum("p").cast("long").alias("n_pos"),
        (F.sum("c") - F.sum("p")).cast("long").alias("n_neg"),
        F.sum(F.col("p") * F.col("r2")).cast("long").alias("rsum2"),
    )
    return agg.select(
        "source",
        "n_pos",
        "n_neg",
        (F.col("rsum2") - F.col("n_pos") * (F.col("n_pos") + 1))
        .cast("long")
        .alias("auc_num2"),
        (2 * F.col("n_pos") * F.col("n_neg")).cast("long").alias("auc_den2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "CAST(1000000 * (rsum2 - n_pos * (n_pos + 1))"
                " DIV (2 * n_pos * n_neg) AS BIGINT)"
            ),
        ).alias("auc_ppm"),
    )


# --------------------------------------------------------------------------
# eval_ab_cuped — CUPED variance-reduced A/B readout
# --------------------------------------------------------------------------
@register(
    "eval_ab_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CASE WHEN FLOOR(epoch(ts)) < 1705363200
                      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN FLOOR(epoch(ts)) >= 1705363200
                      THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM per_user
    ),
    theta AS (
      SELECT n, sx, sy,
             n * sxy - sx * sy AS cov_num,
             n * sxx - sx * sx AS var_num
      FROM pooled
    ),
    arms AS (
      SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS x0,
             SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS x1,
             SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS y0,
             SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS y1
      FROM per_user
    )
    SELECT CAST(t.n AS BIGINT) AS n_users,
           CAST(a.n0 AS BIGINT) AS n0, CAST(a.n1 AS BIGINT) AS n1,
           CAST(a.x0 AS BIGINT) AS x0_cents, CAST(a.x1 AS BIGINT) AS x1_cents,
           CAST(a.y0 AS BIGINT) AS y0_cents, CAST(a.y1 AS BIGINT) AS y1_cents,
           CAST(t.cov_num AS BIGINT) AS cov_num,
           CAST(t.var_num AS BIGINT) AS var_num,
           CAST(CASE WHEN t.cov_num < 0 THEN -1 ELSE 1 END
                * ((1000000::HUGEINT * abs(t.cov_num)) // t.var_num)
                AS BIGINT) AS theta_ppm,
           CAST(a.n0 * a.y1 - a.n1 * a.y0 AS BIGINT) AS dy_num,
           CAST(a.n0 * a.x1 - a.n1 * a.x0 AS BIGINT) AS dx_num,
           CAST(CASE WHEN (a.n0 * a.y1 - a.n1 * a.y0) * t.var_num
                          - t.cov_num * (a.n0 * a.x1 - a.n1 * a.x0) < 0
                     THEN -1 ELSE 1 END
                * ((1000000::HUGEINT
                    * abs((a.n0 * a.y1 - a.n1 * a.y0)::HUGEINT * t.var_num
                          - t.cov_num::HUGEINT * (a.n0 * a.x1 - a.n1 * a.x0)))
                   // (a.n0::HUGEINT * a.n1 * t.var_num))
                AS BIGINT) AS adj_diff_ucents
    FROM theta t, arms a
    """,
)
def eval_ab_cuped_q(spark, sf_dir):
    """CUPED variance-reduced experiment readout — the industry-standard
    pre-period covariate adjustment (Deng et al., WSDM'13): per-user
    pre-period spend X (first half of the window) predicts post-period
    spend Y; theta = cov(X,Y)/var(X) fitted on the POOLED population
    (arm-blind, so the adjustment cannot leak treatment signal), and the
    reported effect is the adjusted mean difference Δ_adj = Δy − θ·Δx.

    Integer discipline: X, Y quantize to cents; cov/var use the n·Σxy −
    Σx·Σy numerator form (no means, no floats); θ and Δ_adj are reported
    ppm/micro-cents via truncating division in 38-digit arithmetic
    (DECIMAL(38,0) / HUGEINT — 10^6·|Δy_num·var − cov·Δx_num| genuinely
    exceeds int64).  Both can be negative, and rounding-toward-what on
    negatives is engine-specific (Spark DIV and DuckDB integer //
    truncate toward zero; python // floors; DuckDB double // is plain
    division), so the division is SIGN-DECOMPOSED (sign(v) ·
    (10^6·|v|) DIV den) in both engines — the rounding is then explicit
    and identical whatever each engine does below zero.

    100 TB shape: one hash aggregate to per-user granularity (the only
    corpus-sized exchange, keyed on user_id), then two KB-scale global
    aggregates — CUPED at any scale is exactly two map-reduce passes,
    never a driver-side regression fit."""
    ev = _t(spark, sf_dir, "events")
    # epoch-seconds cutoff (2024-01-16T00:00:00Z): session-tz-proof — a
    # string->timestamp literal cast would shift the instant under the
    # non-UTC gate sweep (the FLOOR(epoch) doctrine of split_chronological)
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    cents = F.floor(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(sec < 1705363200, cents).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(sec >= 1705363200, cents).otherwise(F.lit(0))).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    theta = pooled.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_num"),
    )
    arms = per_user.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n0"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(F.lit(0))).alias("x0"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(F.lit(0))).alias("x1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(F.lit(0))).alias("y0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(F.lit(0))).alias("y1"),
    )
    j = theta.crossJoin(arms)  # 1 row x 1 row
    return j.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("x0").cast("long").alias("x0_cents"),
        F.col("x1").cast("long").alias("x1_cents"),
        F.col("y0").cast("long").alias("y0_cents"),
        F.col("y1").cast("long").alias("y1_cents"),
        F.col("cov_num").cast("long").alias("cov_num"),
        F.col("var_num").cast("long").alias("var_num"),
        F.expr(
            "CAST(CASE WHEN cov_num < 0 THEN -1 ELSE 1 END"
            " * ((CAST(1000000 AS DECIMAL(38,0)) * abs(cov_num))"
            "    DIV CAST(var_num AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("theta_ppm"),
        (F.col("n0") * F.col("y1") - F.col("n1") * F.col("y0"))
        .cast("long")
        .alias("dy_num"),
        (F.col("n0") * F.col("x1") - F.col("n1") * F.col("x0"))
        .cast("long")
        .alias("dx_num"),
        F.expr(
            "CAST(CASE WHEN CAST(n0*y1 - n1*y0 AS DECIMAL(38,0)) * var_num"
            "            - CAST(cov_num AS DECIMAL(38,0)) * (n0*x1 - n1*x0) < 0"
            "      THEN -1 ELSE 1 END"
            " * ((CAST(1000000 AS DECIMAL(38,0))"
            "     * abs(CAST(n0*y1 - n1*y0 AS DECIMAL(38,0)) * var_num"
            "           - CAST(cov_num AS DECIMAL(38,0)) * (n0*x1 - n1*x0)))"
            "    DIV (CAST(n0 AS DECIMAL(38,0)) * n1 * var_num)) AS BIGINT)"
        ).alias("adj_diff_ucents"),
    )


# NDCG discount table: floor(10^6 / log2(r+1)) for ranks 1..10, and its
# prefix sums (ideal DCG for m relevant items in the top-10).  Hardcoded
# because 1/log2 cannot be computed bit-identically across engines; ten
# constants can be — the same doctrine as frontier3's Benford ppm table.
_NDCG_DISC_PPM = [
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
]
_NDCG_IDCG_PPM = [
    1000000, 1630929, 2130929, 2561605, 2948457,
    3304664, 3637997, 3953461, 4254490, 4543554,
]

_NDCG_DISC_SQL = "CASE rnk " + " ".join(
    f"WHEN {r + 1} THEN {d}" for r, d in enumerate(_NDCG_DISC_PPM)
) + " END"
_NDCG_IDCG_SQL = "CASE LEAST(n_rel_total, 10) " + " ".join(
    f"WHEN {m + 1} THEN {d}" for m, d in enumerate(_NDCG_IDCG_PPM)
) + " END"


# --------------------------------------------------------------------------
# eval_ranking_ndcg — NDCG@10 / MRR / recall@10 of a retrieval run
# --------------------------------------------------------------------------
@register(
    "eval_ranking_ndcg",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 10 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    topk AS (
      SELECT q_id, t_id, rnk FROM (
        SELECT d.q_id, d.t_id,
               ROW_NUMBER() OVER (
                 PARTITION BY d.q_id
                 ORDER BY CAST(d.dot AS DOUBLE)
                          / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                          d.t_id ASC
               ) AS rnk
        FROM dots d
        JOIN norms na ON na.vec_id = d.q_id
        JOIN norms nb ON nb.vec_id = d.t_id
      ) WHERE rnk <= 10
    ),
    lcnt AS (SELECT label, COUNT(*) AS c FROM corpus GROUP BY label),
    rel_tot AS (
      SELECT q.vec_id AS q_id, lc.c - 1 AS n_rel_total
      FROM corpus q JOIN lcnt lc ON lc.label = q.label
      WHERE q.vec_id < 10
    ),
    run AS (
      SELECT k.q_id, k.rnk,
             CASE WHEN tl.label = ql.label THEN 1 ELSE 0 END AS hit,
             {_NDCG_DISC_SQL} AS disc
      FROM topk k
      JOIN corpus tl ON tl.vec_id = k.t_id
      JOIN corpus ql ON ql.vec_id = k.q_id
    ),
    per_q AS (
      SELECT q_id,
             CAST(SUM(hit) AS BIGINT) AS n_rel_k,
             MIN(CASE WHEN hit = 1 THEN rnk END) AS first_rank,
             CAST(SUM(hit * disc) AS BIGINT) AS dcg_ppm
      FROM run GROUP BY q_id
    ),
    idcg AS (
      SELECT r.q_id, CAST(r.n_rel_total AS BIGINT) AS n_rel_total,
             CASE WHEN r.n_rel_total = 0 THEN NULL
                  ELSE {_NDCG_IDCG_SQL} END AS idcg_ppm
      FROM rel_tot r
    )
    SELECT p.q_id, i.n_rel_total, p.n_rel_k,
           CAST(p.first_rank AS BIGINT) AS first_rank,
           CASE WHEN p.first_rank IS NULL THEN NULL
                ELSE CAST(1000000 // p.first_rank AS BIGINT) END AS mrr_ppm,
           p.dcg_ppm,
           CAST(i.idcg_ppm AS BIGINT) AS idcg_ppm,
           CASE WHEN i.idcg_ppm IS NULL THEN NULL
                ELSE CAST(1000000 * p.dcg_ppm // i.idcg_ppm AS BIGINT)
           END AS ndcg_ppm
    FROM per_q p JOIN idcg i ON i.q_id = p.q_id
    """,
)
def eval_ranking_ndcg_q(spark, sf_dir):
    """Rank-sensitive retrieval evaluation — NDCG@10, MRR, and recall@10
    of the exact quantized-cosine run against label-match relevance, per
    query.  The recall audits (`similarity_*_recall`) measure set overlap
    only; NDCG weights WHERE in the ranking the relevant items landed —
    the metric that actually moves when a rung reorders without losing
    members.  Discounts 1/log2(r+1) and their prefix sums (ideal DCG) are
    hardcoded ppm constants (a float log2 cannot be cross-engine exact;
    ten integers can), so the whole scorecard is BIGINT and hash-gated.

    100 TB shape: the run itself is whatever rung is being evaluated
    (here the brute-force exact rung over a bounded corpus slice); the
    evaluation on top is two broadcast-joins of KB-scale label/count dims
    onto the top-k rows (|Q|·k rows total) and one per-query aggregate —
    evaluation cost is O(|run|), independent of corpus size."""
    from ..operators.similarity import similarity_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding", "label"
    )
    queries = em.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    topk = similarity_topk(queries, em.select("vec_id", "embedding"), k=10)
    lab = em.select("vec_id", "label")
    run = (
        topk.join(
            F.broadcast(lab.select(F.col("vec_id").alias("t_id"),
                                   F.col("label").alias("t_label"))),
            on="t_id",
        )
        .join(
            F.broadcast(lab.select(F.col("vec_id").alias("q_id"),
                                   F.col("label").alias("q_label"))),
            on="q_id",
        )
        .select(
            "q_id",
            F.col("rnk"),
            (F.col("t_label") == F.col("q_label")).cast("long").alias("hit"),
            F.element_at(
                F.array(*[F.lit(d) for d in _NDCG_DISC_PPM]), F.col("rnk").cast("int")
            ).alias("disc"),
        )
    )
    per_q = run.groupBy("q_id").agg(
        F.sum("hit").cast("long").alias("n_rel_k"),
        F.min(F.when(F.col("hit") == 1, F.col("rnk"))).cast("long").alias("first_rank"),
        F.sum(F.col("hit") * F.col("disc")).cast("long").alias("dcg_ppm"),
    )
    lcnt = lab.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
    rel_tot = (
        lab.filter(F.col("vec_id") < 10)
        .join(F.broadcast(lcnt), on="label")
        .select(
            F.col("vec_id").alias("q_id"),
            (F.col("c") - 1).cast("long").alias("n_rel_total"),
        )
    )
    idcg = rel_tot.withColumn(
        "idcg_ppm",
        F.when(
            F.col("n_rel_total") > 0,
            F.element_at(
                F.array(*[F.lit(d) for d in _NDCG_IDCG_PPM]),
                F.least(F.col("n_rel_total"), F.lit(10)).cast("int"),
            ),
        ).cast("long"),
    )
    return per_q.join(idcg, on="q_id").select(
        "q_id",
        "n_rel_total",
        "n_rel_k",
        "first_rank",
        F.expr("CAST(1000000 DIV first_rank AS BIGINT)").alias("mrr_ppm"),
        "dcg_ppm",
        "idcg_ppm",
        F.expr("CAST(1000000 * dcg_ppm DIV idcg_ppm AS BIGINT)").alias("ndcg_ppm"),
    )


# --------------------------------------------------------------------------
# similarity_rrf_fusion — hybrid lexical+dense retrieval via RRF
# --------------------------------------------------------------------------
@register(
    "similarity_rrf_fusion",
    oracle="""
    WITH toks AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_key, t.tok AS token
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 200) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (SELECT doc_key, token, COUNT(*) AS tf FROM toks GROUP BY doc_key, token),
    dl AS (SELECT doc_key, SUM(tf) AS dl FROM tf GROUP BY doc_key),
    totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    dfr AS (
      SELECT token, COUNT(*) AS df FROM tf
      WHERE token IN ('data', 'processing', 'pipeline') GROUP BY token
    ),
    contrib AS (
      SELECT tf.doc_key,
             (22 * t.total_len * tf.tf * (2 * t.n_docs - 2 * dfr.df + 1) * 100000)
               // ((10 * t.total_len * tf.tf + 3 * t.total_len + 9 * dl.dl * t.n_docs)
                   * (2 * dfr.df + 1)) AS c
      FROM tf JOIN dfr ON dfr.token = tf.token
      JOIN dl ON dl.doc_key = tf.doc_key
      CROSS JOIN totals t
    ),
    lex AS (
      SELECT doc_key, rnk FROM (
        SELECT doc_key,
               ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, doc_key ASC) AS rnk
        FROM contrib GROUP BY doc_key
      ) WHERE rnk <= 50
    ),
    corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    dots AS (
      SELECT t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id = 7
      GROUP BY t.vec_id
    ),
    dense AS (
      SELECT doc_key, rnk FROM (
        SELECT CAST(d.t_id AS VARCHAR) AS doc_key,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(d.dot AS DOUBLE)
                          / sqrt(CAST(nq.norm_sq AS DOUBLE) * CAST(nt.norm_sq AS DOUBLE)) DESC,
                          d.t_id ASC
               ) AS rnk
        FROM dots d
        JOIN norms nt ON nt.vec_id = d.t_id
        CROSS JOIN (SELECT norm_sq FROM norms WHERE vec_id = 7) nq
      ) WHERE rnk <= 50
    ),
    fused AS (
      SELECT COALESCE(l.doc_key, d.doc_key) AS doc_key,
             l.rnk AS lex_rnk, d.rnk AS dense_rnk,
             COALESCE(1000000000 // (60 + l.rnk), 0)
               + COALESCE(1000000000 // (60 + d.rnk), 0) AS rrf_units
      FROM lex l FULL OUTER JOIN dense d ON d.doc_key = l.doc_key
    )
    SELECT doc_key, CAST(lex_rnk AS BIGINT) AS lex_rnk,
           CAST(dense_rnk AS BIGINT) AS dense_rnk,
           CAST(rrf_units AS BIGINT) AS rrf_units,
           CAST(fused_rnk AS INT) AS fused_rnk
    FROM (
      SELECT doc_key, lex_rnk, dense_rnk, rrf_units,
             ROW_NUMBER() OVER (ORDER BY rrf_units DESC, doc_key ASC) AS fused_rnk
      FROM fused
    ) WHERE fused_rnk <= 10
    """,
)
def similarity_rrf_fusion_q(spark, sf_dir):
    """Hybrid retrieval — reciprocal-rank fusion (Cormack et al., SIGIR'09)
    of the integer-BM25 lexical run and the quantized-cosine dense run:
    RRF(d) = Σ_systems 1/(60+rank_s(d)), the standard zero-tuning fusion
    in every production RAG stack (lexical catches exact terms, dense
    catches paraphrase; RRF needs no score calibration because it only
    consumes RANKS).  Scores scale to integer units (10^9 DIV (60+rank))
    so the fused ordering is BIGINT-exact cross-engine; both runs keep
    their per-system rank in the output for attribution.

    100 TB shape: each run is its own already-scaled operator (BM25 =
    broadcast-dim postings aggregate, dense = whatever ANN rung serves);
    fusion itself is a full-outer equi-join of two |topk|-row frames — 
    KB-scale regardless of corpus size — and one ROW_NUMBER over ≤2·topk
    rows.  Fusing MORE systems (phrase, n-gram, multi-vector) adds one
    tiny join each, never another corpus pass."""
    from ..operators.similarity import cosine_join_quantized
    from ..search.analyzers import text_en_no_stem_tokens
    from ..search.ranking import bm25_rank_integer

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    lex = bm25_rank_integer(
        docs, ["doc_id"], "text", ["data", "processing", "pipeline"],
        text_en_no_stem_tokens, k=50,
    ).select("doc_key", F.col("rnk").alias("lex_rnk"))

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    qvec = em.filter(F.col("vec_id") == 7)
    pairs = cosine_join_quantized(qvec, em)
    w = Window.orderBy(F.col("cos").desc(), F.col("t_id").asc())
    dense = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 50)
        .select(F.col("t_id").cast("string").alias("doc_key"),
                F.col("rnk").alias("dense_rnk"))
    )

    fused = lex.join(dense, on="doc_key", how="full_outer").select(
        "doc_key",
        "lex_rnk",
        "dense_rnk",
        (
            F.coalesce(F.expr("CAST(1000000000 DIV (60 + lex_rnk) AS BIGINT)"), F.lit(0))
            + F.coalesce(F.expr("CAST(1000000000 DIV (60 + dense_rnk) AS BIGINT)"), F.lit(0))
        ).alias("rrf_units"),
    )
    wf = Window.orderBy(F.col("rrf_units").desc(), F.col("doc_key").asc())
    return (
        fused.withColumn("fused_rnk", F.row_number().over(wf))
        .filter(F.col("fused_rnk") <= 10)
        .select(
            "doc_key",
            F.col("lex_rnk").cast("long").alias("lex_rnk"),
            F.col("dense_rnk").cast("long").alias("dense_rnk"),
            F.col("rrf_units").cast("long").alias("rrf_units"),
            F.col("fused_rnk").cast("int").alias("fused_rnk"),
        )
    )


# CDC boundary rule + both engines' chunking live in operators/cdc.py —
# shared verbatim with the streaming maintainer so the rule cannot drift.
from ..operators.cdc import cdc_chunk_hashes, cdc_cset_sql  # noqa: E402
from .training import _PACK_CORPUS_SQL  # noqa: E402  (shared packing corpus)


# --------------------------------------------------------------------------
# multimodal_cdc_chunks — content-defined-chunking near-dup over payloads
# --------------------------------------------------------------------------
_CDC_CHUNKS_ORACLE = f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
    corpus AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 10000,
             substr(text, 1, 100) || 'XXEDITXX' || substr(text, 111)
      FROM base WHERE doc_id < 15
    ),
    {cdc_cset_sql("corpus", "cset", "c")},
    nc AS (SELECT doc_id, COUNT(*) AS n FROM cset GROUP BY doc_id),
    shared AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
      FROM cset x JOIN cset y ON y.ch = x.ch AND y.doc_id > x.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT s.a, s.b, CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(na.n AS BIGINT) AS n_chunks_a, CAST(nb.n AS BIGINT) AS n_chunks_b,
           CAST(1000000 * s.n_shared // (na.n + nb.n - s.n_shared) AS BIGINT)
             AS jaccard_ppm
    FROM shared s JOIN nc na ON na.doc_id = s.a JOIN nc nb ON nb.doc_id = s.b
    WHERE 1000000 * s.n_shared // (na.n + nb.n - s.n_shared) >= 250000
    """


@register("multimodal_cdc_chunks", oracle=_CDC_CHUNKS_ORACLE)
def multimodal_cdc_chunks_q(spark, sf_dir):
    """Near-duplicate detection over OPAQUE binary payloads via
    content-defined chunking — the storage-dedup / video-segment-dedup
    workhorse (Rabin-style rolling hash picks chunk boundaries FROM THE
    BYTES, so a local edit reshapes only the chunks it touches and every
    other chunk hash survives to witness the duplication; fixed-offset
    blocks would lose alignment after one insertion).  Boundary = 8-byte
    polynomial rolling hash ≡ 0 mod 16; payloads sharing ≥25% of distinct
    chunk hashes (Jaccard ppm) are emitted as near-dup pairs.  Planted
    middle-edit copies of 15 payloads are all recovered, and the census
    also DISCOVERS one genuine near-dup pair in the synthetic corpus
    (docs 87/134 share ~85% of chunks) — found by the operator, not
    planted.

    The gate computes chunking in pure relational ops (explode positions
    -> 8 stacked lag() terms in ONE window -> cumsum segment ids) so the
    DuckDB oracle replays it exactly; at 100 TB the identical boundary
    rule runs as an Arrow-batched mapInPandas over real payload bytes
    (the multimodal decode-stub doctrine) emitting (payload_id,
    chunk_hash) only.

    100 TB shape: chunking is one corpus pass, no shuffle; the exchange
    carries (id, 16-byte hash) rows — never payload bytes; candidate
    generation is an equi-join ON CHUNK HASH (the chunk census is
    inverted-index shaped, bounded by hash-bucket fanout), never
    all-pairs; the jaccard refine touches only pairs that share ≥1
    chunk."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 100),
            F.lit("XXEDITXX"),
            F.expr("substring(text, 111)"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)

    # Round 14: cset feeds three consumers (census, both sides of the
    # pair join) — an eager localCheckpoint materializes the chunk pass
    # once instead of re-running it per consumer (4 corpus scans -> 1;
    # plan evidence in ``git show 3609c14:plans/r14/cdc_chunks_5k_before.txt``
    # and ``..._after.txt``).
    cset = cdc_chunk_hashes(corpus, "doc_id", "text").localCheckpoint()
    nc = cset.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = cset.select(F.col("doc_id").alias("a"), "ch")
    y = cset.select(F.col("doc_id").alias("b"), "ch")
    shared = (
        x.join(y, on="ch")
        .filter(F.col("b") > F.col("a"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(nc.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), on="a")
        .join(nc.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), on="b")
        .select(
            "a",
            "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("na").cast("long").alias("n_chunks_a"),
            F.col("nb").cast("long").alias("n_chunks_b"),
            F.expr(
                "CAST(1000000 * n_shared DIV (na + nb - n_shared) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return out.filter(F.col("jaccard_ppm") >= 250000)


@register("multimodal_cdc_chunks_arrow", oracle=_CDC_CHUNKS_ORACLE)
def multimodal_cdc_chunks_arrow_q(spark, sf_dir):
    """PRODUCTION-path facet of `multimodal_cdc_chunks`: identical corpus,
    census join, and Jaccard refine, but the chunking stage runs as the
    Arrow mapInPandas pass (operators/cdc.cdc_chunk_hashes_arrow — numpy
    rolling-hash inside the task, only (id, hash) rows emitted, zero
    shuffle).  Shares the relational query's oracle VERBATIM because the
    two chunkers are bit-identical (pinned by
    tests/test_frontier4.py::test_cdc_arrow_twin_matches_relational) —
    the same shared-oracle doctrine as `similarity_ivf_pq_routed`.
    Measured 2x the relational form at sf0.1 (SCALE.md §cdc); benched as
    `cdc_chunks_5k`."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 100),
            F.lit("XXEDITXX"),
            F.expr("substring(text, 111)"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)

    from ..operators.cdc import cdc_chunk_hashes_arrow

    # Round 14: same single-materialization shape as the relational twin
    # (the Arrow chunk pass is the expensive stage — one pass, not four).
    cset = cdc_chunk_hashes_arrow(corpus, "doc_id", "text").localCheckpoint()
    nc = cset.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = cset.select(F.col("doc_id").alias("a"), "ch")
    y = cset.select(F.col("doc_id").alias("b"), "ch")
    shared = (
        x.join(y, on="ch")
        .filter(F.col("b") > F.col("a"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(nc.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), on="a")
        .join(nc.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), on="b")
        .select(
            "a",
            "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("na").cast("long").alias("n_chunks_a"),
            F.col("nb").cast("long").alias("n_chunks_b"),
            F.expr(
                "CAST(1000000 * n_shared DIV (na + nb - n_shared) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return out.filter(F.col("jaccard_ppm") >= 250000)


# --------------------------------------------------------------------------
# cdc_chunks_capped — the CDC census with the hot-chunk quadratic guard
# --------------------------------------------------------------------------
_CDC_FOOTER = (
    " | COPYRIGHT 2024 EXAMPLE CORP - ALL RIGHTS RESERVED - TERMS APPLY | "
)

_CDC_CAPPED_ORACLE = f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
    u AS (
      SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + 10000,
             substr(text, 1, 100) || 'XXEDITXX' || substr(text, 111)
      FROM base WHERE doc_id < 15
    ),
    corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '{_CDC_FOOTER}'
                  ELSE text END AS text
      FROM u
    ),
    {cdc_cset_sql("corpus", "cset", "c")},
    freq AS (SELECT ch, COUNT(*) AS f FROM cset GROUP BY ch),
    kept AS (
      SELECT cset.doc_id, cset.ch
      FROM cset JOIN freq ON freq.ch = cset.ch
      WHERE freq.f <= 8
    ),
    nc AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    shared AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
      FROM kept x JOIN kept y ON y.ch = x.ch AND y.doc_id > x.doc_id
      GROUP BY x.doc_id, y.doc_id
    )
    SELECT s.a, s.b, CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(na.n AS BIGINT) AS n_chunks_a, CAST(nb.n AS BIGINT) AS n_chunks_b,
           CAST(1000000 * s.n_shared // (na.n + nb.n - s.n_shared) AS BIGINT)
             AS jaccard_ppm
    FROM shared s JOIN nc na ON na.doc_id = s.a JOIN nc nb ON nb.doc_id = s.b
    WHERE 1000000 * s.n_shared // (na.n + nb.n - s.n_shared) >= 250000
    """


@register("cdc_chunks_capped", oracle=_CDC_CAPPED_ORACLE)
def cdc_chunks_capped_q(spark, sf_dir):
    """`multimodal_cdc_chunks` with the HOT-CHUNK cap the census was
    missing (VERDICT r10 #5): chunk hashes carried by more than 8
    distinct payloads are boilerplate/template mass (a shared footer, an
    empty-padding block) and leave the census BEFORE pair expansion —
    the `dedup_minhash_lsh_capped` ``max_bucket`` doctrine applied to
    the chunk-hash equi-join, whose per-key fanout is otherwise
    unbounded: ONE chunk shared by M payloads emits M²/2 candidate
    pairs.

    The gate corpus makes the guard observable: the same 165-payload
    corpus as the uncapped row, plus a fixed 70-char copyright footer
    appended to every third payload — the footer's interior chunks land
    at identical hashes in 55 payloads (measured), and the capped census
    drops them (candidate pairs 12,046 → 1,517 at gate scale, 7.9×;
    sf0.1 A/B in SCALE.md §cdc-cap).  Planted middle-edit near-dups are
    all still recovered: their shared chunks are payload-specific, so
    the cap changes candidate VOLUME, not recall — the Jaccard values
    shift (per-doc counts exclude template chunks), which is why this is
    its own contract, not a shared-oracle facet.

    Contract: the capped census is the corpus view — hot chunks leave
    both pair generation AND the per-doc chunk counts (Jaccard stays
    internally consistent over the capped chunk universe).

    100 TB shape: one (ch)-grain hash agg + a frequency filter BEFORE
    the self-join caps the join's per-key fanout at 8; everything else
    is the uncapped row's shape (chunking one pass, exchanges carry
    16-byte hashes, refine touches only pairs sharing ≥1 kept chunk).
    """
    from ..operators.cdc import cdc_census_cap

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 100),
            F.lit("XXEDITXX"),
            F.expr("substring(text, 111)"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(_CDC_FOOTER))
        ).otherwise(F.col("text")),
    )

    # Round 14: one materialized chunk census for all three consumers.
    cset = cdc_census_cap(
        cdc_chunk_hashes(corpus, "doc_id", "text"), "doc_id", max_freq=8
    ).localCheckpoint()
    nc = cset.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x = cset.select(F.col("doc_id").alias("a"), "ch")
    y = cset.select(F.col("doc_id").alias("b"), "ch")
    shared = (
        x.join(y, on="ch")
        .filter(F.col("b") > F.col("a"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        shared.join(nc.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), on="a")
        .join(nc.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), on="b")
        .select(
            "a",
            "b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("na").cast("long").alias("n_chunks_a"),
            F.col("nb").cast("long").alias("n_chunks_b"),
            F.expr(
                "CAST(1000000 * n_shared DIV (na + nb - n_shared) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return out.filter(F.col("jaccard_ppm") >= 250000)


# --------------------------------------------------------------------------
# fn_feature_hashing — the hashing-trick vectorizer
# --------------------------------------------------------------------------
@register(
    "fn_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok AS token
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 50) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    hashed AS (
      SELECT doc_id,
             (('0x' || substring(md5('feat' || token), 1, 8))::BIGINT // 2) % 64
               AS bucket,
             CASE WHEN ('0x' || substring(md5('feat' || token), 1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ),
    feat AS (
      SELECT doc_id, bucket,
             CAST(SUM(sgn) AS BIGINT) AS feat,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM hashed GROUP BY doc_id, bucket
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, feat, n_tokens
    FROM feat WHERE feat <> 0
    """,
)
def fn_feature_hashing_q(spark, sf_dir):
    """The hashing-trick vectorizer (Weinberger et al., ICML'09 — the
    `HashingVectorizer` / Vowpal-Wabbit feature space): token -> bucket =
    h/2 mod 64, sign = ±1 from h's low bit, feature value = Σ sign.  The
    signed sum makes collisions cancel in expectation (the property that
    lets the trick keep inner products unbiased), and the fixed 64-bucket
    space needs NO vocabulary build — the one vectorizer that works on an
    unbounded token stream without a dictionary pass or a driver-side
    vocab broadcast.  Hashes follow the repo's md5 contract (Spark
    conv(substring(md5,1,8),16,10) == DuckDB ('0x'||…)::BIGINT), so the
    sparse vectors are bit-exact cross-engine; zero features are dropped
    (true sparse semantics).

    100 TB shape: tokenize-explode then ONE hash aggregate keyed
    (doc, bucket) with map-side combine — no vocabulary state, no second
    pass, no skew (buckets are md5-uniform); contrast `text_tfidf_topk`,
    which needs the corpus-wide document-frequency dimension first."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    h = F.expr("CAST(conv(substring(md5(concat('feat', token)), 1, 8), 16, 10) AS BIGINT)")
    hashed = toks.select(
        "doc_id",
        ((h / 2).cast("long") % 64).alias("bucket"),
        F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
    )
    feat = hashed.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("long").alias("feat"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    return feat.filter(F.col("feat") != 0).select(
        "doc_id", F.col("bucket").cast("long").alias("bucket"), "feat", "n_tokens"
    )


# --------------------------------------------------------------------------
# temporal_survival_hazard — Kaplan-Meier style risk table
# --------------------------------------------------------------------------
@register(
    "temporal_survival_hazard",
    oracle="""
    WITH spans AS (
      -- the BIGINT cast must precede the arithmetic: on DOUBLE operands
      -- DuckDB's // is PLAIN division and the final CAST would round,
      -- not floor (the CAST(FLOOR(epoch(ts)) AS BIGINT) doctrine)
      SELECT user_id,
             (MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
              - MIN(CAST(FLOOR(epoch(ts)) AS BIGINT))) // 86400 AS dur_days,
             CASE WHEN MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) >= 1706313600
                  THEN 0 ELSE 1 END AS event
      FROM events GROUP BY user_id
    ),
    times AS (
      SELECT dur_days,
             CAST(COUNT(*) AS BIGINT) AS n_at,
             CAST(SUM(event) AS BIGINT) AS n_events,
             CAST(COUNT(*) - SUM(event) AS BIGINT) AS n_censored
      FROM spans GROUP BY dur_days
    )
    SELECT dur_days, n_at, n_events, n_censored,
           CAST(SUM(n_at) OVER (ORDER BY dur_days DESC) AS BIGINT) AS n_risk,
           CASE WHEN n_events = 0 THEN 0
                ELSE CAST(1000000 * n_events
                          // SUM(n_at) OVER (ORDER BY dur_days DESC) AS BIGINT)
           END AS hazard_ppm
    FROM times
    """,
)
def temporal_survival_hazard_q(spark, sf_dir):
    """Survival-analysis risk table (the counting backbone of the
    Kaplan-Meier estimator): per user, duration = days between first and
    last observed event; users still active in the final 3 days of the
    window are CENSORED (survival's defining concept — "not dead, just
    not observed past here"), everyone else is a churn event.  Per
    distinct duration: events, censored, the at-risk count n_risk =
    Σ_{d'>=d} n(d') (a DESCENDING cumulative window — risk sets shrink as
    time advances), and the discrete hazard d/n in ppm.  The KM survival
    curve is the running product of (1 − hazard); the product stays
    un-gated (a chained float product cannot be cross-engine exact) while
    every input to it is — the same split as `agg_approx_distinct` vs its
    exact twin.

    100 TB shape: one hash aggregate to per-user spans (the corpus-sized
    exchange, keyed user_id), one to per-duration counts (thousands of
    rows at most), then a single window cumsum over distinct durations — 
    survival analysis at any scale is two map-reduce passes, never a
    per-subject sort."""
    ev = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts")).cast("long")
    spans = ev.groupBy("user_id").agg(
        F.expr(
            "CAST((max(CAST(unix_timestamp(ts) AS BIGINT))"
            " - min(CAST(unix_timestamp(ts) AS BIGINT))) DIV 86400 AS BIGINT)"
        ).alias("dur_days"),
        # censoring horizon 2024-01-28T00:00:00Z (window end minus 3 days)
        F.when(F.max(sec) >= 1706313600, F.lit(0)).otherwise(F.lit(1)).alias("event"),
    )
    times = spans.groupBy("dur_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum("event").cast("long").alias("n_events"),
        (F.count(F.lit(1)) - F.sum("event")).cast("long").alias("n_censored"),
    )
    w = Window.orderBy(F.col("dur_days").desc())
    return times.withColumn(
        "n_risk", F.sum("n_at").over(w).cast("long")
    ).withColumn(
        "hazard_ppm",
        F.when(F.col("n_events") == 0, F.lit(0).cast("long")).otherwise(
            F.expr("CAST(1000000 * n_events DIV n_risk AS BIGINT)")
        ),
    )


# --------------------------------------------------------------------------
# graph_ppr_seeded — personalized (topic-sensitive) PageRank
# --------------------------------------------------------------------------
def _ppr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    c{cur} AS (
      SELECT e.dst AS node, SUM(r{prev}.rank_units // deg.deg) AS in_units
      FROM e JOIN r{prev} ON r{prev}.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{cur} AS (
      SELECT nodes.node,
             CASE WHEN s.node IS NOT NULL
                  THEN (1000000000000 - 1000000000000 * 85 // 100) // ns.n
                  ELSE 0 END
               + COALESCE(c{cur}.in_units, 0) * 85 // 100 AS rank_units
      FROM nodes CROSS JOIN ns
      LEFT JOIN seeds s ON s.node = nodes.node
      LEFT JOIN c{cur} ON c{cur}.node = nodes.node
    )"""


@register(
    "graph_ppr_seeded",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
      FROM lineitem WHERE l_orderkey % 7 = 0
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    seeds AS (SELECT node FROM nodes WHERE node % 100 = 0),
    ns AS (SELECT COUNT(*) AS n FROM seeds),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (
      SELECT nodes.node,
             CASE WHEN s.node IS NOT NULL THEN 1000000000000 // ns.n
                  ELSE 0 END AS rank_units
      FROM nodes CROSS JOIN ns LEFT JOIN seeds s ON s.node = nodes.node
    ),"""
    + _ppr_iter_sql("0", "1")
    + ","
    + _ppr_iter_sql("1", "2")
    + ","
    + _ppr_iter_sql("2", "3")
    + " SELECT node, CAST(rank_units AS BIGINT) AS rank_units FROM r3",
)
def graph_ppr_seeded_q(spark, sf_dir):
    """Personalized PageRank (plans/graph_query.personalized_pagerank_integer)
    on the order→part graph, seeded at nodes ≡ 0 mod 100: all teleport
    mass lands on the seed set, so ranks measure proximity-weighted
    reachability FROM THE SEEDS — the recommendation / seed-expansion
    feature global PageRank cannot express (it only measures popularity).
    Same bit-exact integer-unit doctrine as `graph_pagerank`: BIGINT
    units of 1e-12, truncating div, hash-gated against the oracle's
    unrolled three iterations.  A node unreachable from the seeds lands
    at exactly 0 — the gate covers both the mass-carrying and the
    zero-rank paths."""
    from ..plans.graph_query import personalized_pagerank_integer

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    edges = li.select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 100 == 0)
    return personalized_pagerank_integer(edges, seeds, n_iter=3)


# --------------------------------------------------------------------------
# pack_efficiency_audit — bin-packing waste scorecard (greedy vs quotient)
# --------------------------------------------------------------------------
@register(
    "pack_efficiency_audit",
    oracle="""
    WITH RECURSIVE corpus AS ({corpus}),
    ordered AS (
      SELECT shard, doc_id, tokens,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn,
             COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM corpus
    ),
    packed AS (
      SELECT shard, rn, tokens, tokens AS fill, CAST(0 AS BIGINT) AS bin
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.tokens,
             CASE WHEN p.fill + o.tokens > 512 THEN o.tokens ELSE p.fill + o.tokens END,
             CASE WHEN p.fill + o.tokens > 512 THEN p.bin + 1 ELSE p.bin END
      FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
    ),
    g AS (
      SELECT shard, MAX(bin) + 1 AS greedy_bins,
             COUNT(*) AS n_docs, SUM(tokens) AS total_tokens
      FROM packed GROUP BY shard
    ),
    q AS (
      SELECT shard, MAX(before // 512) + 1 AS quotient_bins
      FROM ordered GROUP BY shard
    )
    SELECT g.shard,
           CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.total_tokens AS BIGINT) AS total_tokens,
           CAST(g.greedy_bins AS BIGINT) AS greedy_bins,
           CAST(q.quotient_bins AS BIGINT) AS quotient_bins,
           CAST(g.greedy_bins * 512 AS BIGINT) AS greedy_cap,
           CAST(1000000 * GREATEST(g.greedy_bins * 512 - g.total_tokens, 0)
                // (g.greedy_bins * 512) AS BIGINT) AS waste_ppm
    FROM g JOIN q ON q.shard = g.shard
    """.format(corpus=_PACK_CORPUS_SQL),
)
def pack_efficiency_audit_q(spark, sf_dir):
    """Packing-efficiency scorecard — the audit-your-own-knobs doctrine
    applied to sequence packing: per shard, how many 512-token bins does
    strict greedy packing (`pack_sequences_greedy`) open, how many would
    the cheap quotient assignment (`pack_sequences`) have used, and what
    fraction of the greedy capacity is padding waste (ppm)?  Training-data
    packing waste is paid in GPU-hours at every step of every epoch, so
    the packer gets a measured efficiency number, not an assumption; the
    quotient twin's bin count sits beside it to price the
    one-window-vs-stateful trade (quotient bins can overflow by one doc,
    greedy bins never do).

    Waste numerator is clamped at 0 (a single document larger than the
    budget can legally overflow its greedy bin), keeping the truncating
    ppm division on non-negative operands.

    100 TB shape: both packers are per-shard streams (applyInPandas /
    one window) over the SAME shard-keyed exchange; the audit adds one
    per-shard aggregate each and a broadcast-size join of two
    |shards|-row frames."""
    from ..operators.training import pack_sequences, pack_sequences_greedy
    from .training import _pack_corpus

    corpus = _pack_corpus(spark, sf_dir)
    greedy = pack_sequences_greedy(corpus, "shard", "doc_id", "tokens", 512)
    quot = pack_sequences(corpus, "shard", "doc_id", "tokens", 512)
    g = greedy.groupBy("shard").agg(
        (F.max("bin") + 1).cast("long").alias("greedy_bins"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
    )
    q = quot.groupBy("shard").agg(
        (F.max("bin") + 1).cast("long").alias("quotient_bins")
    )
    return g.join(q, on="shard").select(
        "shard",
        "n_docs",
        "total_tokens",
        "greedy_bins",
        "quotient_bins",
        (F.col("greedy_bins") * 512).cast("long").alias("greedy_cap"),
        F.expr(
            "CAST(1000000 * GREATEST(greedy_bins * 512 - total_tokens, 0)"
            " DIV (greedy_bins * 512) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# --------------------------------------------------------------------------
# quality_lexicon_screen — blocklist/lexicon content screen
# --------------------------------------------------------------------------
@register(
    "quality_lexicon_screen",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok AS token
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 200) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN token IN ('slow','crash','dup','big')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             CAST(COUNT(DISTINCT CASE WHEN token IN ('slow','crash','dup','big')
                                      THEN token END) AS BIGINT) AS n_distinct_hits
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_hits, n_distinct_hits,
           CAST(1000000 * n_hits // n_tokens AS BIGINT) AS hit_ppm,
           (1000000 * n_hits // n_tokens >= 100000 OR n_distinct_hits >= 3)
             AS flagged
    FROM per_doc
    """,
)
def quality_lexicon_screen_q(spark, sf_dir):
    """Blocklist lexicon screen — the safety-filter workhorse every LLM
    data pipeline runs before anything model-based: per document, hit
    count / distinct-term count / hit density against a curated lexicon,
    flagged when density ≥ 10% OR ≥ 3 distinct lexicon terms (density
    catches concentration, distinct-count catches breadth — a single
    repeated term and a spread of different terms are different risk
    shapes).  The lexicon here is a 4-term stand-in; production swaps in
    the real blocklist with zero plan change.

    100 TB shape: tokenize-explode + ONE doc-keyed hash aggregate; the
    lexicon membership test is a codegen IN-list (broadcast-joined
    against a lexicon TABLE when it outgrows a literal list, same plan
    otherwise) — no second corpus pass, no UDF."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    lex = ["slow", "crash", "dup", "big"]
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    hit = F.col("token").isin(lex)
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(hit.cast("long")).cast("long").alias("n_hits"),
        F.count_distinct(F.when(hit, F.col("token"))).cast("long").alias(
            "n_distinct_hits"
        ),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_hits",
        "n_distinct_hits",
        F.expr("CAST(1000000 * n_hits DIV n_tokens AS BIGINT)").alias("hit_ppm"),
        (
            (F.expr("1000000 * n_hits DIV n_tokens") >= 100000)
            | (F.col("n_distinct_hits") >= 3)
        ).alias("flagged"),
    )


# --------------------------------------------------------------------------
# embedding_jl_recall — Johnson-Lindenstrauss random projection + audit
# --------------------------------------------------------------------------
@register(
    "embedding_jl_recall",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    signs AS (
      SELECT j, d,
             CASE WHEN ('0x' || substring(
                    md5('jl' || CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)),
                    1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM generate_series(1, 16) a(j), generate_series(1, 64) b(d)
    ),
    proj AS (
      SELECT q.vec_id, s.j, SUM(s.s * q.v) AS p
      FROM quant q JOIN signs s ON s.d = q.i
      GROUP BY q.vec_id, s.j
    ),
    pdist AS (
      SELECT a.vec_id AS q_id, b.vec_id AS t_id,
             SUM((a.p - b.p) * (a.p - b.p)) AS d2
      FROM proj a JOIN proj b ON b.j = a.j
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    ptop AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2 ASC, t_id ASC) AS rnk
        FROM pdist
      ) WHERE rnk <= 5
    ),
    edist AS (
      SELECT a.vec_id AS q_id, b.vec_id AS t_id,
             SUM((a.v - b.v) * (a.v - b.v)) AS d2
      FROM quant a JOIN quant b ON b.i = a.i
      WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    etop AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2 ASC, t_id ASC) AS rnk
        FROM edist
      ) WHERE rnk <= 5
    )
    SELECT COALESCE(e.q_id, p.q_id) AS q_id,
           CAST(COUNT(e.t_id) AS BIGINT) AS n_exact,
           CAST(COUNT(p.t_id) AS BIGINT) AS n_proj,
           CAST(SUM(CASE WHEN e.t_id IS NOT NULL AND p.t_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM etop e FULL OUTER JOIN ptop p
      ON p.q_id = e.q_id AND p.t_id = e.t_id
    GROUP BY COALESCE(e.q_id, p.q_id)
    """,
)
def embedding_jl_recall_q(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (64 → 16 dims via a ±1
    sign matrix — Achlioptas' database-friendly JL) WITH its measured
    recall@5 audit against exact full-dimension L2, in one gated query —
    and the measurement is a NEGATIVE result, kept deliberately: on this
    near-isotropic corpus (see `embedding_isotropy_probe`: flat spectrum,
    λ2/λ1 = 0.983) JL@16 preserves only ~4/50 of exact top-5 neighbors
    (~10/50 at 32 dims, measured in tests/test_frontier4.py).  Distance
    concentration on isotropic data makes neighbor order information-
    theoretically fragile, and a data-OBLIVIOUS projection destroys it —
    the measured justification for the repo's compression ladder using
    TRAINED quantizers (PQ/OPQ, +36%% recall from a trained permutation
    alone) instead of random projection.  The projection matrix is
    md5-derived (no-RNG ring), so projected vectors are BIGINT-exact
    cross-engine and the recall number is evidence, not a JL-lemma
    citation (the lemma bounds DISTANCE distortion, not neighbor-set
    overlap — exactly the gap this audit exposes).

    100 TB shape: projection is ONE pass — the 16×64 sign matrix is a
    KB-scale broadcast and each output dim a fold over the input row (no
    shuffle); the audit's brute-force distance joins are gate-scale
    machinery over a bounded slice (|Q|=10), same as every other recall
    audit in the ladder."""
    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    from ..operators.similarity import quantize_vec

    quant = em.select(
        "vec_id", F.posexplode(quantize_vec(F.col("embedding"), 1000))
    ).select("vec_id", (F.col("pos") + 1).alias("i"), F.col("col").alias("v"))
    dims = spark.range(1, 17).select(F.col("id").alias("j"))
    axes = spark.range(1, 65).select(F.col("id").alias("d"))
    signs = dims.crossJoin(axes).select(
        "j",
        "d",
        F.when(
            F.expr(
                "CAST(conv(substring(md5(concat('jl', CAST(j AS STRING), '_',"
                " CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
            ),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    proj = (
        quant.join(F.broadcast(signs), quant["i"] == signs["d"])
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("v")).alias("p"))
    )
    pq = proj.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "j", F.col("p").alias("pq")
    )
    pt = proj.select(F.col("vec_id").alias("t_id"), "j", F.col("p").alias("pt"))
    pdist = (
        pq.join(pt, on="j")
        .filter(F.col("q_id") != F.col("t_id"))
        .groupBy("q_id", "t_id")
        .agg(F.sum((F.col("pq") - F.col("pt")) * (F.col("pq") - F.col("pt"))).alias("d2"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("t_id").asc())
    ptop = (
        pdist.withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "t_id", F.lit(1).alias("in_proj"))
    )
    eq = quant.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "i", F.col("v").alias("vq")
    )
    et = quant.select(F.col("vec_id").alias("t_id"), "i", F.col("v").alias("vt"))
    edist = (
        eq.join(et, on="i")
        .filter(F.col("q_id") != F.col("t_id"))
        .groupBy("q_id", "t_id")
        .agg(F.sum((F.col("vq") - F.col("vt")) * (F.col("vq") - F.col("vt"))).alias("d2"))
    )
    etop = (
        edist.withColumn("rnk", F.row_number().over(wp))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "t_id", F.lit(1).alias("in_exact"))
    )
    j = etop.join(ptop, on=["q_id", "t_id"], how="full_outer")
    return j.groupBy("q_id").agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_proj").cast("long").alias("n_proj"),
        F.sum(
            (F.col("in_exact").isNotNull() & F.col("in_proj").isNotNull()).cast("int")
        ).cast("long").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# embedding_isotropy_probe — Rayleigh/isotropy audit via integer power iteration
# --------------------------------------------------------------------------
def _pca_iter_sql(prev: str, cur: str) -> str:
    """One power-iteration step: u = G·v, then L∞-normalize back to 1e6
    units.  u*1e6 exceeds int64 (u reaches ~5e16), so the rescale runs in
    HUGEINT.  DuckDB's integer // TRUNCATES toward zero on negatives
    (measured: -7//2 = -3) while python's // floors, so the python driver
    loop sign-decomposes its division to match — the same trap as Spark
    DIV, one engine over."""
    return f"""
    u{cur} AS (
      SELECT g.gi AS i, SUM(g.gv * {prev}.v) AS u
      FROM g JOIN {prev} ON {prev}.i = g.gj GROUP BY g.gi
    ),
    m{cur} AS (SELECT GREATEST(MAX(abs(u)), 1) AS m FROM u{cur}),
    {cur} AS (
      SELECT i, CAST((u::HUGEINT * 1000000) // m AS BIGINT) AS v
      FROM u{cur}, m{cur}
    )"""


_PCA_ITERS_SQL = ",".join(
    _pca_iter_sql(f"v{k}", f"v{k + 1}") for k in range(6)
)


@register(
    "embedding_isotropy_probe",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    g AS (
      SELECT a.i AS gi, b.i AS gj, SUM(a.v * b.v) AS gv
      FROM quant a JOIN quant b ON b.vec_id = a.vec_id
      GROUP BY a.i, b.i
    ),
    v0 AS (
      SELECT i, CAST(1000000 AS BIGINT) AS v FROM generate_series(1, 64) t(i)
    ),
    {_PCA_ITERS_SQL},
    ray AS (
      SELECT SUM(a.v::HUGEINT * g.gv * b.v) AS num
      FROM v6 a JOIN g ON g.gi = a.i JOIN v6 b ON b.i = g.gj
    ),
    den AS (SELECT SUM(v::HUGEINT * v) AS d FROM v6),
    tr AS (SELECT SUM(gv) AS t FROM g WHERE gi = gj)
    SELECT v6.i, CAST(v6.v AS BIGINT) AS v_units,
           CAST(ray.num // den.d AS BIGINT) AS lambda_units,
           CAST((1000000::HUGEINT * ray.num) // (den.d::HUGEINT * tr.t)
                AS BIGINT) AS evr_ppm
    FROM v6, ray, den, tr
    """,
)
def embedding_isotropy_probe_q(spark, sf_dir):
    """Embedding ISOTROPY probe: a bounded integer power iteration on the
    (uncentered) Gram matrix yields a Rayleigh-quotient LOWER BOUND on
    the top eigenvalue; its ratio to trace/64 (the mean eigenvalue) is
    the anisotropy evidence.  On this corpus the spectrum is measured
    FLAT — λ2/λ1 = 0.983, the 6-step iterate's cosine to the true top
    eigenvector is only 0.15 (0.70 even after 100 steps) — so the probe
    is deliberately NOT claiming "the" principal direction: with no
    eigengap there is no convergable direction, and the honest gated
    artifacts are the deterministic 6-step Krylov iterate (v_units), the
    Rayleigh lower bound (λ_lb ≈ 1.07× the mean eigenvalue here), and
    the explained-variance ppm (≈ 1/64 — one direction explains nothing).
    This measured flatness is WHY the compression ladder uses trained PQ
    /OPQ rather than data-oblivious projection — the companion
    `embedding_jl_recall` audit shows the practical consequence (JL@16
    preserves only ~8% of top-5 neighborhoods on this corpus).

    Mechanics: the DISTRIBUTED work is one exact pass (Gram = Σ v vᵀ
    folded map-side to 64×64 = 4096 BIGINT cells); the iteration runs on
    those 4096 integers in a bounded driver loop (k-means/BPE doctrine —
    at 100 TB the Gram pass scans everything once, the solve costs
    microseconds).  Rayleigh-of-any-vector ≤ λ1 makes the bound valid at
    ANY iteration count; iterating only tightens it.  Uncentered by
    design: mean subtraction would make the Gram non-integer, and the
    uncentered spectrum is what norm-sensitive downstreams (ADC,
    quantizers) actually see."""
    from ..operators.similarity import quantize_vec

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    quant = em.select(
        "vec_id", F.posexplode(quantize_vec(F.col("embedding"), 1000))
    ).select("vec_id", (F.col("pos") + 1).alias("i"), F.col("col").alias("v"))
    a = quant.select("vec_id", F.col("i").alias("gi"), F.col("v").alias("va"))
    b = quant.select("vec_id", F.col("i").alias("gj"), F.col("v").alias("vb"))
    gram_rows = (
        a.join(b, on="vec_id")
        .groupBy("gi", "gj")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("gv"))
        .collect()  # 4096 BIGINT cells — KB-scale, bounded-driver doctrine
    )
    dim = 64
    G = [[0] * dim for _ in range(dim)]
    for r in gram_rows:
        G[r.gi - 1][r.gj - 1] = r.gv
    v = [1_000_000] * dim
    for _ in range(6):
        u = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(max(abs(x) for x in u), 1)
        # sign-decomposed: DuckDB integer // truncates toward zero on
        # negatives, python // floors — they agree only on |x|
        v = [
            (1 if x >= 0 else -1) * ((abs(x) * 1_000_000) // m) for x in u
        ]
    ray_num = sum(v[i] * G[i][j] * v[j] for i in range(dim) for j in range(dim))
    ray_den = sum(x * x for x in v)
    trace = sum(G[i][i] for i in range(dim))
    # ray_num is a PSD quadratic form (>= 0), so plain // is truncation-safe
    lambda_units = ray_num // ray_den
    evr_ppm = (1_000_000 * ray_num) // (ray_den * trace)
    rows = [
        (i + 1, int(v[i]), int(lambda_units), int(evr_ppm)) for i in range(dim)
    ]
    return spark.createDataFrame(
        rows, "i BIGINT, v_units BIGINT, lambda_units BIGINT, evr_ppm BIGINT"
    )


# --------------------------------------------------------------------------
# agg_markov_stationary — steady-state behavior mix via integer iteration
# --------------------------------------------------------------------------
def _markov_iter_sql(prev: str, cur: str) -> str:
    """One distribution step p'_j = Σ_i (p_i · c_ij) DIV r_i — truncating
    per-term, all non-negative, so // is engine-safe."""
    return f"""
    {cur} AS (
      SELECT t.to_type AS state, SUM({prev}.v * t.n // r.n_from) AS v
      FROM trans t
      JOIN row_tot r ON r.from_type = t.from_type
      JOIN {prev} ON {prev}.state = t.from_type
      GROUP BY t.to_type
    )"""


_MARKOV_ITERS_SQL = ",".join(
    _markov_iter_sql(f"p{k}", f"p{k + 1}") for k in range(8)
)


@register(
    "agg_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM events
    ),
    trans AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE from_type IS NOT NULL
      GROUP BY from_type, to_type
    ),
    row_tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      FROM trans GROUP BY from_type
    ),
    p0 AS (
      SELECT from_type AS state,
             CAST(1000000000 // (SELECT COUNT(*) FROM row_tot) AS BIGINT) AS v
      FROM row_tot
    ),
    {_MARKOV_ITERS_SQL},
    tot AS (SELECT SUM(v) AS s FROM p8)
    SELECT p8.state, CAST(p8.v AS BIGINT) AS p_units,
           CAST(1000000 * p8.v // tot.s AS BIGINT) AS p_ppm
    FROM p8, tot
    """,
)
def agg_markov_stationary_q(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain — the
    steady-state behavior mix the transition matrix
    (`temporal_markov_transitions`) implies: where does a user's session
    spend its time in the long run?  Eight integer distribution steps
    p'_j = Σ_i (p_i·c_ij) DIV r_i from the uniform start; unlike the
    embedding Gram matrix (measured flat — see `embedding_isotropy_probe`),
    an ergodic 5-state chain has a real spectral gap, so the iterate IS
    converged at 8 steps (|p8 − p7| ≤ a few units, pinned in tests).
    Truncation leaks a few units of mass per step (deterministically), so
    the final distribution is re-expressed as ppm of its own total.

    100 TB shape: the corpus-scale work is `temporal_markov_transitions`'s
    one user-keyed exchange; the chain solve is |types|² integers in a
    bounded driver loop (k-means/BPE doctrine) — corpus-size-independent.
    The driver iteration mirrors the oracle's CTE chain STATE-FOR-STATE:
    p0 is uniform over from_types only; each step propagates mass along
    every transition whose from-state is present in the previous step, so
    a SINK state (a to_type with no outgoing transitions) receives inflow
    each step, sheds it the next, and appears in the final p8 rows with
    its step-8 inflow — identical semantics on chains with or without
    sinks (every type here has outgoing transitions, but the mirror no
    longer depends on that)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    trans_rows = (
        seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n")).collect()
    )  # |types|^2 rows — KB-scale, bounded-driver doctrine
    R: dict[str, int] = {}
    for r in trans_rows:
        R[r.from_type] = R.get(r.from_type, 0) + r.n
    # p0: uniform over states WITH outgoing transitions (oracle's row_tot)
    p = {s: 1_000_000_000 // len(R) for s in R}
    for _ in range(8):
        nxt: dict[str, int] = {}
        for r in trans_rows:
            if r.from_type in p:  # oracle joins p_prev ON state = from_type
                # non-negative: // == DIV
                nxt[r.to_type] = nxt.get(r.to_type, 0) + (p[r.from_type] * r.n) // R[
                    r.from_type
                ]
        p = nxt
    tot = sum(p.values())
    rows = [(s, int(v), int(1_000_000 * v // tot)) for s, v in sorted(p.items())]
    return spark.createDataFrame(rows, "state STRING, p_units BIGINT, p_ppm BIGINT")


# --------------------------------------------------------------------------
# sink_manifest_skipping — manifest-stats data skipping (lakehouse pattern)
# --------------------------------------------------------------------------
@register(
    "sink_manifest_skipping",
    oracle="""
    WITH sharded AS (
      SELECT doc_id, n_chars, doc_id // 63 AS shard FROM documents
    ),
    manifest AS (
      SELECT shard, MIN(doc_id) AS lo, MAX(doc_id) AS hi, COUNT(*) AS n
      FROM sharded GROUP BY shard
    ),
    selected AS (
      SELECT shard, n FROM manifest WHERE hi >= 100 AND lo <= 150
    )
    SELECT CAST((SELECT COUNT(*) FROM manifest) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM selected) AS BIGINT) AS n_files_selected,
           CAST((SELECT SUM(n) FROM selected) AS BIGINT) AS n_rows_scanned,
           CAST((SELECT COUNT(*) FROM sharded
                 WHERE doc_id BETWEEN 100 AND 150) AS BIGINT) AS n_rows_match,
           CAST((SELECT SUM(n_chars) FROM sharded
                 WHERE doc_id BETWEEN 100 AND 150) AS BIGINT) AS sum_chars
    """,
)
def sink_manifest_skipping_q(spark, sf_dir):
    """Manifest-stats data skipping — the lakehouse (Iceberg/Delta) scan
    pattern in miniature: write deterministic shards (shard = doc_id DIV
    63), build a MANIFEST of per-file key ranges, and answer a range
    query by consulting the manifest FIRST, reading only files whose
    [min,max] interval intersects the predicate.  The gate proves the
    skip is sound AND tight: the pruned read's row count equals the
    manifest's selected-file total, the filtered result over the pruned
    read equals the full-table filter (same sum), and only 2 of 8 files
    are touched for a 10% key range.

    100 TB shape: this is THE mechanism that makes selective queries
    cheap at scale — the manifest is |files| rows (KB-scale, cached on
    the driver/catalog), so a point/range query costs O(matching files)
    IO instead of a full scan; parquet min/max footers give a second
    skipping layer inside each selected file (the engine already
    exploits those — see the PushedFilters audits).  Here the manifest
    selection is computed from the read-back files themselves so the
    gate verifies the written artifact, not an assumption."""
    import tempfile

    from . import finish_and_clean

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") / 63).cast("long").alias("shard")
    )
    root = tempfile.mkdtemp(prefix="manifest_skip_")
    path = root + "/shards"
    docs.write.mode("overwrite").partitionBy("shard").parquet(path)

    back = spark.read.parquet(path)
    manifest = (
        back.groupBy("shard")
        .agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )  # |files| rows — the driver-side catalog, KB-scale by design
    lo_q, hi_q = 100, 150
    selected = [m for m in manifest if m.hi >= lo_q and m.lo <= hi_q]
    # read ONLY the selected shard directories — the actual skip
    pruned = spark.read.parquet(*[f"{path}/shard={m.shard}" for m in selected])
    agg = pruned.filter(F.col("doc_id").between(lo_q, hi_q)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_match"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    out = agg.select(
        F.lit(len(manifest)).cast("long").alias("n_files_total"),
        F.lit(len(selected)).cast("long").alias("n_files_selected"),
        F.lit(sum(m.n for m in selected)).cast("long").alias("n_rows_scanned"),
        "n_rows_match",
        "sum_chars",
    )
    return finish_and_clean(out, root)


# --------------------------------------------------------------------------
# eval_welch_ttest — Welch's t² readout in exact rational arithmetic
# --------------------------------------------------------------------------
@register(
    "eval_welch_ttest",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT
        SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS s0,
        SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS s1,
        SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS q0,
        SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS q1
      FROM per_user
    ),
    terms AS (
      SELECT n0, n1, s0, s1, q0, q1,
             n0 * s1 - n1 * s0 AS dnum,
             n0 * q0 - s0 * s0 AS a0,
             n1 * q1 - s1 * s1 AS a1,
             n0 * n0 * (n0 - 1) AS b0,
             n1 * n1 * (n1 - 1) AS b1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(s0 AS BIGINT) AS s0_cents, CAST(s1 AS BIGINT) AS s1_cents,
           CAST(q0 AS BIGINT) AS q0, CAST(q1 AS BIGINT) AS q1,
           CAST(dnum AS BIGINT) AS dnum,
           CAST(a0 AS BIGINT) AS var0_num, CAST(a1 AS BIGINT) AS var1_num,
           CAST((1000000::HUGEINT * dnum * dnum * b0 * b1)
                // ((n0::HUGEINT * n1 * n0 * n1)
                    * (a0::HUGEINT * b1 + a1::HUGEINT * b0))
                AS BIGINT) AS t2_ppm
    FROM terms
    """,
)
def eval_welch_ttest_q(spark, sf_dir):
    """Welch's unequal-variance t-statistic for the A/B arms, in exact
    rational arithmetic: t² = Δ²/(s0²/n0 + s1²/n1) expands to a single
    integer ratio — 10⁶·Δnum²·B0·B1 / ((n0n1)²·(A0B1 + A1B0)) with
    A_i = n_i·Σy² − (Σy)² and B_i = n_i²(n_i−1) — every term a square or
    a product of counts, so everything is provably non-negative and the
    truncating DIV is engine-safe without sign games.  Completes the
    experimentation pair: `eval_ab_cuped` gives the variance-REDUCED
    effect estimate, this gives the significance readout of the raw
    difference (t = sqrt(t2_ppm/10⁶); the caller compares against the
    normal quantile — Welch df is deliberately not emitted, its exact
    rational overflows 38-digit arithmetic and a float would break the
    gate).

    100 TB shape: one per-user hash aggregate (the only corpus-keyed
    exchange) then a single-row global aggregate — the entire test is
    two map-reduce passes; the 38-digit arithmetic runs once on one
    row."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(F.sum(cents).alias("y")).withColumn(
        "arm", F.col("user_id") % 2
    )
    arms = per_user.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n0"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n1"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(F.lit(0))).alias("s0"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(F.lit(0))).alias("s1"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("y") * F.col("y")).otherwise(F.lit(0))
        ).alias("q0"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("y") * F.col("y")).otherwise(F.lit(0))
        ).alias("q1"),
    )
    return arms.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("s0").cast("long").alias("s0_cents"),
        F.col("s1").cast("long").alias("s1_cents"),
        F.col("q0").cast("long").alias("q0"),
        F.col("q1").cast("long").alias("q1"),
        (F.col("n0") * F.col("s1") - F.col("n1") * F.col("s0"))
        .cast("long")
        .alias("dnum"),
        (F.col("n0") * F.col("q0") - F.col("s0") * F.col("s0"))
        .cast("long")
        .alias("var0_num"),
        (F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1"))
        .cast("long")
        .alias("var1_num"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (n0*s1 - n1*s0) * (n0*s1 - n1*s0)"
            " * (n0*n0*(n0-1)) * (n1*n1*(n1-1)))"
            " DIV ((CAST(n0 AS DECIMAL(38,0)) * n1 * n0 * n1)"
            "      * (CAST(n0*q0 - s0*s0 AS DECIMAL(38,0)) * (n1*n1*(n1-1))"
            "         + CAST(n1*q1 - s1*s1 AS DECIMAL(38,0)) * (n0*n0*(n0-1))))"
            " AS BIGINT)"
        ).alias("t2_ppm"),
    )


# --------------------------------------------------------------------------
# agg_bayes_shrunk_rate — empirical-Bayes rate shrinkage (Beta-Binomial)
# --------------------------------------------------------------------------
@register(
    "agg_bayes_shrunk_rate",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buy
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_view, n_buy,
           CASE WHEN n_view = 0 THEN NULL
                ELSE CAST(1000000 * n_buy // n_view AS BIGINT) END AS raw_ppm,
           CAST(1000000 * (n_buy + 1) // (n_view + 20) AS BIGINT) AS shrunk_ppm
    FROM per_user
    """,
)
def agg_bayes_shrunk_rate_q(spark, sf_dir):
    """Empirical-Bayes rate shrinkage — the Beta-Binomial posterior mean
    (hits+α)/(trials+α+β) with a Beta(1,19) prior (prior mean 5%), the
    standard fix for sparse-count rates in ranking and CTR features: a
    user with 1 purchase in 2 views reads as 50% raw but ~9.5% shrunk,
    while high-volume users keep their data-driven rate.  The posterior
    mean of a conjugate Beta prior is an exact rational, so the whole
    shrinkage is one truncating ppm division per row — no MCMC, no
    floats, hash-gated.

    100 TB shape: one per-key hash aggregate then a row-local projection
    — shrinkage adds ZERO exchanges to the raw-rate query; fitting
    (α, β) empirically (method of moments over the rate distribution) is
    one more KB-scale global aggregate when needed."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("n_view"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("n_buy"),
    )
    return per_user.select(
        "user_id",
        "n_view",
        "n_buy",
        F.when(
            F.col("n_view") > 0,
            F.expr("CAST(1000000 * n_buy DIV n_view AS BIGINT)"),
        ).alias("raw_ppm"),
        F.expr("CAST(1000000 * (n_buy + 1) DIV (n_view + 20) AS BIGINT)").alias(
            "shrunk_ppm"
        ),
    )


# --------------------------------------------------------------------------
# quality_cross_source_dup — duplication-flow matrix between sources
# --------------------------------------------------------------------------
@register(
    "quality_cross_source_dup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id < 200
      UNION ALL
      SELECT doc_id + 20000, 'mirror', text FROM documents WHERE doc_id < 20
    ),
    hashed AS (SELECT doc_id, source, md5(text) AS h FROM corpus),
    pairs AS (
      SELECT LEAST(a.source, b.source) AS source_a,
             GREATEST(a.source, b.source) AS source_b,
             COUNT(*) AS n_pairs
      FROM hashed a JOIN hashed b
        ON b.h = a.h AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs
    FROM pairs
    """,
)
def quality_cross_source_dup_q(spark, sf_dir):
    """Duplication-FLOW matrix between corpus sources — not "how many
    dups" (`quality_duplication_scorecard` answers that) but "WHO copies
    from WHOM": exact-content pairs bucketed by unordered source pair.
    The curation decision it feeds is source-level (drop the mirror,
    keep the origin; down-weight scraper sources that mostly re-serve
    content), which per-document dedup alone cannot express.  A planted
    'mirror' source (byte-identical copies of 20 docs) exercises the
    cross-source cells; within-source cells stay zero on this corpus —
    both facts hash-gated.

    100 TB shape: ONE digest hash-aggregate shape (pairs come from the
    digest equi-join, bounded by duplicate-group sizes, never all-pairs),
    then a |sources|² aggregate — the matrix is KB-scale however big the
    corpus; the LEAST/GREATEST canonicalization halves it."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200).select(
        "doc_id", "source", "text"
    )
    mirror = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    hashed = docs.unionByName(mirror).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    a = hashed.select(
        F.col("doc_id").alias("ida"), F.col("source").alias("sa"), "h"
    )
    b = hashed.select(
        F.col("doc_id").alias("idb"), F.col("source").alias("sb"), "h"
    )
    return (
        a.join(b, on="h")
        .filter(F.col("idb") > F.col("ida"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# eval_reco_diversity — recommendation-list diversity & coverage
# --------------------------------------------------------------------------
@register(
    "eval_reco_diversity",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 100
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 10 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    topk AS (
      SELECT q_id, t_id FROM (
        SELECT d.q_id, d.t_id,
               ROW_NUMBER() OVER (
                 PARTITION BY d.q_id
                 ORDER BY CAST(d.dot AS DOUBLE)
                          / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                          d.t_id ASC
               ) AS rnk
        FROM dots d
        JOIN norms na ON na.vec_id = d.q_id
        JOIN norms nb ON nb.vec_id = d.t_id
      ) WHERE rnk <= 5
    ),
    per_q AS (
      SELECT k.q_id,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT c.label) AS BIGINT) AS n_labels
      FROM topk k JOIN corpus c ON c.vec_id = k.t_id
      GROUP BY k.q_id
    ),
    cov AS (
      SELECT CAST(COUNT(DISTINCT t_id) AS BIGINT) AS n_distinct_items FROM topk
    )
    SELECT q_id, k, n_labels,
           CAST(1000000 * n_labels // k AS BIGINT) AS label_diversity_ppm,
           cov.n_distinct_items,
           CAST(1000000 * cov.n_distinct_items // 100 AS BIGINT) AS coverage_ppm
    FROM per_q, cov
    """,
)
def eval_reco_diversity_q(spark, sf_dir):
    """Recommendation-quality facets BEYOND relevance: per-list label
    diversity (distinct labels / k — a list of five same-label items is
    accurate and useless) and catalog coverage (distinct items surfaced
    across all lists / catalog size — the popularity-trap detector:
    rankers that always serve the same head items score high on NDCG and
    starve the tail).  Computed over the exact cosine top-5 run so the
    measured numbers are properties of the EMBEDDING SPACE, not of an
    approximation; swap any rung in as the run and the same audit prices
    its diversity cost.

    100 TB shape: both metrics are one aggregate over the run output
    (|Q|·k rows) plus a KB-scale label dim join — evaluation cost is
    O(run), corpus-independent, the eval_ranking_ndcg doctrine."""
    from ..operators.similarity import similarity_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100).select(
        "vec_id", "embedding", "label"
    )
    queries = em.filter(F.col("vec_id") < 10).select("vec_id", "embedding")
    topk = similarity_topk(queries, em.select("vec_id", "embedding"), k=5)
    lab = em.select(F.col("vec_id").alias("t_id"), "label")
    run = topk.join(F.broadcast(lab), on="t_id")
    per_q = run.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.count_distinct("label").cast("long").alias("n_labels"),
    )
    cov = run.agg(
        F.count_distinct("t_id").cast("long").alias("n_distinct_items")
    )
    return per_q.crossJoin(F.broadcast(cov)).select(
        "q_id",
        "k",
        "n_labels",
        F.expr("CAST(1000000 * n_labels DIV k AS BIGINT)").alias(
            "label_diversity_ppm"
        ),
        "n_distinct_items",
        F.expr("CAST(1000000 * n_distinct_items DIV 100 AS BIGINT)").alias(
            "coverage_ppm"
        ),
    )


# --------------------------------------------------------------------------
# join_spatial_grid — grid-bucketed radius join (geohash pattern)
# --------------------------------------------------------------------------
@register(
    "join_spatial_grid",
    oracle="""
    WITH pts AS (
      SELECT user_id AS id,
             ('0x' || substring(md5('x' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS x,
             ('0x' || substring(md5('y' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000 AS y
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    cells AS (
      SELECT id, x, y, x // 50 AS cx, y // 50 AS cy FROM pts
    ),
    -- each point probes its own cell and the 8 neighbors: any pair within
    -- radius 50 must share or neighbor a 50-unit cell
    probes AS (
      SELECT id, x, y, cx + dx.d AS px, cy + dy.d AS py
      FROM cells, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
    ),
    pairs AS (
      SELECT a.id AS a, b.id AS b, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
      FROM probes a JOIN cells b ON b.cx = a.px AND b.cy = a.py AND b.id > a.id
    ),
    hits AS (
      SELECT DISTINCT a, b,
             (ax - bx) * (ax - bx) + (ay - by) * (ay - by) AS d2
      FROM pairs
      WHERE (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 2500
    )
    SELECT a, b, CAST(d2 AS BIGINT) AS d2 FROM hits
    """,
)
def join_spatial_grid_q(spark, sf_dir):
    """Radius self-join via grid bucketing — the geohash/S2 spatial-join
    pattern: bucket points into cells the size of the query radius, probe
    each point's own cell plus its 8 neighbors (any pair within radius r
    must share or neighbor an r-sized cell — the completeness argument),
    and refine candidates with the exact integer distance.  Coordinates
    here are md5-derived from user ids (the no-RNG ring) so the whole
    join is BIGINT-exact; production swaps real lat/lon quantized to an
    integer grid with zero plan change.

    100 TB shape: candidate generation is an EQUI-join on (cell_x,
    cell_y) — never the all-pairs cross join a naive distance predicate
    forces the planner into; the 9-cell probe is a constant ×9 fanout of
    the probe side only, and the exact-distance refine touches only
    same-or-adjacent-cell candidates.  Skewed cells (urban hot spots)
    take the standard salting defense on the cell key."""
    ev = _t(spark, sf_dir, "events").select("user_id").distinct()
    h = lambda salt: F.expr(
        f"CAST(conv(substring(md5(concat('{salt}', CAST(user_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) % 1000"
    )
    pts = ev.select(
        F.col("user_id").alias("id"), h("x").alias("x"), h("y").alias("y")
    ).withColumn("cx", F.expr("x DIV 50")).withColumn("cy", F.expr("y DIV 50"))
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], ["dx", "dy"]
    )
    probes = pts.crossJoin(F.broadcast(offs)).select(
        F.col("id").alias("a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("dx")).alias("px"),
        (F.col("cy") + F.col("dy")).alias("py"),
    )
    cells = pts.select(
        F.col("id").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probes.join(
            cells,
            (cells["cx"] == probes["px"])
            & (cells["cy"] == probes["py"])
            & (cells["b"] > probes["a"]),
        )
        .select("a", "b", d2.alias("d2"))
        .filter(F.col("d2") <= 2500)
        .distinct()
        .select("a", "b", F.col("d2").cast("long").alias("d2"))
    )


# --------------------------------------------------------------------------
# graph_sssp_weighted — weighted shortest paths via bounded Bellman-Ford
# --------------------------------------------------------------------------
def _sssp_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.dst AS node, {prev}.d + e.w AS d
        FROM e JOIN {prev} ON {prev}.node = e.src
      ) GROUP BY node
    )"""


@register(
    "graph_sssp_weighted",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_orderkey % 300 AS src, l_partkey % 300 AS dst,
             1 + l_linenumber % 5 AS w
      FROM lineitem WHERE l_orderkey % 11 = 0
    ),
    d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d)"""
    + ","
    + ",".join(_sssp_iter_sql(f"d{k}", f"d{k + 1}") for k in range(6))
    + """
    SELECT node, CAST(d AS BIGINT) AS dist FROM d6
    """,
)
def graph_sssp_weighted_q(spark, sf_dir):
    """Weighted single-source shortest paths by bounded Bellman-Ford —
    `graph_bfs_distance` counts HOPS; this sums integer edge WEIGHTS
    (latency, cost, toll), the variant routing/attribution actually
    needs.  Six relaxation rounds from source node 0 over the order→part
    graph (weights 1..5 from the line number): each round is one
    frontier-keyed join + one MIN aggregate, and a node's tentative
    distance only ever decreases — monotone, so the k-round result is
    exactly "cheapest path using ≤ k edges", a well-defined gated object
    even where the graph's diameter exceeds k (same bounded-iteration
    doctrine as `graph_bfs_distance` / `graph_pagerank`).

    100 TB shape: per round ONE shuffle keyed on the frontier node + one
    MIN aggregate (both map-side combinable); the edge side keeps its
    stored partitioning across rounds; localCheckpoint truncates lineage
    every 2 rounds.  Negative weights are structurally impossible here
    (1 + x % 5), which is what makes MIN-relaxation correct."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    e = (
        li.select(
            (F.col("l_orderkey") % 300).alias("src"),
            (F.col("l_partkey") % 300).alias("dst"),
            (1 + F.col("l_linenumber") % 5).cast("long").alias("w"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = spark.createDataFrame([(0, 0)], "node LONG, d LONG")
    for i in range(6):
        relaxed = e.join(dist, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        if i % 2 == 1 and i != 5:
            dist = dist.localCheckpoint(eager=True)
    return dist.select("node", F.col("d").cast("long").alias("dist"))


# --------------------------------------------------------------------------
# eval_regression_metrics — exact SSE/SST/R² for a per-group predictor
# --------------------------------------------------------------------------
@register(
    "eval_regression_metrics",
    oracle="""
    WITH obs AS (SELECT source, n_chars AS y FROM documents),
    mu AS (
      SELECT source, SUM(y) // COUNT(*) AS yhat FROM obs GROUP BY source
    ),
    resid AS (
      SELECT o.source, o.y, m.yhat FROM obs o JOIN mu m ON m.source = o.source
    ),
    grand AS (SELECT SUM(y) // COUNT(*) AS gmean FROM obs)
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(r.yhat) AS BIGINT) AS yhat,
           CAST(SUM(abs(r.y - r.yhat)) AS BIGINT) AS sae,
           CAST(SUM((r.y - r.yhat) * (r.y - r.yhat)) AS BIGINT) AS sse,
           CAST(SUM((r.y - g.gmean) * (r.y - g.gmean)) AS BIGINT) AS sst,
           CASE WHEN SUM((r.y - g.gmean) * (r.y - g.gmean)) = 0 THEN NULL
                ELSE CAST(1000000
                          - 1000000 * SUM((r.y - r.yhat) * (r.y - r.yhat))
                            // SUM((r.y - g.gmean) * (r.y - g.gmean))
                          AS BIGINT)
           END AS r2_ppm
    FROM resid r, grand g
    GROUP BY r.source, g.gmean
    """,
)
def eval_regression_metrics_q(spark, sf_dir):
    """Exact regression scorecard — SAE (L1), SSE (L2), SST, and R² per
    group for a predictor, all in integers: the predictor here is the
    integer group mean (SUM DIV COUNT — itself a gated quantity), the
    baseline is the integer grand mean, so R² = 1 − SSE/SST measures how
    much of the corpus-wide length variance the source identity explains
    — "is source a useful feature for this target?" as one query, the
    regression sibling of `eval_auc_rank` (classification) and
    `eval_feature_chi2_cells` (categorical).

    R²_ppm can be legitimately negative (a group whose integer mean
    predicts worse than the grand mean); 10⁶ − (10⁶·SSE DIV SST) keeps
    the DIVIDEND non-negative (both sums of squares), so the truncating
    division itself never sees a negative operand and the subtraction is
    exact — no sign decomposition needed.

    100 TB shape: two passes — one aggregate to fit the per-group means
    (KB-scale dim, broadcast back), one to score; the grand mean rides
    the first pass.  At any scale, regression evaluation is bounded by
    the cost of reading the predictions."""
    obs = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("y")
    )
    mu = obs.groupBy("source").agg(
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("yhat")
    )
    grand = obs.agg(
        F.expr("CAST(SUM(y) DIV COUNT(*) AS BIGINT)").alias("gmean")
    )
    resid = obs.join(F.broadcast(mu), on="source").crossJoin(F.broadcast(grand))
    return resid.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("yhat").cast("long").alias("yhat"),
        F.sum(F.abs(F.col("y") - F.col("yhat"))).cast("long").alias("sae"),
        F.sum((F.col("y") - F.col("yhat")) * (F.col("y") - F.col("yhat")))
        .cast("long")
        .alias("sse"),
        F.sum((F.col("y") - F.col("gmean")) * (F.col("y") - F.col("gmean")))
        .cast("long")
        .alias("sst"),
        F.expr(
            "CASE WHEN SUM((y - gmean) * (y - gmean)) = 0 THEN NULL"
            " ELSE CAST(1000000 - 1000000 * SUM((y - yhat) * (y - yhat))"
            " DIV SUM((y - gmean) * (y - gmean)) AS BIGINT) END"
        ).alias("r2_ppm"),
    )


# --------------------------------------------------------------------------
# sample_token_budget_mix — token-budget corpus mixing
# --------------------------------------------------------------------------
@register(
    "sample_token_budget_mix",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, greatest(n_chars // 4, 1) AS tokens FROM documents
    ),
    totals AS (
      SELECT source, SUM(tokens) AS total_tokens FROM toks GROUP BY source
    ),
    rates AS (
      -- per-source keep-rate to hit an 8000-token budget per source:
      -- LEAST caps oversubscribed sources, under-budget sources keep all
      SELECT source, total_tokens,
             LEAST(1000000, 8000000000 // total_tokens) AS rate_ppm
      FROM totals
    ),
    kept AS (
      SELECT t.doc_id, t.source, t.tokens, r.rate_ppm,
             ('0x' || substring(md5('mix' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 < r.rate_ppm AS keep
      FROM toks t JOIN rates r ON r.source = t.source
    )
    SELECT source,
           CAST(MAX(rate_ppm) AS BIGINT) AS rate_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN tokens ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM kept GROUP BY source
    """,
)
def sample_token_budget_mix_q(spark, sf_dir):
    """TOKEN-budget corpus mixing — training mixes are specified in tokens,
    not documents (a source of long documents at the same doc-rate
    contributes far more gradient steps): per-source keep-rate =
    min(1, budget / total_tokens), membership a pure md5 function of
    doc_id (stable under retries and repartitioning — the sampling
    doctrine), so the kept token mass lands ∝ the budget for
    oversubscribed sources while under-budget sources pass through whole.
    Complements `sample_source_sqrt` (doc-rate temperature flattening)
    with the absolute-budget form real data recipes use ("50B tokens of
    web, 10B of code").

    100 TB shape: one token census per source (map-side combinable, the
    rates frame is |sources| rows broadcast back), then a stateless
    projection+filter — membership never shuffles the corpus; expected
    kept tokens deviate from the budget only by per-doc granularity
    (documented; exact-budget packing is `pack_sequences`' job
    downstream)."""
    toks = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.greatest(F.expr("n_chars DIV 4"), F.lit(1)).cast("long").alias("tokens"),
    )
    totals = toks.groupBy("source").agg(F.sum("tokens").alias("total_tokens"))
    rates = totals.select(
        "source",
        "total_tokens",
        F.least(
            F.lit(1000000).cast("long"),
            # 8e9 as ONE literal: 1000000 * 8000 would constant-fold in
            # INT and overflow under ANSI before ever touching data
            F.expr("CAST(8000000000 DIV total_tokens AS BIGINT)"),
        ).alias("rate_ppm"),
    )
    kept = toks.join(F.broadcast(rates), on="source").withColumn(
        "keep",
        F.expr(
            "CAST(conv(substring(md5(concat('mix', CAST(doc_id AS STRING))), 1, 8),"
            " 16, 10) AS BIGINT) % 1000000"
        )
        < F.col("rate_ppm"),
    )
    return kept.groupBy("source").agg(
        F.max("rate_ppm").cast("long").alias("rate_ppm"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# quality_parity_audit — selection-rate fairness audit (80% rule)
# --------------------------------------------------------------------------
@register(
    "quality_parity_audit",
    oracle="""
    WITH scored AS (
      SELECT source, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS selected
      FROM documents
    ),
    per_group AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(selected) AS BIGINT) AS n_selected,
             CAST(1000000 * SUM(selected) // COUNT(*) AS BIGINT) AS rate_ppm
      FROM scored GROUP BY source
    ),
    ref AS (SELECT MAX(rate_ppm) AS max_rate FROM per_group)
    SELECT p.source, p.n, p.n_selected, p.rate_ppm,
           CASE WHEN r.max_rate = 0 THEN NULL
                ELSE CAST(1000000 * p.rate_ppm // r.max_rate AS BIGINT)
           END AS parity_ppm,
           CASE WHEN r.max_rate = 0 THEN NULL
                ELSE 1000000 * p.rate_ppm // r.max_rate < 800000
           END AS flagged_80pct
    FROM per_group p, ref r
    """,
)
def quality_parity_audit_q(spark, sf_dir):
    """Selection-rate parity audit — the four-fifths (80%) rule applied to
    a pipeline decision: per group, the rate at which a screen selects
    documents, each group's ratio to the MOST-selected group, and a flag
    where that ratio falls below 0.8 (the classic disparate-impact
    screen, applied here to corpus curation: does the length filter
    silently starve some sources?).  The screen under audit is the
    n_chars ≥ 300 keep-decision; swap in any boolean pipeline decision
    (dedup survival, quality percentile, lexicon pass) and the audit is
    unchanged — fairness-of-the-pipeline as a first-class query rather
    than an offline notebook.

    100 TB shape: one hash aggregate to |groups| rows, one KB-scale max,
    one broadcast-back projection — auditing a decision costs one pass
    over its inputs, which is the property that makes running it on
    EVERY pipeline decision affordable."""
    scored = _t(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") >= 300).cast("long").alias("selected")
    )
    per_group = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("selected").cast("long").alias("n_selected"),
        F.expr("CAST(1000000 * SUM(selected) DIV COUNT(*) AS BIGINT)").alias(
            "rate_ppm"
        ),
    )
    ref = per_group.agg(F.max("rate_ppm").alias("max_rate"))
    return per_group.crossJoin(F.broadcast(ref)).select(
        "source",
        "n",
        "n_selected",
        "rate_ppm",
        F.when(
            F.col("max_rate") > 0,
            F.expr("CAST(1000000 * rate_ppm DIV max_rate AS BIGINT)"),
        ).alias("parity_ppm"),
        F.when(
            F.col("max_rate") > 0,
            F.expr("1000000 * rate_ppm DIV max_rate < 800000"),
        ).alias("flagged_80pct"),
    )


# --------------------------------------------------------------------------
# contamination_filter_train — benchmark decontamination, the filtering half
# --------------------------------------------------------------------------
@register(
    "contamination_filter_train",
    oracle="""
    WITH train AS (
      SELECT doc_id, source, substring(text, 1, 120) AS prefix
      FROM documents WHERE source <> 'src0'
    ),
    bench AS (
      SELECT substring(text, 1, 120) AS prefix FROM documents WHERE source = 'src0'
      UNION ALL
      SELECT substring(text, 1, 120) FROM documents
      WHERE source <> 'src0' AND doc_id % 7 = 0
    ),
    tsh AS (
      SELECT DISTINCT doc_id, md5(substring(prefix, i, 8)) AS sh
      FROM train, generate_series(1, 113) t(i)
      WHERE i <= greatest(length(prefix) - 7, 0)
    ),
    bsh AS (
      SELECT DISTINCT md5(substring(prefix, i, 8)) AS sh
      FROM bench, generate_series(1, 113) t(i)
      WHERE i <= greatest(length(prefix) - 7, 0)
    ),
    dirty AS (SELECT DISTINCT doc_id FROM tsh JOIN bsh USING (sh))
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(COUNT(*) - SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(1000000 * SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS drop_ppm
    FROM train t LEFT JOIN dirty d ON d.doc_id = t.doc_id
    GROUP BY t.source
    """,
)
def contamination_filter_train_q(spark, sf_dir):
    """Benchmark DECONTAMINATION — the filtering half on top of
    `contamination_ngram`'s detection: any training document sharing ≥1
    8-char shingle with the benchmark set is DROPPED from the training
    split (the GPT-3-style n-gram decontamination recipe), and the gate
    emits the per-source kept/dropped census — the number a training run
    actually reports ("we removed X% of source Y for eval overlap").
    Every 7th training doc is planted verbatim in the benchmark, so the
    drop rate is substantial and its per-source distribution meaningful.

    100 TB shape: the benchmark shingle set is benchmark-sized (KB-MB —
    eval sets are small by definition) and broadcast; training docs
    shingle in one pass, the contaminated-id set comes from the broadcast
    semi-join, and the filter is an ANTI-join on doc_id — the corpus is
    scanned once and never shuffled on content."""
    docs = _t(spark, sf_dir, "documents")
    prefix = F.substring("text", 1, 120)
    train = docs.filter(F.col("source") != "src0").select(
        "doc_id", "source", prefix.alias("prefix")
    )
    bench_set = (
        docs.filter(F.col("source") == "src0")
        .select(prefix.alias("prefix"))
        .unionByName(
            docs.filter((F.col("source") != "src0") & (F.col("doc_id") % 7 == 0))
            .select(prefix.alias("prefix"))
        )
    )

    def shingles(df, keep_id):
        cols = ["doc_id"] if keep_id else []
        ex = df.select(
            *cols,
            "prefix",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("prefix") - 7, F.lit(0))
                )
            ).alias("i"),
        )
        return ex.select(
            *cols, F.md5(F.expr("substring(prefix, i, 8)")).alias("sh")
        ).distinct()

    tsh = shingles(train, keep_id=True)
    bsh = shingles(bench_set, keep_id=False)
    dirty = tsh.join(F.broadcast(bsh), on="sh").select("doc_id").distinct()
    flagged = train.join(
        dirty.withColumn("hit", F.lit(1)), on="doc_id", how="left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum(F.col("hit").isNotNull().cast("long")).cast("long").alias("n_dropped"),
        (F.count(F.lit(1)) - F.sum(F.col("hit").isNotNull().cast("long")))
        .cast("long")
        .alias("n_kept"),
        F.expr(
            "CAST(1000000 * SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END)"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("drop_ppm"),
    )


# --------------------------------------------------------------------------
# eval_bootstrap_ci — deterministic Poisson-bootstrap confidence interval
# --------------------------------------------------------------------------
@register(
    "eval_bootstrap_ci",
    oracle="""
    WITH per_user AS (
      SELECT user_id, SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    reps AS (
      -- Poisson(1) multiplicity approximated by the md5 ring exactly as
      -- sample_bootstrap_poisson: P(0)=.3679, P(1)=.7358, P(2)=.9197,
      -- P(3)=.9810 cumulative ppm thresholds, key = (user, rep)
      SELECT r.rep, p.user_id, p.y,
             CASE
               WHEN h < 367879 THEN 0
               WHEN h < 735759 THEN 1
               WHEN h < 919699 THEN 2
               WHEN h < 980988 THEN 3
               ELSE 4
             END AS m
      FROM per_user p, generate_series(0, 31) r(rep),
           LATERAL (SELECT ('0x' || substring(md5('boot' || CAST(r.rep AS VARCHAR)
                     || '_' || CAST(p.user_id AS VARCHAR)), 1, 8))::BIGINT
                     % 1000000 AS h) t
    ),
    rep_means AS (
      SELECT rep,
             CAST(SUM(m * y) AS BIGINT) AS total_cents,
             CAST(SUM(m) AS BIGINT) AS n_resampled,
             CAST(SUM(m * y) // GREATEST(SUM(m), 1) AS BIGINT) AS mean_cents
      FROM reps GROUP BY rep
    ),
    ranked AS (
      SELECT rep, total_cents, n_resampled, mean_cents,
             ROW_NUMBER() OVER (ORDER BY mean_cents, rep) AS rnk
      FROM rep_means
    )
    SELECT CAST(32 AS BIGINT) AS n_reps,
           CAST(MIN(mean_cents) AS BIGINT) AS lo_cents,
           CAST(MAX(mean_cents) AS BIGINT) AS hi_cents,
           CAST(MIN(CASE WHEN rnk = 2 THEN mean_cents END) AS BIGINT)
             AS p05_cents,
           CAST(MIN(CASE WHEN rnk = 16 THEN mean_cents END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN rnk = 31 THEN mean_cents END) AS BIGINT)
             AS p95_cents
    FROM ranked
    """,
)
def eval_bootstrap_ci_q(spark, sf_dir):
    """Bootstrap confidence interval for a corpus metric (mean per-user
    spend) from 32 DETERMINISTIC Poisson resamples — the uncertainty
    quantification layer over `sample_bootstrap_poisson`'s resampling
    primitive: each replicate's multiplicities are a pure md5 function of
    (rep, user), so the whole CI is hash-gated and retry-stable where an
    RNG bootstrap gives a different interval every run (and every task
    retry).  Emits the replicate distribution's min/p05/median/p95/max —
    rank statistics over 32 values, exact by construction, no percentile
    interpolation ambiguity (rank-2 and rank-31 of 32 bracket ~90%).

    100 TB shape: the 32 replicates fan out as ONE generate-series
    multiply of the per-user frame (32× rows of an already-aggregated
    KB-per-key frame, NOT of the raw corpus), then one (rep)-keyed
    aggregate — bootstrap cost is 32× the metric's per-user size,
    independent of event count."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y")
    )
    reps = per_user.crossJoin(
        F.broadcast(spark.range(0, 32).select(F.col("id").alias("rep")))
    ).withColumn(
        "h",
        F.expr(
            "CAST(conv(substring(md5(concat('boot', CAST(rep AS STRING), '_',"
            " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"
        ),
    ).withColumn(
        "m",
        F.when(F.col("h") < 367879, 0)
        .when(F.col("h") < 735759, 1)
        .when(F.col("h") < 919699, 2)
        .when(F.col("h") < 980988, 3)
        .otherwise(4),
    )
    rep_means = reps.groupBy("rep").agg(
        F.sum(F.col("m") * F.col("y")).cast("long").alias("total_cents"),
        F.sum("m").cast("long").alias("n_resampled"),
        F.expr(
            "CAST(SUM(m * y) DIV GREATEST(SUM(m), 1) AS BIGINT)"
        ).alias("mean_cents"),
    )
    ranked = rep_means.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("mean_cents").asc(), F.col("rep").asc())),
    )
    return ranked.agg(
        F.lit(32).cast("long").alias("n_reps"),
        F.min("mean_cents").cast("long").alias("lo_cents"),
        F.max("mean_cents").cast("long").alias("hi_cents"),
        F.min(F.when(F.col("rnk") == 2, F.col("mean_cents")))
        .cast("long")
        .alias("p05_cents"),
        F.min(F.when(F.col("rnk") == 16, F.col("mean_cents")))
        .cast("long")
        .alias("p50_cents"),
        F.min(F.when(F.col("rnk") == 31, F.col("mean_cents")))
        .cast("long")
        .alias("p95_cents"),
    )


# --------------------------------------------------------------------------
# eval_ks_two_sample — exact two-sample Kolmogorov-Smirnov statistic
# --------------------------------------------------------------------------
KS_TWO_SAMPLE_ORACLE = """
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY user_id
    ),
    support AS (
      SELECT y,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1
      FROM per_user GROUP BY y
    ),
    cums AS (
      SELECT y,
             SUM(c0) OVER (ORDER BY y) AS f0,
             SUM(c1) OVER (ORDER BY y) AS f1
      FROM support
    ),
    ns AS (
      SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
      FROM per_user
    )
    SELECT CAST(ns.n0 AS BIGINT) AS n0, CAST(ns.n1 AS BIGINT) AS n1,
           CAST(MAX(abs(ns.n1 * c.f0 - ns.n0 * c.f1)) AS BIGINT) AS d_num,
           CAST(ns.n0 * ns.n1 AS BIGINT) AS d_den,
           CAST(1000000 * MAX(abs(ns.n1 * c.f0 - ns.n0 * c.f1))
                // (ns.n0 * ns.n1) AS BIGINT) AS d_ppm
    FROM cums c, ns
    GROUP BY ns.n0, ns.n1
    """


@register("eval_ks_two_sample", oracle=KS_TWO_SAMPLE_ORACLE)
def eval_ks_two_sample_q(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic — D = max |F0 − F1|
    over the merged support, computed as the integer rational
    max|n1·cum0 − n0·cum1| / (n0·n1): the DISTRIBUTION-shape companion to
    the mean-level tests (`eval_welch_ttest` sees location, `agg_drift_tvd`
    sees binned mass, KS sees the worst point of the whole CDF gap —
    the test that catches a variance or tail change the others miss).
    |·| of an integer difference is exact (no division until the final
    ppm), so the statistic is bit-gateable; the p-value's asymptotic
    series stays un-gated (floats) — callers compare d_ppm against the
    1.36·sqrt((n0+n1)/(n0·n1)) critical line themselves.

    100 TB shape: one per-key aggregate, one (value)-keyed support
    census (map-side combinable to |distinct values| rows), ONE window
    cumsum over the distinct support — never a corpus-row sort — and a
    KB-scale max."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y")
    ).withColumn("arm", F.col("user_id") % 2)
    support = per_user.groupBy("y").agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("c0"),
        F.sum((F.col("arm") == 1).cast("long")).alias("c1"),
    )
    w = Window.orderBy("y")
    cums = support.select(
        "y",
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
    )
    ns = per_user.agg(
        F.sum((F.col("arm") == 0).cast("long")).alias("n0"),
        F.sum((F.col("arm") == 1).cast("long")).alias("n1"),
    )
    return cums.crossJoin(F.broadcast(ns)).groupBy("n0", "n1").agg(
        F.max(F.abs(F.col("n1") * F.col("f0") - F.col("n0") * F.col("f1")))
        .cast("long")
        .alias("d_num"),
        F.max(F.col("n0") * F.col("n1")).cast("long").alias("d_den"),
        F.expr(
            "CAST(1000000 * MAX(abs(n1 * f0 - n0 * f1)) DIV (n0 * n1) AS BIGINT)"
        ).alias("d_ppm"),
    ).select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        "d_num",
        "d_den",
        "d_ppm",
    )


# --------------------------------------------------------------------------
# temporal_mann_kendall — nonparametric monotone-trend test
# --------------------------------------------------------------------------
@register(
    "temporal_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400
    ),
    pairs AS (
      SELECT a.event_type,
             CASE WHEN b.cents > a.cents THEN 1
                  WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
    )
    SELECT event_type,
           CAST((SELECT COUNT(*) FROM daily d WHERE d.event_type = p.event_type)
                AS BIGINT) AS n_days,
           CAST(SUM(sgn) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN SUM(sgn) < 0 THEN -1 ELSE 1 END
                * (1000000 * abs(SUM(sgn)) // COUNT(*)) AS BIGINT) AS tau_ppm
    FROM pairs p
    GROUP BY event_type
    """,
)
def temporal_mann_kendall_q(spark, sf_dir):
    """Mann-Kendall monotone-trend test per series — S = Σ_{i<j}
    sign(x_j − x_i) over the daily revenue series of each event type,
    with Kendall's τ_a = S / C(n,2) in SIGN-DECOMPOSED ppm (S is
    legitimately negative for a downtrend; the |·|-then-sign form keeps
    the truncating division on non-negative operands).  The
    NONPARAMETRIC trend detector: `temporal_wow_growth` measures level
    changes, CUSUM finds a change POINT, Mann-Kendall answers "is this
    series drifting at all" with no distributional assumption and
    immunity to outliers (only signs enter).

    100 TB shape: the trend test runs on the DAILY aggregate — the
    corpus collapses to |series|×|days| rows in one map-side-combinable
    pass, and the O(days²) pair comparison is over ~30 rows per series
    (a within-group self-join of a KB-scale frame).  The test is cheap
    BECAUSE the reduction happened first; running it on raw events would
    be the anti-pattern."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 86400").alias("day"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    a = daily.select("event_type", F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("cents").alias("cb"))
    pairs = a.join(b, on="event_type").filter(F.col("db") > F.col("da")).select(
        "event_type",
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    s = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return s.join(n_days, on="event_type").select(
        "event_type",
        "n_days",
        "s",
        "n_pairs",
        F.expr(
            "CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END"
            " * (1000000 * abs(s) DIV n_pairs) AS BIGINT)"
        ).alias("tau_ppm"),
    )


# --------------------------------------------------------------------------
# agg_winsorized_mean — robust mean with exact rank-based clipping
# --------------------------------------------------------------------------
@register(
    "agg_winsorized_mean",
    oracle="""
    WITH obs AS (
      SELECT source, n_chars AS y,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
               AS rnk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    cuts AS (
      -- exact rank cutoffs: clip below the 1+floor(n/20)-th smallest and
      -- above the n-floor(n/20)-th (5% each tail, rank-based, no
      -- interpolation)
      SELECT source,
             MIN(CASE WHEN rnk = 1 + n // 20 THEN y END) AS lo,
             MIN(CASE WHEN rnk = n - n // 20 THEN y END) AS hi
      FROM obs GROUP BY source
    )
    SELECT o.source,
           CAST(MAX(o.n) AS BIGINT) AS n,
           CAST(MAX(c.lo) AS BIGINT) AS lo_cut,
           CAST(MAX(c.hi) AS BIGINT) AS hi_cut,
           CAST(SUM(LEAST(GREATEST(o.y, c.lo), c.hi)) AS BIGINT) AS wsum,
           CAST(SUM(LEAST(GREATEST(o.y, c.lo), c.hi)) // MAX(o.n) AS BIGINT)
             AS wmean,
           CAST(SUM(o.y) // MAX(o.n) AS BIGINT) AS raw_mean
    FROM obs o JOIN cuts c ON c.source = o.source
    GROUP BY o.source
    """,
)
def agg_winsorized_mean_q(spark, sf_dir):
    """Winsorized mean per group — clip each tail at the exact rank-based
    5% cutoff (the 1+⌊n/20⌋-th smallest / n−⌊n/20⌋-th values, no
    percentile interpolation to disagree about), then take the integer
    mean of the clipped values.  The OTHER standard robust location
    estimator beside `filter_outlier_mad`'s screen: MAD DROPS outliers
    (changes n, biases densities), winsorization CAPS them (keeps every
    row's vote, bounds every row's leverage) — the right choice for
    revenue-style metrics where deleting whales misstates totals.  Raw
    mean emitted beside it so the robustness delta is visible per group.

    100 TB shape: one rank window per group over a (group, value)-sorted
    exchange, a |groups|-row cutoff dim broadcast back, then a plain
    clipped aggregate — two exchanges total; the window ranks within
    groups only (never a global sort)."""
    obs = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("y"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy("y", "doc_id")
    wn = Window.partitionBy("source")
    ranked = obs.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    cuts = ranked.groupBy("source").agg(
        F.min(F.when(F.col("rnk") == 1 + F.expr("n DIV 20"), F.col("y"))).alias("lo"),
        F.min(F.when(F.col("rnk") == F.col("n") - F.expr("n DIV 20"), F.col("y"))).alias(
            "hi"
        ),
    )
    joined = ranked.join(F.broadcast(cuts), on="source")
    clipped = F.least(F.greatest(F.col("y"), F.col("lo")), F.col("hi"))
    return joined.groupBy("source").agg(
        F.max("n").cast("long").alias("n"),
        F.max("lo").cast("long").alias("lo_cut"),
        F.max("hi").cast("long").alias("hi_cut"),
        F.sum(clipped).cast("long").alias("wsum"),
        F.expr(
            "CAST(SUM(LEAST(GREATEST(y, lo), hi)) DIV MAX(n) AS BIGINT)"
        ).alias("wmean"),
        F.expr("CAST(SUM(y) DIV MAX(n) AS BIGINT)").alias("raw_mean"),
    )


# --------------------------------------------------------------------------
# eval_calibration_ece — expected/max calibration error over the bins
# --------------------------------------------------------------------------
@register(
    "eval_calibration_ece",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
        CAST(1000000 * len(list_filter(string_split_regex(text, '\\s+'),
               t -> t IN ('the','a','of','and','to','in','is')))
             // len(string_split_regex(text, '\\s+')) AS BIGINT) AS score_ppm,
        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    binned AS (
      SELECT score_ppm, y,
             ntile(10) OVER (ORDER BY score_ppm, doc_id) AS bin
      FROM scored
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n, SUM(y) AS n_pos,
             1000000 * SUM(y) // COUNT(*) AS observed_ppm,
             SUM(score_ppm) // COUNT(*) AS mean_score_ppm
      FROM binned GROUP BY bin
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_total,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n * abs(observed_ppm - mean_score_ppm)) AS BIGINT) AS ece_num,
           CAST(SUM(n * abs(observed_ppm - mean_score_ppm)) // SUM(n) AS BIGINT)
             AS ece_ppm,
           CAST(MAX(abs(observed_ppm - mean_score_ppm)) AS BIGINT) AS mce_ppm
    FROM bins
    """,
)
def eval_calibration_ece_q(spark, sf_dir):
    """Expected Calibration Error — the ONE-NUMBER summary of
    `eval_calibration_bins`' reliability diagram: ECE = Σ_b (n_b/N)·
    |observed_b − predicted_b| (count-weighted mean bin gap) plus MCE
    (the worst bin) — the KPI a model-monitoring dashboard alerts on,
    where the full diagram is the drill-down.  Both gaps are differences
    of integer ppm quantities, so |·| is exact and the single truncating
    division is the last step — the whole metric is BIGINT-exact, unlike
    the float ECE every ML library reports (which inherits binning AND
    summation order ambiguity).

    100 TB shape: identical cost to the bins query it summarizes (the
    one equi-depth sort), plus a 10-row aggregate — the summary is free
    once the diagram is computed."""
    scored = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "CAST(1000000 * size(filter(split(text, '\\\\s+'),"
            " t -> t IN ('the','a','of','and','to','in','is')))"
            " DIV size(split(text, '\\\\s+')) AS BIGINT)"
        ).alias("score_ppm"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    from ..operators.windows import ntile_exact

    binned = ntile_exact(scored, 10, ["score_ppm", "doc_id"], "bin")
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.expr("1000000 * SUM(y) DIV COUNT(*)").alias("observed_ppm"),
        F.expr("SUM(score_ppm) DIV COUNT(*)").alias("mean_score_ppm"),
    )
    return bins.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(F.col("n") * F.abs(F.col("observed_ppm") - F.col("mean_score_ppm")))
        .cast("long")
        .alias("ece_num"),
        F.expr(
            "CAST(SUM(n * abs(observed_ppm - mean_score_ppm)) DIV SUM(n) AS BIGINT)"
        ).alias("ece_ppm"),
        F.max(F.abs(F.col("observed_ppm") - F.col("mean_score_ppm")))
        .cast("long")
        .alias("mce_ppm"),
    )


# --------------------------------------------------------------------------
# eval_knn_probe — 1-NN label-prediction probe for embedding quality
# --------------------------------------------------------------------------
@register(
    "eval_knn_probe",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    dots AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    nn AS (
      SELECT q_id, t_id FROM (
        SELECT d.q_id, d.t_id,
               ROW_NUMBER() OVER (
                 PARTITION BY d.q_id
                 ORDER BY CAST(d.dot AS DOUBLE)
                          / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                          d.t_id ASC
               ) AS rnk
        FROM dots d
        JOIN norms na ON na.vec_id = d.q_id
        JOIN norms nb ON nb.vec_id = d.t_id
      ) WHERE rnk = 1
    )
    SELECT ql.label AS true_label, tl.label AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM nn
    JOIN corpus ql ON ql.vec_id = nn.q_id
    JOIN corpus tl ON tl.vec_id = nn.t_id
    GROUP BY ql.label, tl.label
    """,
)
def eval_knn_probe_q(spark, sf_dir):
    """1-NN label-prediction probe — the classic non-parametric
    representation-quality metric: every vector is classified by its
    single nearest neighbor's label (leave-one-out, exact quantized
    cosine), emitted as the full (true, predicted) confusion census.
    Accuracy = the diagonal share; unlike `embedding_label_separation`
    (distributional distance statistics) this measures the DECISION
    quality the space supports — the number a linear/kNN-probe paper
    reports, and the ceiling any ANN rung's end-task accuracy can reach
    (compose with a rung instead of the exact scan to price its
    end-task cost).

    100 TB shape: the probe IS a top-1 similarity run over a held slice
    — whatever rung serves it pays the rung's audited cost; the census
    on top is one |labels|² aggregate over |Q| rows.  All-pairs here is
    the exact gate tier (200×200); production probes sample queries and
    route through IVF-PQ like every other serving path."""
    from ..operators.similarity import similarity_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding", "label"
    )
    nn = similarity_topk(
        em.select("vec_id", "embedding"), em.select("vec_id", "embedding"), k=1
    )
    lab = em.select("vec_id", "label")
    return (
        nn.join(
            F.broadcast(
                lab.select(F.col("vec_id").alias("q_id"), F.col("label").alias("true_label"))
            ),
            on="q_id",
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("t_id"), F.col("label").alias("predicted_label")
                )
            ),
            on="t_id",
        )
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# temporal_theil_sen — robust trend slope (median of pairwise slopes)
# --------------------------------------------------------------------------
@register(
    "temporal_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400
    ),
    slopes AS (
      -- per-pair slope in centi-cents/day, sign-decomposed truncation
      SELECT a.event_type,
             CASE WHEN b.cents < a.cents THEN -1 ELSE 1 END
               * (100 * abs(b.cents - a.cents) // (b.day - a.day)) AS slope_cc
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
    ),
    ranked AS (
      SELECT event_type, slope_cc,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope_cc) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
           CAST(MIN(CASE WHEN rnk = (n_pairs + 1) // 2 THEN slope_cc END)
                AS BIGINT) AS slope_cc_median,
           CAST(MIN(slope_cc) AS BIGINT) AS slope_cc_min,
           CAST(MAX(slope_cc) AS BIGINT) AS slope_cc_max
    FROM ranked GROUP BY event_type
    """,
)
def temporal_theil_sen_q(spark, sf_dir):
    """Theil-Sen robust trend SLOPE — the median of all pairwise slopes
    of the daily series, the estimator that tolerates up to ~29% corrupt
    points where least-squares is wrecked by one; the magnitude
    companion to `temporal_mann_kendall`'s direction test (MK says "is
    it drifting", Theil-Sen says "how fast").  Each pairwise slope is an
    exact sign-decomposed integer in centi-cents/day (the per-pair
    division truncates identically in both engines on the |·| form);
    the median is the exact lower-median RANK statistic over those
    integers — no interpolated percentile, no float sort key whose ties
    could diverge.

    100 TB shape: like MK, the estimator runs on the DAILY aggregate —
    one map-side-combinable reduction, then an O(days²) pair self-join
    of a ~30-row-per-series frame and one rank window over |pairs| rows
    per series.  The robustness is free because the reduction happened
    first."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) DIV 86400").alias("day"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"))
    a = daily.select("event_type", F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select("event_type", F.col("day").alias("db"), F.col("cents").alias("cb"))
    slopes = (
        a.join(b, on="event_type")
        .filter(F.col("db") > F.col("da"))
        .select(
            "event_type",
            F.expr(
                "CAST(CASE WHEN cb < ca THEN -1 ELSE 1 END"
                " * (100 * abs(cb - ca) DIV (db - da)) AS BIGINT)"
            ).alias("slope_cc"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope_cc")
    wn = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rnk", F.row_number().over(w)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(wn)
    )
    return ranked.groupBy("event_type").agg(
        F.max("n_pairs").cast("long").alias("n_pairs"),
        F.min(
            F.when(F.col("rnk") == F.expr("(n_pairs + 1) DIV 2"), F.col("slope_cc"))
        )
        .cast("long")
        .alias("slope_cc_median"),
        F.min("slope_cc").cast("long").alias("slope_cc_min"),
        F.max("slope_cc").cast("long").alias("slope_cc_max"),
    )


# --------------------------------------------------------------------------
# eval_cohens_kappa — chance-corrected agreement between two labelers
# --------------------------------------------------------------------------
@register(
    "eval_cohens_kappa",
    oracle="""
    WITH labeled AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN 1000000 * len(list_filter(string_split_regex(text, '\\s+'),
                    t -> t IN ('the','a','of','and','to','in','is')))
                  // len(string_split_regex(text, '\\s+')) >= 60000
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    counts AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
             SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
             SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
             SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00
      FROM labeled
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
           CAST(1000000 * (n11 + n00) // n AS BIGINT) AS po_ppm,
           CAST(n * (n11 + n00)
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_num,
           CAST(n * n
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_den,
           CAST(CASE WHEN n * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) < 0
                     THEN -1 ELSE 1 END
                * (1000000 * abs(n * (n11 + n00)
                     - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))
                   // (n * n
                       - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))
                AS BIGINT) AS kappa_ppm
    FROM counts
    """,
)
def eval_cohens_kappa_q(spark, sf_dir):
    """Cohen's kappa between two binary labelers — chance-corrected
    agreement κ = (p_o − p_e)/(1 − p_e), the inter-annotator metric
    every labeling pipeline reports before trusting its labels (raw
    agreement p_o flatters labelers who both say "yes" to everything;
    κ subtracts what marginal chance alone would produce).  Cleared of
    divisions by n: κ = (n·agree − Σ marginal products) / (n² − Σ
    marginal products) — pure integer counts, sign-decomposed ppm (κ is
    legitimately negative for worse-than-chance labelers).  The two
    "annotators" here are two cheap English-ness rules (length vs
    stopword ratio); production swaps any pair of model/heuristic/human
    label columns with zero plan change.

    100 TB shape: ONE pass to the four contingency cells (map-side
    combinable to a single row) — agreement at any scale is one
    aggregate over the pair of label columns."""
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        (F.col("n_chars") >= 300).cast("long").alias("a"),
        (
            F.expr(
                "1000000 * size(filter(split(text, '\\\\s+'),"
                " t -> t IN ('the','a','of','and','to','in','is')))"
                " DIV size(split(text, '\\\\s+'))"
            )
            >= 60000
        ).cast("long").alias("b"),
    )
    counts = labeled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("long")).alias("n11"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("long")).alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("long")).alias("n01"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("long")).alias("n00"),
    )
    return counts.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.expr("CAST(1000000 * (n11 + n00) DIV n AS BIGINT)").alias("po_ppm"),
        F.expr(
            "CAST(n * (n11 + n00)"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS BIGINT)"
        ).alias("kappa_num"),
        F.expr(
            "CAST(n * n"
            " - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS BIGINT)"
        ).alias("kappa_den"),
        F.expr(
            "CAST(CASE WHEN n * (n11 + n00)"
            "  - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) < 0"
            " THEN -1 ELSE 1 END"
            " * (1000000 * abs(n * (n11 + n00)"
            "    - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))"
            "   DIV (n * n"
            "    - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))))"
            " AS BIGINT)"
        ).alias("kappa_ppm"),
    )
