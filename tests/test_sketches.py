"""Tests for operators/sketches.py (Bloom prefilter, count-min sketch),
chunk_text, and mad_outlier_filter — the round-4 third-block additions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.operators.quality import mad_outlier_filter
from cell_kn_mvp_etl_ontologies_spark.operators.sketches import (
    bloom_build,
    bloom_prefilter,
    count_min_build,
    count_min_estimate,
)
from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import chunk_text


# ---------------------------------------------------------------- bloom ----
def test_bloom_never_drops_a_true_key(spark):
    keys = spark.range(0, 50).select((F.col("id") * 17).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=512, k=4)
    big = spark.range(0, 2000).select(F.col("id").alias("k"))
    kept = {r.k for r in bloom_prefilter(big, "k", bloom, m_bits=512, k=4).collect()}
    true_keys = {r.k for r in keys.collect()}
    assert true_keys <= kept  # no false negatives, ever


def test_bloom_actually_prunes(spark):
    keys = spark.range(0, 20).select((F.col("id") * 131).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=2048, k=4)
    big = spark.range(0, 5000).select(F.col("id").alias("k"))
    n_kept = bloom_prefilter(big, "k", bloom, m_bits=2048, k=4).count()
    # 20 set keys x 4 bits in 2048 bits -> expected FP rate well under 1%;
    # allow 10x slack so the assertion is about pruning, not the exact rate
    assert n_kept < 5000 * 0.1 + 20


def test_bloom_filter_runs_before_any_exchange(spark):
    """The whole point: the bit-test filter must sit in the scan stage, not
    after a shuffle."""
    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", m_bits=256, k=4)
    big = spark.range(0, 100).select(F.col("id").alias("k"))
    plan = (
        bloom_prefilter(big, "k", bloom, m_bits=256, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Catalyst folds the bit tests into the 1-row broadcast join's condition:
    # big side reads straight into a BroadcastNestedLoopJoin that evaluates
    # the membership test per streamed row — the big side must NOT shuffle.
    # executedPlan prints the streamed (big) side before the BroadcastExchange
    # build side, so no "Exchange" may appear before it.
    assert "BroadcastNestedLoopJoin" in plan and "element_at" in plan
    build_side = plan.find("BroadcastExchange")
    assert build_side != -1
    assert "Exchange" not in plan[:build_side]


# ------------------------------------------------------------------ cms ----
def test_cms_never_underestimates(spark):
    items = spark.range(0, 3000).select((F.col("id") % 37).alias("item"))
    cms = count_min_build(items, "item", depth=4, width=64)
    true = items.groupBy("item").count()
    probes = true.select("item")
    est = count_min_estimate(probes, "item", cms, depth=4, width=64)
    j = true.join(est, "item").collect()
    assert len(j) == 37
    assert all(r["cms_est"] >= r["count"] for r in j)


def test_cms_merges_by_summing_cells(spark):
    """Sketches over shards merged by summing cells == sketch over the union
    — the mergeability that makes CMS usable as a partial aggregate."""
    a = spark.range(0, 500).select((F.col("id") % 11).alias("item"))
    b = spark.range(500, 1200).select((F.col("id") % 11).alias("item"))
    whole = count_min_build(a.unionAll(b), "item", depth=4, width=32)
    merged = (
        count_min_build(a, "item", depth=4, width=32)
        .unionAll(count_min_build(b, "item", depth=4, width=32))
        .groupBy("r", "c")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert {tuple(r) for r in whole.collect()} == {tuple(r) for r in merged.collect()}


# ----------------------------------------------------------- chunk_text ----
def test_chunk_text_covers_document_exactly(spark):
    docs = spark.createDataFrame(
        [(1, "a" * 10), (2, "b" * 150), (3, "xyz"), (4, ""), (5, None)],
        "doc_id LONG, text STRING",
    )
    out = chunk_text(docs, "text", "doc_id", chunk_len=100, stride=60).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    # empty/NULL docs emit nothing
    assert set(by_doc) == {1, 2, 3}
    # doc 2 (150 chars, stride 60): starts 0, 60, 120 -> 3 chunks
    assert sorted(r.chunk_idx for r in by_doc[2]) == [0, 1, 2]
    assert all(r.n_chunks == 3 for r in by_doc[2])
    # chunk lengths: 100, 90 (150-60), 30 (150-120)
    assert sorted(r.chunk_chars for r in by_doc[2]) == [30, 90, 100]
    # single short chunk for tiny docs
    assert by_doc[3][0].chunk == "xyz" and by_doc[3][0].n_chunks == 1


def test_chunk_text_stride_overlap_reconstructs(spark):
    text = "".join(chr(97 + (i % 26)) for i in range(301))
    docs = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    rows = sorted(
        chunk_text(docs, "text", "doc_id", chunk_len=120, stride=90).collect(),
        key=lambda r: r.chunk_idx,
    )
    # stitching chunk[i][:stride] plus the last chunk reproduces the text
    rebuilt = "".join(r.chunk[:90] for r in rows[:-1]) + rows[-1].chunk
    assert rebuilt == text


# ------------------------------------------------------------------ mad ----
def test_mad_outlier_flags_planted_outlier(spark):
    rows = [("en", v) for v in [100, 102, 98, 101, 99, 103, 97, 100, 5000]]
    rows += [("fr", v) for v in [50, 55, 45, 52, 48]]
    df = spark.createDataFrame(rows, "lang STRING, n_chars LONG")
    out = mad_outlier_filter(df, "lang", "n_chars", n_mads=3.0).collect()
    en_out = [r for r in out if r.lang == "en" and r.is_outlier]
    assert [r.n_chars for r in en_out] == [5000]
    assert all(not r.is_outlier for r in out if r.lang == "fr")


def test_mad_zero_mad_group_flags_any_deviation(spark):
    # constant group: MAD = 0, so ANY deviating value is an outlier
    rows = [("x", 10)] * 6 + [("x", 11)]
    df = spark.createDataFrame(rows, "lang STRING, n_chars LONG")
    out = mad_outlier_filter(df, "lang", "n_chars", n_mads=3.0).collect()
    assert sum(r.is_outlier for r in out) == 1
    assert next(r.n_chars for r in out if r.is_outlier) == 11


def test_bloom_mark_agrees_with_prefilter(spark):
    keys = spark.range(0, 25).select((F.col("id") * 7).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=512, k=4)
    big = spark.range(0, 400).select(F.col("id").alias("k"))
    from cell_kn_mvp_etl_ontologies_spark.operators.sketches import bloom_mark

    marked = bloom_mark(big, "k", bloom, m_bits=512, k=4)
    assert marked.columns == ["k", "is_candidate"]
    via_mark = {r.k for r in marked.filter("is_candidate").collect()}
    via_filter = {
        r.k for r in bloom_prefilter(big, "k", bloom, m_bits=512, k=4).collect()
    }
    assert via_mark == via_filter
    # both populations present: negatives carry is_candidate = False
    assert marked.filter(~F.col("is_candidate")).count() == 400 - len(via_mark)


def test_bloom_materialized_is_pure_filter_and_agrees(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.sketches import (
        bloom_prefilter_materialized,
    )

    keys = spark.range(0, 30).select((F.col("id") * 13).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=1024, k=4)
    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    mat = bloom_prefilter_materialized(big, "k", bloom, m_bits=1024, k=4)
    # the words are embedded as a literal: the plan is a codegen'd Filter
    # over the scan — no join node, no exchange at all
    plan = mat._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    assert "Filter" in plan
    lazy = {r.k for r in bloom_prefilter(big, "k", bloom, m_bits=1024, k=4).collect()}
    assert {r.k for r in mat.collect()} == lazy


def test_bloom_fast_hash_family_contract(spark):
    """portable=False: same no-false-negative guarantee, and mixing hash
    families between build and probe is the documented pitfall — the fast
    probe against an md5-built filter would drop true keys, so assert the
    matched-family path keeps them all."""
    keys = spark.range(0, 40).select((F.col("id") * 23).alias("k"))
    bloom = bloom_build(keys, "k", m_bits=1024, k=4, portable=False)
    big = spark.range(0, 2000).select(F.col("id").alias("k"))
    kept = {
        r.k
        for r in bloom_prefilter(
            big, "k", bloom, m_bits=1024, k=4, portable=False
        ).collect()
    }
    assert {r.k for r in keys.collect()} <= kept


# -------------------------------------------------------------- lm score ---
def test_unigram_lm_score_prefers_common_tokens(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import (
        unigram_lm_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "the the the the"),        # 4x a freq-8 token -> 4*3 bits
            (2, "zq xv qj kp"),            # four singletons -> 0 bits
            (3, "the the the the zq2"),    # mixed
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.id: r for r in unigram_lm_scores(docs, "text", "doc_id").collect()}
    assert out[1].score_bits == 4 * 3  # 'the' occurs 8 times -> floor(log2 8)=3
    assert out[2].score_bits == 0
    assert out[1].mean_millibits > out[3].mean_millibits > out[2].mean_millibits
    assert all(r.oov_tokens == 0 for r in out.values())


def test_unigram_lm_score_frozen_vocab_counts_oov(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import (
        unigram_lm_scores,
    )

    vocab = spark.createDataFrame([("known", 16)], "tok STRING, freq LONG")
    docs = spark.createDataFrame(
        [(1, "known known novel")], "doc_id LONG, text STRING"
    )
    [r] = unigram_lm_scores(docs, "text", "doc_id", vocab=vocab).collect()
    assert (r.n_tokens, r.oov_tokens, r.score_bits) == (3, 1, 2 * 4)


def test_cosine_topk_routed_bit_identical_to_expression(spark):
    """The routed cogroup brute tier (no driver collect on either side)
    must be bit-identical to the expression path — including cos doubles —
    across block counts (1 block = one big matmul; 16 blocks > |targets|/k
    exercises near-empty blocks).  Inputs: two random-normal corpora and
    the ADVICE r4 dyadic counterexample, multiples of 1/16 whose every
    component scales onto .5, where a half-even rounding would diverge."""
    import random

    import numpy as np

    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        cosine_topk_routed,
        similarity_topk,
    )

    def normal(seed):
        rng = np.random.RandomState(seed)
        return [(int(i), [float(x) for x in rng.randn(8)]) for i in range(40)]

    rnd = random.Random(3)
    dyadic = [(int(i), [rnd.randrange(-16, 17) / 16.0 for _ in range(8)]) for i in range(30)]
    for rows, n_q, k in ((normal(11), 5, 4), (normal(7), 5, 4), (dyadic, 4, 3)):
        df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        q = df.filter(F.col("vec_id") < n_q)
        a = sorted(
            map(
                tuple,
                similarity_topk(q, df, k=k, quantized=True)
                .select("q_id", "t_id", "cos", "rnk")
                .collect(),
            )
        )
        for n_blocks in (1, 4, 16):
            c = sorted(
                map(
                    tuple,
                    cosine_topk_routed(q, df, k=k, n_blocks=n_blocks)
                    .select("q_id", "t_id", "cos", "rnk")
                    .collect(),
                )
            )
            assert c == a, (n_q, k, n_blocks)


def test_cosine_topk_routed_double_bit_identical_to_expression(spark):
    """The round-15 blocked DOUBLE scorer (cosine_topk_routed_double — the
    cosine_topk_80k bench rung) must be bit-identical to
    similarity_topk(quantized=False), including every float64 cos value:
    the scorer replays the expression fold's sequential IEEE association
    (_seq_fold_matmul/_seq_fold_norms), so ANY reassociation bug shows up
    as a cos mismatch here.  Odd dim (7) and negative components exercise
    non-commutative-rounding-sensitive sums; block counts cover one-big-
    matmul and near-empty blocks."""
    import numpy as np

    rng = np.random.RandomState(13)
    rows = [(int(i), [float(x) for x in rng.randn(7) * (1 + i % 5)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        cosine_topk_routed_double,
        similarity_topk,
    )

    q = df.filter(F.col("vec_id") < 5)
    a = sorted(
        map(
            tuple,
            similarity_topk(q, df, k=4, quantized=False)
            .select("q_id", "t_id", "cos", "rnk")
            .collect(),
        )
    )
    for n_blocks in (1, 4, 16):
        c = sorted(
            map(
                tuple,
                cosine_topk_routed_double(q, df, k=4, n_blocks=n_blocks)
                .select("q_id", "t_id", "cos", "rnk")
                .collect(),
            )
        )
        assert c == a, n_blocks


@pytest.mark.parametrize(
    "rung, n_blocks, zero_id, side",
    [
        pytest.param("double", 2, 2, "q_id", id="2-q_id"),
        pytest.param("double", 2, 17, "t_id", id="17-t_id"),
        pytest.param("quantized", 16, 2, "q_id", id="quantized-2-q_id"),
        pytest.param("quantized", 16, 17, "t_id", id="quantized-17-t_id"),
        pytest.param("ivf", None, 2, "q_id", id="ivf-2-q_id"),
        pytest.param("ivf", None, 17, "t_id", id="ivf-17-t_id"),
    ],
)
def test_cosine_topk_routed_double_rejects_zero_norm(spark, rung, n_blocks, zero_id, side):
    """A zero vector has no cosine: the expression path yields NULL, which
    Spark's DESC window ranks last, while the cosine kernel's NaN crosses
    Arrow as NaN and would rank FIRST.  So every rung on the cosine kernel
    (double, quantized, and IVF with every cell probed) must fail loudly,
    naming the vector, instead of silently diverging from its expression
    reference.  A zero query (id < 5) is a zero corpus vector too; a zero
    corpus-only vector (id 17) must still fail.  (Under ANSI the expression
    path raises DIVIDE_BY_ZERO instead, so it runs non-ANSI here.)"""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_routed,
        cosine_topk_routed_double,
        ivf_topk_prebuilt,
        ivf_topk_prebuilt_routed,
        similarity_topk,
    )

    def non_ansi(run):
        prev = spark.conf.get("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            return run()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)

    rows = [
        (i, [0.0, 0.0, 0.0] if i == zero_id else [1.0 + i, -0.5, 0.25 * i])
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    q = df.filter(F.col("vec_id") < 5)
    if rung == "ivf":
        # three cells, all probed, so the zero vector's cell is always scored
        cents = df.filter(F.col("vec_id").between(5, 7))
        index = non_ansi(lambda: build_ivf_index(df, cents).localCheckpoint())
        reference, routed = (
            lambda: ivf_topk_prebuilt(q, index, cents, k=3, nprobe=3),
            lambda: ivf_topk_prebuilt_routed(q, index, cents, k=3, nprobe=3),
        )
    else:
        rung_fn = cosine_topk_routed_double if rung == "double" else cosine_topk_routed
        reference, routed = (
            lambda: similarity_topk(q, df, k=3, quantized=rung == "quantized"),
            lambda: rung_fn(q, df, k=3, n_blocks=n_blocks),
        )
    if side == "t_id":
        # the expression reference: NULL cosine, ranked last, so the zero
        # corpus vector is excluded from every top-3
        ref = non_ansi(lambda: reference().collect())
        assert len(ref) == 15 and all(r.t_id != zero_id for r in ref)
    with pytest.raises(Exception, match=rf"zero-norm.*{side}=\[[^]]*\b{zero_id}\b"):
        routed().collect()


# ----------------------------------------------------- NULL-input pins ----
def test_bloom_null_keys_pass_through_to_exact_check(spark):
    """NULL keys hash to one constant position set (concat_ws drops NULLs),
    so NULL probe rows survive the prefilter when the build saw any NULL —
    conservative (no false negative) and resolved by the exact join, which
    never matches on NULL equality."""
    keys = spark.createDataFrame([(1,), (None,)], "k LONG")
    bloom = bloom_build(keys, "k", m_bits=256, k=3)
    big = spark.createDataFrame([(1,), (99,), (None,)], "k LONG")
    kept = {(r.k is None, r.k) for r in bloom_prefilter(big, "k", bloom, m_bits=256, k=3).collect()}
    assert (False, 1) in kept and (True, None) in kept


def test_cms_nulls_collapse_to_one_pseudo_item(spark):
    items = spark.createDataFrame([(1,), (None,), (None,)], "item LONG")
    cms = count_min_build(items, "item", depth=2, width=8)
    est = {
        (r.item is None): r.cms_est
        for r in count_min_estimate(items.distinct(), "item", cms, depth=2, width=8).collect()
    }
    assert est[False] >= 1 and est[True] >= 2  # both NULLs land in one cell set


def test_mad_null_values_are_neither_flagged_nor_inliers(spark):
    df = spark.createDataFrame(
        [("g", 1), ("g", 2), ("g", 3), ("g", None)], "grp STRING, v LONG"
    )
    out = mad_outlier_filter(df, "grp", "v", 3.0).collect()
    assert len(out) == 4
    assert [r.is_outlier for r in out if r.v is None] == [None]
    assert all(r.is_outlier is not None for r in out if r.v is not None)


# -------------------------------------------- ADVICE r4 regression pins ----
def test_quantize_np_half_up_matches_spark_round_at_dyadic_values(spark):
    """Dyadic embedding values land exactly on .5 after scaling (0.0625*1000
    = 62.5): Spark/DuckDB round half away from zero, np.rint half-even —
    quantize_np must replicate the former (ADVICE r4, high)."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        quantize_np,
        quantize_vec,
    )

    vals = [0.0625, 0.1875, -0.0625, -0.1875, 0.5, -0.5, 0.1, -0.1]
    df = spark.createDataFrame([(1, vals)], "vec_id LONG, embedding ARRAY<FLOAT>")
    [row] = df.select(quantize_vec(F.col("embedding")).alias("q")).collect()
    got = list(quantize_np([float(v) for v in vals]))
    assert got == list(row.q)
    assert got[:4] == [63, 188, -63, -188]  # .5-landing cases, half AWAY from zero


def test_ivf_routed_serving_matches_expression_path_dyadic(spark):
    """ivf_topk_prebuilt_routed (no driver collect of queries) must be
    bit-identical to ivf_topk_prebuilt, at .5-landing dyadic values and on
    a random-normal corpus."""
    import random

    import numpy as np

    from cell_kn_mvp_etl_ontologies_spark.operators.clustering import kmeans_fit
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_prebuilt,
        ivf_topk_prebuilt_routed,
    )

    rnd = random.Random(13)
    dyadic = [
        (int(i), [rnd.randrange(-16, 17) / 16.0 for _ in range(8)]) for i in range(90)
    ]
    rng = np.random.RandomState(11)
    normal = [(int(i), [float(x) for x in rng.randn(8)]) for i in range(120)]
    for rows, n_q in ((dyadic, 5), (normal, 6)):
        em = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
        cents = kmeans_fit(em, "vec_id", "embedding", k=4, n_iter=1)
        centroids = em.sparkSession.createDataFrame(
            [(int(r.cell), [v / 1000.0 for v in r.cv]) for r in cents.collect()],
            "vec_id LONG, embedding ARRAY<FLOAT>",
        )
        index = build_ivf_index(em, centroids)
        q = em.filter(F.col("vec_id") < n_q)
        a = sorted(map(tuple, ivf_topk_prebuilt(q, index, centroids, k=3, nprobe=2).collect()))
        b = sorted(
            map(tuple, ivf_topk_prebuilt_routed(q, index, centroids, k=3, nprobe=2).collect())
        )
        assert a == b, n_q


def test_routed_ivf_rungs_never_broadcast_the_query_batch(spark):
    """The routed IVF rungs take each query's quantized vector from the
    probe map, so no query-side join, hence no broadcast, appears in their
    plans at any batch size — here 20,001 queries, past the 20,000-row
    bound the removed driver-collect twins enforced — and both still return
    their expression references' rows."""
    from cell_kn_mvp_etl_ontologies_spark.operators.pq import (
        ivf_pq_topk,
        ivf_pq_topk_routed,
        pq_encode,
        pq_train_codebooks,
    )
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
        ivf_topk_prebuilt,
        ivf_topk_prebuilt_routed,
    )

    def vecs(ids):
        # deterministic, never-zero 4-dim vectors from the id
        return ids.select(
            F.col("id").alias("vec_id"),
            F.array(*[
                ((F.col("id") * p + i) % 17 + 1).cast("float") / F.lit(16.0)
                - F.lit(0.5 if i % 2 else 0.0).cast("float")
                for i, p in enumerate((7, 11, 13, 5))
            ]).alias("embedding"),
        )

    corpus = vecs(spark.range(40))
    queries = vecs(spark.range(1000, 21001))
    centroids = corpus.filter(F.col("vec_id") < 3)
    # the index artifacts are checkpointed leaves, so any broadcast left in
    # a routed plan would be on the query side
    index = build_ivf_index(corpus, centroids).localCheckpoint()
    books = pq_train_codebooks(corpus, m=2, ksub=4, n_iter=1)
    codes = pq_encode(corpus, books, m=2)
    cells = ivf_assign(corpus, centroids, nprobe=1).select(
        F.col("vec_id").alias("t_id"), "cell"
    )
    index_codes = cells.join(codes, "t_id").localCheckpoint()
    for routed, ref in (
        (
            ivf_topk_prebuilt_routed(queries, index, centroids, k=2, nprobe=1),
            ivf_topk_prebuilt(queries, index, centroids, k=2, nprobe=1),
        ),
        (
            ivf_pq_topk_routed(queries, index_codes, centroids, books, k=2, nprobe=1, m=2),
            ivf_pq_topk(queries, corpus, centroids, books, k=2, nprobe=1, m=2,
                        codes=codes, corpus_cells=cells),
        ),
    ):
        plan = routed._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        got = sorted(map(tuple, routed.collect()))
        assert len(got) == 2 * 20_001
        assert got == sorted(map(tuple, ref.collect()))


def test_km_position_overflow_guard(spark):
    """md5-portable KM hashing overflows int64 at k >= 9 (60-bit h1/h2);
    the builders must refuse instead of emitting negative positions."""
    import pytest as _pytest

    keys = spark.createDataFrame([(1,)], "k LONG")
    with _pytest.raises(ValueError, match="at most 8 positions"):
        bloom_build(keys, "k", m_bits=256, k=9, portable=True)
    with _pytest.raises(ValueError, match="at most 16 positions"):
        bloom_build(keys, "k", m_bits=256, k=17, portable=False)
    with _pytest.raises(ValueError, match="at most 8 positions"):
        count_min_build(keys, "k", depth=9, width=8, portable=True)
    # boundary cases stay legal and produce non-negative positions
    b8 = bloom_build(keys, "k", m_bits=256, k=8, portable=True)
    assert all(int(w) >= 0 for w in b8.collect()[0][0].values())
    b16 = bloom_build(keys, "k", m_bits=256, k=16, portable=False)
    assert all(int(w) >= 0 for w in b16.collect()[0][0].values())


def test_unigram_lm_vocab_validation_and_nonpositive_freq(spark):
    """Supplied vocab must carry (tok, freq); freq < 1 rows are treated as
    OOV instead of silently dropping the token's bits (ADVICE r4)."""
    import pytest as _pytest

    from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import (
        unigram_lm_scores,
    )

    docs = spark.createDataFrame([(1, "good bad")], "doc_id LONG, text STRING")
    bad_cols = spark.createDataFrame([("good", 16)], "token STRING, freq LONG")
    with _pytest.raises(ValueError, match="must have columns"):
        unigram_lm_scores(docs, "text", "doc_id", vocab=bad_cols)

    vocab = spark.createDataFrame(
        [("good", 16), ("bad", 0)], "tok STRING, freq LONG"
    )
    [r] = unigram_lm_scores(docs, "text", "doc_id", vocab=vocab).collect()
    # 'bad' (freq=0) counts as OOV and contributes 0 bits; 'good' gives 4
    assert (r.n_tokens, r.oov_tokens, r.score_bits) == (2, 1, 4)


def test_ivf_assign_vectorized_bit_identical(spark):
    """The numpy probe map of the routed IVF rungs (``_ivf_probe``) must
    assign exactly as ivf_assign — including (c_cos, cell) tie-breaks — on
    dyadic .5-landing embeddings."""
    import random

    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        _ivf_probe,
        ivf_assign,
    )

    rnd = random.Random(23)
    rows = [
        (int(i), [rnd.randrange(-16, 17) / 16.0 for _ in range(8)]) for i in range(60)
    ]
    # duplicate a vector so at least one exact cosine tie exists
    rows.append((60, list(rows[0][1])))
    em = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = em.filter(F.col("vec_id") < 5)
    for nprobe in (1, 3):
        a = sorted(
            (r.vec_id, r.cell, r.probe_rank)
            for r in ivf_assign(em, cents, nprobe=nprobe).collect()
        )
        b = sorted(
            (r.vec_id, r.cell, r.probe_rank)
            for r in _ivf_probe(em, cents, nprobe, 1000).collect()
        )
        assert a == b


# --------------------------------------------------------------------------
# bounded-driver guards — every contract-bounded collect fails loudly
# --------------------------------------------------------------------------
def _vecs(spark, n, dim=4):
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_driver_bound_guards_fail_loudly(spark):
    """VERDICT r7 #9: each documented |Q|/size contract raises
    DriverBoundExceeded (naming the scale path) when exceeded, instead of
    silently degrading into a driver bottleneck."""
    import pytest

    from cell_kn_mvp_etl_ontologies_spark.operators.guards import (
        DriverBoundExceeded,
        check_driver_bound,
    )

    # the helper itself
    check_driver_bound(10, 10, "site", "alt")  # at the bound: fine
    with pytest.raises(DriverBoundExceeded, match="site.*alt"):
        check_driver_bound(11, 10, "site", "alt")

    df = _vecs(spark, 30)

    # bloom literal m_bits cap — pure parameter check, no job
    from cell_kn_mvp_etl_ontologies_spark.operators.sketches import (
        bloom_prefilter_materialized,
    )

    with pytest.raises(DriverBoundExceeded, match="bloom_prefilter"):
        bloom_prefilter_materialized(
            df, "vec_id", spark.range(1), m_bits=1 << 28
        )
