"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Queries are the engine's heavy paths: scan+agg, broadcast join + top-k,
triples-shaped dedup+pivot, MinHash LSH (uncapped continuity row + the
stop-template capped twin), the full ANN ladder on the shared 80k corpus
(brute-force double and quantized cosine through the routed top-k kernel,
IVF serving, cogroup-routed serving at |Q|=10k, routed IVF-PQ, routed
MaxSim through the same kernel, PQ shortlist+rerank, binary Hamming
scan), windowed running sums,
as-of join, inverted/positional indexes, BM25, training curation, CDC,
graph analytics, and the flagship ontology build.  Results are
materialized with the noop sink so timings measure full compute without
driver collection.  Methodology (warm session, min-of-3 with
inter-iteration GC, one-time ANN/PQ index builds amortized via _ANN_STATE
local checkpoints, which the inter-query clearCache leaves in place,
sentinel-normalized cross-round comparison) is pinned in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.io import load_table, parallelize
from cell_kn_mvp_etl_ontologies_spark.operators.aggregates import agg_pivot_vertex_attrs
from cell_kn_mvp_etl_ontologies_spark.operators.asof import join_asof
from cell_kn_mvp_etl_ontologies_spark.operators.dedup import dedup_minhash_lsh
from cell_kn_mvp_etl_ontologies_spark.operators.similarity import similarity_topk
from cell_kn_mvp_etl_ontologies_spark.operators.windows import window_rank_topk, window_running_sum
from cell_kn_mvp_etl_ontologies_spark.search import build_inverted_index, text_en_no_stem_tokens
from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

# Normalized acceptance bands (BASELINE.md §"Normalized acceptance baseline",
# incl. the later own-band rows and the r10 graph_build re-base).  Used by
# the self-settlement pass (VERDICT r10 #4): after the min-of-3 sweep, the
# ≤3 worst rows reading over 1.2× their band are re-measured min-of-5 under
# a freshly sentinel-normalized window and reported as `queries_settled` —
# the automated form of the manual settlement cycles rounds 8-10 each spent.
ACCEPTANCE_BANDS = {
    "q1_pricing_summary": 0.75,
    "q3_top_revenue": 1.17,
    "graph_pivot": 1.48,
    "minhash_dedup": 2.94,
    "cosine_topk": 1.25,
    "running_windows": 0.54,
    "asof_events": 0.98,
    "inverted_index": 0.98,
    "ann_lsh": 1.16,
    "positional_index": 1.42,
    "training_pipeline": 2.31,
    "cdc_diff": 1.87,
    "triangle_copurchase": 2.28,
    "pagerank_orders": 3.59,
    "bm25_documents": 2.63,
    "graph_build_full": 7.20,
    "cosine_topk_80k": 5.52,
    "cosine_topk_80k_vec": 2.97,
    "ann_ivf_80k": 2.35,
    "minhash_dedup_capped": 1.81,
    "ann_ivf_routed_10k": 8.45,
    "ann_pq_rerank_80k": 2.47,
    "ann_hamming_80k": 1.80,
    "ann_ivf_pq_80k": 2.12,
    "maxsim_routed_10k": 7.48,
    "cdc_chunks_5k": 5.74,
    "graph_wire_sink": 2.55,
    "novelty_ivm_200": 2.51,
    "stream_ivf_pq_serve_120": 3.16,
}


def q1_pricing_summary(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_top_revenue(spark):
    c = load_table(spark, SF_DIR, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    rev = joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )
    return rev.orderBy(F.col("revenue").desc(), "o_orderkey").limit(10)


def graph_pivot(spark):
    """Triples-shaped pipeline on lineitem: dedup then long->MAP pivot (the
    vertex-document assembly shape)."""
    # hash-repartition by the aggregation key: one exchange satisfies the
    # dedup AND both pivot aggregations (their grouping keys all contain id),
    # and it restores parallelism lost to the single-row-group scan
    li = load_table(spark, SF_DIR, "lineitem").repartition(CPUS * 2, "l_orderkey")
    rows = li.select(
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").cast("string").alias("number"),
        F.concat(F.lit("P"), (F.col("l_partkey") % 20).cast("string")).alias("attr"),
        F.col("l_extendedprice").cast("string").alias("value"),
    ).dropDuplicates(["id", "number", "attr", "value"])
    return agg_pivot_vertex_attrs(rows)


def minhash_dedup(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 100 < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    # portable=True (md5) measured FASTER than the xxhash64 variant here:
    # one digest is CSE'd across h1/h2, while two xxhash64 calls evaluate
    # separately (A/B at sf0.1: md5 ~2-4s vs xxhash ~5-6s)
    return dedup_minhash_lsh(
        parallelize(docs.unionByName(dups)), "text", "doc_id",
        shingle_width=5, prefix_len=200, n_hashes=8, n_bands=4,
    )


def minhash_dedup_capped(spark):
    """The stop-template twin of minhash_dedup (VERDICT r4 #4): identical
    pipeline with overcrowded band buckets (>50 members) dropped before
    pair expansion.  The uncapped headline's cost tail is candidate-pair
    VOLUME (868k real pairs, one 736-doc bucket — SCALE.md
    §minhash-profile), so this is the scale lever, not a shortcut: at
    100 TB an uncapped template bucket is quadratic death, the cap bounds
    every bucket's work."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 100 < 5).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup_minhash_lsh(
        parallelize(docs.unionByName(dups)), "text", "doc_id",
        shingle_width=5, prefix_len=200, n_hashes=8, n_bands=4, max_bucket=50,
    )


def cosine_topk(spark):
    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    q = em.filter(F.col("vec_id") < 50)
    return similarity_topk(q, parallelize(em), k=10, quantized=False)


def _expanded_embeddings(spark, times: int = 40):
    """Deterministic ~times× corpus synthesized from the sf embeddings table
    (per-dim jittered replicas): the sf0.1 table is only 2k vectors, far too
    small for the brute-force-vs-ANN crossover to show, so the similarity
    headline runs at 80k×64 where candidate pruning is the whole game."""
    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    reps = spark.range(times).select(F.col("id").cast("int").alias("rep"))
    out = em.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") * times + F.col("rep")).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (x * (1.0 + ((i + F.col("rep") * 7) % 13) / 40.0)).cast("float"),
        ).alias("embedding"),
    )
    return out.repartition(CPUS * 2)


def cosine_topk_80k(spark):
    """Brute-force twin of ann_ivf_80k on the identical corpus — the recall
    ground truth and the O(N·Q) cost the IVF path exists to avoid.

    Round 15 (VERDICT r14 #3): served through the blocked Arrow scorer
    (cosine_topk_routed_double) instead of the BroadcastNestedLoopJoin +
    per-pair interpreted HOF fold.  The scorer replays the fold's
    sequential IEEE association, so the output — including every double
    cos value — is bit-identical to similarity_topk(quantized=False),
    pinned by ``git show 3609c14:tools/probe_cosine_double_ab.py`` (500/500
    rows equal at this
    exact shape) and by tests/test_sketches.py::
    test_cosine_topk_routed_double_bit_identical_to_expression.  The small
    cosine_topk row above stays on the expression path as the reference
    rung."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        cosine_topk_routed_double,
    )

    corpus = _expanded_embeddings(spark)
    q = corpus.filter(F.col("vec_id") < 50)
    return cosine_topk_routed_double(q, corpus, k=10, n_blocks=CPUS * 2)


def cosine_topk_80k_vec(spark):
    """Routed-cogroup brute twin of cosine_topk_80k (quantized; gate- and
    test-proven bit-identical to similarity_topk(quantized=True), the
    catalog row similarity_topk_routed): hash-blocked targets × block-
    replicated queries, one int64 matmul per block through routed_topk —
    NO driver collect on either side (VERDICT r7 #2)."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        cosine_topk_routed,
    )

    corpus = _expanded_embeddings(spark)
    q = corpus.filter(F.col("vec_id") < 50)
    return cosine_topk_routed(q, corpus, k=10, n_blocks=CPUS * 2)


_ANN_STATE: dict = {}


def ann_ivf_80k(spark):
    """Similarity headline (VERDICT r3 #2): k-means-trained IVF ANN serving
    path — probe 50 queries against a prebuilt 64-cell index of the 80k
    corpus at nprobe=8 (8× candidate pruning vs brute force).

    The index (train quantizer -> assign corpus -> partition by cell) builds
    ONCE on first call into eager local checkpoints: it is the
    per-corpus-version offline cost that amortizes over every query batch,
    exactly as at 100 TB, so min-of-3 records the steady-state serving cost.
    Checkpoint blocks survive the inter-query clearCache(), so later ANN
    rows serve from them instead of recomputing them from lineage.  The
    build wall-time is recorded separately in BASELINE.md; the recall of
    this same path is hash-gated by the catalog's similarity_ann_recall
    query."""
    from cell_kn_mvp_etl_ontologies_spark.operators.clustering import kmeans_fit
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_prebuilt,
    )

    if "index" not in _ANN_STATE:
        corpus = _expanded_embeddings(spark).localCheckpoint(eager=True)
        cents = kmeans_fit(corpus, "vec_id", "embedding", k=64, n_iter=2)
        centroids = cents.select(
            F.col("cell").cast("long").alias("vec_id"),
            F.transform("cv", lambda x: (x / 1000.0).cast("float")).alias("embedding"),
        ).localCheckpoint(eager=True)
        index = build_ivf_index(corpus, centroids, n_partitions=CPUS * 2).localCheckpoint(
            eager=True
        )
        _ANN_STATE["corpus"] = corpus
        _ANN_STATE["centroids"] = centroids
        _ANN_STATE["index"] = index
    q = _ANN_STATE["corpus"].filter(F.col("vec_id") < 50)
    return ivf_topk_prebuilt(q, _ANN_STATE["index"], _ANN_STATE["centroids"], k=10, nprobe=8)


def _ensure_ivf_pq_artifacts(spark):
    """Build-once offline artifacts shared by the PQ rungs: trained
    codebooks + codes (m=8, ksub=64) and the cell-keyed (cell, t_id,
    codes) index joined from the IVF assignment — local checkpoints in
    _ANN_STATE, which the bench's inter-query clearCache() leaves in place."""
    from cell_kn_mvp_etl_ontologies_spark.operators.pq import (
        pq_encode_vectorized,
        pq_train_codebooks,
    )

    if "pq_codes" not in _ANN_STATE:
        ann_ivf_80k(spark)  # shares the checkpointed corpus + centroids + index
        corpus = _ANN_STATE["corpus"]
        books = pq_train_codebooks(corpus, m=8, ksub=64, n_iter=2).localCheckpoint(eager=True)
        codes = pq_encode_vectorized(corpus, books, m=8).localCheckpoint(eager=True)
        index_codes = (
            _ANN_STATE["index"].select("cell", "t_id")
            .join(codes, on="t_id")
            .select("cell", "t_id", "codes")
            .repartition(CPUS, "cell")
            .localCheckpoint(eager=True)
        )
        _ANN_STATE["pq_books"] = books
        _ANN_STATE["pq_codes"] = codes
        _ANN_STATE["ivf_pq_index"] = index_codes


def ann_pq_rerank_80k(spark):
    """Product-quantization serving on the 80k corpus: trained per-subspace
    codebooks (m=8, ksub=64) compress each 64-dim vector to 8 codes;
    serving is ADC shortlist(100) over the codes + exact re-rank of the
    shortlist only — measured recall@10 = 1.000 against exact L2 on this
    corpus (SCALE.md §pq).

    Round 7 (VERDICT r6 #2 — the r6 2× band breach): the shortlist stage
    now runs through the ROUTED cogroup (pq_adc_rerank_topk_routed,
    nprobe = all 64 cells == exact full-ADC shortlist, bit-identical by
    test) instead of the expression code-fetch + LUT-sum exchanges — the
    same shape change that took IVF-PQ serving from 7.4 s to 1.5 s.  New
    path, own BASELINE.md band.  Artifacts build once (~45 s) and are kept;
    min-of-3 times the steady-state two-stage serve."""
    from cell_kn_mvp_etl_ontologies_spark.operators.pq import pq_adc_rerank_topk_routed

    _ensure_ivf_pq_artifacts(spark)
    q = _ANN_STATE["corpus"].filter(F.col("vec_id") < 50)
    return pq_adc_rerank_topk_routed(
        q, _ANN_STATE["corpus"], _ANN_STATE["ivf_pq_index"], _ANN_STATE["centroids"],
        _ANN_STATE["pq_books"], k=10, shortlist=100, m=8,
    )


def ann_ivf_pq_80k(spark):
    """Routed IVF-PQ serving on the 80k corpus (round 6): the canonical
    production rung — IVF routing prunes candidates (same trained 64-cell
    quantizer as ann_ivf_80k, nprobe=8), the probed cells' CODES (m=8
    trained codebooks shared with ann_pq_rerank_80k) are ADC-scored by the
    cogrouped per-cell LUT gather (operators/pq.py ivf_pq_topk_routed,
    bit-identical to the expression path — shared catalog oracle +
    tests/test_pq.py).  The offline artifact (cell, t_id, codes) builds
    once and is kept; min-of-3 times pure serving.  The expression-path
    twin measured 7.4-8.3 s on this exact workload (its keyed code-fetch +
    LUT-sum exchanges; recorded in SCALE.md §pq) — the routed cogroup is
    the scale shape for both speed and the no-driver-term cost model."""
    from cell_kn_mvp_etl_ontologies_spark.operators.pq import ivf_pq_topk_routed

    _ensure_ivf_pq_artifacts(spark)
    q = _ANN_STATE["corpus"].filter(F.col("vec_id") < 50)
    return ivf_pq_topk_routed(
        q,
        _ANN_STATE["ivf_pq_index"],
        _ANN_STATE["centroids"],
        _ANN_STATE["pq_books"],
        k=10,
        nprobe=8,
        m=8,
    )


def ann_hamming_80k(spark):
    """Binary sign-Hamming scan over the 80k corpus (round 5): 64 float
    dims packed to two 32-bit words, distance = xor + bit_count — the
    cheapest candidate generator in the ANN ladder, pure codegen'd integer
    ALU the whole way.  Brute-force over all 80k x 50 pairs to show the
    raw scan rate of the compressed representation."""
    from cell_kn_mvp_etl_ontologies_spark.operators.pq import hamming_topk

    ann_ivf_80k(spark)  # shared checkpointed corpus
    corpus = _ANN_STATE["corpus"]
    q = corpus.filter(F.col("vec_id") < 50)
    return hamming_topk(q, corpus, k=10)


def ann_ivf_routed_10k(spark):
    """Large-batch IVF serving (VERDICT r4 #2): |Q| = 10,000 queries against
    the same prebuilt 80k-corpus index via ivf_topk_prebuilt_routed — the
    fully-distributed cogroup path with NO driver collect of the query side.
    A driver-collect design would ship a 10k x 64 matrix (plus a 10k-entry
    routing dict) through the driver; the routed path emits each query's
    vector from the probe map and scores each cell with one executor-side
    matmul.  Bit-identity to ivf_topk_prebuilt at this
    exact shape is asserted by tools/verify_routed_ann.py (run once per
    round; recorded in SCALE.md)."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        ivf_topk_prebuilt_routed,
    )

    ann_ivf_80k(spark)  # ensure the shared index exists (built once)
    q = _ANN_STATE["corpus"].filter(F.col("vec_id") < 10000)
    return ivf_topk_prebuilt_routed(
        q, _ANN_STATE["index"], _ANN_STATE["centroids"], k=10, nprobe=8
    )


def maxsim_routed_10k(spark):
    """Multi-vector MaxSim serving (round-7 continuation): the 80k expanded
    corpus regrouped into 10k 8-token documents, 50 query docs served
    through the cogrouped-vectorized routed path (64 cells, nprobe=8 — 8×
    candidate pruning, the IVF posture).  Times the END-TO-END operator
    (summaries + seeding + assignment + per-cell int64 matmuls + global
    top-k): routing is two aggregations + an O(n_cells) broadcast, i.e.
    the per-corpus-version cost is in the same run — unlike the prebuilt
    ANN rungs there is no hidden offline stage.  Bit-identity of this
    exact path to the brute/expression twins is hash-gated at sf0.01
    (similarity_maxsim_routed_vec, shared oracle constant).

    Round 8 (VERDICT r7 #5) measured the trained-cells A/B AT THIS EXACT
    CORPUS/SHAPE (``git show 3609c14:tools/probe_maxsim_trained_recall.py``,
    SCALE.md
    §maxsim-trained-serving): trained routing buys recall only at low
    probe fractions (nprobe=1: 0.442→0.500; nprobe=4: 0.542→0.610) and
    is a WASH at this row's nprobe=8 (hash 0.680 vs trained 0.674) while
    adding the k-means pass (~2.3× wall).  So the benched serving path
    stays md5-seeded at nprobe=8 — evidence over expectation."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        maxsim_topk_routed_vectorized,
    )

    corpus = _expanded_embeddings(spark)
    toks = corpus.select(
        F.expr("vec_id div 8").cast("long").alias("t_id"),
        (F.col("vec_id") % 8).cast("long").alias("t_tok"),
        F.col("embedding").alias("vec"),
    )
    q_tokens = toks.filter(F.col("t_id") < 50).select(
        F.col("t_id").alias("q_id"), F.col("t_tok").alias("q_tok"), "vec"
    )
    return maxsim_topk_routed_vectorized(
        q_tokens, toks, k=10, n_cells=64, nprobe=8, scale=1000
    )


def running_windows(spark):
    ev = load_table(spark, SF_DIR, "events")
    out = window_running_sum(ev, ["user_id"], [F.col("ts").asc(), F.col("event_id").asc()], "value")
    return window_rank_topk(
        out, ["user_id"], [F.col("running_sum").desc(), F.col("event_id").asc()], 5
    )


def asof_events(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    return join_asof(ev, o, "user_id", "ts", "o_orderdate", "o_orderkey")


def inverted_index(spark):
    docs = parallelize(load_table(spark, SF_DIR, "documents"))
    return build_inverted_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)


def ann_lsh(spark):
    """LSH-bucketed ANN: bucket join + exact cosine within buckets."""
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        _dot,
        hyperplane_lsh_bucket,
    )

    em = parallelize(load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding"))
    b = hyperplane_lsh_bucket(em, "embedding", n_planes=6).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "lsh_bucket",
    )
    b = b.withColumn("norm", _dot(F.col("v"), F.col("v")))
    q = b.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"), "lsh_bucket",
    )
    t = b.select(
        F.col("vec_id").alias("t_id"), F.col("v").alias("tv"),
        F.col("norm").alias("tn"), "lsh_bucket",
    )
    pairs = q.join(t, on="lsh_bucket").filter(F.col("q_id") != F.col("t_id"))
    scored = pairs.select(
        "q_id", "t_id",
        (_dot(F.col("qv"), F.col("tv")) / F.sqrt(F.col("qn") * F.col("tn"))).alias("cos"),
    )
    return window_rank_topk(
        scored, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], 10
    )


def positional_index(spark):
    from cell_kn_mvp_etl_ontologies_spark.search import build_positional_index

    docs = parallelize(load_table(spark, SF_DIR, "documents"))
    return build_positional_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)


def training_pipeline(spark):
    """Training-data curation path on 600k rows: deterministic hash split →
    stratified downsample → shard assignment → strict greedy sequence
    packing (Arrow applyInPandas per shard) → per-(split, shard) occupancy.
    Measures the md5 projection throughput and the Arrow round-trip of the
    packer under real row counts (documents is only 5k rows at sf0.1)."""
    from cell_kn_mvp_etl_ontologies_spark.operators.training import (
        assign_shards,
        pack_sequences_greedy,
        sample_stratified,
        split_train_val_test,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("doc_id"),
        F.col("l_returnflag").alias("stratum"),
        F.greatest((F.col("l_quantity") * 4).cast("long"), F.lit(1)).alias("tokens"),
    )
    rows = split_train_val_test(li, "doc_id")
    rows = sample_stratified(rows, "stratum", {"A": 0.9, "N": 0.5, "R": 0.25}, "doc_id")
    rows = assign_shards(rows, "doc_id", 64).select("doc_id", "split", "shard", "tokens")
    # split rides through the packer (passthrough) — joining it back on
    # doc_id afterwards would be a full extra shuffle of both sides
    packed = pack_sequences_greedy(rows, "shard", "doc_id", "tokens", 2048, passthrough=["split"])
    stats = packed.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("bin") + 1).alias("n_bins"),
        F.sum("tokens").alias("tokens"),
    )
    return stats


def cdc_diff(spark):
    """Snapshot differencing on the 600k-row fact table: measures the
    to_json row-fingerprint projection + the keys-and-8-bytes full-outer
    join (operators/incremental.py) at real width (6 columns in, 2 out)."""
    from cell_kn_mvp_etl_ontologies_spark.operators.incremental import snapshot_diff

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_shipdate", "l_returnflag",
    )
    prev = li.filter(F.col("l_orderkey") % 97 != 0)
    curr = li.filter(F.col("l_orderkey") % 89 != 0).withColumn(
        "l_quantity",
        F.when(F.col("l_orderkey") % 7 == 0, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    return snapshot_diff(curr, prev, keys=["l_orderkey", "l_linenumber"])


def triangle_copurchase(spark):
    """Degree-oriented triangle counting (plans/graph_query.py) on the
    co-purchase graph: ~100k+ distinct part-pair edges with organic hub
    skew from popular parts — exercises the checkpointed wedge join."""
    from cell_kn_mvp_etl_ontologies_spark.plans.graph_query import (
        canonical_undirected,
        triangle_count,
    )

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), on="l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    )
    return triangle_count(canonical_undirected(pairs))


def pagerank_orders(spark):
    """Integer-scaled PageRank, 5 iterations, on the order→part graph
    (~300k distinct edges at sf0.1): measures the per-iteration join+agg
    cadence and the localCheckpoint lineage truncation under real fan-in."""
    from cell_kn_mvp_etl_ontologies_spark.plans.graph_query import pagerank_integer

    li = load_table(spark, SF_DIR, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 50000).alias("src"),
        (F.col("l_partkey") % 20000).alias("dst"),
    )
    return pagerank_integer(edges, n_iter=5)


def bm25_documents(spark):
    """Integer-BM25 ranked retrieval over the full documents table: the
    token-stream aggregation cascade (tf → dl → totals/df) plus the scored
    top-k — measures text-scoring throughput per token."""
    from cell_kn_mvp_etl_ontologies_spark.search import text_en_no_stem_tokens
    from cell_kn_mvp_etl_ontologies_spark.search.ranking import bm25_rank_integer

    docs = parallelize(load_table(spark, SF_DIR, "documents"))
    return bm25_rank_integer(
        docs, ["doc_id"], "text", ["data", "processing", "pipeline", "model"],
        text_en_no_stem_tokens, k=20,
    )


def graph_build_full(spark):
    """The flagship ontology pipeline on ~600k synthetic triples: URI/VTuple
    parse chains, predicate labeling, vertex pivot, deprecated filter, edge
    dedup + endpoint semi-joins — the whole build_graph DAG, not just the
    pivot shape.

    clearCache() first: build_graph persists dimension intermediates, and
    Spark's CacheManager matches the second timed iteration's identical plan
    to the first iteration's cache — without the clear, min-of-2 would time a
    partially cached run, not the full build.  persist_clean=True because a
    production run materializes clean triples once rather than recomputing
    the flatten+dedup subtree per consumer: build_graph checkpoints them
    eagerly (inside this call, so inside the timed region), and the URI-dim,
    vertex and edge plans start from that leaf instead of carrying its
    lineage.  The on/off A/B is in tools/profile_graph_build.py; against a
    lazy persist of the same frame the checkpoint measured min-of-3 8.5 vs
    9.7 s at sf0.1 (medians of 6 alternating process pairs, 5 won, local[4]
    on a 4-vCPU host)."""
    from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms
    from cell_kn_mvp_etl_ontologies_spark.plans import build_graph

    spark.catalog.clearCache()
    g = build_graph(synthetic_clean_triples(spark), fixture_ro_terms(spark), persist_clean=True)
    return g.edges


def synthetic_clean_triples(spark):
    """The graph rows' build input: ~600k synthetic triples, one per sf
    lineitem row (two in three a CL → GO subClassOf edge, the rest a
    label), cleaned the way a raw triple store is before ``build_graph``."""
    from cell_kn_mvp_etl_ontologies_spark.fixtures import OBO, RDFS
    from cell_kn_mvp_etl_ontologies_spark.plans import clean_triples

    li = parallelize(load_table(spark, SF_DIR, "lineitem"))
    subj = F.concat(
        F.lit(OBO + "CL_"), F.lpad((F.col("l_orderkey") % 100000).cast("string"), 7, "0")
    )
    obj = F.concat(
        F.lit(OBO + "GO_"), F.lpad((F.col("l_partkey") % 50000).cast("string"), 7, "0")
    )
    is_edge = (F.col("l_linenumber") % 3) != 0
    triples = li.select(
        F.lit("synthetic.owl").alias("src_file"),
        subj.alias("subject"),
        F.when(is_edge, F.lit(RDFS + "subClassOf"))
        .otherwise(F.lit(RDFS + "label"))
        .alias("predicate"),
        F.when(is_edge, F.lit("iri")).otherwise(F.lit("literal")).alias("object_kind"),
        F.when(is_edge, obj).alias("object_iri"),
        F.when(~is_edge, F.concat(F.lit("label for "), subj)).alias("object_lexical"),
        F.lit(None).cast("string").alias("object_lang"),
        F.lit(None).cast("string").alias("object_datatype"),
    )
    return clean_triples(triples, keep_src_file=False)


_WIRE_STATE: dict = {}


def _ensure_wire_state(spark):
    """Offline artifacts for the wire-sink row: the sf0.1 graph (built once,
    persisted — the per-corpus-version cost every ANN row also amortizes)
    and an in-process bulk-document HTTP server (started once; counts
    requests/bytes per collection WITHOUT parsing JSON, so the server never
    becomes the bottleneck being measured)."""
    if "vertices" not in _WIRE_STATE:
        import threading
        from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

        from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms
        from cell_kn_mvp_etl_ontologies_spark.plans import build_graph

        g = build_graph(
            synthetic_clean_triples(spark), fixture_ro_terms(spark), persist_clean=True
        )
        v = g.vertices.persist()
        e = g.edges.persist()
        _WIRE_STATE["n_vertices"] = v.count()
        _WIRE_STATE["n_edges"] = e.count()
        _WIRE_STATE["vertices"], _WIRE_STATE["edges"] = v, e

        counters = {"requests": 0, "bytes": 0}
        lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                # drain without parsing: the row measures the ENGINE's wire
                # path (serialize + batch + POST), not a python json server
                remaining = n
                while remaining > 0:
                    chunk = self.rfile.read(min(remaining, 1 << 20))
                    if not chunk:  # client died mid-POST: EOF, don't spin
                        return
                    remaining -= len(chunk)
                with lock:
                    counters["requests"] += 1
                    counters["bytes"] += n
                body = b"{}"
                self.send_response(202)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        # 32 executor threads connect concurrently; the default listen
        # backlog (5) drops SYNs under that burst and only the transport's
        # bounded retry hides it — raise it on a SUBCLASS so the stdlib
        # class isn't mutated for every other server in the process
        class _WireServer(ThreadingHTTPServer):
            request_queue_size = 128

        server = _WireServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        _WIRE_STATE["server"] = server
        _WIRE_STATE["counters"] = counters
        _WIRE_STATE["lock"] = lock
        _WIRE_STATE["url"] = f"http://127.0.0.1:{server.server_address[1]}"
    else:
        for key in ("vertices", "edges"):
            _WIRE_STATE[key].persist()


def graph_wire_sink(spark):
    """The live graph-service load path end-to-end (VERDICT r8 #7): POST the
    prebuilt sf0.1 graph to an in-process bulk-document server through the
    production stack — HttpJsonTransport (ArangoDB bulk-endpoint shape,
    stdlib urllib, per-executor connections) driven by
    upsert_graph_via_transport (1000-doc batches per partition and
    collection, bounded retry, vertices-before-edges per
    OntologyGraphBuilder.java:241-273).  The vertices load in one Spark job
    whatever the number of collections: each partition keeps a batch buffer
    per collection.

    What the number guards: serialization + batching + HTTP round trips.
    An N+1 regression (per-doc POSTs) multiplies n_requests ~1000× and the
    wall time with it; a broken batcher shows up the same way.  The graph
    build itself is the amortized offline artifact (graph_build_full times
    it); min-of-3 times steady-state wire load.  The returned 1-row frame
    carries the server's request/byte counters for THIS call, so the
    request count is part of the benched contract, not just the seconds."""
    from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (
        upsert_graph_via_transport,
    )
    from cell_kn_mvp_etl_ontologies_spark.sinks.http_transport import (
        HttpJsonTransport,
    )

    _ensure_wire_state(spark)
    with _WIRE_STATE["lock"]:
        before = dict(_WIRE_STATE["counters"])
    upsert_graph_via_transport(
        _WIRE_STATE["vertices"],
        _WIRE_STATE["edges"],
        HttpJsonTransport(_WIRE_STATE["url"]),
        batch_size=1000,
    )
    with _WIRE_STATE["lock"]:
        after = dict(_WIRE_STATE["counters"])
    return spark.createDataFrame(
        [
            (
                _WIRE_STATE["n_vertices"],
                _WIRE_STATE["n_edges"],
                after["requests"] - before["requests"],
                after["bytes"] - before["bytes"],
            )
        ],
        "n_vertices long, n_edges long, n_requests long, n_bytes long",
    )


def cdc_chunks_5k(spark):
    """Content-defined-chunking near-dup over the FULL 5k-document payload
    corpus plus 500 planted middle-edit copies, on the PRODUCTION path:
    Arrow mapInPandas chunking (numpy rolling-hash boundaries inside the
    task, only (id, hash) rows emitted — zero shuffle for the chunking
    stage), then the chunk-hash census equi-join + Jaccard-ppm refine.
    Bit-identical to the relational gate form (pinned in
    tests/test_frontier4.py); the relational form's measured cost at this
    scale is recorded in SCALE.md §cdc for the comparison."""
    from cell_kn_mvp_etl_ontologies_spark.operators.cdc import (
        cdc_chunk_hashes_arrow as cdc_chunk_hashes,
    )

    docs = parallelize(load_table(spark, SF_DIR, "documents")).select(
        "doc_id", "text"
    )
    planted = docs.filter(F.col("doc_id") < 500).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 100),
            F.lit("XXEDITXX"),
            F.expr("substring(text, 111)"),
        ).alias("text"),
    )
    corpus = docs.unionByName(planted)
    # Round 14: cset feeds three consumers (census + both sides of the
    # pair join); without a materialization boundary the Arrow chunking
    # pass ran FOUR times per iteration (4 MapInPandas nodes in
    # ``git show 3609c14:plans/r14/cdc_chunks_5k_before.txt``).  An eager localCheckpoint runs
    # it once per timed iteration — per-call, so min-of-3 still pays the
    # full chunking cost every iteration (no cross-iteration cache
    # match).  Interleaved A/B min-of-4: 6.82 s -> 5.77 s, identical 809
    # output rows; at corpus scale this is 4 full scans -> 1.
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
            "a", "b",
            F.expr("CAST(1000000 * n_shared DIV (na + nb - n_shared) AS BIGINT)").alias("jaccard_ppm"),
        )
    )
    return out.filter(F.col("jaccard_ppm") >= 250000)


def stream_ivf_pq_serve_120(spark):
    """The maintain → serve production topology end-to-end (VERDICT r12
    #6): the embeddings stream incrementally builds the IVF-PQ index
    (per-trigger cell assignment + PQ encode, keyed parquet upsert) and
    the routed cogrouped server answers the query workload straight from
    the MAINTAINED table — foreachBatch + state lifecycle + routed ADC
    serving in one number, so a regression anywhere in that machinery
    (N+1 state rewrites, a broken upsert key, a serve-side decode) stops
    being invisible to BENCH.  The 120-vector slice is the gated
    contract's own grain — like novelty_ivm_200, this row times the
    per-trigger FIXED cost of the streaming-index machinery; serving
    scale costs are covered by the ann_ivf_pq_80k batch row."""
    from cell_kn_mvp_etl_ontologies_spark import catalog

    catalog.load_all()
    return catalog.QUERIES["stream_ivf_pq_serve"](spark, SF_DIR)


def novelty_ivm_200(spark):
    """The round-11 novelty IVM end-to-end (VERDICT r11 #7: the heaviest
    round-11 surface gets a first-class band so regressions there stop
    being invisible to BENCH): one availableNow streaming trigger over the
    documents source, per-batch 8-gram census, MIN-semilattice merge into
    the first-seen index, revocation-delta counter fold (the ADVICE r12
    fix), two staged parquet state rewrites, and the read-time novelty
    face.  The 200-doc slice is the gated contract's own grain — what this
    row times is the IVM MACHINERY (trigger + state lifecycle), which is
    exactly the fixed cost every maintainer pays per trigger; census scale
    costs are covered by the batch twin's operators elsewhere."""
    from cell_kn_mvp_etl_ontologies_spark import catalog

    catalog.load_all()
    return catalog.QUERIES["stream_novelty_maintain"](spark, SF_DIR)


BENCH_QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue": q3_top_revenue,
    "graph_pivot": graph_pivot,
    "minhash_dedup": minhash_dedup,
    "minhash_dedup_capped": minhash_dedup_capped,
    "cosine_topk": cosine_topk,
    "cosine_topk_80k": cosine_topk_80k,
    "cosine_topk_80k_vec": cosine_topk_80k_vec,
    "ann_ivf_80k": ann_ivf_80k,
    "ann_ivf_routed_10k": ann_ivf_routed_10k,
    "ann_pq_rerank_80k": ann_pq_rerank_80k,
    "ann_ivf_pq_80k": ann_ivf_pq_80k,
    "ann_hamming_80k": ann_hamming_80k,
    "maxsim_routed_10k": maxsim_routed_10k,
    "running_windows": running_windows,
    "asof_events": asof_events,
    "inverted_index": inverted_index,
    "ann_lsh": ann_lsh,
    "positional_index": positional_index,
    "training_pipeline": training_pipeline,
    "cdc_diff": cdc_diff,
    "triangle_copurchase": triangle_copurchase,
    "pagerank_orders": pagerank_orders,
    "bm25_documents": bm25_documents,
    "graph_build_full": graph_build_full,
    "cdc_chunks_5k": cdc_chunks_5k,
    "graph_wire_sink": graph_wire_sink,
    "novelty_ivm_200": novelty_ivm_200,
    "stream_ivf_pq_serve_120": stream_ivf_pq_serve_120,
}


def main() -> None:
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("cell-kn-spark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + file listing so timings reflect steady-state compute:
    # scan path, then a tiny shuffle + object-hash aggregate so codegen and
    # the ObjectHashAggregate exec are JIT-compiled before the first timing
    load_table(spark, SF_DIR, "lineitem").count()
    (
        spark.range(10000)
        .select((F.col("id") % 100).alias("k"), F.col("id").cast("string").alias("v"))
        .groupBy("k")
        .agg(F.sort_array(F.collect_set("v")).alias("vs"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    # ... and the Arrow/Python-worker path: the first mapInPandas call in a
    # session pays daemon fork + numpy/pandas import + Arrow codec init
    # (~2-3 s on this host) — warm it once so every Arrow-path query
    # (cdc_chunks_5k, the routed ANN rungs, maxsim) measures steady-state
    # compute, the same doctrine as the scan/codegen warmup above
    # (VERDICT r7 #3).
    def _warm(batches):
        import numpy as np  # noqa: F401
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(1000).mapInPandas(_warm, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    # Three timed iterations per query, best-of kept: the object-heavy stages
    # (collect_set states, shingle explodes) generate enough garbage that a
    # full GC pause lands on whichever query happens to be running — min-of-N
    # with an inter-query GC measures steady-state compute, not GC scheduling
    # (this host shows multi-second run-to-run noise; 2 iterations recorded a
    # 30%-high flagship number in round 1).
    # Fault-isolated per query (round-2 postmortem: one analysis error must
    # not zero the whole round's performance evidence) — a failed query is
    # recorded under "errors" and the summary line still prints.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in BENCH_QUERIES.items():
        best = float("inf")
        try:
            for _ in range(3):
                spark._jvm.System.gc()
                t0 = time.time()
                fn(spark).write.mode("overwrite").format("noop").save()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 — keep benchmarking the rest
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
        # Inter-query isolation: drop every cached RDD the query (or its
        # internal persists) left behind, then GC.  Without this, storage
        # memory accumulates across the run — the 80k ANN corpus + index
        # caches alone degraded every later query 2-3× (measured: the same
        # graph_build_full is 7.8 s isolated vs 25.1 s at the end of a
        # cache-accumulating run).  Caching WITHIN a query's three timed
        # iterations is untouched — min-of-3 still measures each query's own
        # steady state.
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        summary["errors"] = errors
    # Host-noise self-diagnosis: this VM shows hypervisor steal (identical
    # code measured 42 s and 154 s totals within an hour — BASELINE.md).
    # The two cheapest cache-free queries act as sentinels: their nominal
    # quiet-host times are pinned below, and a run where they blow out is
    # measuring the neighbors, not the engine.  ratio > ~2 ⇒ discount the
    # whole run's absolute numbers.
    sentinels = {"q1_pricing_summary": 0.9, "running_windows": 0.45}
    ratios = [
        timings[q] / nominal for q, nominal in sentinels.items() if q in timings
    ]
    if ratios:
        summary["host_noise_ratio"] = round(max(ratios), 2)
        # Noise-normalized protocol (VERDICT r4 #8): round-over-round
        # comparisons use these, not raw seconds.  The geometric mean of the
        # sentinel ratios estimates THIS run's host speed relative to the
        # pinned quiet-host reference; dividing every timing by it expresses
        # "seconds on the reference host".  r4 recorded five runs of
        # identical code spanning 22.9-39.2 s raw totals; their normalized
        # totals collapse to a far tighter band (BASELINE.md).
        import math

        speed = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
        summary["host_speed_ratio"] = round(speed, 3)
        summary["queries_normalized"] = {
            q: round(t / speed, 3) for q, t in timings.items()
        }
        summary["normalized_total"] = round(sum(summary["queries_normalized"].values()), 3)

        # Self-settlement pass (VERDICT r10 #4): driver windows on this VM
        # produce isolated over-band readings that rounds 8-10 each burned a
        # manual mid-round cycle re-measuring.  Automate it: take the ≤3
        # worst rows reading over 1.2× their acceptance band, re-measure the
        # sentinels (a FRESH window estimate — the settlement happens minutes
        # after the row's min-of-3, and host speed drifts on that timescale),
        # then re-run each flagged row min-of-5 with the same GC/clearCache
        # isolation and normalize by the settle-window speed.  Both readings
        # ship in the JSON line; BASELINE.md documents which to read.
        flagged = sorted(
            (
                (summary["queries_normalized"][q] / band, q)
                for q, band in ACCEPTANCE_BANDS.items()
                if q in summary["queries_normalized"]
                and summary["queries_normalized"][q] / band > 1.2
            ),
            reverse=True,
        )[:3]
        if flagged:
            def _min_of(fn, n):
                best = float("inf")
                for _ in range(n):
                    spark._jvm.System.gc()
                    t0 = time.time()
                    fn(spark).write.mode("overwrite").format("noop").save()
                    best = min(best, time.time() - t0)
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                return best

            # Fault isolation (ADVICE r11): the sentinel re-measure must not
            # be able to raise out of main() and lose the whole sweep's
            # summary — wrap it, and skip settlement (recording the error)
            # if a sentinel fails or none are measurable.
            try:
                settle_ratios = [
                    _min_of(BENCH_QUERIES[q], 3) / nominal
                    for q, nominal in sentinels.items()
                    if q in BENCH_QUERIES
                ]
            except Exception as exc:  # noqa: BLE001
                errors["settle:sentinels"] = f"{type(exc).__name__}: {exc}"[:500]
                summary["errors"] = errors
                settle_ratios = []
            if not settle_ratios:
                flagged = []
        if flagged:
            settle_speed = math.exp(
                sum(math.log(r) for r in settle_ratios) / len(settle_ratios)
            )
            summary["settle_host_speed_ratio"] = round(settle_speed, 3)
            # Each settled row carries BOTH readings: raw min-of-5 (compare
            # against the sweep's raw for the same row — same process, same
            # warm state, the cleanest noise-vs-regression signal) and the
            # settle-window normalized value.  The normalized one can
            # over-correct: a fully-warmed settle window drives the
            # sentinels to their floor (fixed overheads don't scale with
            # host speed), deflating settle_speed and INFLATING normalized
            # numbers — measured 0.51 on the first r11 run while raws
            # confirmed the flagged rows were sweep noise.  Read raw first.
            summary["queries_settled"] = {}
            for _, q in flagged:
                try:
                    best = _min_of(BENCH_QUERIES[q], 5)
                except Exception as exc:  # noqa: BLE001
                    errors[f"settle:{q}"] = f"{type(exc).__name__}: {exc}"[:500]
                    summary["errors"] = errors
                    continue
                summary["queries_settled"][q] = {
                    "raw": round(best, 3),
                    "normalized": round(best / settle_speed, 3),
                }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
