"""Bit-identity audit of the routed top-k kernel (``routed_topk``) against
each cogrouped rung's expression reference, at the bench's 80k corpus.

Builds the same 80k-corpus / 64-cell index, m=8 ksub=64 codebooks and
(cell, t_id, codes) artifact as bench.py's ANN rows, then runs four
routed-vs-reference pairs:

  - ivf_topk_prebuilt_routed       vs ivf_topk_prebuilt          (|Q| = 10,000 / 1,000)
  - cosine_topk_routed             vs similarity_topk(quantized)  (|Q| = 200)
  - ivf_pq_topk_routed             vs ivf_pq_topk                 (|Q| = 500)
  - maxsim_topk_routed_vectorized  vs maxsim_topk_routed          (|Q| = 50)

The MaxSim pair runs bench.py's maxsim_routed_10k shape: the corpus
regrouped into 10k 8-token documents, 64 cells, nprobe=8, k=10.

The routed rungs are cogrouped ``applyInArrow`` matmuls / LUT gathers
with no driver collect of the query side.  Each pair's result sets must
be IDENTICAL — every (q_id, rnk) -> (t_id, score columns) entry, scores
compared bit-for-bit.  The references score every candidate pair with
interpreted higher-order functions, so their query batches are fixed
smaller (N_IVF_REF_QUERIES, N_BRUTE_QUERIES, N_PQ_QUERIES,
N_MAXSIM_QUERIES); every size is printed.  The IVF pair's routed side
still answers the full N_QUERIES batch and is compared on the queries the
reference answers.  Prints one JSON line and exits 1 if any pair differs.

Run from the repo root:  python tools/verify_routed_ann.py
(env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ANN_Q)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.operators.clustering import kmeans_fit
from cell_kn_mvp_etl_ontologies_spark.operators.pq import (
    ivf_pq_topk,
    ivf_pq_topk_routed,
    pq_encode_vectorized,
    pq_train_codebooks,
)
from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk_routed,
    ivf_topk_prebuilt,
    ivf_topk_prebuilt_routed,
    maxsim_topk_routed,
    maxsim_topk_routed_vectorized,
    similarity_topk,
)
from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
N_QUERIES = int(os.environ.get("SPARK_GRAFT_ANN_Q", "10000"))
# at 10,000 queries the IVF reference took 505 s of a 936 s run and kept a
# 2 GB heap collecting almost continuously
N_IVF_REF_QUERIES = 1000
# the brute reference takes 50-100 s at 200 queries on 4 cores
N_BRUTE_QUERIES = 200
N_PQ_QUERIES = 500
# query docs of the MaxSim pair: bench.py maxsim_routed_10k's batch
N_MAXSIM_QUERIES = 50


def expanded_embeddings(spark, times: int = 40):
    from cell_kn_mvp_etl_ontologies_spark.io import load_table

    em = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    reps = spark.range(times).select(F.col("id").cast("int").alias("rep"))
    return (
        em.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") * times + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x * (1.0 + ((i + F.col("rep") * 7) % 13) / 40.0)).cast(
                    "float"
                ),
            ).alias("embedding"),
        )
        .repartition(CPUS * 2)
    )


def compare(n_queries: int, reference, routed, *score_cols: str, n_routed=None) -> dict:
    """Run both sides and compare (q_id, rnk) -> (t_id, *scores) maps.  The
    reference answers the queries with ids below ``n_queries``; the routed
    side may answer a larger batch (ids below ``n_routed``), of which those
    same queries are compared."""
    out = {"n_queries": n_queries}
    if n_routed is not None:
        out["n_queries_routed"] = n_routed
    results = []
    for side, df in (("reference", reference), ("routed", routed)):
        t0 = time.time()
        results.append(
            {
                (r.q_id, r.rnk): (r.t_id, *(r[c] for c in score_cols))
                for r in df.collect()
            }
        )
        out[f"sec_{side}"] = round(time.time() - t0, 2)
    a, b = results
    out["rows_reference"], out["rows_routed"] = len(a), len(b)
    b = {k_: v for k_, v in b.items() if k_[0] < n_queries}
    out["n_diff"] = sum(1 for k_ in set(a) | set(b) if a.get(k_) != b.get(k_))
    out["bit_identical"] = a == b
    return out


def main() -> None:
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("verify-routed-ann")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        # all four pairs complete in a 2 GB heap: at most 1.24 GB is left
        # after a mixed collection (the pauses that also reclaim old
        # regions), about 40% under the heap, and the JVM peaks at 2.9 GB
        # resident (local[8] on 4 cores, sf0.1, the IVF reference at
        # 1,000 queries); a larger heap only takes memory other jobs on
        # the host need
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    corpus = expanded_embeddings(spark).persist()
    cents = kmeans_fit(corpus, "vec_id", "embedding", k=64, n_iter=2)
    centroids = cents.select(
        F.col("cell").cast("long").alias("vec_id"),
        F.transform("cv", lambda x: (x / 1000.0).cast("float")).alias("embedding"),
    ).persist()
    centroids.count()
    index = build_ivf_index(corpus, centroids, n_partitions=CPUS * 2).persist()
    n_corpus = index.count()
    books = pq_train_codebooks(corpus, m=8, ksub=64, n_iter=2).persist()
    books.count()
    codes = pq_encode_vectorized(corpus, books, m=8).persist()
    codes.count()
    corpus_cells = index.select("t_id", "cell")
    index_codes = (
        corpus_cells.join(codes, on="t_id")
        .select("cell", "t_id", "codes")
        .repartition(CPUS, "cell")
        .persist()
    )
    index_codes.count()

    def queries(n: int):
        return corpus.filter(F.col("vec_id") < n)

    pairs = {
        "ivf_topk_prebuilt_routed": compare(
            N_IVF_REF_QUERIES,
            ivf_topk_prebuilt(queries(N_IVF_REF_QUERIES), index, centroids, k=10, nprobe=8),
            ivf_topk_prebuilt_routed(queries(N_QUERIES), index, centroids, k=10, nprobe=8),
            "cos",
            n_routed=N_QUERIES,
        )
    }
    q = queries(N_BRUTE_QUERIES)
    pairs["cosine_topk_routed"] = compare(
        N_BRUTE_QUERIES,
        similarity_topk(q, corpus, k=10, quantized=True),
        cosine_topk_routed(q, corpus, k=10, n_blocks=CPUS * 2),
        "cos",
    )
    q = queries(N_PQ_QUERIES)
    pairs["ivf_pq_topk_routed"] = compare(
        N_PQ_QUERIES,
        ivf_pq_topk(
            q, corpus, centroids, books, k=10, nprobe=8, m=8,
            codes=codes, corpus_cells=corpus_cells,
        ),
        ivf_pq_topk_routed(q, index_codes, centroids, books, k=10, nprobe=8, m=8),
        "adc_dist",
    )
    toks = corpus.select(
        F.expr("vec_id div 8").cast("long").alias("t_id"),
        (F.col("vec_id") % 8).cast("long").alias("t_tok"),
        F.col("embedding").alias("vec"),
    )
    q_toks = toks.filter(F.col("t_id") < N_MAXSIM_QUERIES).select(
        F.col("t_id").alias("q_id"), F.col("t_tok").alias("q_tok"), "vec"
    )
    pairs["maxsim_topk_routed_vectorized"] = compare(
        N_MAXSIM_QUERIES,
        maxsim_topk_routed(q_toks, toks, k=10, n_cells=64, nprobe=8),
        maxsim_topk_routed_vectorized(q_toks, toks, k=10, n_cells=64, nprobe=8),
        "maxsim_units",
        "n_q_tokens",
    )

    identical = all(p["bit_identical"] for p in pairs.values())
    print(json.dumps({"n_corpus": n_corpus, "all_identical": identical, "pairs": pairs}))
    spark.stop()
    if not identical:
        sys.exit(1)


if __name__ == "__main__":
    main()
