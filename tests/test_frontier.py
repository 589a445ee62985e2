"""Unit tests for the round-7 continuation batch (catalog/frontier.py):
OHLC rollup determinism, interval-overlap join semantics (single emission,
endpoint inclusivity, whale spans), PMI collocation math vs a python
reference, common-neighbor scoring with the anchor cap, MaxSim scoring vs
numpy, and the matryoshka truncation audit's internal consistency."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.operators.joins import join_interval_overlap
from cell_kn_mvp_etl_ontologies_spark.operators.similarity import maxsim_topk, quantize_np
from cell_kn_mvp_etl_ontologies_spark.operators.temporal import ohlc_rollup
from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import collocations_pmi
from cell_kn_mvp_etl_ontologies_spark.plans.graph_query import common_neighbor_scores

from conftest import rows_set


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_ohlc_rollup_deterministic_ties(spark):
    # two events at the IDENTICAL timestamp: the tiebreak column decides
    # open/close, so the candle is a pure function of the data
    rows = [
        (1, _ts("2024-01-01T00:00:05"), 10, 3.0),
        (1, _ts("2024-01-01T00:00:05"), 11, 7.0),   # same ts, higher id
        (1, _ts("2024-01-01T23:59:59"), 12, 5.0),
        (1, _ts("2024-01-02T00:00:00"), 13, 9.0),   # next bucket
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long, value double")
    out = ohlc_rollup(df, "user_id", "ts", "value", 86400, 1_000_000, "event_id")
    got = {tuple(r) for r in out.collect()}
    d0 = 19723  # 2024-01-01 in days since epoch
    assert (1, d0, 3_000_000, 7_000_000, 3_000_000, 5_000_000, 3, 15_000_000) in got
    assert (1, d0 + 1, 9_000_000, 9_000_000, 9_000_000, 9_000_000, 1, 9_000_000) in got
    assert out.count() == 2


def test_interval_overlap_semantics(spark):
    left = spark.createDataFrame(
        [(1, 0, 100), (2, 50, 55), (3, 1000, 1005)],
        "l_id long, l_start long, l_end long",
    )
    right = spark.createDataFrame(
        [
            (10, 100, 120),   # touches interval 1 at exactly one point
            (11, 54, 300),    # overlaps 1 and 2
            (12, 101, 150),   # overlaps nothing on the left of 1
            (13, 900, 999),   # just misses 3
        ],
        "r_id long, r_start long, r_end long",
    )
    out = join_interval_overlap(left, right, bucket_size=7)
    got = rows_set(out, "l_id", "r_id", "overlap")
    # closed-interval semantics: touching endpoints overlap with length 0;
    # 12 starts after 1 ends, 13 ends just before 3 starts
    assert got == {(1, 10, 0), (1, 11, 46), (2, 11, 1)}
    # single emission per pair even though pairs share many 7-wide chunks
    assert out.groupBy("l_id", "r_id").count().filter(F.col("count") > 1).count() == 0


def test_interval_overlap_whale_span_single_emission(spark):
    # a whale interval spanning 1000 buckets still pairs exactly once
    left = spark.createDataFrame([(1, 0, 7000)], "l_id long, l_start long, l_end long")
    right = spark.createDataFrame([(9, 6990, 8000)], "r_id long, r_start long, r_end long")
    out = join_interval_overlap(left, right, bucket_size=7).collect()
    assert len(out) == 1
    assert out[0].overlap == 10


def test_collocations_pmi_matches_python_reference(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "a b x y x y"), (3, "b a")],
        "doc_id long, text string",
    )
    out = collocations_pmi(docs, "text", min_count=2)
    # python reference over the same tokenization
    toks = [["a", "b", "a", "b", "a", "b", "c"], ["a", "b", "x", "y", "x", "y"], ["b", "a"]]
    from collections import Counter

    c12: Counter = Counter()
    for ws in toks:
        for u, v in zip(ws, ws[1:]):
            c12[(u, v)] += 1
    n = sum(c12.values())
    c1: Counter = Counter()
    c2: Counter = Counter()
    for (u, v), c in c12.items():
        c1[u] += c
        c2[v] += c
    expect = {
        (u, v, c, c1[u], c2[v], math.floor(math.log2(c * n)) - math.floor(math.log2(c1[u] * c2[v])))
        for (u, v), c in c12.items()
        if c >= 2
    }
    assert rows_set(out) == expect


def test_common_neighbors_anchor_cap_and_jaccard(spark):
    # star hub h connects 1..5 (degree 5 > cap 4) — contributes no pairs;
    # anchors x,y shared by (1,2) give common=2
    edges = [(i, 100) for i in range(1, 6)]           # hub anchor, degree 5
    edges += [(1, 200), (2, 200), (1, 201), (2, 201)]  # two small shared anchors
    df = spark.createDataFrame(edges, "src long, dst long")
    out = common_neighbor_scores(df, min_common=2, anchor_cap=4)
    got = rows_set(out, "a", "b", "common", "deg_a", "deg_b", "jaccard_ppm")
    # anchor 100 (degree 5 > cap) generates no pairs and is dropped from
    # 1's and 2's capped adjacency (deg 2 each); the graph is undirected,
    # so vertices 1 and 2 are themselves anchors for the part-side pairs —
    # (200, 201) share {1, 2}, and hub 100 pairs with 200/201 through them
    # while keeping its own degree 5 (it survives as a NEIGHBOR under the
    # small anchors 1..5; only its anchor role is capped)
    assert got == {
        (1, 2, 2, 2, 2, 1_000_000),
        (200, 201, 2, 2, 2, 1_000_000),
        (100, 200, 2, 5, 2, 400_000),
        (100, 201, 2, 5, 2, 400_000),
    }


def test_maxsim_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    qv = rng.normal(size=(2, 3, 4)).astype(np.float32)   # 2 query docs x 3 toks
    tv = rng.normal(size=(4, 3, 4)).astype(np.float32)   # 4 corpus docs
    q_rows = [
        (int(d), int(t), [float(x) for x in qv[d, t]])
        for d in range(2) for t in range(3)
    ]
    t_rows = [
        (int(d) + 10, int(t), [float(x) for x in tv[d, t]])
        for d in range(4) for t in range(3)
    ]
    q = spark.createDataFrame(q_rows, "q_id long, q_tok long, vec array<float>")
    t = spark.createDataFrame(t_rows, "t_id long, t_tok long, vec array<float>")
    out = maxsim_topk(q, t, k=2, scale=1000)
    got = {(r.q_id, r.t_id): r.maxsim_units for r in out.collect()}

    qq = np.stack([quantize_np(qv[d]) for d in range(2)])
    tt = np.stack([quantize_np(tv[d]) for d in range(4)])
    scores = {}
    for d in range(2):
        for e in range(4):
            dots = qq[d] @ tt[e].T  # (3 q toks, 3 t toks)
            scores[(d, e + 10)] = int(dots.max(axis=1).sum())
    for (qi, ti), s in got.items():
        assert scores[(qi, ti)] == s
    # top-2 per query by (score desc, t_id asc)
    for d in range(2):
        ranked = sorted(((s, t_) for (q_, t_), s in scores.items() if q_ == d),
                        key=lambda x: (-x[0], x[1]))[:2]
        assert {(d, t_) for _, t_ in ranked} == {(q_, t_) for (q_, t_) in got if q_ == d}


def test_mrl_recall_audit_consistency(spark):
    from cell_kn_mvp_etl_ontologies_spark.catalog import QUERIES, load_all

    load_all()
    out = QUERIES["embedding_mrl_recall"](spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    for r in out:
        assert r.n_full == 3
        assert r.n_trunc == 3
        assert 0 <= r.n_overlap <= 3


def test_maxsim_routed_identity_at_full_probe(spark):
    # nprobe = n_cells makes the candidate set all pairs: routed output
    # must be BIT-identical to the brute path on arbitrary data
    import numpy as np

    rng = np.random.default_rng(13)
    tv = rng.normal(size=(10, 4, 6)).astype(np.float32)
    t_rows = [
        (int(d), int(t), [float(x) for x in tv[d, t]])
        for d in range(10) for t in range(4)
    ]
    t = spark.createDataFrame(t_rows, "t_id long, t_tok long, vec array<float>")
    q = (
        t.filter(F.col("t_id") < 3)
        .select(F.col("t_id").alias("q_id"), F.col("t_tok").alias("q_tok"), "vec")
    )
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        maxsim_topk,
        maxsim_topk_routed,
    )

    brute = rows_set(maxsim_topk(q, t, k=4), "q_id", "t_id", "maxsim_units")
    routed = rows_set(
        maxsim_topk_routed(q, t, k=4, n_cells=3, nprobe=3), "q_id", "t_id", "maxsim_units"
    )
    assert brute == routed
    # pruning probe returns a subset of candidates, ranked by the same score
    pruned = rows_set(
        maxsim_topk_routed(q, t, k=4, n_cells=3, nprobe=1), "q_id", "t_id", "maxsim_units"
    )
    assert pruned <= rows_set(
        maxsim_topk(q, t, k=10 * 4), "q_id", "t_id", "maxsim_units"
    )


def test_maxsim_vectorized_matches_expression_at_pruning_probe(spark):
    # the two routed paths share maxsim_route_cells; at a PRUNING probe
    # (nprobe=1) any routing or scoring divergence would surface as a
    # different candidate set or score — assert full-row equality.  Two
    # shapes stress the kernel's per-cell top-k cut: five docs with one
    # identical token set (one tie group, one cell) probed at k=3, so the
    # cut must keep the smaller t_ids, and two far docs alone in a cell
    # holding fewer than k docs.
    import numpy as np

    rng = np.random.default_rng(29)
    tv = rng.normal(size=(12, 3, 5)).astype(np.float32)
    t_rows = [
        (int(d), int(t), [float(x) for x in tv[d, t]])
        for d in range(12) for t in range(3)
    ]
    near = [[4.0 if j == t else 0.0 for j in range(5)] for t in range(3)]
    far = [[-6.0 if j == t else 0.0 for j in range(5)] for t in range(3)]
    t_rows += [(d, t, near[t]) for d in range(20, 25) for t in range(3)]
    t_rows += [(168, t, far[t]) for t in range(3)]
    t_rows += [(169, t, [x * 5 / 6 for x in far[t]]) for t in range(3)]
    t = spark.createDataFrame(t_rows, "t_id long, t_tok long, vec array<float>")
    q = (
        t.filter((F.col("t_id") < 4) | F.col("t_id").isin(21, 168))
        .select(F.col("t_id").alias("q_id"), F.col("t_tok").alias("q_tok"), "vec")
        .unionByName(
            spark.createDataFrame(
                [(100, t_, near[t_]) for t_ in range(3)],
                "q_id long, q_tok long, vec array<float>",
            )
        )
    )
    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        maxsim_route_cells,
        maxsim_topk_routed,
        maxsim_topk_routed_vectorized,
    )

    cell_of = dict(map(tuple, maxsim_route_cells(q, t, 3, 1)[1].collect()))
    assert len({cell_of[d] for d in range(20, 25)}) == 1
    assert sum(c == cell_of[168] for c in cell_of.values()) < 3
    for nprobe in (1, 2):
        expr = rows_set(maxsim_topk_routed(q, t, k=3, n_cells=3, nprobe=nprobe))
        vec = rows_set(maxsim_topk_routed_vectorized(q, t, k=3, n_cells=3, nprobe=nprobe))
        assert expr == vec
        top = {(r[0], r[1]) for r in vec if r[0] in (21, 100)}
        assert top == {(21, 20), (21, 22), (21, 23), (100, 20), (100, 21), (100, 22)}


def test_maxsim_kernel_matches_pairwise_reference_across_query_blocks():
    """The MaxSim kernel on ragged packed sides, with more queries than
    one stacked-matmul block and with values both inside the float64-BLAS
    exactness guard and past it (the exact int64 fallback), equals the
    per-(query, doc) Σ max reference in int64."""
    import numpy as np
    import pyarrow as pa

    from cell_kn_mvp_etl_ontologies_spark.operators import similarity

    rng = np.random.default_rng(11)

    def packed(n, d, hi):
        toks = [rng.integers(-hi, hi, size=(int(rng.integers(1, 5)), d)) for _ in range(n)]
        tbl = pa.table({
            "n_toks": pa.array([len(t) for t in toks], pa.int64()),
            "toks": pa.array([t.reshape(-1).tolist() for t in toks], pa.list_(pa.int64())),
        })
        return tbl, toks

    n_q = 2 * similarity._MAXSIM_Q_BLOCK + 3
    for hi in (1000, 2**26):
        mem, docs = packed(7, 5, hi)
        qs, queries = packed(n_q, 5, hi)
        want = np.array(
            [[sum(max(int(np.dot(q, t)) for t in doc) for q in qry) for qry in queries] for doc in docs],
            dtype=np.int64,
        )
        got = similarity._maxsim_scores(mem, qs)
        assert got.dtype == np.int64
        assert (got == want).all()


def test_bitmap_sliding_distinct_matches_recount(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.aggregates import (
        bitmap_distinct_sliding,
        bitmap_distinct_words,
    )

    rows = [
        (1, 10), (1, 11), (1, 10),       # day 1: {10, 11}
        (2, 11), (2, 70),                # day 2: {11, 70} (70 -> chunk 1)
        (4, 10),                          # day 4 (gap at 3): {10}
    ]
    df = spark.createDataFrame(rows, "bucket long, uid long")
    words = bitmap_distinct_words(df, ["bucket"], "uid")
    out = {r.bucket: r.n_distinct for r in bitmap_distinct_sliding(words, "bucket", 2).collect()}
    # trailing-2 windows over OBSERVED buckets only (no phantom day 3/5)
    assert out == {1: 2, 2: 3, 4: 1}


def test_rolling_anomaly_flags_spike_not_coldstart(spark):
    import datetime as dt

    from cell_kn_mvp_etl_ontologies_spark.operators.temporal import (
        rolling_anomaly_integer,
    )

    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 10.0, 10.1, 9.9, 500.0, 10.0]
    rows = [
        (1, base + dt.timedelta(minutes=i), i, v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long, value double")
    out = rolling_anomaly_integer(df, "user_id", ["ts", "event_id"], "value", n=4, k=3)
    by_event = {r.event_id: r for r in out.collect()}
    # cold start: first 4 events have win_n < 4 -> never flagged
    for i in range(4):
        assert not by_event[i].is_anomaly
    # the 500 spike against a flat {10.0, 10.0, 10.1, 9.9} window flags
    assert by_event[4].is_anomaly
    # the return to 10.0 sits inside the spike-inflated variance -> clean
    assert not by_event[5].is_anomaly


def test_ohlc_partials_merge_equals_window_rollup(spark):
    import datetime as dt

    from cell_kn_mvp_etl_ontologies_spark.operators.temporal import (
        ohlc_finalize,
        ohlc_partial,
        ohlc_rollup,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (1, base + dt.timedelta(hours=h % 30, days=h // 30), h, float((h * 37) % 100) / 4)
        for h in range(60)
    ] + [(1, base, 999, 42.0)]  # duplicate timestamp of event 0 -> tiebreak
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_id long, value double")
    whole = rows_set(ohlc_rollup(df, "user_id", "ts", "value", 86400, 1000, "event_id"))
    # struct-extrema formulation over the SAME data
    one_pass = rows_set(ohlc_finalize(ohlc_partial(df, "user_id", "ts", "value", 86400, 1000, "event_id")))
    assert whole == one_pass
    # merge of arbitrary splits == whole (associativity/commutativity):
    # split rows by event parity, union the two PARTIAL tables, finalize
    a = df.filter(F.col("event_id") % 2 == 0)
    b = df.filter(F.col("event_id") % 2 == 1)
    pa = ohlc_partial(a, "user_id", "ts", "value", 86400, 1000, "event_id")
    pb = ohlc_partial(b, "user_id", "ts", "value", 86400, 1000, "event_id")
    merged = rows_set(ohlc_finalize(pa.unionByName(pb)))
    assert whole == merged


def test_doc_summaries_additive_merge(spark):
    # a document's tokens split across two partial builds must converge to
    # the single-pass summary (the stream_maxsim_maintain contract; the
    # bounded availableNow gate may deliver everything in one batch, so
    # the split path is pinned here)
    import numpy as np

    from cell_kn_mvp_etl_ontologies_spark.operators.similarity import (
        maxsim_doc_summaries,
        merge_doc_summaries,
        quantize_np,
    )

    rng = np.random.default_rng(41)
    tv = rng.normal(size=(3, 6, 4)).astype(np.float32)
    rows = [
        (int(d), [float(x) for x in tv[d, t]])
        for d in range(3) for t in range(6)
    ]
    df = spark.createDataFrame(rows, "t_id long, vec array<float>")
    whole = {r.t_id: list(r.svec) for r in maxsim_doc_summaries(df, "t_id").collect()}
    # split each doc's tokens 2/4 across "batches" by row hash parity
    a = df.sample(False, 1.0, seed=1).limit(9)   # arbitrary uneven split
    b = df.subtract(a)
    pa = maxsim_doc_summaries(a, "t_id")
    pb = maxsim_doc_summaries(b, "t_id")
    merged = {
        r.t_id: list(r.svec)
        for r in merge_doc_summaries(pa.unionByName(pb), "t_id").collect()
    }
    assert merged == whole
    # and the summary equals the numpy sum of HALF_UP-quantized tokens
    for d in range(3):
        assert whole[d] == list(quantize_np(tv[d]).sum(axis=0))


def test_semistructured_profile_type_classes(spark):
    # the sf gate's props only carry int "k" — pin the float/bool/string
    # branches and multi-key payloads against a DuckDB mini-differential
    import duckdb

    payloads = [
        ("a", '{"k": 1, "r": 2.5, "ok": true, "name": "x"}'),
        ("a", '{"k": -3, "r": 0.25, "ok": false, "name": "x"}'),
        ("b", '{"k": 7, "extra": "z"}'),
        ("b", '{"name": "y"}'),
    ]
    df = spark.createDataFrame(payloads, "event_type string, props string")
    kv = df.select(
        "event_type",
        F.explode(F.from_json(F.col("props"), "map<string,string>")).alias("key", "v"),
    )
    vtype = (
        F.when(F.col("v").rlike(r"^-?[0-9]+$"), F.lit("int"))
        .when(F.col("v").rlike(r"^-?[0-9]*\.[0-9]+$"), F.lit("float"))
        .when(F.col("v").isin("true", "false"), F.lit("bool"))
        .otherwise(F.lit("string"))
    )
    got = rows_set(
        kv.select("event_type", "key", vtype.alias("vtype"))
        .groupBy("event_type", "key", "vtype")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE ev (event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO ev VALUES (?, ?)", payloads)
    expect = set(
        tuple(r)
        for r in con.execute(
            """
            WITH kv AS (
              SELECT e.event_type, k.key,
                     json_extract_string(e.props, '$.' || k.key) AS v
              FROM ev e, unnest(json_keys(e.props)) AS k(key)
            )
            SELECT event_type, key,
              CASE WHEN regexp_matches(v, '^-?[0-9]+$') THEN 'int'
                   WHEN regexp_matches(v, '^-?[0-9]*\\.[0-9]+$') THEN 'float'
                   WHEN v IN ('true', 'false') THEN 'bool'
                   ELSE 'string' END AS vtype,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM kv GROUP BY 1, 2, 3
            """
        ).fetchall()
    )
    assert got == expect
    assert ("a", "ok", "bool", 2) in got and ("a", "r", "float", 2) in got


def test_repeat_by_weight_semantics(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.training import repeat_by_weight

    df = spark.createDataFrame([(i, "s") for i in range(200)], "doc_id long, src string")
    out = repeat_by_weight(df, "doc_id", F.lit(2.5), salt="t").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    # every doc appears 2 or 3 times with contiguous 1-based epochs
    assert set(len(v) for v in by_doc.values()) <= {2, 3}
    for doc, epochs in by_doc.items():
        assert sorted(epochs) == list(range(1, len(epochs) + 1))
    # expected copies ~ 2.5: the md5 coin is uniform, 200 docs -> loose band
    total = len(out) / 200
    assert 2.2 < total < 2.8
    # w < 1: some docs drop entirely, survivors appear exactly once
    sub = repeat_by_weight(df, "doc_id", F.lit(0.4), salt="t").collect()
    assert 0 < len(sub) < 200
    assert all(r.epoch == 1 and r.n_repeats == 1 for r in sub)
    # determinism: second run identical
    again = repeat_by_weight(df, "doc_id", F.lit(0.4), salt="t").collect()
    assert {(r.doc_id, r.epoch) for r in again} == {(r.doc_id, r.epoch) for r in sub}


def test_remove_duplicate_segments_rewrite(spark):
    from cell_kn_mvp_etl_ontologies_spark.operators.dedup import (
        remove_duplicate_segments,
    )

    seg_a = "a b c"          # 3-token segment (seg_tokens=3)
    seg_b = "d e f"
    seg_c = "g h i"
    docs = [
        (1, f"{seg_a} {seg_b}"),          # original
        (2, f"{seg_a} {seg_c}"),          # shares first segment with doc 1
        (3, f"{seg_b} {seg_b}"),          # within-doc duplicate (aligned)
        (4, f"{seg_a} {seg_b}"),          # full duplicate of doc 1
        (5, ""),                           # empty doc
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    out = {r.id: r for r in remove_duplicate_segments(df, "text", "id", 3).collect()}
    assert out[1].clean_text == f"{seg_a} {seg_b}" and out[1].n_kept == 2
    assert out[2].clean_text == seg_c          # first segment lost to doc 1
    assert out[3].clean_text == ""             # seg_b owned by doc 1; both copies gone
    assert out[4].clean_text == "" and out[4].n_segments == 2 and out[4].n_kept == 0
    assert out[5].clean_text == "" and out[5].n_segments == 0
