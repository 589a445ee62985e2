"""Hand-built pins for the round-10 extension batch (catalog/frontier7.py):
the catalog gates hash the sf slice; these pin the algorithms on planted
cases where the right answer is computed by hand or by a python
reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.catalog import QUERIES, load_all

load_all()


def test_reciprocity_profile_hand_case(spark):
    """1→2, 2→1 (mutual), 1→3 (one-way), 3→2 (one-way)."""
    from cell_kn_mvp_etl_ontologies_spark.catalog.frontier7 import (
        reciprocity_profile,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 2)], "src long, dst long"
    )
    got = {r.node: (r.out_deg, r.n_recip, r.recip_ppm)
           for r in reciprocity_profile(e).collect()}
    assert got == {1: (2, 1, 500_000), 2: (1, 1, 1_000_000), 3: (1, 0, 0)}


def test_seasonal_null_audit_flags_exactly_planted_hours(spark):
    """The planted mask raises hours 02-04 to ~20% vs ~5% elsewhere — the
    audit must flag exactly those hours at sf0.01 (detection, not just
    arithmetic, is the pinned property)."""
    out = QUERIES["quality_seasonal_null_audit"](spark, "/root/testdata/sf0.01")
    flagged = {r.h for r in out.collect() if r.flagged == 1}
    assert flagged == {2, 3, 4}


def test_ewma_crossover_known_sequence(spark):
    """A monotone rise then a hard drop: the fast EWMA crosses below the
    slow exactly once after the drop."""
    import datetime as dt

    rows = []
    vals = [1, 2, 3, 4, 5, 6, 7, 8, 1, 1, 1]  # rise, then collapse at i=8
    for i, v in enumerate(vals):
        rows.append((i, dt.datetime(2024, 1, 1, 0, i), 7, "x", float(v)))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    import tempfile

    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    out = {r.user_id: (r.n_eval, r.n_cross, r.sum_sign)
           for r in QUERIES["temporal_ewma_crossover"](spark, d).collect()}
    n_eval, n_cross, sum_sign = out[7]
    assert n_eval == len(vals) - 5
    # rising phase: fast > slow (sign +1); collapse flips it negative once
    assert n_cross == 1
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_nearest_value_equal_price_runs_and_singletons(spark):
    """Equal-value runs must resolve to min/second-min key (the adjacency
    trap: for key 3 the nearest is key 1, not the sort-adjacent key 2);
    singleton customers yield NULL."""
    import tempfile

    rows = [
        # cust 1: three equal prices + one distant
        (1, 1, 5.00), (2, 1, 5.00), (3, 1, 5.00), (4, 1, 9.99),
        # cust 2: singleton
        (5, 2, 3.33),
        # cust 3: tie in |delta| (10 vs 8 and 12) -> lower value wins
        (6, 3, 8.00), (7, 3, 10.00), (8, 3, 12.00),
    ]
    df = spark.createDataFrame(rows, "o_orderkey long, o_custkey long, o_totalprice double")
    d = tempfile.mkdtemp()
    df.withColumn("o_orderstatus", F.lit("F")).write.mode("overwrite").parquet(
        d + "/orders.parquet"
    )
    out = {r.okey: (r.partner_key, r.partner_cents, r.diff_cents)
           for r in QUERIES["join_nearest_value"](spark, d).collect()}
    assert out[1] == (2, 500, 0)      # self is min key -> second-min
    assert out[2] == (1, 500, 0)
    assert out[3] == (1, 500, 0)      # NOT the adjacent key 2 — min key wins
    assert out[4] == (1, 500, 499)    # distant row joins the run's min key
    assert out[5] == (None, None, None)
    assert out[7] == (6, 800, 200)    # |10-8| == |12-10| -> lower value (8)
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_sequence_fingerprint_is_order_sensitive_bag_insensitive(spark):
    """Two docs with the SAME token bag but different order must diverge in
    their fingerprints (the property MinHash cannot give), while an exact
    copy shares all four."""
    import tempfile

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    shuffled = "kappa beta iota delta theta zeta gamma eta alpha epsilon"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, shuffled)], "doc_id long, text string"
    ).select("doc_id", "text", F.lit("en").alias("lang"),
             F.lit("s").alias("source"), F.length("text").cast("long").alias("n_chars"))
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    out = {}
    for r in QUERIES["dedup_sequence_fingerprint"](spark, d).collect():
        out.setdefault(r.doc_id, {})[r.slot] = r.fp
    assert out[1] == out[2]                  # exact copy: identical signature
    assert out[1] != out[3]                  # same bag, different order
    assert set(out[1]) == {1, 2, 3, 4}
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_lift_at_k_perfect_detector(spark):
    """Score == label ordering: all positives rank first, so lift@k for a
    cutoff inside the positive block is exactly n/pos."""
    import tempfile

    rows = []
    # 20 positives with the highest prices, 80 negatives below
    for k in range(100):
        status = "F" if k < 20 else "O"
        price = 1000.0 - k
        rows.append((k, 17, price, status))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/orders.parquet")
    out = {r.pct: (r.k, r.pos_k, r.lift_ppm)
           for r in QUERIES["eval_lift_at_k"](spark, d).collect()}
    # base rate 20%: a perfect detector's lift at cutoffs inside the
    # positive block is 1/0.2 = 5x
    assert out[1] == (1, 1, 5_000_000)
    assert out[5] == (5, 5, 5_000_000)
    assert out[10] == (10, 10, 5_000_000)
    # at 25% the cutoff (25) passes the 20 positives: lift = 20*100/(25*20)
    assert out[25] == (25, 20, 4_000_000)
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_cindex_hand_case(spark):
    """3 customers: t=(1,2,3) via order counts, events on the first two,
    risk = spend.  Pairs: (A,B) t1<t2 eA=1 comparable; (A,C); (B,C).
    Scores chosen so one pair is concordant, one discordant, one tied."""
    import tempfile

    rows = []
    # cust 1: 1 order, F (event), spend 300.00
    rows.append((1, 1, 300.00, "F"))
    # cust 2: 2 orders, F, spend 100+200=300.00 -> tied with cust 1
    rows.append((2, 2, 100.00, "F"))
    rows.append((3, 2, 200.00, "O"))
    # cust 3: 3 orders, no F (censored), spend 50*3 = 150
    for k in (4, 5, 6):
        rows.append((k, 3, 50.00, "O"))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/orders.parquet")
    [r] = QUERIES["eval_cindex"](spark, d).collect()
    # comparable: (1,2) tied 30000==30000; (1,3) conc 30000>15000;
    # (2,3) conc 30000>15000.  c = (2*2+1)/(2*3)
    assert (r.n_comparable, r.n_conc, r.n_tied) == (3, 2, 1)
    assert r.c_ppm == 1_000_000 * 5 // 6
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_dag_path_count_diamond(spark):
    """Classic diamond 3->{1,2}->0 plus a chain: path counts must multiply
    through the diamond (node 3 has TWO routes to root 0)."""
    import tempfile

    import pandas as pd

    # edges child->parent: 1->0, 2->0, 3->1, 3->2, 4->3
    # roots: {0}; paths to root: 1:1, 2:1, 3:2, 4:2, 0:0
    # Build a lineitem table that yields exactly these edges through the
    # % 60 + md5-thin derivation is impractical — instead drive the
    # aggregation core directly through a tiny sf dir is not possible, so
    # this pins the python expectation against the ORACLE-equivalent
    # enumeration on the same tiny DAG via the engine's aggregated loop,
    # reimplemented on an explicit edge frame.
    from pyspark.sql import functions as F

    e = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (3, 2), (4, 3)], "child long, parent long"
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("child").alias("node"))
        .unionByName(e.select(F.col("parent").alias("node")))
        .distinct()
    )
    roots = nodes.join(
        e.select(F.col("child").alias("node")).distinct(), on="node", how="left_anti"
    ).select(F.col("node").alias("root"))
    frontier = e.select(
        F.col("child").alias("src"), F.col("parent").alias("dst"),
        F.lit(1).cast("long").alias("cnt"),
    )
    totals = None
    for _ in range(10):
        ended = frontier.join(
            F.broadcast(roots), frontier["dst"] == roots["root"]
        ).groupBy("src").agg(F.sum("cnt").cast("long").alias("n"))
        totals = ended if totals is None else totals.unionByName(ended).groupBy(
            "src"
        ).agg(F.sum("n").cast("long").alias("n"))
        frontier = (
            frontier.join(
                e.select(F.col("child").alias("dst"), F.col("parent").alias("nxt")),
                on="dst",
            )
            .groupBy("src", F.col("nxt").alias("dst2"))
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .select("src", F.col("dst2").alias("dst"), "cnt")
        )
        if frontier.limit(1).count() == 0:
            break
    got = {r.src: r.n for r in totals.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 2}


def test_stream_hapax_equals_batch(spark):
    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in QUERIES["text_hapax_ratio"](spark, sf).collect()}
    stream = {tuple(r) for r in QUERIES["stream_hapax_maintain"](spark, sf).collect()}
    assert batch == stream and len(batch) > 0


def test_kaplan_meier_hand_case(spark):
    """Textbook KM: 5 subjects, T=(1,2e,2c,3e,3e) — i.e. t=1 event,
    t=2 one event one censored, t=3 two events."""
    import tempfile

    rows = []
    # cust 1: 1 order F -> t=1 event
    rows.append((1, 1, 10.0, "F"))
    # cust 2: 2 orders, F -> t=2 event
    rows.append((2, 2, 10.0, "F")); rows.append((3, 2, 10.0, "O"))
    # cust 3: 2 orders, censored
    rows.append((4, 3, 10.0, "O")); rows.append((5, 3, 10.0, "O"))
    # cust 4 and 5: 3 orders each, F
    for c in (4, 5):
        for j in range(3):
            rows.append((10 * c + j, c, 10.0, "F" if j == 0 else "O"))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/orders.parquet")
    got = {r.t: (r.n_risk, r.d, r.c, r.s_ppm)
           for r in QUERIES["temporal_kaplan_meier"](spark, d).collect()}
    # t=1: n=5 d=1 -> 1e6*4//5 = 800000
    # t=2: n=4 d=1 c=1 -> 800000*3//4 = 600000
    # t=3: n=2 d=2 -> 600000*0//2 = 0
    assert got == {1: (5, 1, 0, 800_000), 2: (4, 1, 1, 600_000), 3: (2, 2, 0, 0)}
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_stream_seasonal_null_equals_batch(spark):
    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in QUERIES["quality_seasonal_null_audit"](spark, sf).collect()}
    stream = {tuple(r) for r in QUERIES["stream_seasonal_null_maintain"](spark, sf).collect()}
    assert batch == stream and len(batch) > 0


def test_cindex_full_equals_bounded_tier_on_shared_slice(spark, tmp_path):
    """On a dataset where ALL customers fall inside the gate tier's
    custkey < 200 bound, the production dominance-counting path must
    equal the all-pairs census bit-for-bit — the twin identity."""
    import random
    import tempfile

    rng = random.Random(7)
    rows = []
    k = 0
    for cust in range(120):
        n_orders = rng.randint(1, 8)
        for _ in range(n_orders):
            k += 1
            rows.append(
                (k, cust, rng.randint(100, 99999) / 100.0,
                 "F" if rng.random() < 0.5 else "O")
            )
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/orders.parquet")
    [full] = QUERIES["eval_cindex_full"](spark, d).collect()
    [gate] = QUERIES["eval_cindex"](spark, d).collect()
    assert tuple(full) == tuple(gate)
    assert full.n_comparable > 0
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_k_anonymity_hand_case(spark):
    """Classes of sizes 1, 3, 12: at k=2 only the singleton violates; at
    k=5 the 3-class joins it; at k=10 all but the 12-class.  The
    single-sensitive-value class is the low-diversity mass."""
    import tempfile

    rows = []
    did = 0
    # class A: 1 row; class B: 3 rows; class C: 12 rows
    for n, src in ((1, "a"), (3, "b"), (12, "c")):
        for _ in range(n):
            # sensitive = doc_id % 7: give class B one distinct value by
            # choosing ids ≡ 0 (mod 7)
            if src == "b":
                while did % 7 != 0:
                    did += 1
            rows.append((did, "t" * 150, "en", src, 150))
            did += 7 if src == "b" else 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    got = {r.k: (r.n_groups, r.violating_groups, r.exposed_rows, r.low_diversity_rows)
           for r in QUERIES["quality_k_anonymity"](spark, d).collect()}
    # low diversity: class A (1 row, 1 value) + class B (3 rows, all ≡0 mod 7)
    assert got[2] == (3, 1, 1, 4)
    assert got[5] == (3, 2, 4, 4)
    assert got[10] == (3, 2, 4, 4)
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_stream_km_equals_batch(spark):
    sf = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in QUERIES["temporal_kaplan_meier"](spark, sf).collect()}
    stream = {tuple(r) for r in QUERIES["stream_kaplan_meier_maintain"](spark, sf).collect()}
    assert batch == stream and len(batch) > 0


def test_brier_decomposition_identity_and_perfect_forecast(spark):
    """BS == REL − RES + UNC up to the per-bin truncations (exact when no
    truncation occurs), and a PERFECT forecaster has REL=0 with RES=UNC."""
    import tempfile

    # perfect forecaster: p == 1e6*y exactly, two bins (0 and 1e6)
    rows = []
    for i in range(40):
        en = i % 4 == 0
        # text with all-stopwords => p_ppm = 1e6; no stopwords => 0
        text = "the of and in is to a the" if en else "xx yy zz ww"
        rows.append((i, text, "en" if en else "de", "s", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/documents.parquet")
    [r] = QUERIES["eval_brier_decomposition"](spark, d).collect()
    assert r.reliability_e12 == 0
    assert r.resolution_e12 == r.uncertainty_e12 > 0
    [b] = QUERIES["eval_brier_score"](spark, d).collect()
    assert b.brier_e12 == r.reliability_e12 - r.resolution_e12 + r.uncertainty_e12
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_velocity_profile_hand_case(spark):
    """Series 1, 3, 2, 2, 5 (cents 100, 300, 200, 200, 500): d1 = +200,
    -100, 0, +300; d2 = -300, +100, +300."""
    import datetime as dt
    import tempfile

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, i), 9, "x", v)
        for i, v in enumerate([1.0, 3.0, 2.0, 2.0, 5.0])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(d + "/events.parquet")
    [r] = QUERIES["temporal_velocity_profile"](spark, d).collect()
    assert (r.n_moves, r.n_up, r.n_down, r.max_jump, r.path_len, r.n_accel) == (
        4, 2, 1, 300, 600, 2,
    )
    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_harmonic_centrality_chain(spark):
    """Directed chain 0->1->2->3: node 0 reaches 3 targets at d=1,2,3 ->
    harmonic = 1e6 + 500000 + 333333."""
    from cell_kn_mvp_etl_ontologies_spark.plans.graph_query import (
        bounded_shortest_counts,
    )

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    dmin = bounded_shortest_counts(e, max_hops=6)
    got = {
        r.src: r.h
        for r in dmin.groupBy("src")
        .agg(F.sum(F.expr("1000000 DIV d")).alias("h"))
        .collect()
    }
    assert got == {0: 1_833_333, 1: 1_500_000, 2: 1_000_000}


def test_brier_per_bin_quotient_exact_past_bigint(spark):
    """ADVICE r10: the per-bin Murphy-decomposition quotients must stay in
    DECIMAL(38,0).  Spark's IntegralDivide (`DIV`) returns BIGINT and
    silently WRAPS once the quotient passes 9.2e18 (nk beyond ~9e6 rows
    per forecast bin at corpus scale); the pmod-exact-floor form matches
    Python bigint ground truth there."""
    nk = 30_000_000  # a 30M-row forecast bin: rel quotient ~ nk * 1e12
    p_ppm, dk = 750_000, 3_000_000
    rel_num = (nk * p_ppm - 1_000_000 * dk) ** 2
    want = rel_num // nk
    assert want > 2**63 - 1  # the quotient really is past BIGINT
    got = spark.sql(
        f"""
        SELECT CAST((rel_num - pmod(rel_num, CAST(nk AS DECIMAL(38,0))))
                    / nk AS DECIMAL(38,0)) AS q,
               rel_num DIV nk AS wrapped
        FROM (SELECT CAST('{rel_num}' AS DECIMAL(38,0)) AS rel_num,
                     CAST({nk} AS BIGINT) AS nk)
        """
    ).collect()[0]
    assert int(got.q) == want
    assert int(got.wrapped) != want  # the old DIV form really wraps here
