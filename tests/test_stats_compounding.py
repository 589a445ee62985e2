"""The §stats-compounding rule as a GATE (VERDICT r13 #2).

Spark 4.x ``localCheckpoint`` carries the pre-checkpoint plan's COMPUTED
``sizeInBytes`` onto the new leaf; a recursing frame feeding >2 join
branches per round multiplies that estimate round over round, the
bit-length grows exponentially, and every stats walk pins the driver in
``BigInteger.multiply`` (measured r13: 210 s at 36k edges).  The rule —
">2 join branches per round ⇒ parquet stats cut" — is enforced by the
``STATS_BLOWUP`` check in ``tools/audit_plans.py`` over every catalog
query's returned frame.  This file pins the gate itself:

1. a SYNTHETIC VIOLATOR (3-branch self-join loop, bare localCheckpoint)
   must exceed the audit threshold within a few rounds;
2. the same loop routed through ``plans.graph_query.stats_cut`` must
   stay flat AND bit-identical in results;
3. the iterative catalog operators the rule names (SCC both tiers,
   Louvain, coreness) must sit far under the threshold — they were the
   motivating fixes (graph_scc measured 1771 bits before its cut).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.plans.graph_query import stats_cut

SF = "/root/testdata/sf0.001"

# the audit default (tools/audit_plans.py --stats-bits-max); a legitimate
# single-level plan estimate tops out near ~100 bits (product of a few
# 50-bit join sides) — only round-over-round compounding reaches 256.
AUDIT_BITS_MAX = 256


def _bits(df) -> int:
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()


def _violator_round(cur):
    """One round referencing the recursing frame in THREE join branches —
    the minimal shape past the >2-branch rule."""
    return (
        cur.alias("x")
        .join(cur.alias("y"), "b")
        .join(cur.alias("z"), "b")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(cur, "b")
        .select("a", "b")
        .distinct()
    )


def test_violator_trips_the_audit_threshold(spark):
    """Bare localCheckpoint through the 3-branch loop compounds past the
    STATS_BLOWUP threshold within 4 rounds (measured ~3x bits/round)."""
    base = spark.range(200).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")
    )
    cur = base.localCheckpoint(eager=True)
    trajectory = []
    for _ in range(4):
        cur = _violator_round(cur).localCheckpoint(eager=True)
        trajectory.append(_bits(cur))
    assert trajectory[-1] > AUDIT_BITS_MAX, trajectory
    # the growth is genuinely compounding, not one big constant
    assert trajectory[-1] > 2 * trajectory[0], trajectory


def test_stats_cut_keeps_the_same_loop_flat_and_exact(spark):
    """The SAME loop with stats_cut per round: bit-identical results,
    estimate pinned at real-file magnitude every round."""
    base = spark.range(200).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")
    )
    bad = base.localCheckpoint(eager=True)
    good = stats_cut(base)
    for _ in range(3):
        bad = _violator_round(bad).localCheckpoint(eager=True)
        good = stats_cut(_violator_round(good))
        assert _bits(good) < 64  # real parquet size, never an estimate blowup
    assert {tuple(r) for r in bad.collect()} == {
        tuple(r) for r in good.collect()
    }


def test_iterative_catalog_operators_sit_under_the_gate(spark):
    """The loop operators the rule names return frames whose stats are
    file-size magnitude — the audit's 256-bit ceiling has wide margin."""
    from cell_kn_mvp_etl_ontologies_spark import catalog

    catalog.load_all()
    for name in (
        "graph_scc",
        "graph_scc_fb",
        "graph_louvain_rounds",
        "graph_coreness_bounded",
        "dedup_connected_components",
        "graph_pagerank",
    ):
        bits = _bits(catalog.QUERIES[name](spark, SF))
        assert bits <= AUDIT_BITS_MAX, f"{name}: {bits} bits"


def test_betweenness_bounded_sits_under_the_gate_at_sf001(spark):
    """graph_betweenness_bounded joins its shortest-count table in three
    branches (sv ⋈ vt ⋈ st_); with a bare localCheckpoint the carried
    estimate reached 311 bits at sf0.01 — the stats cut keeps it flat."""
    from cell_kn_mvp_etl_ontologies_spark import catalog

    catalog.load_all()
    df = catalog.QUERIES["graph_betweenness_bounded"](spark, "/root/testdata/sf0.01")
    assert _bits(df) <= AUDIT_BITS_MAX


def test_stats_cut_shared_root_mode(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_STATS_CUT_DIR set, cuts write unique subdirs under
    the shared root, return plain parquet scans (flat stats, recompute
    fallback = re-read), and leave the files for job-owner cleanup."""
    import os

    from pyspark.sql import functions as F

    root = str(tmp_path / "shared")
    monkeypatch.setenv("SPARK_GRAFT_STATS_CUT_DIR", root)
    base = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")
    )
    cur = base
    for _ in range(3):
        cur = stats_cut(_violator_round(cur))
        assert _bits(cur) < 64
    assert cur.count() > 0  # the scans are readable end-to-end
    # every cut left its materialization under the root (no mid-job delete)
    subdirs = [d for d in os.listdir(root) if d.startswith("stats_cut_")]
    assert len(subdirs) == 3


def test_reliable_checkpoint_is_not_a_stats_reset(spark, tmp_path):
    """The measured warning pinned: Dataset.checkpoint with a reliable
    checkpoint dir carries compounded estimates exactly like
    localCheckpoint — only the parquet round-trip resets."""
    from pyspark.sql import functions as F

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    base = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") % 10).alias("b")
    )
    cur = base.checkpoint(eager=True)
    for _ in range(3):
        cur = _violator_round(cur).checkpoint(eager=True)
    assert _bits(cur) > 128  # reliable checkpoints compound too
