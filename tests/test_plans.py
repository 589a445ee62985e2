"""Plan-shape regression tests: the scale properties documented in SCALE.md,
asserted against `.explain`/physical-plan text so they cannot silently
regress.  These don't measure time — they pin the *structure* Catalyst
produces (exchange counts, broadcast strategies, scan pushdown)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.io import load_table
from cell_kn_mvp_etl_ontologies_spark.operators.aggregates import agg_pivot_vertex_attrs
from cell_kn_mvp_etl_ontologies_spark.operators.joins import join_ro_label_lookup
from cell_kn_mvp_etl_ontologies_spark.search import (
    build_inverted_index,
    text_en_no_stem_tokens,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_text(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def count_exchanges(df) -> int:
    # exclude reused exchanges; count physical shuffle boundaries
    return sum(
        1
        for line in plan_text(df).splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )


def test_parquet_filter_pushdown(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    q = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_partkey")
    txt = plan_text(q)
    assert "EqualTo(l_orderkey,42)" in txt.split("PushedFilters:")[1]
    # column pruning: scan schema carries only the two referenced columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in txt


def test_pivot_exchange_contract(spark):
    """The two-level pivot (round-11 rewrite, SCALE.md §pivot-ab): on
    unpartitioned input the planner pays two exchanges — raw rows on
    (id, number, attr), then only vertex×attr-cardinality compact rows on
    (id, number); when the caller pre-partitions by a subset of the keys
    (the graph_pivot bench shape) BOTH aggregation levels reuse that one
    exchange via the subset rule."""
    rows = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("id"),
        F.col("l_linenumber").cast("string").alias("number"),
        F.col("l_returnflag").alias("attr"),
        F.col("l_linestatus").alias("value"),
    )
    assert count_exchanges(agg_pivot_vertex_attrs(rows)) == 2
    assert count_exchanges(agg_pivot_vertex_attrs(rows.repartition("id"))) == 1


def test_dictionary_join_is_broadcast(spark):
    facts = load_table(spark, SF_DIR, "orders").withColumn(
        "pred_token", F.col("o_custkey").cast("string")
    )
    dim = (
        load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(F.col("c_custkey").cast("string").alias("term"), F.col("c_name").alias("label"))
    )
    out = join_ro_label_lookup(facts, dim, "pred_token", "label")
    assert "BroadcastHashJoin" in plan_text(out)


def test_inverted_index_is_single_exchange(spark):
    docs = load_table(spark, SF_DIR, "documents")
    idx = build_inverted_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)
    assert count_exchanges(idx) == 1


def test_startswith_whitelist_stays_predicate(spark):
    ev = load_table(spark, SF_DIR, "events")
    pred = F.col("event_type")
    q = ev.filter(pred.startswith("s") | pred.startswith("c")).select("event_id")
    assert "StartsWith" in optimized_text(q)


def test_uri_parse_not_inlined_into_filters(spark):
    """The persist barrier in parse_uri_dim must keep the VTuple regex parse
    out of pushed-down Filters.  Without it, PushDownPredicates substitutes
    the `valid` alias and lands ~8 copies of the parse below the union in
    both branches (>100 regexp_extract in one stage), overflowing the 64 KB
    codegen limit and forcing every task through a failing janino compile."""
    from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms, fixture_triples
    from cell_kn_mvp_etl_ontologies_spark.plans import build_graph, clean_triples

    clean = clean_triples(fixture_triples(spark), keep_src_file=False)
    g = build_graph(clean, fixture_ro_terms(spark))
    for df in (g.vertices, g.edges):
        plan = optimized_text(df)
        # the dimension is consumed from the cache, not recomputed per join
        assert "InMemoryRelation" in plan
        for line in plan.splitlines():
            if "Filter" in line:
                assert "regexp_extract" not in line
        # total parse copies stay bounded (pre-fix: >100 in a single stage)
        assert plan.count("regexp_extract") <= 40


def test_no_codegen_overflow_in_graph_build(spark):
    """The vtuple/URI expression chains must stay under the JVM codegen
    limit: WholeStageCodegen spans present, no fallback marker."""
    from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms, fixture_triples
    from cell_kn_mvp_etl_ontologies_spark.plans import build_graph, clean_triples

    clean = clean_triples(fixture_triples(spark), keep_src_file=False)
    g = build_graph(clean, fixture_ro_terms(spark))
    g.vertices.count()  # finalize the AQE plan so codegen markers appear
    txt = plan_text(g.vertices)
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the final plan
    assert "*(" in txt


def test_repetition_metrics_single_exchange(spark):
    """Bigram top-count runs both aggregation levels over ONE shuffle: the
    repartition on id satisfies the (id, bg) and (id) groupings."""
    from cell_kn_mvp_etl_ontologies_spark.operators.text_analysis import repetition_metrics

    docs = load_table(spark, SF_DIR, "documents")
    df = repetition_metrics(docs, "text", "doc_id")
    shuffles = sum(
        1
        for line in plan_text(df).splitlines()
        if "Exchange" in line
        and "ReusedExchange" not in line
        and "BroadcastExchange" not in line
    )
    assert shuffles == 1


def test_contamination_benchmark_is_broadcast(spark):
    """The benchmark shingle set must broadcast — the training side streams,
    never shuffles for the join."""
    from cell_kn_mvp_etl_ontologies_spark.operators.training import contamination_ngrams

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    df = contamination_ngrams(docs.filter(F.col("doc_id") >= 5), docs.filter(F.col("doc_id") < 5))
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan


def test_training_projections_shuffle_free(spark):
    """Split/stratified-sample/shard assignment are pure narrow plans — zero
    exchanges, so they pipeline into whatever scan precedes them."""
    from cell_kn_mvp_etl_ontologies_spark.operators.training import (
        assign_shards,
        sample_stratified,
        split_train_val_test,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    for df in (
        split_train_val_test(docs, "doc_id"),
        sample_stratified(docs, "lang", {"en": 0.5}, "doc_id"),
        assign_shards(docs, "doc_id", 8),
    ):
        assert count_exchanges(df) == 0
