"""Fixture-driven graph-build tests — golden assertions mirroring
OntologyTripleParserTest.java:38-147 and OntologyGraphBuilderTest.java:316-417."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.fixtures import OBO, fixture_ro_terms, fixture_triples
from cell_kn_mvp_etl_ontologies_spark.operators import (
    agg_distinct_triples,
    join_flatten_restriction,
)
from cell_kn_mvp_etl_ontologies_spark.plans import build_graph, clean_triples


@pytest.fixture(scope="module")
def graph(spark):
    clean = clean_triples(fixture_triples(spark), keep_src_file=False)
    return build_graph(clean, fixture_ro_terms(spark))


def test_flatten_restriction(spark):
    flat = join_flatten_restriction(fixture_triples(spark))
    got = {(r["predicate"], r["object_iri"]) for r in flat.collect()}
    # OntologyTripleParserTest.java:58-85 + taxon restriction
    assert got == {
        (OBO + "RO_0002202", OBO + "CL_0000576"),
        (OBO + "RO_0002215", OBO + "GO_0031268"),
        (OBO + "RO_0002175", OBO + "NCBITaxon_9606"),
    }
    # incomplete bnode _:b3 (onProperty only) must be dropped
    assert flat.count() == 3


def test_clean_triples_dedup_and_skip_ro(spark):
    clean = clean_triples(fixture_triples(spark))
    assert clean.filter(F.col("src_file") == "ro.owl").count() == 0
    # the duplicated subClassOf CL_0000113 collapses to one row per file-agnostic key?
    # dedup keys exclude src_file -> one row total
    dup = clean.filter(
        (F.col("subject") == OBO + "CL_0000235") & (F.col("object_iri") == OBO + "CL_0000113")
    )
    assert dup.count() == 1
    # no bnode refs survive
    assert clean.filter(F.col("object_kind") == "bnode").count() == 0


def test_vertices_golden(graph):
    v = {(r["collection"], r["key"]) for r in graph.vertices.select("collection", "key").collect()}
    # macrophage + its subClassOf parents + restriction fillers + monocyte
    assert ("CL", "0000235") in v
    assert ("CL", "0000113") in v
    assert ("CL", "0000576") in v
    assert ("GO", "0031268") in v
    assert ("NCBITaxon", "9606") in v
    # deprecated/obsolete vertex removed
    assert ("CL", "0000999") not in v
    # BFO invalid id never becomes a vertex
    assert not any(c == "BFO" for c, _ in v)


def test_macrophage_attrs_golden(graph):
    row = graph.vertices.filter(
        (F.col("collection") == "CL") & (F.col("key") == "0000235")
    ).first()
    attrs = row["attrs"]
    # OntologyGraphBuilderTest.java:363-369
    assert attrs["label"] == ["macrophage"]
    assert sorted(attrs["hasDbXref"]) == sorted(
        ["ZFA:0009141", "CALOHA:TS-0587", "MESH:D008264", "FMA:83585", "BTO:0000801", "FMA:63261"]
    )
    assert attrs["hasExactSynonym"] == ["histiocyte"]
    assert attrs["id"] == ["CL:0000235"]
    assert "definition" in attrs or "IAO_0000115" in attrs


def test_deprecated_side_output(graph):
    assert {r["term"] for r in graph.deprecated.collect()} == {"CL_0000999"}


def test_edges_golden(graph):
    edges = {
        (r["from_collection"], r["from_key"], r["to_collection"], r["to_key"], tuple(r["labels"]))
        for r in graph.edges.collect()
    }
    # OntologyGraphBuilderTest.java:371-399
    assert ("CL", "0000235", "CL", "0000113", ("SUB_CLASS_OF",)) in edges
    assert ("CL", "0000235", "CL", "0000576", ("DEVELOPS_FROM",)) in edges
    assert ("CL", "0000235", "GO", "0031268", ("CAPABLE_OF",)) in edges
    assert ("CL", "0000235", "NCBITaxon", "9606", ("PRESENT_IN_TAXON",)) in edges
    # edge from the deprecated vertex CL_0000999 is dropped by the endpoint
    # semi-join because its vertex was filtered out
    assert not any(fk == "0000999" for _, fk, _, _, _ in edges)


def test_edge_sources_normalized(graph):
    srcs = {tuple(r["sources"]) for r in graph.edges.collect()}
    assert srcs == {("CL",)}


def test_raw_edge_labels(graph):
    labels = {r["raw_label"] for r in graph.edge_labels.collect()}
    assert labels == {"subClassOf", "develops from", "capable of", "present in taxon"}


def test_distinct_triples_idempotent(spark):
    t = fixture_triples(spark)
    once = agg_distinct_triples(t)
    assert once.count() == agg_distinct_triples(once).count()
