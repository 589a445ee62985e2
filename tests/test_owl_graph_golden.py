"""Golden pin of the OWL → graph → store path on the fixture directory.

``ontology_graph_from_owl`` on ``write_fixture_dir``, landed with
``write_graph`` and read back: every vertex with its full attrs map, every
edge with its labels and sources, and the deprecated side output, compared
against literal values (OntologyGraphBuilderTest.java:316-417 pins a subset
of these).
"""

from __future__ import annotations

from cell_kn_mvp_etl_ontologies_spark.plans.extract import ontology_graph_from_owl
from cell_kn_mvp_etl_ontologies_spark.sinks.graph import read_graph_vertices, write_graph
from cell_kn_mvp_etl_ontologies_spark.sources.owl_fixtures import write_fixture_dir

GOLDEN_VERTICES = [
    ("CL", "0000113", {}),
    ("CL", "0000145", {}),
    ("CL", "0000235", {
        "IAO_0000115": ["A mononuclear phagocyte present in variety of tissues."],
        "comment": ["Morphology: Diameter 30_M-80 _M."],
        "hasDbXref": [
            "BTO:0000801", "CALOHA:TS-0587", "FMA:63261",
            "FMA:83585", "MESH:D008264", "ZFA:0009141",
        ],
        "hasExactSynonym": ["histiocyte"],
        "id": ["CL:0000235"],
        "label": ["macrophage"],
    }),
    ("CL", "0000576", {"label": ["monocyte"]}),
    ("CL", "0000766", {}),
    ("GO", "0031268", {}),
    ("NCBITaxon", "9606", {}),
]

GOLDEN_EDGES = [
    ("CL", "0000235", "CL", "0000113", ["SUB_CLASS_OF"], ["CL"]),
    ("CL", "0000235", "CL", "0000145", ["SUB_CLASS_OF"], ["CL"]),
    ("CL", "0000235", "CL", "0000576", ["DEVELOPS_FROM"], ["CL"]),
    ("CL", "0000235", "CL", "0000766", ["SUB_CLASS_OF"], ["CL"]),
    ("CL", "0000235", "GO", "0031268", ["CAPABLE_OF"], ["CL"]),
    ("CL", "0000235", "NCBITaxon", "9606", ["PRESENT_IN_TAXON"], ["CL"]),
]


def test_owl_graph_landed_golden(spark, tmp_path):
    owl_dir = write_fixture_dir(str(tmp_path / "obo"))
    root = str(tmp_path / "store")
    g = ontology_graph_from_owl(spark, owl_dir)
    write_graph(g.vertices, g.edges, root, "db", "g")
    deprecated = sorted(r["term"] for r in g.deprecated.collect())
    g.unpersist()

    vertices = sorted(
        (r["collection"], r["key"], dict(r["attrs"]))
        for r in read_graph_vertices(spark, root, "db", "g").collect()
    )
    edges = sorted(
        (r["from_collection"], r["from_key"], r["to_collection"], r["to_key"],
         list(r["labels"]), list(r["sources"]))
        for r in spark.read.parquet(f"{root}/db/g/edges").collect()
    )
    assert vertices == GOLDEN_VERTICES
    assert edges == GOLDEN_EDGES
    assert deprecated == ["CL_0000999"]
