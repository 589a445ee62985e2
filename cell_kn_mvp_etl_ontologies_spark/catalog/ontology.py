"""Ontology-surface queries with constant (VALUES-based) DuckDB oracles.

These exercise the reference-specific operators — restriction flattening,
graph build, scalar URI functions, normalization maps, sinks, the two-pass
pipeline — on the golden macrophage fixture (FIXTURES.md), with oracles that
are literal expected-value SQL.  The driver's hash compare then checks golden
values end to end, the check layer the reference itself lacked (SURVEY.md §5).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ..constants import OBO_PURLS
from ..fixtures import fixture_ro_terms, fixture_triples
from ..functions import (
    fn_doc_collection_name,
    fn_doc_key,
    fn_extract_version_date,
    fn_normalize_edge_label,
    fn_normalize_edge_source,
    fn_predicate_label,
    fn_uri_basename,
    fn_uri_fragment,
    fn_version_newer,
    fn_vtuple,
)
from ..io import load_table
from ..operators import join_flatten_restriction, with_vtuple
from ..plans import GraphBuildResult, build_graph, clean_triples
from ..plans.two_pass import pipeline_two_pass
from . import finish_and_clean, register

OBO = "http://purl.obolibrary.org/obo/"


_OWL_DIR: str | None = None


def _fixture_owl_dir() -> str:
    """One shared fixture dir per process (content is static), removed at
    interpreter exit — repeated gate/bench runs must not accumulate /tmp
    state, and the OWL scan queries hold lazy plans over these files so the
    dir has to outlive every query in the run."""
    global _OWL_DIR
    if _OWL_DIR is None:
        import atexit
        import shutil

        from ..sources.owl_fixtures import write_fixture_dir

        root = tempfile.mkdtemp(prefix="owl_fixtures_")
        _OWL_DIR = write_fixture_dir(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return _OWL_DIR


def fixture_graph(spark) -> GraphBuildResult:
    """The golden macrophage fixture's graph: the fixture triple store
    cleaned once, then built with the clean triples checkpointed."""
    clean = clean_triples(fixture_triples(spark), keep_src_file=False)
    return build_graph(clean, fixture_ro_terms(spark), persist_clean=True)


# --------------------------------------------------------------------------
# join_flatten_restriction — golden flattened triples
# --------------------------------------------------------------------------
@register(
    "join_flatten_restriction",
    oracle=f"""
    SELECT * FROM (VALUES
      ('macrophage.owl', '{OBO}CL_0000235', '{OBO}RO_0002202', '{OBO}CL_0000576'),
      ('macrophage.owl', '{OBO}CL_0000235', '{OBO}RO_0002215', '{OBO}GO_0031268'),
      ('macrophage.owl', '{OBO}CL_0000235', '{OBO}RO_0002175', '{OBO}NCBITaxon_9606')
    ) AS t(src_file, subject, predicate, object_iri)
    """,
)
def join_flatten_restriction_q(spark, sf_dir):
    flat = join_flatten_restriction(fixture_triples(spark))
    return flat.select("src_file", "subject", "predicate", "object_iri")


# --------------------------------------------------------------------------
# graph build — vertices / edges / side outputs, golden values
# --------------------------------------------------------------------------
_VERTEX_ROWS = """
  ('CL', '0000113', NULL, NULL),
  ('CL', '0000145', NULL, NULL),
  ('CL', '0000766', NULL, NULL),
  ('GO', '0031268', NULL, NULL),
  ('NCBITaxon', '9606', NULL, NULL),
  ('CL', '0000576', 'label', 'monocyte'),
  ('CL', '0000235', 'label', 'macrophage'),
  ('CL', '0000235', 'IAO_0000115', 'A mononuclear phagocyte present in variety of tissues.'),
  ('CL', '0000235', 'comment', 'Morphology: Diameter 30_M-80 _M.'),
  ('CL', '0000235', 'hasDbXref', 'ZFA:0009141'),
  ('CL', '0000235', 'hasDbXref', 'CALOHA:TS-0587'),
  ('CL', '0000235', 'hasDbXref', 'MESH:D008264'),
  ('CL', '0000235', 'hasDbXref', 'FMA:83585'),
  ('CL', '0000235', 'hasDbXref', 'BTO:0000801'),
  ('CL', '0000235', 'hasDbXref', 'FMA:63261'),
  ('CL', '0000235', 'hasExactSynonym', 'histiocyte'),
  ('CL', '0000235', 'id', 'CL:0000235')
"""


@register(
    "graph_build_vertices",
    oracle=f"SELECT * FROM (VALUES {_VERTEX_ROWS}) AS t(collection, key, attr, value)",
)
def graph_build_vertices(spark, sf_dir):
    g = fixture_graph(spark)
    return (
        g.vertices.select("collection", "key", F.explode_outer("attrs").alias("attr", "values"))
        .select("collection", "key", "attr", F.explode_outer("values").alias("value"))
    )


_EDGE_ROWS = """
  ('CL', '0000235', 'CL', '0000113', 'SUB_CLASS_OF', 'CL'),
  ('CL', '0000235', 'CL', '0000145', 'SUB_CLASS_OF', 'CL'),
  ('CL', '0000235', 'CL', '0000766', 'SUB_CLASS_OF', 'CL'),
  ('CL', '0000235', 'CL', '0000576', 'DEVELOPS_FROM', 'CL'),
  ('CL', '0000235', 'GO', '0031268', 'CAPABLE_OF', 'CL'),
  ('CL', '0000235', 'NCBITaxon', '9606', 'PRESENT_IN_TAXON', 'CL')
"""


@register(
    "graph_build_edges",
    oracle=f"""
    SELECT * FROM (VALUES {_EDGE_ROWS})
    AS t(from_collection, from_key, to_collection, to_key, label, source)
    """,
)
def graph_build_edges(spark, sf_dir):
    g = fixture_graph(spark)
    # labels × sources per edge via chained explodes — edge keys are unique
    # after agg_dedup_edges, so this equals the (keys-join of the two
    # exploded views) without recomputing the edges subtree twice
    return g.edges.select(
        "from_collection", "from_key", "to_collection", "to_key",
        F.explode("labels").alias("label"), "sources",
    ).select(
        "from_collection", "from_key", "to_collection", "to_key",
        "label", F.explode("sources").alias("source"),
    )


@register(
    "pipeline_two_pass",
    oracle="""
    SELECT * FROM (VALUES
      ('pass1', 7, 6),
      ('pass2', 2, 1)
    ) AS t(pass, n_vertices, n_edges)
    """,
)
def pipeline_two_pass_q(spark, sf_dir):
    g1, g2 = pipeline_two_pass(fixture_triples(spark), fixture_ro_terms(spark))

    def counts(tag, g):
        return g.vertices.agg(F.count(F.lit(1)).alias("n_vertices")).crossJoin(
            g.edges.agg(F.count(F.lit(1)).alias("n_edges"))
        ).select(F.lit(tag).alias("pass"), F.col("n_vertices").cast("int"), F.col("n_edges").cast("int"))

    return counts("pass1", g1).unionByName(counts("pass2", g2))


# --------------------------------------------------------------------------
# sinks — write then read back (SURVEY.md §2.1)
# --------------------------------------------------------------------------
@register(
    "sink_graph_upsert",
    oracle="""
    SELECT * FROM (VALUES ('CL', 5), ('GO', 1), ('NCBITaxon', 1)) AS t(collection, n)
    """,
)
def sink_graph_upsert_q(spark, sf_dir):
    """Partitioned parquet graph store (replaces per-document ArangoDB HTTP
    upserts, OntologyGraphBuilder.java:254-273): write partitionBy(collection),
    read back, count per partition."""
    g = fixture_graph(spark)
    out = tempfile.mkdtemp(prefix="graph_sink_")
    g.vertices.write.mode("overwrite").partitionBy("collection").parquet(out)
    back = spark.read.parquet(out)
    counts = back.groupBy("collection").agg(F.count(F.lit(1)).cast("int").alias("n"))
    return finish_and_clean(counts, out)


@register(
    "sink_jsonl_export",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def sink_jsonl_export_q(spark, sf_dir):
    """JSONL export round-trip (export-arangodb.sh:1-13 -> df.write.json)."""
    nat = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="jsonl_sink_")
    nat.write.mode("overwrite").json(out)
    back = spark.read.json(out).select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )
    return finish_and_clean(back, out)


@register(
    "sink_side_output_deprecated",
    oracle="SELECT 'CL_0000999' AS term",
)
def sink_side_output_deprecated_q(spark, sf_dir):
    """Deprecated-terms side output (OntologyGraphBuilder.java:41,246-261,276):
    text-file write + read-back."""
    g = fixture_graph(spark)
    out = tempfile.mkdtemp(prefix="dep_terms_")
    g.deprecated.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(F.col("value").alias("term"))
    return finish_and_clean(back, out)


@register(
    "sink_side_output_edge_labels",
    oracle="""
    SELECT * FROM (VALUES
      ('subClassOf', 'SUB_CLASS_OF'),
      ('develops from', 'DEVELOPS_FROM'),
      ('capable of', 'CAPABLE_OF'),
      ('present in taxon', 'PRESENT_IN_TAXON')
    ) AS t(raw_label, normalized_label)
    """,
)
def sink_side_output_edge_labels_q(spark, sf_dir):
    """Edge-labels side output (OntologyGraphBuilder.java:42,556-562): raw +
    normalized, csv write + read-back."""
    g = fixture_graph(spark)
    labels = g.edge_labels.withColumn("normalized_label", fn_normalize_edge_label(F.col("raw_label")))
    out = tempfile.mkdtemp(prefix="edge_labels_")
    labels.write.mode("overwrite").option("header", "true").csv(out)
    return finish_and_clean(spark.read.option("header", "true").csv(out), out)


# --------------------------------------------------------------------------
# OWL sources (scan_xml_elements / scan_rdf_triples) + end-to-end pipeline
# --------------------------------------------------------------------------
@register(
    "scan_xml_elements",
    oracle=f"""
    SELECT * FROM (VALUES
      ('macrophage', 'CL_0000235', '{OBO}CL_0000235', 'macrophage'),
      ('macrophage', 'CL_0000576', '{OBO}CL_0000576', 'monocyte'),
      ('macrophage', 'CL_0000999', '{OBO}CL_0000999', 'obsolete nurse cell'),
      ('macrophage', 'BFO_0000004', '{OBO}BFO_0000004', 'independent continuant'),
      ('ro', 'RO_0002202', '{OBO}RO_0002202', 'develops from'),
      ('ro', 'RO_0002215', '{OBO}RO_0002215', 'capable of'),
      ('ro', 'RO_0002175', '{OBO}RO_0002175', 'present in taxon'),
      ('ro', 'RO_0002162', '{OBO}RO_0002162', 'in taxon'),
      ('no-IAO_0000700-test', 'XAO_0000001', '{OBO}XAO_0000001', 'anatomical entity')
    ) AS t(src_ontology, term, purl, label)
    """,
)
def scan_xml_elements_q(spark, sf_dir):
    """DOM element scan: owl:* elements with rdf:about + rdfs:label →
    term dictionary rows.  Ref: OntologyElementParser.java:97-135."""
    from ..sources.owl import scan_xml_elements

    return scan_xml_elements(spark, _fixture_owl_dir())


@register(
    "scan_term_prefixes",
    oracle="""
    SELECT * FROM (VALUES
      ('macrophage', 'CL'), ('macrophage', 'BFO'),
      ('ro', 'RO'),
      ('no-IAO_0000700-test', 'XAO')
    ) AS t(src_ontology, prefix)
    """,
)
def scan_term_prefixes_q(spark, sf_dir):
    """Per-file term-ID prefix set (the OntologyElementMap Set<String>,
    OntologyElementMap.java:13-47): distinct split(term,'_')[0] per
    ontology, per SURVEY §1.1."""
    from ..sources.owl import scan_xml_elements

    terms = scan_xml_elements(spark, _fixture_owl_dir())
    return terms.select(
        "src_ontology", F.split("term", "_").getItem(0).alias("prefix")
    ).distinct()


@register(
    "scan_ontology_meta",
    oracle=f"""
    SELECT * FROM (VALUES
      ('macrophage', '{OBO}cl.owl', '{OBO}cl/releases/2024-09-26/cl.owl', NULL, '{OBO}CL_0000000'),
      ('ro', '{OBO}ro.owl', '{OBO}ro/releases/2024-04-24/ro.owl', NULL, NULL),
      ('version-info-test', 'http://example.org/version-info-test.owl',
        'http://example.org/releases/2023-12-01/version-info-test.owl', '2024-01-15', NULL),
      ('no-version-test', 'http://example.org/no-version-test.owl', NULL, NULL, NULL),
      ('no-IAO_0000700-test', 'http://example.org/no-IAO_0000700-test.owl', NULL, NULL, NULL)
    ) AS t(src_ontology, purl, version_iri, version_info, root)
    """,
)
def scan_ontology_meta_q(spark, sf_dir):
    """Per-file ontology metadata scan (title/description/purl/versionIRI/
    versionInfo/root).  Ref: OntologyElementParser.java:146-184."""
    from ..sources.owl import scan_ontology_meta

    meta = scan_ontology_meta(spark, _fixture_owl_dir())
    return meta.select("src_ontology", "purl", "version_iri", "version_info", "root")


@register(
    "scan_rdf_triples",
    oracle="""
    SELECT * FROM (VALUES
      ('macrophage.owl', 'iri', NULL, NULL, 20),
      ('macrophage.owl', 'bnode', NULL, NULL, 3),
      ('macrophage.owl', 'literal', 'en', NULL, 1),
      ('macrophage.owl', 'literal', NULL, 'http://www.w3.org/2001/XMLSchema#boolean', 1),
      ('macrophage.owl', 'literal', NULL, NULL, 13),
      ('ro.owl', 'iri', NULL, NULL, 6), ('ro.owl', 'literal', NULL, NULL, 4),
      ('version-info-test.owl', 'iri', NULL, NULL, 2),
      ('version-info-test.owl', 'literal', NULL, NULL, 1),
      ('no-version-test.owl', 'iri', NULL, NULL, 1),
      ('no-IAO_0000700-test.owl', 'iri', NULL, NULL, 2),
      ('no-IAO_0000700-test.owl', 'literal', NULL, NULL, 1)
    ) AS t(src_file, object_kind, object_lang, object_datatype, n)
    """,
)
def scan_rdf_triples_q(spark, sf_dir):
    """Raw RDF/XML triple scan: per-file node-kind profile (bnode structure
    preserved for the flattener), round 6 extended with the literal
    lang/datatype annotations (the macrophage fixture carries an
    xml:lang="en" label and an xsd:boolean-typed owl:deprecated, the shapes
    real OBO ontologies ship).  Ref: OntologyTripleParser.java:62-121."""
    from ..sources.owl import scan_rdf_triples

    raw = scan_rdf_triples(spark, _fixture_owl_dir())
    return raw.groupBy(
        "src_file", "object_kind", "object_lang", "object_datatype"
    ).agg(F.count(F.lit(1)).cast("int").alias("n"))


@register(
    "scan_rdf_triples_split",
    oracle="""
    SELECT * FROM (VALUES
      ('macrophage.owl', 'iri', 20, 0), ('macrophage.owl', 'bnode', 3, 0), ('macrophage.owl', 'literal', 15, 0),
      ('ro.owl', 'iri', 6, 0), ('ro.owl', 'literal', 4, 0),
      ('version-info-test.owl', 'iri', 2, 0), ('version-info-test.owl', 'literal', 1, 0),
      ('no-version-test.owl', 'iri', 1, 0),
      ('no-IAO_0000700-test.owl', 'iri', 2, 0), ('no-IAO_0000700-test.owl', 'literal', 1, 0)
    ) AS t(src_file, object_kind, n, n_mismatch)
    """,
)
def scan_rdf_triples_split_q(spark, sf_dir):
    """Byte-range-parallel parse equivalence gate: parses the fixture dir
    BOTH whole-file and split (split_bytes=400 forces multiple fragments per
    file), full-outer-joins the two triple multisets on all six columns, and
    profiles per (src_file, object_kind) with a mismatch counter.  The
    oracle pins n_mismatch = 0 everywhere AND the same per-kind counts as
    scan_rdf_triples — split must be bit-identical to unsplit, bnode
    numbering included.  Ref: OntologyTripleParser.java:62-121; the split
    is the Hadoop-XmlInputFormat trade re-expressed over binaryFile +
    mapInPandas (sources/owl.py:scan_rdf_triples_split)."""
    from ..sources.owl import scan_rdf_triples, scan_rdf_triples_split

    key = [
        "src_file", "subject", "predicate", "object_kind",
        "object_iri", "object_lexical", "object_lang", "object_datatype",
    ]

    def keyed(df):
        # object_iri / object_lexical / lang / datatype are NULL by kind; a
        # plain equi-join would drop those keys (NULL != NULL), so
        # sentinel-coalesce them — cheaper at scale than eqNullSafe, which
        # defeats join pruning
        return df.select(
            "src_file", "subject", "predicate", "object_kind",
            F.coalesce("object_iri", F.lit("\x00")).alias("object_iri"),
            F.coalesce("object_lexical", F.lit("\x00")).alias("object_lexical"),
            F.coalesce("object_lang", F.lit("\x00")).alias("object_lang"),
            F.coalesce("object_datatype", F.lit("\x00")).alias("object_datatype"),
        )

    split = keyed(scan_rdf_triples_split(spark, _fixture_owl_dir(), split_bytes=400))
    whole = keyed(scan_rdf_triples(spark, _fixture_owl_dir()))
    sc = split.groupBy(key).agg(F.count(F.lit(1)).alias("n_split"))
    wc = whole.groupBy(key).agg(F.count(F.lit(1)).alias("n_whole"))
    j = sc.join(wc, on=key, how="full_outer").withColumn(
        "mismatch",
        (
            F.coalesce(F.col("n_split"), F.lit(0)) != F.coalesce(F.col("n_whole"), F.lit(0))
        ).cast("int"),
    )
    return j.groupBy("src_file", "object_kind").agg(
        F.sum("n_split").cast("int").alias("n"),
        F.sum("mismatch").cast("int").alias("n_mismatch"),
    )


@register(
    "extract_triples_owl",
    oracle="""
    SELECT * FROM (VALUES ('iri', 7), ('literal', 14)) AS t(object_kind, n)
    """,
)
def extract_triples_owl_q(spark, sf_dir):
    """Full extraction chain from OWL files: root-ns classes, predicate
    whitelist, restriction flattening, dedup.  Ref: OntologyTripleParser.java:62-171."""
    from ..plans.extract import extract_triples

    clean = extract_triples(spark, _fixture_owl_dir())
    return clean.groupBy("object_kind").agg(F.count(F.lit(1)).cast("int").alias("n"))


@register(
    "owl_graph_end_to_end",
    oracle=f"""
    SELECT * FROM (VALUES {_EDGE_ROWS})
    AS t(from_collection, from_key, to_collection, to_key, label, source)
    """,
)
def owl_graph_end_to_end_q(spark, sf_dir):
    """EP1 end to end: OWL directory → parse → extract → property graph;
    edge set matches the reference's integration-test golden values
    (OntologyGraphBuilderTest.java:371-399)."""
    from ..plans.extract import ontology_graph_from_owl

    g = ontology_graph_from_owl(spark, _fixture_owl_dir())
    return g.edges.select(
        "from_collection", "from_key", "to_collection", "to_key",
        F.explode("labels").alias("label"),
        F.element_at("sources", 1).alias("source"),
    )


# --------------------------------------------------------------------------
# source_http_versioned — version-compare decision logic (no network)
# --------------------------------------------------------------------------
_PURL_VALUES = ", ".join(f"({i}, '{p}')" for i, p in enumerate(OBO_PURLS))


@register(
    "source_http_versioned",
    oracle=f"""
    SELECT purl,
           regexp_extract(purl, '([^/]+)[.]owl$', 1) AS stem,
           '2024-0' || CAST((i % 3) + 1 AS VARCHAR) || '-15' AS ver_new,
           CASE WHEN i % 3 = 0 THEN NULL ELSE '2024-02-01' END AS ver_cur,
           CASE
             WHEN i % 3 = 0 THEN 'init'
             WHEN '2024-0' || CAST((i % 3) + 1 AS VARCHAR) || '-15' > '2024-02-01' THEN 'replace'
             ELSE 'keep'
           END AS decision
    FROM (VALUES {_PURL_VALUES}) AS t(i, purl)
    """,
)
def source_http_versioned_q(spark, sf_dir):
    """Version-compare replace/archive decision (OntologyDownloader.java:86-133)
    as a DataFrame over the 9 OBO PURLs; the HTTP fetch itself stays
    driver-side (sources.http_versioned) and is not exercised here."""
    rows = [(i, p) for i, p in enumerate(OBO_PURLS)]
    df = spark.createDataFrame(rows, "i: int, purl: string")
    ver_new = F.concat(F.lit("2024-0"), ((F.col("i") % 3) + 1).cast("string"), F.lit("-15"))
    ver_cur = F.when(F.col("i") % 3 != 0, F.lit("2024-02-01"))
    stem = F.regexp_extract(fn_uri_basename(F.col("purl")), r"(.+)\.owl$", 1)
    return df.select(
        "purl",
        stem.alias("stem"),
        ver_new.alias("ver_new"),
        ver_cur.alias("ver_cur"),
        F.when(ver_cur.isNull(), "init")
        .when(fn_version_newer(ver_new, ver_cur), "replace")
        .otherwise("keep")
        .alias("decision"),
    )


# --------------------------------------------------------------------------
# §2.8 scalar function surfaces
# --------------------------------------------------------------------------
@register(
    "fn_vtuple",
    oracle=f"""
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
      CASE p_partkey % 4
        WHEN 0 THEN 'CL_' || CAST(p_partkey AS VARCHAR)
        WHEN 2 THEN 'PCLCS_' || CAST(p_partkey AS VARCHAR)
      END AS term,
      CASE p_partkey % 4 WHEN 0 THEN 'CL' WHEN 2 THEN 'PCLCS' END AS id,
      CASE p_partkey % 4
        WHEN 0 THEN CAST(p_partkey AS VARCHAR)
        WHEN 2 THEN CAST(p_partkey AS VARCHAR)
      END AS number,
      (p_partkey % 4 = 0) AS is_valid_vertex
    FROM part
    """,
)
def fn_vtuple_q(spark, sf_dir):
    """createVTuple over four URI shapes (valid CL term, fragment-only,
    pcl/CS rewrite, opaque colon URI).  Ref: OntologyGraphBuilder.java:72-102."""
    part = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey") % 4
    uri = (
        F.when(k == 0, F.concat(F.lit(OBO + "CL_"), F.col("p_partkey").cast("string")))
        .when(k == 1, F.lit("http://www.w3.org/2000/01/rdf-schema#subClassOf"))
        .when(k == 2, F.concat(F.lit(OBO + "pcl/CS"), F.col("p_partkey").cast("string")))
        .otherwise(F.concat(F.lit("CL:"), F.col("p_partkey").cast("string")))
    )
    # with_vtuple (staged withColumns), not fn_vtuple(...).select("vt.*"):
    # expanding the struct per field substitutes the full parse expression
    # into every output column (~350 regexp calls in one projection); the
    # staged form keeps the multi-use parse steps in their own projections.
    base = part.select(
        F.col("p_partkey").cast("long").alias("p_partkey"), uri.alias("node_uri")
    )
    return with_vtuple(base, "node_uri", "").select(
        "p_partkey", "term", "id", "number", F.col("valid").alias("is_valid_vertex")
    )


@register(
    "fn_uri_parse",
    oracle="""
    SELECT doc_id,
           'D_' || CAST(doc_id AS VARCHAR) AS basename,
           CASE WHEN doc_id % 2 = 0 THEN 'frag' || CAST(doc_id AS VARCHAR) END AS fragment,
           CASE WHEN doc_id % 2 = 0 THEN 'frag' || CAST(doc_id AS VARCHAR)
                ELSE 'D_' || CAST(doc_id AS VARCHAR) END AS pred_label
    FROM documents
    """,
)
def fn_uri_parse_q(spark, sf_dir):
    """fn_uri_basename / fn_uri_fragment / fn_predicate_label over URIs with
    and without fragments.  Ref: OntologyGraphBuilder.java:81-85,105-131."""
    docs = load_table(spark, sf_dir, "documents")
    base = F.concat(F.lit("http://example.org/obo/D_"), F.col("doc_id").cast("string"))
    uri = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(base, F.lit("#frag"), F.col("doc_id").cast("string")),
    ).otherwise(base)
    return docs.select(
        "doc_id",
        fn_uri_basename(uri).alias("basename"),
        fn_uri_fragment(uri).alias("fragment"),
        fn_predicate_label(uri).alias("pred_label"),
    )


@register(
    "fn_doc_id_helpers",
    oracle="""
    SELECT doc_id, source || '/' || CAST(doc_id AS VARCHAR) AS full_id,
           source AS collection, CAST(doc_id AS VARCHAR) AS key
    FROM documents
    UNION ALL
    SELECT doc_id, source AS full_id, NULL AS collection, NULL AS key
    FROM documents WHERE doc_id < 20
    """,
)
def fn_doc_id_helpers_q(spark, sf_dir):
    """getDocumentCollectionName / getDocumentKey golden behavior incl. the
    no-slash NULL path.  Ref: OntologyGraphBuilder.java:415-436."""
    docs = load_table(spark, sf_dir, "documents")
    with_slash = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string")).alias("full_id"),
    )
    no_slash = docs.filter(F.col("doc_id") < 20).select("doc_id", F.col("source").alias("full_id"))
    ids = with_slash.unionByName(no_slash)
    return ids.select(
        "doc_id",
        "full_id",
        fn_doc_collection_name(F.col("full_id")).alias("collection"),
        fn_doc_key(F.col("full_id")).alias("key"),
    )


_LABEL_SPECIALS = [
    "subClassOf", "disjointWith", "crossSpeciesExactMatch",
    "exactMatch", "equivalentClass", "seeAlso", "develops from",
]


@register(
    "fn_normalize_edge_label",
    oracle="""
    SELECT raw_label,
      CASE raw_label
        WHEN 'subClassOf' THEN 'SUB_CLASS_OF'
        WHEN 'disjointWith' THEN 'DISJOINT_WITH'
        WHEN 'crossSpeciesExactMatch' THEN 'CROSS_SPECIES_EXACT_MATCH'
        WHEN 'exactMatch' THEN 'EXACT_MATCH'
        WHEN 'equivalentClass' THEN 'EQUIVALENT_CLASS'
        WHEN 'seeAlso' THEN 'SEE_ALSO'
        ELSE UPPER(REPLACE(raw_label, ' ', '_'))
      END AS normalized
    FROM (
      SELECT DISTINCT event_type AS raw_label FROM events
      UNION
      SELECT * FROM (VALUES ('subClassOf'), ('disjointWith'), ('crossSpeciesExactMatch'),
        ('exactMatch'), ('equivalentClass'), ('seeAlso'), ('develops from')) AS t(raw_label)
    )
    """,
)
def fn_normalize_edge_label_q(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(F.col("event_type").alias("raw_label")).distinct()
    specials = spark.createDataFrame([(s,) for s in _LABEL_SPECIALS], "raw_label: string")
    labels = ev.unionByName(specials).distinct()
    return labels.select("raw_label", fn_normalize_edge_label(F.col("raw_label")).alias("normalized"))


@register(
    "fn_normalize_edge_source",
    oracle="""
    SELECT source,
      CASE source
        WHEN 'mondo-simple' THEN 'MONDO'
        WHEN 'taxslim' THEN 'NCBITAXON'
        WHEN 'go-plus' THEN 'GO'
        WHEN 'uberon-base' THEN 'UBERON'
        ELSE UPPER(source)
      END AS normalized
    FROM (
      SELECT DISTINCT source FROM documents
      UNION
      SELECT * FROM (VALUES ('mondo-simple'), ('taxslim'), ('go-plus'), ('uberon-base')) AS t(source)
    )
    """,
)
def fn_normalize_edge_source_q(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("source").distinct()
    specials = spark.createDataFrame(
        [("mondo-simple",), ("taxslim",), ("go-plus",), ("uberon-base",)], "source: string"
    )
    src = docs.unionByName(specials).distinct()
    return src.select("source", fn_normalize_edge_source(F.col("source")).alias("normalized"))


@register(
    "fn_extract_version_date",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d') END AS vdate,
           CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d') > '1998-06-01'
                ELSE FALSE END AS is_newer
    FROM orders
    """,
)
def fn_extract_version_date_q(spark, sf_dir):
    """Date regex extraction + lexicographic newer-than compare.
    Ref: OntologyDownloader.java:38,48-74,113."""
    o = load_table(spark, sf_dir, "orders")
    vtext = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("releases/"), F.date_format("o_orderdate", "yyyy-MM-dd"), F.lit("/x.owl")),
    ).otherwise(F.lit("no date here"))
    vdate = fn_extract_version_date(vtext)
    return o.select(
        "o_orderkey",
        vdate.alias("vdate"),
        fn_version_newer(vdate, F.lit("1998-06-01")).alias("is_newer"),
    )


@register(
    "fn_json_config",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
    FROM events GROUP BY k
    """,
)
def fn_json_config_q(spark, sf_dir):
    """JSON config/field extraction (ArangoDbUtilities.java:280-307) as a
    data-plane get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "fn_label_lang_fallback",
    oracle="""
    WITH derived AS (
      SELECT 'http://x/doc/' || CAST(doc_id % 97 AS VARCHAR) AS subject,
             substring(text, 1, 16) AS label,
             CASE WHEN doc_id % 4 = 0 THEN NULL ELSE lang END AS lang
      FROM documents
    ), planted AS (
      SELECT * FROM (VALUES
        ('http://x/A', 'label-en', 'en'),
        ('http://x/A', 'label-fr', 'fr'),
        ('http://x/A', 'label-plain', CAST(NULL AS VARCHAR)),
        ('http://x/B', 'label-de', 'de'),
        ('http://x/B', 'label-fr', 'fr'),
        ('http://x/C', 'label-plain', CAST(NULL AS VARCHAR)),
        ('http://x/D', 'zzz-fr', 'fr'),
        ('http://x/D', 'aaa-fr', 'fr')
      ) AS t(subject, label, lang)
    ), labels AS (
      SELECT * FROM derived UNION ALL SELECT * FROM planted
    ), ranked AS (
      SELECT subject, label, lang,
        CASE WHEN lang = 'en' THEN 0 WHEN lang = 'de' THEN 1
             WHEN lang IS NULL THEN 2 ELSE 3 END AS prio,
        row_number() OVER (
          PARTITION BY subject
          ORDER BY CASE WHEN lang = 'en' THEN 0 WHEN lang = 'de' THEN 1
                        WHEN lang IS NULL THEN 2 ELSE 3 END ASC,
                   label ASC, lang ASC NULLS FIRST
        ) AS rn
      FROM labels
    )
    SELECT subject, label, lang,
      CASE WHEN prio < 2 THEN 'lang:' || lang
           WHEN lang IS NULL THEN 'untagged' ELSE 'other' END AS src
    FROM ranked WHERE rn = 1
    """,
)
def fn_label_lang_fallback_q(spark, sf_dir):
    """Language-priority label selection over the round-6 object_lang
    column (operators/filters.py label_lang_preferred): per subject, keep
    the first label by (en, de, untagged, any-tag) priority with
    deterministic (lexical, lang) tie-breaks — the Jena
    getLiteralLanguage() scan the reference never needed because its OBO
    inputs are untagged, now first-class and hash-gated.

    Table-driven (VERDICT r6 #6): ~500 label triples derived
    deterministically from the sf documents table — ~97 subjects each
    carrying ~5 labels with the table's real en/de/es/fr/zh tag mix and
    every 4th label untagged — so the window exercises multi-language
    contention at table scale; the original planted rows stay unioned in
    as a floor covering every fallback bucket (en wins, de-only,
    untagged-only, fr-only with lexical tie-break), plus filtered noise
    (non-label predicate, iri-kind object)."""
    from ..fixtures import RDFS, TRIPLES_SCHEMA
    from ..operators.filters import label_lang_preferred

    docs = load_table(spark, sf_dir, "documents")
    derived = docs.selectExpr(
        "'docs' AS src_file",
        "concat('http://x/doc/', cast(doc_id % 97 AS string)) AS subject",
        f"'{RDFS}label' AS predicate",
        "'literal' AS object_kind",
        "CAST(NULL AS string) AS object_iri",
        "substring(text, 1, 16) AS object_lexical",
        "CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS string) ELSE lang END AS object_lang",
        "CAST(NULL AS string) AS object_datatype",
    )
    rows = [
        ("f", "http://x/A", RDFS + "label", "literal", None, "label-en", "en", None),
        ("f", "http://x/A", RDFS + "label", "literal", None, "label-fr", "fr", None),
        ("f", "http://x/A", RDFS + "label", "literal", None, "label-plain", None, None),
        ("f", "http://x/B", RDFS + "label", "literal", None, "label-de", "de", None),
        ("f", "http://x/B", RDFS + "label", "literal", None, "label-fr", "fr", None),
        ("f", "http://x/C", RDFS + "label", "literal", None, "label-plain", None, None),
        ("f", "http://x/D", RDFS + "label", "literal", None, "zzz-fr", "fr", None),
        ("f", "http://x/D", RDFS + "label", "literal", None, "aaa-fr", "fr", None),
        # noise: non-label predicate and a typed literal must be ignored
        ("f", "http://x/A", RDFS + "comment", "literal", None, "not a label", "en", None),
        ("f", "http://x/A", RDFS + "label", "iri", "http://x/not-literal", None, None, None),
    ]
    triples = derived.unionByName(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    return label_lang_preferred(triples, RDFS + "label", langs=("en", "de"))


@register(
    "quality_typed_literals",
    oracle="""
    WITH derived AS (
      SELECT
        CASE doc_id % 6
          WHEN 0 THEN 'http://www.w3.org/2001/XMLSchema#boolean'
          WHEN 1 THEN 'http://www.w3.org/2001/XMLSchema#integer'
          WHEN 2 THEN 'http://www.w3.org/2001/XMLSchema#date'
          WHEN 3 THEN CAST(NULL AS VARCHAR)
          WHEN 4 THEN 'http://example.org/customType'
          ELSE 'http://www.w3.org/2001/XMLSchema#decimal'
        END AS object_datatype,
        CASE doc_id % 6
          WHEN 0 THEN (CASE WHEN (doc_id // 6) % 3 = 0 THEN 'yes' ELSE 'true' END)
          WHEN 1 THEN (CASE WHEN (doc_id // 6) % 3 = 0 THEN substring(text, 1, 8)
                            ELSE CAST(n_chars AS VARCHAR) END)
          WHEN 2 THEN (CASE WHEN (doc_id // 6) % 3 = 0 THEN 'Jan 15' ELSE '2024-01-15' END)
          WHEN 3 THEN substring(text, 1, 8)
          WHEN 4 THEN 'opaque'
          ELSE (CASE WHEN (doc_id // 6) % 3 = 0 THEN '3..14' ELSE '3.14' END)
        END AS object_lexical
      FROM documents
    ), planted AS (
      SELECT * FROM (VALUES
        ('http://www.w3.org/2001/XMLSchema#boolean', 'true'),
        ('http://www.w3.org/2001/XMLSchema#boolean', '0'),
        ('http://www.w3.org/2001/XMLSchema#boolean', 'yes'),
        ('http://www.w3.org/2001/XMLSchema#integer', '42'),
        ('http://www.w3.org/2001/XMLSchema#integer', '4.2'),
        ('http://www.w3.org/2001/XMLSchema#date', '2024-01-15'),
        ('http://www.w3.org/2001/XMLSchema#date', 'Jan 15'),
        (CAST(NULL AS VARCHAR), 'plain'),
        (CAST(NULL AS VARCHAR), 'tagged'),
        ('http://example.org/customType', 'opaque')
      ) AS t(object_datatype, object_lexical)
    ), lit AS (
      SELECT * FROM derived UNION ALL SELECT * FROM planted
    )
    SELECT object_datatype,
      CASE
        WHEN object_datatype IS NULL THEN 'untyped'
        WHEN object_datatype = 'http://www.w3.org/2001/XMLSchema#boolean' THEN
          (CASE WHEN regexp_matches(object_lexical, '^(true|false|1|0)$')
                THEN 'valid' ELSE 'invalid' END)
        WHEN object_datatype = 'http://www.w3.org/2001/XMLSchema#integer' THEN
          (CASE WHEN regexp_matches(object_lexical, '^[+-]?[0-9]+$')
                THEN 'valid' ELSE 'invalid' END)
        WHEN object_datatype = 'http://www.w3.org/2001/XMLSchema#date' THEN
          (CASE WHEN regexp_matches(object_lexical,
                  '^-?[0-9]{4}-[0-9]{2}-[0-9]{2}(Z|[+-][0-9]{2}:[0-9]{2})?$')
                THEN 'valid' ELSE 'invalid' END)
        WHEN object_datatype = 'http://www.w3.org/2001/XMLSchema#decimal' THEN
          (CASE WHEN regexp_matches(object_lexical, '^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$')
                THEN 'valid' ELSE 'invalid' END)
        ELSE 'unknown_datatype'
      END AS status,
      CAST(count(*) AS BIGINT) AS n
    FROM lit
    GROUP BY 1, 2
    """,
)
def quality_typed_literals_q(spark, sf_dir):
    """Typed-literal lexical validation over the round-6 object_datatype
    column (operators/quality.py validate_typed_literals): every literal
    with a known XSD datatype checked against its anchored lexical
    pattern — the audit Jena defers to a DatatypeFormatException at access
    time, recast as one scan + one hash aggregate so a 100 TB ingest
    counts and routes violations instead of throwing.

    Table-driven (VERDICT r6 #6): ~500 typed literals derived
    deterministically from the sf documents table — doc_id%6 picks the
    datatype bucket (boolean/integer/date/untyped/custom/decimal) and a
    second deterministic digit plants a ~1/3 invalid rate inside each
    validated bucket — so the audit aggregates thousands of pattern
    evaluations at table scale; the original planted rows stay unioned in
    as a floor (every status bucket present even if the derivation
    changes), and a non-literal noise row pins the literal-only filter."""
    from ..fixtures import RDFS, TRIPLES_SCHEMA
    from ..operators.quality import validate_typed_literals

    XSD = "http://www.w3.org/2001/XMLSchema#"
    P = "http://example.org/p"
    docs = load_table(spark, sf_dir, "documents")
    derived = docs.selectExpr(
        "'docs' AS src_file",
        "concat('http://x/doc/', cast(doc_id AS string)) AS subject",
        f"'{P}' AS predicate",
        "'literal' AS object_kind",
        "CAST(NULL AS string) AS object_iri",
        f"""CASE doc_id % 6
          WHEN 0 THEN (CASE WHEN (doc_id div 6) % 3 = 0 THEN 'yes' ELSE 'true' END)
          WHEN 1 THEN (CASE WHEN (doc_id div 6) % 3 = 0 THEN substring(text, 1, 8)
                            ELSE cast(n_chars AS string) END)
          WHEN 2 THEN (CASE WHEN (doc_id div 6) % 3 = 0 THEN 'Jan 15' ELSE '2024-01-15' END)
          WHEN 3 THEN substring(text, 1, 8)
          WHEN 4 THEN 'opaque'
          ELSE (CASE WHEN (doc_id div 6) % 3 = 0 THEN '3..14' ELSE '3.14' END)
        END AS object_lexical""",
        "CAST(NULL AS string) AS object_lang",
        f"""CASE doc_id % 6
          WHEN 0 THEN '{XSD}boolean'
          WHEN 1 THEN '{XSD}integer'
          WHEN 2 THEN '{XSD}date'
          WHEN 3 THEN CAST(NULL AS string)
          WHEN 4 THEN 'http://example.org/customType'
          ELSE '{XSD}decimal'
        END AS object_datatype""",
    )
    rows = [
        ("f", "http://x/A", P, "literal", None, "true", None, XSD + "boolean"),
        ("f", "http://x/A", P, "literal", None, "0", None, XSD + "boolean"),
        ("f", "http://x/A", P, "literal", None, "yes", None, XSD + "boolean"),
        ("f", "http://x/B", P, "literal", None, "42", None, XSD + "integer"),
        ("f", "http://x/B", P, "literal", None, "4.2", None, XSD + "integer"),
        ("f", "http://x/C", P, "literal", None, "2024-01-15", None, XSD + "date"),
        ("f", "http://x/C", P, "literal", None, "Jan 15", None, XSD + "date"),
        ("f", "http://x/D", RDFS + "label", "literal", None, "plain", None, None),
        ("f", "http://x/D", RDFS + "label", "literal", None, "tagged", "en", None),
        ("f", "http://x/E", P, "literal", None, "opaque",
         None, "http://example.org/customType"),
        # non-literal rows must be ignored by the audit
        ("f", "http://x/A", P, "iri", "http://x/B", None, None, None),
    ]
    triples = derived.unionByName(spark.createDataFrame(rows, TRIPLES_SCHEMA))
    return validate_typed_literals(triples)


@register(
    "source_jsonl_corrupt_routing",
    oracle="""
    SELECT * FROM (VALUES
      ('valid', CAST(3 AS BIGINT), CAST(6 AS BIGINT)),
      ('corrupt', CAST(2 AS BIGINT), CAST(NULL AS BIGINT))
    ) AS t(bucket, n, doc_id_sum)
    """,
)
def source_jsonl_corrupt_routing_q(spark, sf_dir):
    """Production JSONL ingest with corrupt-record routing
    (sources/files.py read_jsonl_with_corrupt_routing): explicit schema,
    PERMISSIVE parse, malformed lines quarantined to a side output with
    the raw line intact — never a crashed job (FAILFAST) or silent loss
    (DROPMALFORMED).  One corpus scan writes both side outputs
    (partitionBy route — VERDICT r6 #5; no corpus-sized cache), and the
    returned frames are lazy columnar readers over them.  Planted corpus:
    three valid documents, one broken JSON line, one type-drift line
    (string where the schema says LONG) — the summary pins that exactly
    the valid rows parse and BOTH failure classes route to quarantine."""
    import os

    from ..sources.files import read_jsonl_with_corrupt_routing

    root = tempfile.mkdtemp(prefix="jsonl_ingest_")
    with open(os.path.join(root, "docs.jsonl"), "w") as f:
        f.write('{"doc_id": 1, "text": "alpha"}\n')
        f.write('{"doc_id": 2, "text": "beta"}\n')
        f.write('{"doc_id": 4, "text": unterminated\n')  # broken JSON
        f.write('{"doc_id": 3, "text": "gamma"}\n')
        f.write('{"doc_id": "not-a-number", "text": "drift"}\n')  # type drift
    routed_dir = tempfile.mkdtemp(prefix="jsonl_routed_")
    valid, corrupt = read_jsonl_with_corrupt_routing(
        spark, root, "doc_id LONG, text STRING", out_dir=routed_dir
    )
    summary = valid.agg(
        F.lit("valid").alias("bucket"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
    ).unionByName(
        corrupt.agg(
            F.lit("corrupt").alias("bucket"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.lit(None).cast("long").alias("doc_id_sum"),
        )
    )
    return finish_and_clean(summary, root, routed_dir)
