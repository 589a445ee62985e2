"""OWL → triples extraction plan (reference EP1 steps 1-3, EP2).

Composes the binaryFile/mapInPandas scans with the reference's filter chain:
root-namespace resolution, class filter, predicate whitelist, restriction
flattening, validity filter, global dedup — all declarative DataFrame ops
(SURVEY.md §3).

Like the reference's OntologyTripleParser, which parses each file once and
hands the graph builder a finished triple list, ``extract_triples`` parses
when it is called: the raw parse and the per-file root namespaces are
materialized with eager local checkpoints, and the returned clean-triples
plan starts from those two leaves.  Callers free them with
``plans.graph_build.release`` once their own copy of the output exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import IAO_ROOT_TERM
from ..operators.aggregates import agg_first_fallback_rootns
from ..operators.filters import filter_skip_file, valid_triple_predicate
from ..sources.owl import OWL_NS, RDF_NS, scan_rdf_triples, scan_xml_elements
from .graph_build import GraphBuildResult, build_graph, clean_triples, release

RDF_TYPE = RDF_NS + "type"
OWL_CLASS = OWL_NS + "Class"


def _is_class_decl() -> Column:
    return (F.col("predicate") == RDF_TYPE) & (F.col("object_iri") == OWL_CLASS)


def derive_root_ns(raw: DataFrame) -> DataFrame:
    """Per-file root namespace of raw triples: ``agg_first_fallback_rootns``
    over the ``rdf:type owl:Class`` statements and the IAO_0000700 root-term
    statements.  Ref: OntologyTripleParser.java:130-150."""
    iao = raw.filter(F.col("predicate") == IAO_ROOT_TERM).withColumnRenamed(
        "object_iri", "root_uri"
    )
    return agg_first_fallback_rootns(raw.filter(_is_class_decl()), iao)


def extract_triples(
    spark: SparkSession,
    path: str,
    test_object: bool = False,
    glob: str = "*.owl",
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Clean triples from a directory of OWL files.

    Chain (per file, all as one DataFrame DAG): raw RDF/XML scan → skip
    ro.owl → keep statements of root-namespace classes (+ bnode statements
    for the flattener) → predicate whitelist + restriction flattening +
    global dedup (clean_triples) → validity filter (strict object check when
    test_object).  Ref: OntologyTripleParser.java:62-121,159-171.

    The parse runs here, at call time: the raw parsed triples and then the
    per-file root namespaces are materialized with eager
    ``localCheckpoint``s.  The Arrow-batched Python RDF parse is
    the most expensive narrow stage in the pipeline and this plan references
    it from ~8 places (namespace derivation, class semi-join, bnode
    flattener, dedup) — parse ONCE, consume many; the one-row-per-file
    namespace frame feeds three of them.  A lazy persist would compute each
    once too, but every plan reading a cached frame re-plans that frame's
    whole subtree, while a checkpoint leaves a plain materialized leaf.  In
    a production run the same effect comes from landing raw triples to
    parquet right after parsing.  The trade is the one SCALE.md "Global
    posture" records: a lost executor loses its checkpoint blocks.

    Both checkpoints are appended to ``persisted_out`` and are needed only
    until the returned triples are materialized.  Free them with
    ``plans.graph_build.release`` (``DataFrame.unpersist()`` does not free
    checkpoint blocks): ``ontology_graph_from_owl`` does so as soon as
    ``build_graph`` has checkpointed its clean triples, and a caller that
    collects them should do the same once its own copy of the output is
    materialized.
    """
    parsed = scan_rdf_triples(spark, path, glob).localCheckpoint(eager=True)
    raw = filter_skip_file(parsed)
    root_ns = derive_root_ns(raw).localCheckpoint(eager=True)
    if persisted_out is not None:
        persisted_out.extend([parsed, root_ns])

    classes = raw.filter(_is_class_decl()).select("src_file", "subject").distinct()
    class_stmts = raw.join(classes, on=["src_file", "subject"], how="left_semi")
    class_stmts = class_stmts.join(root_ns, "src_file").filter(
        F.col("subject").startswith(F.col("root_ns"))
    )
    # statements about bnodes feed the restriction flattener
    bnode_stmts = raw.filter(F.col("subject").startswith("_:")).join(root_ns, "src_file")
    kept = class_stmts.unionByName(bnode_stmts)

    # clean first (whitelist + flatten + dedup), then validity — flattened
    # triples must pass the same validity check (OntologyTripleParser.java:109-115)
    cleaned = clean_triples(kept.drop("root_ns"))
    return (
        cleaned.join(root_ns, "src_file")
        .filter(valid_triple_predicate(F.col("root_ns"), test_object))
        .drop("root_ns")
    )


def ontology_graph_from_owl(spark: SparkSession, path: str) -> GraphBuildResult:
    """Full EP1 pipeline: OWL directory → property graph.  The triples are
    cleaned once, by ``extract_triples``; ``build_graph`` consumes them as
    they are.  The ro.owl term dictionary is parsed with the element scan
    (broadcast downstream)."""
    persisted: list[DataFrame] = []
    triples = extract_triples(spark, path, persisted_out=persisted)
    ro_terms = scan_xml_elements(spark, path, glob="ro.owl")
    # ontology corpora fit executor storage by construction (the reference
    # holds every triple in one JVM heap) — materialize the clean triples too
    result = build_graph(triples, ro_terms, persist_clean=True)
    # build_graph has checkpointed the clean triples: nothing downstream
    # reads the raw parse or the namespace dimension again
    for df in persisted:
        release(df)
    return result
