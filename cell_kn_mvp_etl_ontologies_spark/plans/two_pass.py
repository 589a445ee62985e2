"""Two-pass pipeline orchestration (SURVEY.md §2.10 pipeline_two_pass).

Pass 1: all files → ontology graph.  Pass 2: one file (cl.owl) with the
strict object-in-root-namespace filter, reusing the ro dictionary.
Ref: OntologyGraphBuilder.java:491-626 (second pass 564-622, dict reuse 577,
strict flag 578).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.filters import filter_valid_triple
from .graph_build import GraphBuildResult, build_graph, clean_triples


def pipeline_two_pass(
    triples: DataFrame,
    ro_terms: DataFrame,
    pass2_file: str = "cl.owl",
    pass2_root_ns: str | Column = "http://purl.obolibrary.org/obo/CL",
) -> tuple[GraphBuildResult, GraphBuildResult]:
    # ontology-scale inputs: checkpoint each pass's clean triples, so each
    # pass's graph plans start from a materialized leaf (see the build_graph
    # docstring for when this is and isn't appropriate)
    pass1 = build_graph(clean_triples(triples, keep_src_file=False), ro_terms, persist_clean=True)
    strict = filter_valid_triple(
        triples.filter(F.col("src_file") == pass2_file), pass2_root_ns, test_object=True
    )
    pass2 = build_graph(clean_triples(strict, keep_src_file=False), ro_terms, persist_clean=True)
    return pass1, pass2
