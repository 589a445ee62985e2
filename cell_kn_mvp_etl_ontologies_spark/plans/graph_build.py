"""Triples → property-graph pipeline (reference EP1, SURVEY.md §3).

``clean_triples`` is the one cleaning pass (``extract_triples`` runs it on
the OWL path).  ``build_graph`` takes clean triples as they are and
composes the graph DAG:

  triples ──(flatten restrictions: one aggregate)──┐
          ──(named-object filter chain)────────────┤→ clean triples (dedup)
                                                   │
        ┌── build_graph ───────────────────────────┘
        ├─ nodes → vtuple → valid → distinct ─────────→ vertex keys
        ├─ literal triples → label lookup → pivot ────→ vertex attrs (MAP)
        │    vertex keys ⟕ attrs → deprecated split ──→ vertices + side output
        └─ iri triples, both endpoints valid → label/source normalize
             → dedup (sorted sets) → endpoint semi-join ────→ edges

Everything is shuffle-based — no driver collects; the ro dictionary is the
only broadcast.  Replaces OntologyGraphBuilder.java:141-484's in-heap maps and
per-document HTTP round trips.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..constants import KIND_IRI
from ..functions import fn_normalize_edge_label, fn_normalize_edge_source, fn_predicate_label
from ..operators.aggregates import (
    TRIPLE_KEY,
    agg_dedup_edges,
    agg_distinct_triples,
    agg_distinct_vertices,
    agg_pivot_vertex_attrs,
)
from ..operators.filters import (
    filter_object_is_literal,
    filter_predicate_ns_whitelist,
    filter_skip_file,
    with_vtuple,
)
from ..operators.joins import (
    join_flatten_restriction,
    join_ro_label_lookup,
    join_semi_edge_endpoints,
)


@dataclass
class GraphBuildResult:
    vertices: DataFrame        # (collection, key, attrs) — deprecated/obsolete removed
    deprecated: DataFrame      # (term,) side-output rows "id_number"
    edges: DataFrame           # (from_collection, to_collection, from_key, to_key, labels, sources)
    edge_labels: DataFrame     # (raw_label,) distinct pre-normalization labels
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        """Release the dimension caches (URI dim, vertex set) and the
        clean-triples checkpoint once every output of this build has been
        materialized.  Reading an output afterwards recomputes a cache but
        fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) on the checkpoint."""
        for df in self.persisted:
            release(df)


def release(df: DataFrame) -> None:
    """Free the storage a frame holds, whether it was persisted or
    local-checkpointed.  ``DataFrame.unpersist()`` leaves local-checkpoint
    blocks in place: they belong to the RDD behind the frame's LogicalRDD
    leaf, which is unpersisted here too."""
    df.unpersist()
    leaf = df._jdf.queryExecution().analyzed()
    if leaf.nodeName() == "LogicalRDD":
        leaf.rdd().unpersist(False)


def clean_triples(triples: DataFrame, keep_src_file: bool = True) -> DataFrame:
    """Predicate-whitelisted named-object triples + flattened restrictions
    (whatever their ``owl:onProperty``: OntologyTripleParser.java:80-115
    flattens in the isAnon() branch, beside the namespace check), globally
    deduplicated, with the dictionary-only ro.owl skipped.  The upstream
    per-file root-namespace and class filters (OntologyTripleParser.java:74-77)
    are applied at extraction time by the sources; this operates on the long
    triples store.

    ``keep_src_file=False`` drops the provenance column before the dedup.
    The dedup key excludes src_file either way; carrying it as a passthrough
    forces the dedup into First()-aggregation, whose string buffer demotes
    the whole aggregate to SortAggregate (sorting 5 long-URI keys per
    partition).  Without it the dedup is a pure distinct — HashAggregate
    with an empty buffer — measured ~25% faster on the dedup stage at sf0.1.
    The graph build never reads src_file, so its callers opt out; callers
    that re-join per-file state (plans/extract.py) keep the default."""
    triples = filter_skip_file(triples)
    named = triples.filter(F.col("object_kind") != "bnode").filter(
        # bnode-subject statements (owl:onProperty / owl:someValuesFrom rows)
        # describe restrictions, not classes; they are consumed by the
        # flattener below, matching the reference's class-statement iteration.
        ~F.col("subject").startswith("_:")
    )
    named = filter_predicate_ns_whitelist(named)
    flattened = join_flatten_restriction(triples)
    unioned = named.unionByName(flattened)
    if not keep_src_file:
        return unioned.drop("src_file").distinct()
    return agg_distinct_triples(unioned)


def parse_uri_dim(
    clean: DataFrame,
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Distinct-URI dimension with parsed VTuple fields.

    Parsing (regex chains + 20-element isin) runs ONCE per distinct URI
    instead of per triple occurrence per field — at 100 TB the URI vocabulary
    is orders of magnitude smaller than the triple stream, so this trades two
    cheap hash joins (AQE broadcasts the dim when small) for a ~10-100× cut in
    string-parse CPU.

    The parsed dimension is persisted (MEMORY_AND_DISK) before the validity
    filter.  The persist is load-bearing,
    not a cache hint: ``PushDownPredicates`` substitutes the ``valid`` alias
    with its defining expression when pushing the filter through the parse
    projections, inlining ~8 copies of the whole regex chain into a filter
    that then lands below the union in BOTH branches (~100 regexp_extract
    calls in one stage).  That overflows the JVM's 64 KB codegen method limit;
    worse, every task then re-attempts (and re-fails) the janino compile of
    the ~12k-line stage, turning a 2 s parse into minutes.  The persist
    boundary stops alias substitution, keeps each parse step in its own small
    codegen stage, and computes the dimension once for all three joins
    against it instead of once per join.  At scale the dimension is orders of
    magnitude smaller than the triple stream, so executor storage holds it
    comfortably.

    Output: (node_uri, id, number) — only valid rows retained, so joins
    against it double as the validity filter (left join + null check, or
    inner join for "must be valid" paths).
    """
    uris = (
        clean.select(F.col("subject").alias("node_uri"))
        .unionAll(
            clean.filter(F.col("object_kind") == KIND_IRI).select(
                F.col("object_iri").alias("node_uri")
            )
        )
        .dropDuplicates(["node_uri"])
    )
    parsed = with_vtuple(uris, "node_uri", "")
    parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(parsed)
    return parsed.filter(F.col("valid")).select("node_uri", "id", "number")


def label_predicates(triples: DataFrame, ro_terms: DataFrame) -> DataFrame:
    """Attach the human predicate label: fragment/last-path token, then the
    broadcast ro-dictionary lookup.  Ref: OntologyGraphBuilder.java:105-131."""
    toks = triples.withColumn("pred_token", fn_predicate_label(F.col("predicate")))
    # Only fragment-less predicates consult the dictionary in the reference;
    # dictionary keys are RO_nnnnnnn tokens which never collide with fragment
    # labels, so an unconditional lookup is equivalent — and one join, not two.
    return join_ro_label_lookup(toks, ro_terms, "pred_token", "attr")


def build_vertices(
    clean: DataFrame, ro_terms: DataFrame, uri_dim: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(vertices, deprecated, valid_keys) from clean triples.

    vertices: (collection, key, attrs MAP<STRING,ARRAY<STRING>>)
    deprecated: (term,) rows "{id}_{number}" diverted to the side output.
    valid_keys: (collection, key) — the surviving vertex identity set.
    Ref: OntologyGraphBuilder.java:141-279.

    The deprecated/obsolete test is evaluated ROW-LEVEL on the labeled
    literal rows (attr='deprecated' & value~'true' | attr='label' &
    value~'obsolete') — equivalent to ``deprecated_obsolete_predicate`` on
    the pivoted map (the map's value array is exactly the collected values
    of that attr), but independent of the attrs pivot.  ``valid_keys`` is
    therefore all the edge builder needs for endpoint integrity, and the
    pivot — the build's most expensive aggregation — exists only in the
    ``vertices`` output branch: an edges-only consumer never computes it.
    """
    if uri_dim is None:
        uri_dim = parse_uri_dim(clean)
    keys = agg_distinct_vertices(uri_dim.select("id", "number"))

    lit_rows = filter_object_is_literal(clean)
    lit_rows = lit_rows.join(uri_dim, lit_rows["subject"] == uri_dim["node_uri"], "inner")
    lit_rows = label_predicates(lit_rows, ro_terms).select(
        "id", "number", "attr", F.col("object_lexical").alias("value")
    )
    dep_keys = (
        lit_rows.filter(
            ((F.col("attr") == "deprecated") & F.col("value").contains("true"))
            | ((F.col("attr") == "label") & F.col("value").contains("obsolete"))
        )
        .select("id", "number")
        .distinct()
    )
    valid = keys.join(dep_keys, on=["id", "number"], how="left_anti")
    deprecated = keys.join(dep_keys, on=["id", "number"], how="left_semi").select(
        F.concat_ws("_", F.col("id"), F.col("number")).alias("term")
    )

    attrs = agg_pivot_vertex_attrs(lit_rows)
    vertices = (
        valid.join(attrs, on=["id", "number"], how="left")
        .select(
            F.col("id").alias("collection"),
            F.col("number").alias("key"),
            F.coalesce(F.col("attrs"), F.map_from_arrays(F.array(), F.array())).alias("attrs"),
        )
    )
    valid_keys = valid.select(F.col("id").alias("collection"), F.col("number").alias("key"))
    return vertices, deprecated, valid_keys


def build_edges(
    clean: DataFrame,
    ro_terms: DataFrame,
    vertices: DataFrame,
    uri_dim: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(edges, raw_edge_labels) from clean triples.

    Edge rows need BOTH endpoint vtuples valid — two inner joins against the
    valid-only URI dimension; label = predicate label via ro dictionary,
    normalized; source = normalized subject ontology id.
    Ref: OntologyGraphBuilder.java:338-484.
    """
    if uri_dim is None:
        uri_dim = parse_uri_dim(clean)
    iri = clean.filter(F.col("object_kind") == KIND_IRI)
    from_dim = uri_dim.select(
        F.col("node_uri").alias("_from_uri"),
        F.col("id").alias("from_id"),
        F.col("number").alias("from_number"),
    )
    to_dim = uri_dim.select(
        F.col("node_uri").alias("_to_uri"),
        F.col("id").alias("to_id"),
        F.col("number").alias("to_number"),
    )
    both = iri.join(from_dim, iri["subject"] == from_dim["_from_uri"], "inner").join(
        to_dim, iri["object_iri"] == to_dim["_to_uri"], "inner"
    )
    labeled = label_predicates(both, ro_terms).withColumnRenamed("attr", "raw_label")
    edge_labels = labeled.select("raw_label").distinct()
    rows = labeled.select(
        F.col("from_id"),
        F.col("to_id"),
        F.col("from_number"),
        F.col("to_number"),
        fn_normalize_edge_label(F.col("raw_label")).alias("label"),
        fn_normalize_edge_source(F.col("from_id")).alias("source"),
    )
    edges = agg_dedup_edges(rows)
    edges = join_semi_edge_endpoints(edges, vertices)
    return edges, edge_labels


def build_graph(
    triples: DataFrame, ro_terms: DataFrame, persist_clean: bool = False
) -> GraphBuildResult:
    """Compose the full clean triples → graph DAG.

    ``triples`` must be clean: the output of ``extract_triples`` or of
    ``clean_triples`` (restrictions flattened, predicates whitelisted,
    globally deduplicated).  The build cleans nothing itself; it only
    projects the triple key, so ``src_file`` never reaches the checkpoint.
    A raw triple store goes through ``clean_triples(t, keep_src_file=False)``
    first, which keeps the global dedup a pure distinct (see its docstring).

    Two dimension-sized intermediates are persisted (MEMORY_AND_DISK), each
    consumed by 2-3 downstream joins that would otherwise recompute their
    whole upstream subtree per consumer:

      - the parsed URI dimension (see parse_uri_dim — its persist is also a
        codegen-overflow barrier);
      - the valid vertex KEY set (collection, key) — consumed by both
        endpoint semi-joins in the edges plan and by the vertices output.
        Persisting the keys (not the full vertices with their attrs map)
        keeps the attrs pivot — the build's most expensive aggregation —
        out of the edges DAG entirely: it runs only when the caller
        materializes ``vertices`` (see build_vertices).

    The triple stream (clean) is NOT materialized by default: when the input
    is fact-scale it doesn't fit executor storage, and its dedup exchange is
    reused by AQE within a job where plans coincide.  ``persist_clean=True``
    opts in for ontology-scale corpora (the reference holds ALL triples in a
    single JVM heap — cluster executor storage is strictly larger): the clean
    triples are materialized once, by an eager ``localCheckpoint`` run here,
    which saves the cleaning pass's recompute in each of the ~4
    consumers AND cuts their lineage, so the URI-dim, vertex, edge and sink
    plans all start from one materialized leaf.  A lazy persist does not cut
    it: every reference to a cached frame carries that frame's whole plan,
    and over nested caches (raw parse → root namespaces → clean triples)
    the corpus build's executed plans grew to 7-14 MB of text with
    thousands of joins, re-described by the driver at every execution start
    and adaptive re-plan (SCALE.md "Global posture").  ``extract_triples``
    checkpoints the raw parse and root namespaces for the same reason, so
    the checkpoint job here also plans from materialized leaves.  The trade:
    local-checkpoint blocks cannot be recomputed if the executor holding
    them dies — on a multi-node cluster swap in a reliable ``checkpoint()``.
    Call ``result.unpersist()`` after materializing all outputs; it frees the
    checkpoint too (see ``release``).
    """
    persisted: list[DataFrame] = []
    clean = triples.select(*TRIPLE_KEY)
    if persist_clean:
        clean = clean.localCheckpoint(eager=True)
        persisted.append(clean)
    uri_dim = parse_uri_dim(clean, persisted_out=persisted)
    vertices, deprecated, valid_keys = build_vertices(clean, ro_terms, uri_dim)
    valid_keys = valid_keys.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(valid_keys)
    edges, edge_labels = build_edges(clean, ro_terms, valid_keys, uri_dim)
    return GraphBuildResult(vertices, deprecated, edges, edge_labels, persisted)
