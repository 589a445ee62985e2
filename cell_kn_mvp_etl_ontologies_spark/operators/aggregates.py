"""Aggregation operators (SURVEY.md §2.4).

The reference's HashSet-iteration last-write-wins is nondeterministic; this
engine standardizes on **sorted-set semantics** (sort_array(collect_set(...)))
which matches the list-typed expectations of the reference's integration test
(OntologyGraphBuilderTest.java:364,378) and is reproducible at any parallelism.

Scale notes: every groupBy here is a hash aggregate with map-side partial
aggregation; keys are strings (id/number/attr) with high cardinality and no
inherent skew.  collect_set partial-aggregates too, and per-vertex attribute
sets are bounded by the ontology vocabulary (small), so state stays tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# lang/datatype are part of triple identity (round 6): Jena triples that
# differ only in language tag or datatype are DIFFERENT triples, so the
# dedup must not collapse them (RDF Concepts §3.3; VERDICT r5 #2)
TRIPLE_KEY = [
    "subject", "predicate", "object_kind",
    "object_iri", "object_lexical", "object_lang", "object_datatype",
]


def agg_distinct_triples(triples: DataFrame, per_file: bool = False) -> DataFrame:
    """Global dedup of triples across files (HashSet semantics).
    Ref: OntologyTripleParser.java:159-171."""
    keys = (["src_file"] if per_file else []) + TRIPLE_KEY
    return triples.dropDuplicates(keys)


def agg_distinct_vertices(nodes: DataFrame, keys: list[str] = ("id", "number")) -> DataFrame:
    """One vertex per (collectionId, number).  Ref: OntologyGraphBuilder.java:147-179."""
    return nodes.dropDuplicates(list(keys))


def agg_pivot_vertex_attrs(literal_triples: DataFrame) -> DataFrame:
    """Long → wide document assembly.

    Input: rows (id, number, attr, value) — valid-subject literal triples with
    the predicate already labeled.  Output: (id, number,
    attrs MAP<STRING, ARRAY<STRING>>) with deterministically sorted value sets.
    Ref: OntologyGraphBuilder.java:194-234 (nondeterministic scalar overwrite,
    replaced by sorted-set policy per SURVEY.md §2.4).
    """
    # TWO-LEVEL aggregation (round 11, VERDICT r10 #3's measured A/B —
    # ``git show 3609c14:tools/probe_pivot_ab.py``): per-(id,number,attr) sorted value set, then
    # per-vertex MAP assembly from the compact (attr, values) rows.  This
    # replaced the original one-ObjectHashAggregate form (collect the full
    # (attr, value) pair multiset per vertex, regroup with an
    # O(n_attrs × n_entries) HOF): min-of-5 at sf0.1 the two-level form is
    # no slower (1.42 vs 1.54 s) with bit-identical output (full-outer diff
    # 0 rows), its per-group aggregation state is value strings per attr
    # instead of the whole pair multiset (the object pressure driver
    # windows amplify), and — unlike the HOF regroup, whose quadratic-in-
    # group-size caveat banned copying it to unbounded groups — this shape
    # is safe at ANY group size (it's the positional inverted index's
    # doctrine).  When the caller pre-partitions by a subset of
    # (id, number) both levels reuse that one exchange (subset rule);
    # otherwise level 2 re-exchanges only vertex×attr-cardinality rows.
    #
    # NULL values ride inside a (is_not_null, value) struct — a bare
    # collect_set("value") silently drops NULL elements the pair-struct
    # set kept (the round-5 capped-twin finding); struct sort order
    # (false < true) replicates the ascending-nulls-first value order.
    wrapped = F.struct(
        F.col("value").isNotNull().alias("nn"), F.col("value").alias("v")
    )
    per_attr = literal_triples.groupBy("id", "number", "attr").agg(
        F.transform(F.sort_array(F.collect_set(wrapped)), lambda e: e["v"]).alias(
            "values"
        )
    )
    return per_attr.groupBy("id", "number").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("attr", "values")))
        ).alias("attrs")
    )


def agg_pivot_vertex_attrs_capped(
    literal_triples: DataFrame, max_values_per_attr: int, n_salts: int = 8
) -> DataFrame:
    """Skew-bounded twin of ``agg_pivot_vertex_attrs`` (VERDICT r4 #7).

    The uncapped pivot builds one ``collect_set`` state per vertex — fine
    for ontology terms (attribute rows bounded by the per-term predicate
    vocabulary, tens), but a pathological vertex with 100× the median
    attribute count concentrates its whole row set in one reducer state,
    the same dynamic-vocabulary risk the reference's scalar-overwrite loop
    hides (OntologyGraphBuilder.java:215-229).  This variant bounds state
    the way the capped inverted index does (search/inverted_index.py):

      1. salt on the VALUE hash; per (vertex, attr, salt) collect a sorted
         set capped to the first ``max_values_per_attr`` ascending values —
         aggregation state never exceeds the cap per salt;
      2. merge the ≤ n_salts capped arrays per (vertex, attr) and re-cap —
         keep-first-N of a union of per-salt keep-first-Ns equals the
         global ascending first-N (standard top-k merge property), so the
         kept values are DETERMINISTIC, not arrival-order;
      3. regroup to the MAP<attr, ARRAY<value>> document shape.

    Output schema matches the uncapped operator; results are identical
    whenever no (vertex, attr) exceeds the cap — INCLUDING null values
    (pinned by test).  A bare ``collect_set("value")`` would silently drop
    NULL elements the uncapped struct-set keeps (round-5 review finding),
    so values ride inside a (is_not_null, value) struct: sets retain
    structs with null fields, and the struct sort order (false < true,
    nulls-first within the value field) replicates the uncapped
    ascending-with-null-first value order exactly."""
    salt = (F.xxhash64(F.col("value")) % n_salts + n_salts) % n_salts
    wrapped = F.struct(
        F.col("value").isNotNull().alias("nn"), F.col("value").alias("v")
    )
    lvl1 = (
        literal_triples.withColumn("_salt", salt)
        .groupBy("id", "number", "attr", "_salt")
        .agg(
            F.slice(
                F.sort_array(F.collect_set(wrapped)), 1, max_values_per_attr
            ).alias("vals")
        )
    )
    lvl2 = lvl1.groupBy("id", "number", "attr").agg(
        F.transform(
            F.slice(
                F.sort_array(F.array_distinct(F.flatten(F.collect_list("vals")))),
                1,
                max_values_per_attr,
            ),
            lambda e: e["v"],
        ).alias("values")
    )
    return lvl2.groupBy("id", "number").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("attr", "values")))
        ).alias("attrs")
    )


def agg_dedup_edges(edge_rows: DataFrame) -> DataFrame:
    """One edge per ((from_id, to_id), {fromNum}-{toNum}); labels and sources
    become deterministically sorted sets.  Ref: OntologyGraphBuilder.java:345-401."""
    return edge_rows.groupBy(
        F.col("from_id").alias("from_collection"),
        F.col("to_id").alias("to_collection"),
        F.col("from_number").alias("from_key"),
        F.col("to_number").alias("to_key"),
    ).agg(
        F.sort_array(F.collect_set("label")).alias("labels"),
        F.sort_array(F.collect_set("source")).alias("sources"),
    )


def agg_collect_edge_labels(edge_rows: DataFrame, label_col: str = "raw_label") -> DataFrame:
    """Distinct set of raw edge labels across passes.
    Ref: OntologyGraphBuilder.java:352,366,405,541-543,611-616."""
    return edge_rows.select(F.col(label_col)).distinct()


def agg_count_metrics(df: DataFrame, group_col: str | None = None) -> DataFrame:
    """Vertex/edge/triple counts for logging.  Ref: OntologyGraphBuilder.java:153-154 etc."""
    if group_col is None:
        return df.agg(F.count(F.lit(1)).alias("n"))
    return df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))


def agg_first_fallback_rootns(triples: DataFrame, iao_root_objects: DataFrame) -> DataFrame:
    """Per-file root namespace: the ontology's IAO_0000700 root term split at
    '_'; fallback = first class URI split at '_'.  Document order is not
    reproducible under parallel scan, so the fallback uses min() for
    determinism (SURVEY.md §2.4).  Ref: OntologyTripleParser.java:130-150."""
    fallback = triples.groupBy("src_file").agg(
        F.min(F.split(F.col("subject"), "_").getItem(0)).alias("fallback_ns")
    )
    declared = iao_root_objects.groupBy("src_file").agg(
        F.min(F.split(F.col("root_uri"), "_").getItem(0)).alias("declared_ns")
    )
    return fallback.join(declared, "src_file", "left").select(
        "src_file", F.coalesce("declared_ns", "fallback_ns").alias("root_ns")
    )


def agg_pivot_wide(
    df: DataFrame,
    keys: list[str],
    pivot_col: str,
    pivot_values: list[str],
    *aggs,
) -> DataFrame:
    """Wide (columnar) pivot: one output column per ``pivot_values`` ×
    aggregate — the "exploded wide view per collection" from SURVEY.md §1.1's
    data-model note, complementing ``agg_pivot_vertex_attrs``'s MAP form for
    the unbounded-vocabulary case.

    ``pivot_values`` is REQUIRED, not optional: without an explicit list
    Spark first runs an eager distinct job over ``pivot_col`` to discover the
    output schema — a full extra scan + shuffle before the query even plans —
    and an unbounded vocabulary would explode the schema.  With the list,
    the pivot compiles to a single hash aggregate over ``keys`` with
    per-column conditional aggregation (exactly the manual
    ``agg(F.x(when(col==v, ...)))`` formulation), i.e. ONE shuffle at key
    cardinality and map-side partial aggregation.
    """
    return df.groupBy(*keys).pivot(pivot_col, pivot_values).agg(*aggs)


def bitmap_distinct_words(
    df: DataFrame, group_cols: list[str], id_col: str
) -> DataFrame:
    """Exact distinct-count SKETCH: per group and 64-id chunk, a BIGINT word
    whose set bits mark which ids were seen.

    Maps each non-negative integer id to (chunk = id div 64, bit = id mod 64)
    and ORs the bits per (group, chunk).  Unlike ``count(distinct)`` —
    whose partial state is the raw value set, reshuffled wholesale — these
    words are tiny, mergeable partial states: re-aggregating to ANY coarser
    grouping is another ``bit_or`` over the words (see
    ``bitmap_distinct_rollup``), which is how a 100 TB fact table gets
    distinct-user counts at hour/day/month grains from ONE pass over raw
    data.  The roaring-bitmap idea, expressed in pure Spark SQL.
    """
    chunk = F.floor(F.col(id_col) / 64).alias("chunk")
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({id_col} % 64 AS INT))")
    return df.groupBy(*group_cols, chunk).agg(F.bit_or(bit).alias("word"))


def bitmap_distinct_rollup(
    words: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Merge bitmap words (from ``bitmap_distinct_words``) to a coarser
    grouping and finalize: (group_cols..., n_distinct BIGINT).  Merge =
    ``bit_or`` per (group, chunk); finalize = sum of ``bit_count``."""
    merged = words.groupBy(*group_cols, "chunk").agg(F.bit_or("word").alias("word"))
    return merged.groupBy(*group_cols).agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_distinct")
    )


def bitmap_overlap(
    words: DataFrame, set_col: str, left: str, right: str
) -> DataFrame:
    """Exact set algebra between two bitmap-sketched id sets: distinct counts
    of ``left``, ``right``, their intersection, and their union — WITHOUT
    touching raw data again.

    The set-intersection question ("distinct users who did X AND Y") is the
    one a count-distinct rollup cannot answer: distinct counts don't
    intersect, id SETS do.  Bitmap words preserve the sets, so intersection
    is ``word_l & word_r`` per chunk and union is ``|`` — two more tiny
    aggregates over the sketch table.  ``words`` is the output of
    ``bitmap_distinct_words`` grouped by ``set_col``; chunks missing on one
    side contribute 0 via the full-outer join + coalesce.  Output: one row
    (n_left, n_right, n_both, n_either BIGINT).
    """
    # defensive pre-merge: `words` is one row per (set, chunk) when built at
    # this grain, but a caller passing finer-grained words (e.g. per-day)
    # would otherwise double-count bits through the join — bit_or is the
    # correct (idempotent) fold to any grain
    lw = (
        words.filter(F.col(set_col) == left)
        .groupBy("chunk")
        .agg(F.bit_or("word").alias("wl"))
    )
    rw = (
        words.filter(F.col(set_col) == right)
        .groupBy("chunk")
        .agg(F.bit_or("word").alias("wr"))
    )
    joined = lw.join(rw, on="chunk", how="full_outer").select(
        F.coalesce("wl", F.lit(0)).alias("wl"), F.coalesce("wr", F.lit(0)).alias("wr")
    )
    return joined.agg(
        F.sum(F.bit_count("wl")).cast("long").alias("n_left"),
        F.sum(F.bit_count("wr")).cast("long").alias("n_right"),
        F.sum(F.bit_count(F.expr("wl & wr"))).cast("long").alias("n_both"),
        F.sum(F.bit_count(F.expr("wl | wr"))).cast("long").alias("n_either"),
    )


def bitmap_distinct_sliding(
    words: DataFrame, bucket_col: str, window: int
) -> DataFrame:
    """Trailing-window distinct counts from the bitmap-word sketch: for
    every observed bucket b, the exact distinct-id count over buckets
    [b - window + 1, b] — the "distinct users, trailing 7 days, per day"
    rollup, answered WITHOUT re-touching raw data (the re-aggregation
    property ``count(distinct)`` fundamentally lacks: overlapping windows
    would each re-shuffle the raw id sets; here each per-bucket word
    contributes to its ``window`` target buckets and the merge is
    ``bit_or``).

    Shape: one codegen explode fans each (bucket, chunk, word) row to its
    target buckets (fan-out = window, tiny rows), one keyed bit_or + one
    popcount-sum aggregation, and a semi-join restricting targets to
    OBSERVED buckets (the window of a day nobody saw doesn't exist).
    At 100 TB the words table is already the materialized per-(bucket,
    chunk) sketch — this pass never reads the fact table.

    Input ``words`` from ``bitmap_distinct_words(df, [bucket_col], id)``;
    output (bucket_col, n_distinct BIGINT) per observed bucket.
    """
    b = F.col(bucket_col).cast("long")
    contrib = words.select(
        F.explode(F.sequence(b, b + F.lit(window - 1))).alias(bucket_col),
        "chunk",
        "word",
    )
    merged = contrib.groupBy(bucket_col, "chunk").agg(F.bit_or("word").alias("word"))
    observed = words.select(b.alias(bucket_col)).distinct()
    return (
        merged.join(observed, bucket_col, "left_semi")
        .groupBy(bucket_col)
        .agg(F.sum(F.bit_count("word")).cast("long").alias("n_distinct"))
    )
