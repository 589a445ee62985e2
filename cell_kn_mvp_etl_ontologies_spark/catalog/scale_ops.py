"""Scale-pattern queries: the operators a 100 TB deployment leans on that
have no small-data analog in the reference — incremental snapshot diffing
(CDC), URL canonicalization ahead of crawl dedup, skew-proof triangle
counting, re-aggregatable exact distinct sketches, and z-order clustered
layout for two-dimensional data skipping.

Each entry is exactly DuckDB-oracled; the z-order oracle re-derives the
Morton code with the same unrolled bit arithmetic the Spark side uses.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.aggregates import (
    bitmap_distinct_rollup,
    bitmap_distinct_words,
    bitmap_overlap,
)
from ..operators.curation import canonicalize_url
from ..operators.incremental import snapshot_diff
from ..plans.graph_query import canonical_undirected, triangle_count
from ..sinks.zorder import write_zorder_clustered, z_value_sql, zorder_cell_stats
from . import finish_and_clean, register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# pipeline_incremental_graph — CDC applied to the ontology pipeline itself
# --------------------------------------------------------------------------
@register(
    "pipeline_incremental_graph",
    oracle="""
    SELECT * FROM (VALUES
      ('CL', '0000576', 'update'),
      ('CL', '0009999', 'insert'),
      ('NCBITaxon', '9606', 'delete')
    ) AS t(collection, key, change_type)
    """,
)
def pipeline_incremental_graph_q(spark, sf_dir):
    """Incremental graph maintenance: the reference drops and rebuilds its
    whole database every run (OntologyGraphBuilder.java:511-517) and then
    round-trips EVERY document through exists/insert/update HTTP calls; at
    100 TB the viable shape is build-new-snapshot -> snapshot_diff on the
    vertex-document grain -> ship only changed docs to the sink.  Golden
    edit script on the macrophage fixture: a label edit (update), a new
    class (insert), and a retracted restriction whose filler vertex
    disappears (delete); every untouched vertex produces NO sink traffic."""
    from ..fixtures import OBO, OWL as OWL_NS
    from ..fixtures import RDFS, fixture_ro_terms, fixture_triples

    t0 = fixture_triples(spark)
    mono_label = (F.col("subject") == OBO + "CL_0000576") & (
        F.col("predicate") == RDFS + "label"
    )
    retracted = (F.col("subject") == "_:b2") & (
        F.col("predicate") == OWL_NS + "someValuesFrom"
    )
    new_class = spark.createDataFrame(
        [
            (
                "macrophage.owl", OBO + "CL_0009999", RDFS + "label",
                "literal", None, "new cell type", None, None,
            )
        ],
        t0.schema,
    )
    t1 = (
        t0.filter(~retracted)
        .withColumn(
            "object_lexical",
            F.when(mono_label, F.lit("monocyte (v2)")).otherwise(F.col("object_lexical")),
        )
        .unionByName(new_class)
    )
    from ..plans import build_graph, clean_triples

    ro = fixture_ro_terms(spark)
    v0 = build_graph(clean_triples(t0, keep_src_file=False), ro, persist_clean=True).vertices
    v1 = build_graph(clean_triples(t1, keep_src_file=False), ro, persist_clean=True).vertices
    # attrs is MAP<STRING,ARRAY<STRING>> assembled with sorted entries, so
    # the to_json fingerprint inside snapshot_diff is deterministic
    return snapshot_diff(v1, v0, keys=["collection", "key"])


# --------------------------------------------------------------------------
# stream_cdc_apply — streaming changelog ingestion into keyed state
# --------------------------------------------------------------------------
@register(
    "stream_cdc_apply",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CASE WHEN o_orderkey % 11 = 3 THEN o_totalprice + 2
                WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey < 3000
      AND NOT (o_orderkey % 13 = 5 AND o_orderkey % 11 <> 3)
    """,
)
def stream_cdc_apply_q(spark, sf_dir):
    """Streaming CDC ingestion (streaming/file_stream.py): a three-commit
    changelog (full insert load; then updates + deletes; then later updates
    that must survive earlier deletes) lands as parquet files and streams
    through foreachBatch apply_changes with maxFilesPerTrigger=2 — so the
    micro-batch bundling does NOT align with commit boundaries, and the
    seq-resolved apply must still reach the same fixed point the oracle
    computes declaratively.  Keys hit by both an update and a delete in the
    same commit (7·13 overlaps) pin the tie rule (delete wins)."""
    import tempfile

    from ..operators.incremental import live_view
    from ..streaming import run_stream_apply_changes

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey", "o_totalprice"
    )
    k = F.col("o_orderkey")

    def change(df, price, op, seq):
        return df.select(
            "o_orderkey",
            price.alias("o_totalprice"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
        )

    b0 = change(orders, F.col("o_totalprice"), "I", 0)
    b1 = change(orders.filter(k % 7 == 0), F.col("o_totalprice") + 1, "U", 1).unionByName(
        change(orders.filter(k % 13 == 5), F.col("o_totalprice"), "D", 1)
    )
    b2 = change(orders.filter(k % 11 == 3), F.col("o_totalprice") + 2, "U", 2)

    root = tempfile.mkdtemp(prefix="cdc_stream_")
    log_dir, state = root + "/changelog", root + "/state"
    for batch in (b0, b1, b2):
        batch.coalesce(1).write.mode("append").parquet(log_dir)
    changelog = (
        spark.readStream.schema("o_orderkey long, o_totalprice double, op string, seq long")
        .option("maxFilesPerTrigger", 2)
        .parquet(log_dir)
    )
    final_state = run_stream_apply_changes(changelog, state, keys=["o_orderkey"])
    return finish_and_clean(live_view(final_state), root)


# --------------------------------------------------------------------------
# cdc_snapshot_diff — incremental diff between two snapshots
# --------------------------------------------------------------------------
@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH prev AS (
      SELECT * FROM orders WHERE o_orderkey % 11 <> 3
    ),
    curr AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END
               AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 13 <> 5
    ),
    classified AS (
      SELECT CAST(COALESCE(c.o_orderkey, p.o_orderkey) AS BIGINT) AS o_orderkey,
             CASE
               WHEN p.o_orderkey IS NULL THEN 'insert'
               WHEN c.o_orderkey IS NULL THEN 'delete'
               WHEN c.o_custkey      IS DISTINCT FROM p.o_custkey
                 OR c.o_orderstatus  IS DISTINCT FROM p.o_orderstatus
                 OR c.o_totalprice   IS DISTINCT FROM p.o_totalprice
                 OR c.o_orderdate    IS DISTINCT FROM p.o_orderdate
                 OR c.o_orderpriority IS DISTINCT FROM p.o_orderpriority
               THEN 'update'
               ELSE 'unchanged'
             END AS change_type
      FROM curr c FULL OUTER JOIN prev p ON c.o_orderkey = p.o_orderkey
    )
    SELECT o_orderkey, change_type FROM classified
    WHERE change_type <> 'unchanged'
    """,
)
def cdc_snapshot_diff_q(spark, sf_dir):
    """Snapshot differencing (operators/incremental.py): "yesterday" drops
    keys ≡3 mod 11, "today" drops keys ≡5 mod 13 and bumps o_totalprice on
    keys ≡0 mod 7, so all three change classes occur.
    The engine classifies via 8-byte row fingerprints (join shuffles keys +
    hash, not row width); the oracle compares columns directly."""
    orders = _t(spark, sf_dir, "orders")
    prev = orders.filter(F.col("o_orderkey") % 11 != 3)
    curr = orders.filter(F.col("o_orderkey") % 13 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    out = snapshot_diff(curr, prev, keys=["o_orderkey"])
    return out.select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "change_type")


# --------------------------------------------------------------------------
# dedup_url_canonicalize — crawl-URL normalization ahead of exact dedup
# --------------------------------------------------------------------------
_URL_ORACLE = r"""
    WITH urls AS (
      SELECT doc_id,
             CAST(doc_id // 4 AS VARCHAR) AS b,
             CAST(doc_id % 4 AS INTEGER) AS v
      FROM documents
    ),
    messy AS (
      SELECT doc_id,
        CASE v
          WHEN 0 THEN 'https://example' || b || '.com/products/' || b || '/?a=1&b=2'
          WHEN 1 THEN 'HTTPS://EXAMPLE' || b || '.COM:443/products/' || b || '?b=2&a=1#frag'
          WHEN 2 THEN 'https://example' || b || '.com/products/' || b || '?utm_source=feed&b=2&a=1'
          ELSE 'https://EXAMPLE' || b || '.com:443/products/' || b || '?a=1&b=2&utm_campaign=x'
        END AS url
      FROM urls
    ),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(regexp_replace(url, '#.*', ''),
                                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(regexp_replace(url, '#.*', ''),
                            '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      FROM messy
    ),
    hp AS (
      SELECT doc_id, scheme, rest,
             lower(regexp_extract(rest, '^([^/?]+)', 1)) AS hostport,
             regexp_extract(rest, '^[^/?]*(.*)$', 1) AS pathq
      FROM parts
    ),
    norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                  ELSE hostport END AS host,
             regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') AS path0,
             regexp_extract(pathq, '^[^?]*\?(.*)$', 1) AS query
      FROM hp
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://' || host ||
             (CASE WHEN path0 = '' THEN '/' ELSE path0 END) ||
             (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canonical_url
      FROM (
        SELECT doc_id, scheme, host, path0,
               array_to_string(list_sort(list_filter(string_split(query, '&'),
                 p -> p <> '' AND NOT starts_with(p, 'utm_')
                      AND NOT starts_with(p, 'fbclid=')
                      AND NOT starts_with(p, 'gclid=')
                      AND NOT starts_with(p, 'msclkid=')
                      AND NOT starts_with(p, 'ref='))), '&') AS cq
        FROM norm
      )
    )
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM canon GROUP BY canonical_url
"""


@register("dedup_url_canonicalize", oracle=_URL_ORACLE)
def dedup_url_canonicalize_q(spark, sf_dir):
    """URL canonicalization (operators/curation.py): four messy variants of
    each base URL (case noise, default port, tracking params, param order,
    trailing slash, fragment) must collapse to ONE canonical key — each
    canonical cluster counts exactly its 4 variants."""
    docs = _t(spark, sf_dir, "documents")
    b = F.floor(F.col("doc_id") / 4).cast("long").cast("string")
    v = (F.col("doc_id") % 4).cast("int")
    stem = F.concat(F.lit("/products/"), b)
    url = (
        F.when(v == 0, F.concat(F.lit("https://example"), b, F.lit(".com"), stem, F.lit("/?a=1&b=2")))
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE"), b, F.lit(".COM:443"), stem, F.lit("?b=2&a=1#frag")))
        .when(v == 2, F.concat(F.lit("https://example"), b, F.lit(".com"), stem, F.lit("?utm_source=feed&b=2&a=1")))
        .otherwise(F.concat(F.lit("https://EXAMPLE"), b, F.lit(".com:443"), stem, F.lit("?a=1&b=2&utm_campaign=x")))
    )
    canon = canonicalize_url(docs.withColumn("url", url), url_col="url", id_col="doc_id")
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


# --------------------------------------------------------------------------
# agg_incremental_maintain — materialized-aggregate maintenance from CDC
# --------------------------------------------------------------------------
@register(
    "agg_incremental_maintain",
    oracle="""
    WITH curr AS (
      SELECT o_orderpriority,
             o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS p
      FROM orders WHERE o_orderkey % 13 <> 5
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM curr GROUP BY o_orderpriority
    """,
)
def agg_incremental_maintain_q(spark, sf_dir):
    """Materialized-view maintenance (operators/incremental.py): the
    previous snapshot's (count, sum) aggregate is folded forward with
    signed before/after-image deltas — change-scale work — and must equal
    the oracle's full recompute over the current snapshot.  DECIMAL sums
    make retraction exact (x + d - d == x), which double sums don't
    guarantee."""
    from ..operators.incremental import cdc_delta_rows, maintain_group_agg

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    prev = orders.filter(k % 11 != 3)
    bumped = F.when(k % 7 == 0, F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice"))

    agg0 = prev.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec(F.col("o_totalprice"))).alias("total")
    )

    def imaged(df, op, before_price, after_price):
        return df.select(
            F.lit(op).alias("op"),
            F.col("o_orderpriority").alias("before_o_orderpriority"),
            dec(before_price).alias("before_price"),
            F.col("o_orderpriority").alias("after_o_orderpriority"),
            dec(after_price).alias("after_price"),
        )

    ins = imaged(orders.filter((k % 11 == 3) & (k % 13 != 5)), "I", F.lit(None), bumped)
    dels = imaged(orders.filter((k % 13 == 5) & (k % 11 != 3)), "D", F.col("o_totalprice"), F.lit(None))
    upds = imaged(
        orders.filter((k % 11 != 3) & (k % 13 != 5) & (k % 7 == 0)),
        "U", F.col("o_totalprice"), bumped,
    )
    changelog = ins.unionByName(dels).unionByName(upds)
    deltas = cdc_delta_rows(changelog, ["o_orderpriority", "price"])
    out = maintain_group_agg(agg0, deltas, ["o_orderpriority"], "price")
    return out.select(
        "o_orderpriority", F.col("n").cast("long").alias("n"),
        F.col("total").cast("double").alias("total"),
    )


# --------------------------------------------------------------------------
# agg_funnel_steps — ordered-funnel completion counts
# --------------------------------------------------------------------------
@register(
    "agg_funnel_steps",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS ts1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e
      JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e
      JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id
    )
    SELECT CAST(1 AS BIGINT) AS step, CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
    """,
)
def agg_funnel_steps_q(spark, sf_dir):
    """view -> click -> purchase funnel (operators/temporal.py): the engine
    folds each user's time-sorted event array in ONE keyed shuffle; the
    oracle chains three min-ts joins.  Both implement greedy
    earliest-match, which is exact for ordered-subsequence existence — their
    equality is the correctness claim."""
    from ..operators.temporal import funnel_steps

    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


# --------------------------------------------------------------------------
# agg_retention_cohort — weekly cohort retention matrix
# --------------------------------------------------------------------------
@register(
    "agg_retention_cohort",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cw FROM events GROUP BY user_id
    ),
    aw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT strftime(fs.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', fs.cw, aw.w) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM aw JOIN fs ON aw.user_id = fs.user_id
    GROUP BY fs.cw, week_offset
    """,
)
def agg_retention_cohort_q(spark, sf_dir):
    """Weekly retention (operators/temporal.py): cohort = first-seen ISO
    week, counted per later active week.  Both engines truncate weeks to
    Monday, so offsets are exact multiples of 7 days and the integer
    division is cross-engine exact."""
    from ..operators.temporal import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"), "user_id", "ts")


# --------------------------------------------------------------------------
# graph_pagerank — bit-exact integer-scaled PageRank (3 iterations)
# --------------------------------------------------------------------------
_PR_NODES_SQL = """
    e AS (
      SELECT DISTINCT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst
      FROM lineitem WHERE l_orderkey % 7 = 0
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)
"""


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    c{cur} AS (
      SELECT e.dst AS node, SUM(r{prev}.rank_units // deg.deg) AS in_units
      FROM e JOIN r{prev} ON r{prev}.node = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{cur} AS (
      SELECT nodes.node,
             (1000000000000 - 1000000000000 * 85 // 100) // nn.n
               + COALESCE(c{cur}.in_units, 0) * 85 // 100 AS rank_units
      FROM nodes CROSS JOIN nn LEFT JOIN c{cur} ON c{cur}.node = nodes.node
    )"""


@register(
    "graph_pagerank",
    oracle="WITH "
    + _PR_NODES_SQL
    + ", r0 AS (SELECT node, 1000000000000 // nn.n AS rank_units FROM nodes CROSS JOIN nn),"
    + _pr_iter_sql("0", "1")
    + ","
    + _pr_iter_sql("1", "2")
    + ","
    + _pr_iter_sql("2", "3")
    + " SELECT node, CAST(rank_units AS BIGINT) AS rank_units FROM r3",
)
def graph_pagerank_q(spark, sf_dir):
    """Integer-scaled PageRank (plans/graph_query.pagerank_integer) on the
    order→part graph: ranks are BIGINT units of 1e-12, every update is
    integer multiply / truncating div / sum, so the result is bit-exact
    across engines and reduction orders — float PageRank can't be
    hash-gated.  The oracle unrolls the same three iterations as CTEs."""
    from ..plans.graph_query import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    edges = li.select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_partkey") % 1000).alias("dst"),
    )
    return pagerank_integer(edges, n_iter=3)


# --------------------------------------------------------------------------
# graph_triangle_count — skew-proof triangle counting on a co-purchase graph
# --------------------------------------------------------------------------
@register(
    "graph_triangle_count",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0
    ),
    e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM li x JOIN li y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    tri AS (
      SELECT COUNT(*) AS n
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(n AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count_q(spark, sf_dir):
    """Triangle count (plans/graph_query.py) over the co-purchase graph:
    parts are adjacent iff they share an order.  The engine enumerates via
    degree-oriented wedges (out-degree bounded by O(sqrt(m)) — hub-skew
    immune); the oracle counts the naive a<b<c formulation.  Equality of
    the two is itself the correctness claim."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), on="l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
    )
    edges = canonical_undirected(pairs)
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    tri = triangle_count(edges)
    return n_edges.crossJoin(tri)


# --------------------------------------------------------------------------
# agg_bitmap_distinct — exact, mergeable distinct-count sketch
# --------------------------------------------------------------------------
@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct_q(spark, sf_dir):
    """Exact distinct customers per priority via the bitmap-word sketch
    (operators/aggregates.py): words built at the FINER (priority, month)
    grain, then merged to priority with bit_or — proving the sketch
    re-aggregates without touching raw data, which count(distinct) cannot.
    The oracle is the plain count(distinct)."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "month", F.month("o_orderdate")
    )
    words = bitmap_distinct_words(orders, ["o_orderpriority", "month"], "o_custkey")
    return bitmap_distinct_rollup(words, ["o_orderpriority"])


# --------------------------------------------------------------------------
# cluster_kmeans — deterministic integer k-means over embeddings
# --------------------------------------------------------------------------
_KM_ASSIGN_SQL = """
    d{n} AS (
      SELECT q.vec_id, c.cell, SUM((q.v - c.v) * (q.v - c.v)) AS d
      FROM quant q JOIN c{p} c ON c.i = q.i
      GROUP BY q.vec_id, c.cell
    ),
    a{n} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM d{n}
      ) WHERE rn = 1
    )"""

_KM_UPDATE_SQL = """
    c{n} AS (
      SELECT a.cell, q.i, CAST(floor(CAST(SUM(q.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM a{n} a JOIN quant q ON q.vec_id = a.vec_id
      GROUP BY a.cell, q.i
    )"""


@register(
    "cluster_kmeans",
    oracle=(
        """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM corpus
    ),
    c0 AS (
      SELECT CAST(s.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds s JOIN quant q ON q.vec_id = s.vec_id WHERE s.r <= 4
    ),"""
        + _KM_ASSIGN_SQL.format(n=1, p=0)
        + ","
        + _KM_UPDATE_SQL.format(n=1)
        + ","
        + _KM_ASSIGN_SQL.format(n=2, p=1)
        + ","
        + _KM_UPDATE_SQL.format(n=2)
        + ","
        + _KM_ASSIGN_SQL.format(n=3, p=2)
        + " SELECT vec_id, CAST(cell AS INT) AS cell FROM a3"
    ),
)
def cluster_kmeans_q(spark, sf_dir):
    """Deterministic integer k-means (operators/clustering.py): quantized
    squared-L2 distances, md5-seeded initialization, floor-division centroid
    means — assignments are bit-exact across engines and partitionings, so
    clusters double as stable shard keys and IVF centroid training is
    reproducible.  The oracle unrolls the same two update iterations (plus
    the final assignment) as CTEs."""
    from ..operators.clustering import kmeans_integer

    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    return kmeans_integer(em, "vec_id", "embedding", k=4, n_iter=2)


# --------------------------------------------------------------------------
# quality_expectations — Deequ-style constraint gate over the star schema
# --------------------------------------------------------------------------
@register(
    "quality_expectations",
    oracle="""
    SELECT "constraint", violations, violations = 0 AS passed FROM (
      SELECT 'fk(o_custkey->customer)' AS "constraint",
             CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
                   AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT) AS violations
      UNION ALL
      SELECT 'in_range(o_totalprice,0.0,1000000.0)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 1000000)) AS BIGINT)
      UNION ALL
      SELECT 'matches_regex(o_orderpriority)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$')) AS BIGINT)
      UNION ALL
      SELECT 'not_null(o_custkey)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'not_null(o_orderkey)',
             CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST(COALESCE((SELECT SUM(n) FROM (
               SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
             )), 0) AS BIGINT)
    ) t ORDER BY "constraint"
    """,
)
def quality_expectations_q(spark, sf_dir):
    """Data-quality gate (operators/quality.py): the checks a training
    pipeline runs on every ingest.  All row-level constraints fold into ONE
    aggregate over ONE scan of orders; uniqueness is a keyed aggregate and
    the FK containment an anti-join shipping only key columns."""
    from ..operators.quality import (
        ForeignKey,
        InRange,
        MatchesRegex,
        NotNull,
        Unique,
        check_expectations,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return check_expectations(
        orders,
        row_checks=[
            NotNull("o_orderkey"),
            NotNull("o_custkey"),
            InRange("o_totalprice", 0.0, 1_000_000.0),
            MatchesRegex("o_orderpriority", r"^[0-9]-[A-Z ]+$"),
        ],
        unique_checks=[Unique(("o_orderkey",))],
        fk_checks=[(ForeignKey("o_custkey", "customer"), customer, "c_custkey")],
    )


# --------------------------------------------------------------------------
# similarity_ann_ivf_kmeans — IVF ANN over k-means-trained centroids
# --------------------------------------------------------------------------
# Shared CTE chain (train k-means quantizer -> assign corpus -> probe
# queries -> exact-score candidates into `scored`); the trained-ANN query
# selects the ranked top-k from it, the recall gate joins it against the
# exact brute-force top-k.
_IVF_KMEANS_SCORED_CTE = (
    """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM corpus
    ),
    c0 AS (
      SELECT CAST(s.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds s JOIN quant q ON q.vec_id = s.vec_id WHERE s.r <= 4
    ),"""
        + _KM_ASSIGN_SQL.format(n=1, p=0)
        + ","
        + _KM_UPDATE_SQL.format(n=1)
        + ","
        + _KM_ASSIGN_SQL.format(n=2, p=1)
        + ","
        + _KM_UPDATE_SQL.format(n=2)
        + """,
    cnorms AS (SELECT cell, SUM(v * v) AS norm_sq FROM c2 GROUP BY cell),
    cdots AS (
      SELECT a.vec_id, c.cell, SUM(a.v * c.v) AS dot
      FROM quant a JOIN c2 c ON c.i = a.i
      GROUP BY a.vec_id, c.cell
    ),
    ccos AS (
      SELECT d.vec_id, d.cell,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(cn.norm_sq AS DOUBLE)) AS c_cos
      FROM cdots d JOIN norms na ON na.vec_id = d.vec_id JOIN cnorms cn ON cn.cell = d.cell
    ),
    corpus_cells AS (
      SELECT vec_id AS t_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cell ASC) AS rn
        FROM ccos
      ) WHERE rn = 1
    ),
    query_cells AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cell ASC) AS rn
        FROM ccos WHERE vec_id < 10
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT q.q_id, t.t_id
      FROM query_cells q JOIN corpus_cells t USING (cell)
      WHERE q.q_id <> t.t_id
    ),
    dots AS (
      SELECT c.q_id, c.t_id, SUM(x.v * y.v) AS dot
      FROM cand c JOIN quant x ON x.vec_id = c.q_id
      JOIN quant y ON y.vec_id = c.t_id AND y.i = x.i
      GROUP BY c.q_id, c.t_id
    ),
    scored AS (
      SELECT d.q_id, d.t_id,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
      FROM dots d JOIN norms na ON na.vec_id = d.q_id JOIN norms nb ON nb.vec_id = d.t_id
    )
    """
)


@register(
    "similarity_ann_ivf_kmeans",
    oracle=(
        _IVF_KMEANS_SCORED_CTE
        + """
    SELECT q_id, t_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """
    ),
)
def similarity_ann_ivf_kmeans_q(spark, sf_dir):
    """End-to-end trained ANN: centroids come from the deterministic integer
    k-means (kmeans_fit, 2 iterations) instead of a fixed subset, then the
    standard IVF probe/score path runs over them — the full production shape
    (train coarse quantizer → assign corpus → probe queries) with every stage
    bit-exact.  Centroids are integers in 1/1000 units; dividing back to
    float and re-quantizing inside ivf_topk reproduces them exactly (error
    ≪ 0.5 ulp of the rounding)."""
    from ..operators.clustering import kmeans_fit
    from ..operators.similarity import ivf_topk

    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150).select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(em, "vec_id", "embedding", k=4, n_iter=2)
    centroids = cents.select(
        F.col("cell").cast("long").alias("vec_id"),
        F.transform("cv", lambda x: (x / 1000.0).cast("float")).alias("embedding"),
    )
    queries = em.filter(F.col("vec_id") < 10)
    out = ivf_topk(queries, em, centroids, k=3, nprobe=2)
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# --------------------------------------------------------------------------
# dedup_embedding_clustered — k-means-bucketed near-dup pairs (scale path)
# --------------------------------------------------------------------------
@register(
    "dedup_embedding_clustered",
    oracle=(
        """
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM corpus
    ),
    c0 AS (
      SELECT CAST(s.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds s JOIN quant q ON q.vec_id = s.vec_id WHERE s.r <= 4
    ),"""
        + _KM_ASSIGN_SQL.format(n=1, p=0)
        + ","
        + _KM_UPDATE_SQL.format(n=1)
        + ","
        + _KM_ASSIGN_SQL.format(n=2, p=1)
        + ","
        + _KM_UPDATE_SQL.format(n=2)
        + ","
        + _KM_ASSIGN_SQL.format(n=3, p=2)
        + """,
    pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.vec_id < y.vec_id
    ),
    dots AS (
      SELECT p.a, p.b, SUM(q.v * t.v) AS dot
      FROM pairs p
      JOIN quant q ON q.vec_id = p.a
      JOIN quant t ON t.vec_id = p.b AND t.i = q.i
      GROUP BY p.a, p.b
    )
    SELECT a, b,
           CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
    FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b
    WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) > 0.95
    """
    ),
)
def dedup_embedding_clustered_q(spark, sf_dir):
    """Cluster-bucketed embedding near-dup (round 4): the scale path the
    all-pairs `dedup_embedding_cosine` query documents — k-means buckets
    first (deterministic integer k-means, k=4, 2 iterations), cosine only
    within cells.  The planted exact duplicates (vec_id+10000) must all
    survive: identical vectors can never split cells (identical distances,
    tie-break on cell id).  The oracle replays the identical k-means chain
    and within-cell scoring in SQL, so bucketing AND scoring are hash-gated."""
    from ..operators.similarity import embedding_near_dups_clustered

    em = load_table(spark, sf_dir, "embeddings")
    corpus = (
        em.filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
        .unionByName(
            em.filter(F.col("vec_id") < 5).select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
    )
    return embedding_near_dups_clustered(corpus, k=4, n_iter=2, threshold=0.95)


# --------------------------------------------------------------------------
# similarity_ann_recall — recall@k of the trained ANN vs exact brute force
# --------------------------------------------------------------------------
@register(
    "similarity_ann_recall",
    oracle=(
        _IVF_KMEANS_SCORED_CTE
        + """
    , ann_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= 3
    ),
    edots AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 10 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    exact_topk AS (
      SELECT q_id, t_id FROM (
        SELECT e.q_id, e.t_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.q_id
                 ORDER BY CAST(e.dot AS DOUBLE)
                          / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) DESC,
                          e.t_id ASC
               ) AS rnk
        FROM edots e JOIN norms na ON na.vec_id = e.q_id JOIN norms nb ON nb.vec_id = e.t_id
      ) WHERE rnk <= 3
    )
    SELECT COALESCE(e.q_id, a.q_id) AS q_id,
           CAST(COUNT(e.t_id) AS BIGINT) AS n_exact,
           CAST(COUNT(a.t_id) AS BIGINT) AS n_ann,
           CAST(SUM(CASE WHEN e.t_id IS NOT NULL AND a.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap
    FROM exact_topk e FULL OUTER JOIN ann_topk a ON a.q_id = e.q_id AND a.t_id = e.t_id
    GROUP BY COALESCE(e.q_id, a.q_id)
    """
    ),
)
def similarity_ann_recall_q(spark, sf_dir):
    """Recall@3 audit of the trained IVF path against exact brute force —
    the recorded recall check VERDICT r3 asked for when the ANN path became
    the similarity headline.  Runs BOTH paths over the same corpus (the
    brute-force top-k as ground truth, the k-means-trained IVF as the
    candidate) and full-outer-joins the two top-k sets per query: n_overlap
    == n_exact iff the probe covered the true neighbors.  Both paths are
    integer-deterministic, so the per-query overlap profile is bit-exact
    and hash-gated — recall is *measured evidence*, not a claim."""
    from ..operators.clustering import kmeans_fit
    from ..operators.similarity import ivf_topk, similarity_topk

    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150).select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(em, "vec_id", "embedding", k=4, n_iter=2)
    centroids = cents.select(
        F.col("cell").cast("long").alias("vec_id"),
        F.transform("cv", lambda x: (x / 1000.0).cast("float")).alias("embedding"),
    )
    queries = em.filter(F.col("vec_id") < 10)
    ann = ivf_topk(queries, em, centroids, k=3, nprobe=2).select(
        "q_id", "t_id", F.lit(1).alias("in_ann")
    )
    exact = similarity_topk(queries, em, k=3, quantized=True).select(
        "q_id", "t_id", F.lit(1).alias("in_exact")
    )
    j = exact.join(ann, on=["q_id", "t_id"], how="full_outer")
    return j.groupBy("q_id").agg(
        F.count("in_exact").cast("long").alias("n_exact"),
        F.count("in_ann").cast("long").alias("n_ann"),
        F.sum(
            (F.col("in_exact").isNotNull() & F.col("in_ann").isNotNull()).cast("int")
        ).cast("long").alias("n_overlap"),
    )


# --------------------------------------------------------------------------
# profile_numeric — one-pass numeric column profiling
# --------------------------------------------------------------------------
@register(
    "profile_numeric",
    oracle="""
    SELECT "column", n_rows, n_null, n_distinct, min_v, max_v, sum_v, mean_v
    FROM (
      SELECT 'l_discount' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
             CAST(MIN(l_discount) AS DOUBLE) AS min_v, CAST(MAX(l_discount) AS DOUBLE) AS max_v,
             CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) AS sum_v,
             CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE)
               / (COUNT(*) - SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)) AS mean_v
      FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
             CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE),
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
               / (COUNT(*) - SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END))
      FROM lineitem
      UNION ALL
      SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
             CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE),
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
               / (COUNT(*) - SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END))
      FROM lineitem
    ) t ORDER BY "column"
    """,
)
def profile_numeric_q(spark, sf_dir):
    """One-pass numeric profiling (operators/quality.profile_numeric):
    count/null/distinct/min/max/sum/mean per column from a single aggregate
    over a single scan — DECIMAL sums keep totals order-independent, so the
    derived mean is bit-identical cross-engine."""
    from ..operators.quality import profile_numeric

    li = _t(spark, sf_dir, "lineitem")
    return profile_numeric(li, ["l_quantity", "l_extendedprice", "l_discount"])


# --------------------------------------------------------------------------
# agg_bitmap_overlap — exact audience overlap from the distinct-set sketch
# --------------------------------------------------------------------------
@register(
    "agg_bitmap_overlap",
    oracle="""
    SELECT
      CAST(COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS n_left,
      CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_right,
      CAST(COUNT(DISTINCT CASE WHEN event_type = 'view' AND user_id IN
        (SELECT user_id FROM events WHERE event_type = 'purchase') THEN user_id END) AS BIGINT) AS n_both,
      CAST(COUNT(DISTINCT CASE WHEN event_type IN ('view', 'purchase') THEN user_id END) AS BIGINT) AS n_either
    FROM events
    """,
)
def agg_bitmap_overlap_q(spark, sf_dir):
    """Exact audience overlap (viewers ∩ purchasers) from the bitmap
    distinct-set sketch (operators/aggregates.bitmap_overlap): the sketch
    preserves id SETS, so intersection/union are per-chunk ``&``/``|`` over
    the stored words — the raw events table is scanned once to build words
    and never again for any overlap question.  A count-distinct rollup
    cannot answer this; set sketches can, exactly."""
    ev = load_table(spark, sf_dir, "events")
    words = bitmap_distinct_words(ev, ["event_type"], "user_id")
    return bitmap_overlap(words, "event_type", "view", "purchase")


# --------------------------------------------------------------------------
# sink_zorder_cluster — Morton-clustered layout + box-query skipping stats
# --------------------------------------------------------------------------
_Z_SQL = z_value_sql("x", "y", bits=10)

_ZORDER_ORACLE = f"""
    WITH xy AS (
      SELECT p_partkey % 1024 AS x, (p_partkey // 13) % 1024 AS y FROM part
    ),
    z AS (
      SELECT x, y, {_Z_SQL} AS z FROM xy
    )
    SELECT CAST(z >> 14 AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
           bool_or(x >= 100 AND x < 200 AND y >= 20 AND y < 60) AS cell_hit
    FROM z GROUP BY 1
"""


@register("sink_zorder_cluster", oracle=_ZORDER_ORACLE)
def sink_zorder_cluster_q(spark, sf_dir):
    """Z-order clustered write (sinks/zorder.py): parts land in Morton-prefix
    cells on (x, y); read-back per-cell bounding boxes show the locality a
    box-query scanner prunes on, and cell_hit marks which cells a concrete
    box query would actually read.  Oracle recomputes the identical Morton
    code with unrolled bit arithmetic."""
    part = _t(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 1024).alias("x"),
        (F.floor(F.col("p_partkey") / 13).cast("long") % 1024).alias("y"),
    )
    root = tempfile.mkdtemp(prefix="zorder_")
    back = write_zorder_clustered(
        part, root + "/part", "x", "y", bits=10, prefix_shift=14
    )
    stats = zorder_cell_stats(back, "x", "y", box=(100, 200, 20, 60))
    return finish_and_clean(stats, root)
