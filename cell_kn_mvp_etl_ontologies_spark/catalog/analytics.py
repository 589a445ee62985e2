"""Round-4 analytics additions: time-series gap fill, unpivot/melt,
edit-distance near-dup, bounded BFS, and substring-span dedup — each with an
exactly-equivalent DuckDB oracle (integer/floor math keeps interpolation and
distances bit-exact across engines).

Reference parity notes:
- temporal_gap_fill mirrors the continuous-series densify/interpolate shape
  applied to versioned release series (BASELINE.md: the reference's version
  catalogs are sparse date series).
- graph_bfs_distance is the bounded-depth traversal semantics of the
  reference's graph queries (fixed-hop subclass walks; see
  OntologyGraphBuilder's vertex/edge model, which its AQL traversals read).
- dedup_fuzzy_levenshtein / dedup_substring_spans extend the §2.12 training
  curation surface (Lee et al. 2022 substring dedup, recast shuffle-native).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.dedup import duplicated_span_hashes, fuzzy_pairs_levenshtein
from ..operators.temporal import gap_fill_interpolate
from ..plans.graph_query import bfs_distances
from . import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# temporal_gap_fill — densify + linear interpolation over a bucketized series
# --------------------------------------------------------------------------
@register(
    "temporal_gap_fill",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS bucket,
             SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS v
      FROM events WHERE user_id < 40 GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM obs GROUP BY user_id),
    grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
    j AS (
      SELECT g.user_id, g.bucket, o.v
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
    ),
    f AS (
      SELECT user_id, bucket, v,
        last_value(v IGNORE NULLS) OVER w_prev AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_prev AS pb,
        first_value(v IGNORE NULLS) OVER w_next AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER w_next AS nb
      FROM j
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bucket AS BIGINT) AS bucket,
      CAST(CASE WHEN v IS NOT NULL THEN v
           ELSE CAST(FLOOR((pv * (nb - bucket) + nv * (bucket - pb))
                           / CAST(nb - pb AS DOUBLE)) AS BIGINT)
           END AS BIGINT) AS value_units,
      (v IS NULL) AS interpolated
    FROM f
    """,
)
def temporal_gap_fill_q(spark, sf_dir):
    """Daily per-user value series densified over each user's observed span,
    gaps filled by exact linear interpolation (operators/temporal.py
    gap_fill_interpolate).  Values are floor-quantized to integer micro-units
    BEFORE aggregation so sums, and therefore the interpolation endpoints,
    are bit-identical across engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    # timestampdiff over NTZ is pure calendar arithmetic — no session-timezone
    # dependence (unix_timestamp on NTZ would shift with the driver's tz)
    epoch_s = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    obs = ev.groupBy(
        "user_id",
        F.floor(epoch_s / 86400).cast("long").alias("bucket"),
    ).agg(F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("v"))
    return gap_fill_interpolate(obs, "user_id", "bucket", "v")


# --------------------------------------------------------------------------
# agg_unpivot_long — wide measures → long (measure, value) melt
# --------------------------------------------------------------------------
@register(
    "agg_unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             'quantity' AS measure, CAST(l_quantity AS DOUBLE) AS value
      FROM lineitem WHERE l_orderkey % 101 = 0
      UNION ALL
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'extendedprice',
             CAST(l_extendedprice AS DOUBLE)
      FROM lineitem WHERE l_orderkey % 101 = 0
      UNION ALL
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'discount',
             CAST(l_discount AS DOUBLE)
      FROM lineitem WHERE l_orderkey % 101 = 0
      UNION ALL
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT), 'tax', CAST(l_tax AS DOUBLE)
      FROM lineitem WHERE l_orderkey % 101 = 0
    )
    """,
)
def agg_unpivot_long_q(spark, sf_dir):
    """Melt the four lineitem measures to long form with one stack() pass —
    a single scan emitting 4 rows per input row inside codegen, where the
    UNION-ALL oracle formulation would scan the fact table four times.
    At 100 TB that single-scan property is the whole point of unpivot."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 101 == 0)
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.expr(
            "stack(4,"
            " 'quantity', CAST(l_quantity AS DOUBLE),"
            " 'extendedprice', CAST(l_extendedprice AS DOUBLE),"
            " 'discount', CAST(l_discount AS DOUBLE),"
            " 'tax', CAST(l_tax AS DOUBLE)) AS (measure, value)"
        ),
    ).select("l_orderkey", "l_linenumber", "measure", "value")


# --------------------------------------------------------------------------
# dedup_fuzzy_levenshtein — prefix-bucketed edit-distance near-dup pairs
# --------------------------------------------------------------------------
_FUZZY_CORPUS_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 10000, text || ' zq' FROM documents WHERE doc_id < 20
"""


@register(
    "dedup_fuzzy_levenshtein",
    oracle="""
    WITH corpus AS ({corpus}),
    norm AS (
      SELECT doc_id, lower(trim(text)) AS t,
             substr(lower(trim(text)), 1, 12) AS pfx
      FROM corpus
    )
    SELECT CAST(a.doc_id AS BIGINT) AS id_a, CAST(b.doc_id AS BIGINT) AS id_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
    FROM norm a JOIN norm b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE levenshtein(a.t, b.t) <= 4
    """.format(corpus=_FUZZY_CORPUS_SQL),
)
def dedup_fuzzy_levenshtein_q(spark, sf_dir):
    """Edit-distance near-dup pairs on documents plus planted suffix-edited
    copies (doc_id+10000, text + ' zq', distance 3) — prefix-bucket
    candidates, exact JVM levenshtein refine (operators/dedup.py
    fuzzy_pairs_levenshtein)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 300)
    edited = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    corpus = base.unionByName(edited)
    return fuzzy_pairs_levenshtein(corpus, "text", "doc_id", prefix_len=12, max_dist=4)


# --------------------------------------------------------------------------
# graph_bfs_distance — bounded multi-source BFS over the co-purchase graph
# --------------------------------------------------------------------------
@register(
    "graph_bfs_distance",
    oracle="""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 7 = 3
    ),
    pairs AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    e AS (SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b, a FROM pairs),
    seeds AS (SELECT DISTINCT l_partkey AS v FROM li WHERE l_partkey % 97 = 0),
    d AS (
      SELECT v, 0 AS dist FROM seeds
      UNION
      SELECT e.dst, d.dist + 1 FROM d JOIN e ON e.src = d.v WHERE d.dist < 3
    )
    SELECT CAST(v AS BIGINT) AS v, CAST(MIN(dist) AS BIGINT) AS dist
    FROM d GROUP BY v
    """,
)
def graph_bfs_distance_q(spark, sf_dir):
    """Hop distance ≤3 from seed parts (partkey % 97 = 0) over the undirected
    co-purchase graph (plans/graph_query.bfs_distances).  The oracle's
    recursive CTE enumerates (vertex, walk length) pairs and MIN-folds;
    Bellman-Ford min propagation computes the same shortest distances —
    their equality is the correctness claim."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 3)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), on="l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seeds = li.filter(F.col("l_partkey") % 97 == 0).select(
        F.col("l_partkey").alias("v")
    ).distinct()
    return bfs_distances(edges, seeds, max_hops=3)


# --------------------------------------------------------------------------
# dedup_substring_spans — cross-document duplicated token windows
# --------------------------------------------------------------------------
@register(
    "dedup_substring_spans",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 400
      UNION ALL
      SELECT doc_id + 10000, substr(text, 21) FROM documents WHERE doc_id < 10
    ),
    tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM corpus
    ),
    w AS (
      SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS span
      FROM tok CROSS JOIN UNNEST(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    )
    SELECT span, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM w GROUP BY span HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dedup_substring_spans_q(spark, sf_dir):
    """Duplicated 8-token windows across documents plus planted
    shared-suffix docs (doc_id+10000 carrying substr(text, 21) — guaranteed
    cross-doc spans).  operators/dedup.duplicated_span_hashes hashes windows
    inside transform() so only 32-char hashes explode."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 400)
    shifted = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.substring(F.col("text"), 21, 1 << 30).alias("text"),
    )
    corpus = base.unionByName(shifted)
    return duplicated_span_hashes(corpus, "text", "doc_id", window_tokens=8)


# --------------------------------------------------------------------------
# join_bloom_prefilter — Bloom semi-join reduction ahead of the exchange
# --------------------------------------------------------------------------
@register(
    "join_bloom_prefilter",
    oracle="""
    WITH keys AS (
      SELECT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_custkey % 19 = 0
    ),
    kh AS (
      SELECT k,
        ('0x' || substring(md5('bloom|' || CAST(k AS VARCHAR)), 1, 15))::BIGINT AS h1,
        (('0x' || substring(md5('bloom|' || CAST(k AS VARCHAR)), 16, 15))::BIGINT | 1) AS h2
      FROM keys
    ),
    pos AS (
      SELECT ((h1 + i.i * h2) % 2048) AS pos
      FROM kh, (SELECT unnest(range(0, 4)) AS i) i
    ),
    words AS (
      SELECT pos // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
      FROM pos GROUP BY 1
    ),
    oh AS (
      SELECT o_orderpriority, o_custkey,
        ('0x' || substring(md5('bloom|' || CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h1,
        (('0x' || substring(md5('bloom|' || CAST(o_custkey AS VARCHAR)), 16, 15))::BIGINT | 1) AS h2
      FROM orders
    ),
    cand AS (
      SELECT o_orderpriority, o_custkey FROM oh
      WHERE NOT EXISTS (
        SELECT 1 FROM (SELECT unnest(range(0, 4)) AS i) i
        WHERE (COALESCE((SELECT word FROM words w
                         WHERE w.word_idx = ((oh.h1 + i.i * oh.h2) % 2048) // 32),
                        0)
               & (1::BIGINT << CAST(((oh.h1 + i.i * oh.h2) % 2048) % 32 AS INT))) = 0
      )
    )
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_candidates,
      CAST(COUNT(k) AS BIGINT) AS n_matched
    FROM cand LEFT JOIN keys ON cand.o_custkey = keys.k
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter_q(spark, sf_dir):
    """Bloom semi-join reduction (operators/sketches.py): a 2048-bit filter
    over a selective customer subset, broadcast and applied to orders BEFORE
    any shuffle — only might-match rows reach the exact join.  The output
    hash-gates BOTH halves of the contract: n_candidates checks the filter
    bit-for-bit against the oracle's SQL replica (same md5/KM positions,
    same words), and n_matched must equal a plain join's count — a single
    dropped true match breaks the hash (no false negatives)."""
    from ..operators.sketches import bloom_build, bloom_prefilter

    cust = _t(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 19 == 0)
    )
    keys = cust.select("c_custkey")
    bloom = bloom_build(keys, "c_custkey", m_bits=2048, k=4)
    orders = _t(spark, sf_dir, "orders")
    cand = bloom_prefilter(orders, "o_custkey", bloom, m_bits=2048, k=4)
    matched = cand.join(
        F.broadcast(keys), cand["o_custkey"] == keys["c_custkey"], "left"
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.count("c_custkey").cast("long").alias("n_matched"),
    )


# --------------------------------------------------------------------------
# agg_heavy_hitters_cms — count-min sketch vs exact counts on the top items
# --------------------------------------------------------------------------
@register(
    "agg_heavy_hitters_cms",
    oracle="""
    WITH items AS (SELECT CAST(l_partkey AS BIGINT) AS item FROM lineitem),
    h AS (
      SELECT item,
        ('0x' || substring(md5('cms|' || CAST(item AS VARCHAR)), 1, 15))::BIGINT AS h1,
        (('0x' || substring(md5('cms|' || CAST(item AS VARCHAR)), 16, 15))::BIGINT | 1) AS h2
      FROM items
    ),
    cells AS (
      SELECT r.r AS r, ((h1 + r.r * h2) % 256) AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM h, (SELECT unnest(range(0, 4)) AS r) r
      GROUP BY 1, 2
    ),
    true_counts AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM items GROUP BY item
    ),
    top AS (SELECT * FROM true_counts ORDER BY true_cnt DESC, item LIMIT 10),
    tc AS (
      SELECT t.item, r.r AS r,
        ((('0x' || substring(md5('cms|' || CAST(t.item AS VARCHAR)), 1, 15))::BIGINT
          + r.r * ((('0x' || substring(md5('cms|' || CAST(t.item AS VARCHAR)), 16, 15))::BIGINT) | 1))
         % 256) AS c
      FROM top t, (SELECT unnest(range(0, 4)) AS r) r
    ),
    est AS (
      SELECT tc.item, MIN(COALESCE(cells.cnt, 0)) AS cms_est
      FROM tc LEFT JOIN cells ON cells.r = tc.r AND cells.c = tc.c
      GROUP BY tc.item
    )
    SELECT top.item, top.true_cnt,
      CAST(est.cms_est AS BIGINT) AS cms_est,
      CAST(est.cms_est - top.true_cnt AS BIGINT) AS overestimate
    FROM top JOIN est ON top.item = est.item
    """,
)
def agg_heavy_hitters_cms_q(spark, sf_dir):
    """Count-min heavy hitters (operators/sketches.py): a 4x256-cell CMS over
    lineitem part keys, probed at the true top-10 items (deterministic
    count-desc, key-asc order).  Every cell is md5/KM-derived so the oracle
    rebuilds the identical sketch; the gate checks estimates cell-exactly,
    and `overestimate` >= 0 row-by-row is the CMS one-sided error guarantee
    made visible.  The sketch is depth*width bounded state, mergeable by
    summing cells — the fixed-memory answer to frequency questions a 100 TB
    item domain makes uncountable exactly."""
    from ..operators.sketches import count_min_build, count_min_estimate

    items = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("item")
    )
    cms = count_min_build(items, "item", depth=4, width=256, salt="cms")
    true_counts = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    top = true_counts.orderBy(F.col("true_cnt").desc(), F.col("item")).limit(10)
    est = count_min_estimate(
        top.select("item"), "item", cms, depth=4, width=256, salt="cms"
    )
    return top.join(est, "item").select(
        "item",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).cast("long").alias("overestimate"),
    )


# --------------------------------------------------------------------------
# text_chunk_split — overlapping context-window chunking for embedding/RAG
# --------------------------------------------------------------------------
@register(
    "text_chunk_split",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, length(text) AS len FROM documents
      WHERE doc_id % 7 = 0 AND length(text) > 0
    ),
    g AS (
      SELECT doc_id, text, len,
             unnest(range(0, (len - 1) // 90 + 1)) AS chunk_idx
      FROM d
    )
    SELECT doc_id,
      CAST(chunk_idx AS BIGINT) AS chunk_idx,
      CAST((len - 1) // 90 + 1 AS BIGINT) AS n_chunks,
      CAST(length(substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120)) AS BIGINT)
        AS chunk_chars,
      md5(substring(text, CAST(chunk_idx * 90 + 1 AS INT), 120)) AS chunk_md5
    FROM g
    """,
)
def text_chunk_split_q(spark, sf_dir):
    """Overlapping character-window chunking (operators/text_analysis.py
    chunk_text): chunk_len=120, stride=90 — each doc yields its full cover of
    windows, the 30-char overlap keeping boundary-straddling sentences whole
    in at least one chunk.  Map-only explode inside codegen (no shuffle);
    chunks surfaced as md5 digests so the gate checks every chunk's exact
    bytes without hauling text."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    from ..operators.text_analysis import chunk_text

    ch = chunk_text(docs, "text", "doc_id", chunk_len=120, stride=90)
    return ch.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "n_chunks",
        "chunk_chars",
        F.md5("chunk").alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# filter_outlier_mad — robust per-group outlier screen (median ± k*MAD)
# --------------------------------------------------------------------------
@register(
    "filter_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS grp_median
      FROM documents GROUP BY lang
    ),
    j AS (
      SELECT d.lang, CAST(d.n_chars AS BIGINT) AS n_chars, m.grp_median
      FROM documents d JOIN med m ON d.lang = m.lang
    ),
    mad AS (
      SELECT lang, quantile_cont(abs(n_chars - grp_median), 0.5) AS grp_mad
      FROM j GROUP BY lang
    )
    SELECT j.lang,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN abs(j.n_chars - j.grp_median) > 3.0 * mad.grp_mad
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      MIN(j.grp_median) AS median_chars,
      MIN(mad.grp_mad) AS mad_chars
    FROM j JOIN mad ON j.lang = mad.lang
    GROUP BY j.lang
    """,
)
def filter_outlier_mad_q(spark, sf_dir):
    """Robust per-language length-outlier screen (operators/quality.py
    mad_outlier_filter): median ± 3*MAD, the curation cut that mean±k*sigma
    gets wrong because outliers drag the moments.  Integer lengths make the
    median halves and the MAD quarters — dyadic rationals, bit-exact in
    doubles — so the boundary comparison hash-gates cleanly cross-engine."""
    from ..operators.quality import mad_outlier_filter

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    flagged = mad_outlier_filter(docs, "lang", "n_chars", n_mads=3.0)
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.min("grp_median").alias("median_chars"),
        F.min("grp_mad").alias("mad_chars"),
    )


# --------------------------------------------------------------------------
# dedup_bloom_screen — bloom-screened exact-dup check of a batch vs a corpus
# --------------------------------------------------------------------------
@register(
    "dedup_bloom_screen",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 3 = 0
    ),
    kh AS (
      SELECT h,
        ('0x' || substring(md5('bloom|' || h), 1, 15))::BIGINT AS h1,
        (('0x' || substring(md5('bloom|' || h), 16, 15))::BIGINT | 1) AS h2
      FROM corpus
    ),
    pos AS (
      SELECT ((h1 + i.i * h2) % 8192) AS pos
      FROM kh, (SELECT unnest(range(0, 4)) AS i) i
    ),
    words AS (
      SELECT pos // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
      FROM pos GROUP BY 1
    ),
    bh AS (
      SELECT source, sha256(text) AS h,
        ('0x' || substring(md5('bloom|' || sha256(text)), 1, 15))::BIGINT AS h1,
        (('0x' || substring(md5('bloom|' || sha256(text)), 16, 15))::BIGINT | 1) AS h2
      FROM documents WHERE doc_id % 5 = 0
    ),
    marked AS (
      SELECT source, h,
        NOT EXISTS (
          SELECT 1 FROM (SELECT unnest(range(0, 4)) AS i) i
          WHERE (COALESCE((SELECT word FROM words w
                           WHERE w.word_idx = ((bh.h1 + i.i * bh.h2) % 8192) // 32),
                          0)
                 & (1::BIGINT << CAST(((bh.h1 + i.i * bh.h2) % 8192) % 32 AS INT))) = 0
        ) AS is_candidate
      FROM bh
    )
    SELECT m.source,
      CAST(COUNT(*) AS BIGINT) AS n_batch,
      CAST(SUM(CASE WHEN m.is_candidate THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
      CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
      CAST(COUNT(*) - SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM marked m LEFT JOIN corpus c ON m.h = c.h
    GROUP BY m.source
    """,
)
def dedup_bloom_screen_q(spark, sf_dir):
    """Bloom-screened ingest dedup: an arriving batch is checked for EXACT
    duplicates against a corpus by first testing each content hash against
    the corpus's pre-built Bloom filter (operators/sketches.py bloom_mark),
    so at production scale only bloom-positive rows pay the keyed join into
    the corpus hash table — bloom-negative rows are *provably* new and skip
    it (no false negatives).  The cheap exact-dup sibling of the LSH probe
    in dedup_incremental_lsh: same O(batch) ingest cost, membership state is
    m/32 BIGINT words instead of a band-key table.  The gate checks the
    screen three ways: n_candidates is bit-exact vs the oracle's SQL bloom
    replica, n_dups must equal a plain join's count, and n_dups <=
    n_candidates row-by-row or the hash breaks."""
    from ..operators.sketches import bloom_build, bloom_mark

    docs = _t(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select(F.sha2(F.col("text"), 256).alias("h"))
        .distinct()
    )
    bloom = bloom_build(corpus, "h", m_bits=8192, k=4)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "source", F.sha2(F.col("text"), 256).alias("h")
    )
    marked = bloom_mark(batch, "h", bloom, m_bits=8192, k=4)
    in_corp = corpus.withColumn("in_corpus", F.lit(True))
    j = marked.join(in_corp, "h", "left")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum(F.when(F.col("is_candidate"), 1).otherwise(0)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("in_corpus"), 1).otherwise(0)).cast("long").alias("n_dups"),
        (
            F.count(F.lit(1)) - F.sum(F.when(F.col("in_corpus"), 1).otherwise(0))
        ).cast("long").alias("n_new"),
    )


# --------------------------------------------------------------------------
# text_bpe_pair_counts — one BPE merge round's statistics, exact-gated
# --------------------------------------------------------------------------
@register(
    "text_bpe_pair_counts",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[\\s\x1f]+')) AS word
      FROM documents
    ),
    words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' GROUP BY word
    ),
    syms AS (SELECT freq, string_split(word, '') AS s FROM words),
    pairs AS (
      SELECT s[i] AS left_sym, s[i + 1] AS right_sym, SUM(freq) AS cnt
      FROM syms, unnest(range(1, len(s))) t(i)
      GROUP BY 1, 2
    )
    SELECT left_sym, right_sym, CAST(cnt AS BIGINT) AS cnt
    FROM pairs ORDER BY cnt DESC, left_sym, right_sym LIMIT 25
    """,
)
def text_bpe_pair_counts_q(spark, sf_dir):
    """One BPE training round's statistics over the documents corpus: the
    frequency-weighted adjacent-character pair counts, top-25 with the
    deterministic (count DESC, pair ASC) tie-break — the argmax feed of
    bpe_train (operators/bpe.py), hash-gated cell-exactly.  The corpus
    collapses to the vocabulary in ONE shuffle; the pair explode and count
    are vocab-scale."""
    from ..operators.bpe import _initial_symbols, bpe_pair_counts, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    counts = bpe_pair_counts(_initial_symbols(word_frequencies(docs, "text")))
    return (
        counts.select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            "cnt",
        )
        .orderBy(F.col("cnt").desc(), "left_sym", "right_sym")
        .limit(25)
    )


# --------------------------------------------------------------------------
# text_bpe_train — iterative merge training, EXACT unrolled-CTE oracle
# --------------------------------------------------------------------------
def _bpe_train_oracle(n_merges: int) -> str:
    """Unroll the bounded BPE training loop as DuckDB CTEs (VERDICT r4 #6,
    the same doctrine as graph_pagerank's unrolled iterations): per round,
    pair counts over the current symbol state, the (cnt DESC, left, right)
    argmax, and a greedy leftmost merge application via the bracket-
    delimited replace mechanism the text_bpe_encode oracle already
    cross-validates.  Training state after round r IS the encode of the
    vocab with merges 0..r (identical fold sequence), so the final token
    count reads straight off s{n}."""
    sql = [
        """
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[\\s\x1f]+')) AS word
      FROM documents
    ),
    words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' GROUP BY word
    ),
    s0 AS (
      SELECT freq,
        chr(31) || array_to_string(string_split(word, ''), chr(31)||chr(31)) || chr(31) AS s
      FROM words
    )"""
    ]
    for r in range(n_merges):
        sql.append(
            f""",
    a{r} AS (
      SELECT freq, string_split(trim(s{r}.s, chr(31)), chr(31)||chr(31)) AS a FROM s{r}
    ),
    p{r} AS (
      SELECT a[i] AS l, a[i + 1] AS r, SUM(freq) AS cnt
      FROM a{r}, unnest(range(1, len(a))) t(i)
      GROUP BY 1, 2
    ),
    b{r} AS (SELECT l, r FROM p{r} ORDER BY cnt DESC, l, r LIMIT 1),
    s{r + 1} AS (
      SELECT freq,
        replace(s, chr(31)||b.l||chr(31)||chr(31)||b.r||chr(31),
                chr(31)||b.l||b.r||chr(31)) AS s
      FROM s{r}, b{r} b
    )"""
        )
    ranks = "\n      UNION ALL ".join(
        f"SELECT {r} AS rank, l, r FROM b{r}" for r in range(n_merges)
    )
    sql.append(
        f""",
    merges AS (
      {ranks}
    ),
    final AS (
      SELECT CAST(SUM(len(string_split(trim(s, chr(31)), chr(31)||chr(31))) * freq) AS BIGINT) AS n
      FROM s{n_merges}
    )
    SELECT CAST(rank AS BIGINT) AS rank, l AS left_sym, r AS right_sym,
           l || r AS merged, n AS corpus_tokens_after
    FROM merges, final ORDER BY rank
    """
    )
    return "".join(sql)


@register("text_bpe_train", oracle=_bpe_train_oracle(8))
def text_bpe_train_q(spark, sf_dir):
    """Train 8 BPE merges on the documents corpus and encode the vocabulary
    with them (operators/bpe.py): output one row per merge rank with the
    merged symbol and the vocabulary token count after all merges — the
    artifact a tokenizer-training pipeline ships.  Corpus touched once
    (word counts); every round is vocab-cardinality; argmax is a 1-row
    driver collect per round (the PageRank-class bounded loop)."""
    from ..operators.bpe import bpe_encode_words, bpe_train, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=8)
    words = word_frequencies(docs, "text")
    encoded = bpe_encode_words(words, merges)
    n_tokens = encoded.select(
        F.sum(F.size("tokens") * F.col("freq")).cast("long").alias("n")
    ).collect()[0]["n"]
    rows = [
        (rank, left, right, left + right, int(n_tokens)) for rank, left, right in merges
    ]
    return spark.createDataFrame(
        rows,
        "rank LONG, left_sym STRING, right_sym STRING, merged STRING, corpus_tokens_after LONG",
    )


# --------------------------------------------------------------------------
# text_bpe_encode — apply a fixed ranked merge list to the vocabulary
# --------------------------------------------------------------------------
@register(
    "text_bpe_encode",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[\\s\x1f]+')) AS word
      FROM documents
    ),
    words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      WHERE word <> '' GROUP BY word
    ),
    -- bracket-delimited symbol string: each symbol enclosed in chr(31), so a
    -- merge pattern can never match inside a multi-character symbol
    s0 AS (
      SELECT word, freq,
        chr(31) || array_to_string(string_split(word, ''), chr(31)||chr(31)) || chr(31) AS s
      FROM words
    ),
    s1 AS (SELECT word, freq, replace(s, chr(31)||'t'||chr(31)||chr(31)||'h'||chr(31),
                                      chr(31)||'th'||chr(31)) AS s FROM s0),
    s2 AS (SELECT word, freq, replace(s, chr(31)||'th'||chr(31)||chr(31)||'e'||chr(31),
                                      chr(31)||'the'||chr(31)) AS s FROM s1),
    s3 AS (SELECT word, freq, replace(s, chr(31)||'i'||chr(31)||chr(31)||'n'||chr(31),
                                      chr(31)||'in'||chr(31)) AS s FROM s2),
    s4 AS (SELECT word, freq, replace(s, chr(31)||'e'||chr(31)||chr(31)||'r'||chr(31),
                                      chr(31)||'er'||chr(31)) AS s FROM s3),
    s5 AS (SELECT word, freq, replace(s, chr(31)||'er'||chr(31)||chr(31)||'s'||chr(31),
                                      chr(31)||'ers'||chr(31)) AS s FROM s4),
    enc AS (
      SELECT word, freq, string_split(trim(s, chr(31)), chr(31)||chr(31)) AS tokens
      FROM s5
    )
    SELECT word, freq,
      CAST(len(tokens) AS BIGINT) AS n_tokens,
      array_to_string(tokens, ' ') AS tokens_str
    FROM enc
    """,
)
def text_bpe_encode_q(spark, sf_dir):
    """Apply a FIXED ranked merge list (t+h, th+e, i+n, e+r, er+s — two
    multi-round merges that consume earlier outputs) to the documents
    vocabulary via the fold-expression encoder (operators/bpe.py
    bpe_encode_words) and emit every word's tokenization.  The oracle
    re-derives the same encoding with an independent mechanism — bracket-
    delimited string replacement, where each symbol is enclosed in US
    separators so a pattern can never match inside a multi-character symbol
    — making the gate a cross-IMPLEMENTATION check of the greedy leftmost
    non-overlapping merge semantics, not a replay of the same code."""
    from ..operators.bpe import bpe_encode_words, word_frequencies

    merges = [(0, "t", "h"), (1, "th", "e"), (2, "i", "n"), (3, "e", "r"), (4, "er", "s")]
    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_words(word_frequencies(docs, "text"), merges)
    return enc.select(
        "word",
        "freq",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "tokens").alias("tokens_str"),
    )


# --------------------------------------------------------------------------
# text_lm_quality_score — unigram-LM curation signal, integer-exact
# --------------------------------------------------------------------------
@register(
    "text_lm_quality_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(string_split_regex(lower(text), '[\\s\x1f]+')) AS tok
      FROM documents
    ),
    t AS (SELECT id, tok FROM toks WHERE tok <> ''),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM t GROUP BY tok),
    scored AS (SELECT t.id, v.freq FROM t JOIN vocab v ON t.tok = v.tok),
    per_doc AS (
      SELECT id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(0 AS BIGINT) AS oov_tokens,
        CAST(SUM(CAST(FLOOR(log2(freq)) AS BIGINT)) AS BIGINT) AS score_bits
      FROM scored GROUP BY id
    )
    SELECT id, n_tokens, oov_tokens, score_bits,
      CAST(FLOOR(score_bits * 1000 / CAST(n_tokens AS DOUBLE)) AS BIGINT)
        AS mean_millibits
    FROM per_doc
    """,
)
def text_lm_quality_score_q(spark, sf_dir):
    """Unigram-LM quality proxy (operators/text_analysis.py
    unigram_lm_scores): every token contributes floor(log2(corpus_freq))
    bits — the CCNet/KenLM curation signal with integer-quantized log
    probabilities, bit-exact across engines because log2 of an integer can
    only land on an integer at powers of two, where it is exact.
    Self-scoring pass (vocab = the corpus's own frequencies), so oov is 0
    by construction; the operator also takes a frozen reference vocab for
    scoring new documents, where oov counts surface."""
    from ..operators.text_analysis import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_lm_scores(docs, "text", "doc_id")


def _register_similarity_topk_routed():
    # same oracle as similarity_topk: the expression path and the routed
    # cogroup both pin to one SQL contract
    from . import ORACLES

    @register("similarity_topk_routed", oracle=ORACLES["similarity_topk"])
    def similarity_topk_routed_q(spark, sf_dir):
        """Brute-force cosine top-k through the routed cogroup
        (operators/similarity.py cosine_topk_routed): hash-blocked targets
        cogrouped with block-replicated queries — ZERO driver collect on
        either side, the production serving shape of the brute tier
        (VERDICT r7 #2).  Same workload and oracle as similarity_topk,
        so the gate pins both forms to one SQL contract."""
        from ..operators.similarity import cosine_topk_routed

        em = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 200)
            .select("vec_id", "embedding")
        )
        q = em.filter(F.col("vec_id") < 10)
        out = cosine_topk_routed(q, em, k=5, n_blocks=8)
        return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


_register_similarity_topk_routed()


# --------------------------------------------------------------------------
# dedup_keep_best_quality — keep the HIGHEST-QUALITY member per dup cluster
# --------------------------------------------------------------------------
@register(
    "dedup_keep_best_quality",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    tr AS (
      SELECT doc_id + 10000 AS doc_id, substring(text, 1, 80) AS text
      FROM base WHERE doc_id % 4 = 0
    ),
    corpus AS (SELECT * FROM base UNION ALL SELECT * FROM tr),
    q AS (
      SELECT doc_id, md5(substring(text, 1, 40)) AS cluster_key,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
              t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) * 0.5
        + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
            / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.5 AS quality
      FROM corpus
    ),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY cluster_key
                           ORDER BY quality DESC, doc_id) AS rn,
        COUNT(*) OVER (PARTITION BY cluster_key) AS n_members
      FROM q
    )
    SELECT cluster_key, doc_id AS keep_id,
      CAST(n_members AS BIGINT) AS n_members, quality AS best_quality
    FROM r WHERE rn = 1
    """,
)
def dedup_keep_best_quality_q(spark, sf_dir):
    """Keep-BEST-per-cluster dedup: duplicate clusters resolved by quality,
    not by arbitrary min-id — the policy curation pipelines actually want
    (when a full document and its truncated/boilerplate variant collide,
    keep the complete one).  Planted truncated copies (doc_id+10000,
    substring 1..80) share their original's 40-char-prefix cluster key and
    usually lose on the punctuation/stopword quality heuristic — though not
    always (cutting a punctuation-heavy tail can raise the score; at sf0.01
    a minority of clusters keep the truncation, and the gate hashes that
    honestly rather than assuming the original wins).  Exact copies tie on
    quality and fall back to id-asc determinism.  One quality projection + ONE window
    over the cluster key (rank and member count share the partition sort);
    quality_score is the already-hash-gated cross-engine-exact scorer, so
    the float ordering cannot diverge."""
    from pyspark.sql import Window

    from ..operators.text_analysis import quality_score

    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    tr = base.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.substring("text", 1, 80).alias("text"),
    )
    corpus = base.unionByName(tr)
    q = quality_score(corpus, "text", "doc_id").select("id", "quality")
    keyed = corpus.select(
        "doc_id", F.md5(F.substring("text", 1, 40)).alias("cluster_key")
    ).join(q, F.col("doc_id") == F.col("id"))
    w = Window.partitionBy("cluster_key")
    ranked = keyed.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.col("quality").desc(), F.col("doc_id"))),
    ).withColumn("n_members", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_key",
        F.col("doc_id").alias("keep_id"),
        F.col("n_members").cast("long").alias("n_members"),
        F.col("quality").alias("best_quality"),
    )


# --------------------------------------------------------------------------
# temporal_ema_smooth — integer-exact exponential smoothing per key
# --------------------------------------------------------------------------
@register(
    "temporal_ema_smooth",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS v
      FROM events WHERE user_id < 50
    ),
    arr AS (
      SELECT user_id,
             list_sort(list({'o0': t, 'o1': event_id, 'v': v})) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY user_id
    )
    SELECT user_id, n_events,
      CAST(list_reduce(list_transform(xs, s -> s.v), (a, b) -> (a + b) // 2)
           AS BIGINT) AS ema_units
    FROM arr
    """,
)
def temporal_ema_smooth_q(spark, sf_dir):
    """Exponentially smoothed (alpha=1/2) per-user value series
    (operators/temporal.py ema_integer): recursive state folds with
    truncating integer halving, so Spark's aggregate() fold and DuckDB's
    list_reduce — genuinely different fold machinery — must land on the
    same BIGINT per user.  Values floor-quantized to micro-units before
    smoothing; order = (event-time micros, event_id) for a total order."""
    from ..operators.temporal import ema_integer

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    prepped = ev.select(
        "user_id",
        ts_us.alias("t"),
        "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v"),
    )
    return ema_integer(prepped, ["user_id"], ["t", "event_id"], "v")


# --------------------------------------------------------------------------
# join_asof_forward — next-event alignment with a tolerance horizon
# --------------------------------------------------------------------------
@register(
    "join_asof_forward",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 50 = 0
    ),
    r AS (
      SELECT user_id, ts AS t, MIN(event_id) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, CAST(e.user_id AS BIGINT) AS user_id,
      (SELECT r.v FROM r
        WHERE r.user_id = e.user_id AND r.t >= e.ts
          AND r.t <= e.ts + INTERVAL 2 DAY
        ORDER BY r.t ASC LIMIT 1) AS next_purchase,
      (SELECT CAST(date_diff('microsecond', e.ts, r.t) AS BIGINT) FROM r
        WHERE r.user_id = e.user_id AND r.t >= e.ts
          AND r.t <= e.ts + INTERVAL 2 DAY
        ORDER BY r.t ASC LIMIT 1) AS wait_us
    FROM ev e
    """,
)
def join_asof_forward_q(spark, sf_dir):
    """Forward as-of with tolerance (operators/asof.py join_asof_forward):
    each sampled event matched to the same user's EARLIEST purchase event
    at-or-after its time, but only within a 2-day horizon — time-to-
    conversion, the next-event alignment the backward as-of cannot answer.
    Both sides share the events timeline so the horizon genuinely splits
    matched from unmatched rows (at sf0.01 both outcomes occur).  Same
    union + one-keyed-window shape as join_asof (no range cross product);
    the oracle is an independent correlated-subquery formulation, so the
    gate cross-checks semantics, not implementation."""
    from ..operators.asof import join_asof_forward

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 50 == 0)
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("t"), F.col("event_id").alias("p_id"))
    )
    out = join_asof_forward(
        ev, purchases, on="user_id", left_time="ts", right_time="t",
        right_value="p_id", tolerance_seconds=2 * 86400,
        out_col="next_purchase",
    )
    return out.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("next_purchase").cast("long").alias("next_purchase"),
        # microsecond delta: exact integers in both engines (DuckDB's
        # date_diff('second') counts boundary crossings, Spark truncates —
        # they disagree on sub-second offsets; microseconds have no rounding)
        F.expr("timestampdiff(MICROSECOND, ts, next_purchase_at)").cast("long").alias("wait_us"),
    )


# --------------------------------------------------------------------------
# graph_kcore — k-core membership by fixed-round peeling (round 7)
# --------------------------------------------------------------------------
def _kcore_oracle(k: int = 20, n_rounds: int = 3) -> str:
    """Unroll the fixed-round peel as chained CTEs (the pq_train/pagerank
    unroll doctrine): per round, a degree aggregate, a keep set, and a
    double endpoint join."""
    parts = [
        """
    WITH raw AS (
      SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey % 1500 AS b
      FROM lineitem WHERE l_orderkey % 3 = 0
    ),
    und0 AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw)"""
    ]
    for r in range(n_rounds):
        parts.append(
            f""",
    deg{r} AS (SELECT src AS v, COUNT(*) AS deg FROM und{r} GROUP BY src),
    keep{r} AS (SELECT v FROM deg{r} WHERE deg >= {k}),
    und{r + 1} AS (
      SELECT e.src, e.dst FROM und{r} e
      JOIN keep{r} k1 ON e.src = k1.v
      JOIN keep{r} k2 ON e.dst = k2.v
    )"""
        )
        parts.append("")
    parts.append(
        f"""
    SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS deg
    FROM und{n_rounds} GROUP BY src"""
    )
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore_q(spark, sf_dir):
    """k-core cohesion screen (plans/graph_query.py kcore_vertices): the
    standard dense-subgraph filter a training-data pipeline uses to keep
    mutually-interacting entities and shed the sparse periphery — here the
    20-core of the supplier–part co-purchase graph, peeled for a FIXED 3
    rounds (the bounded-loop doctrine: the unrolled-CTE oracle replays
    every round, and on this graph the peel converges at round 1, so the
    two extra rounds hash-gate fixpoint stability too).  Survivors carry
    their in-core degree."""
    from ..plans.graph_query import kcore_vertices

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.lit(100000) + F.col("l_partkey") % 1500).cast("long").alias("dst"),
    )
    return kcore_vertices(edges, k=20, n_rounds=3)


# --------------------------------------------------------------------------
# text_lm_bigram_score — bigram-LM transition plausibility, integer-exact
# --------------------------------------------------------------------------
@register(
    "text_lm_bigram_score",
    oracle="""
    WITH base AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[\\s\x1f]+'),
                         t -> t <> '') AS ws
      FROM documents
    ),
    bi AS (
      -- constant series + length filter: DuckDB's generate_series cannot
      -- take lateral column bounds; 511 comfortably exceeds the corpus's
      -- 100-token max (and the engine-side contract is unbounded anyway)
      SELECT id, ws[i] AS w1, ws[i + 1] AS w2
      FROM base, generate_series(1, 511) t(i)
      WHERE i <= len(ws) - 1
    ),
    b2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS freq2 FROM bi GROUP BY w1, w2),
    b1 AS (SELECT w1 AS tok, CAST(COUNT(*) AS BIGINT) AS freq1 FROM bi GROUP BY w1),
    scored AS (
      SELECT bi.id, f2.freq2, f1.freq1
      FROM bi JOIN b2 f2 USING (w1, w2) JOIN b1 f1 ON bi.w1 = f1.tok
    ),
    per_doc AS (
      SELECT id,
        CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(0 AS BIGINT) AS oov_bigrams,
        CAST(SUM(CAST(FLOOR(log2(freq2)) AS BIGINT)) AS BIGINT) AS pair_bits,
        CAST(SUM(CAST(FLOOR(log2(freq2)) AS BIGINT)
                 - CAST(FLOOR(log2(freq1)) AS BIGINT)) AS BIGINT) AS cond_bits
      FROM scored GROUP BY id
    )
    SELECT id, n_bigrams, oov_bigrams, pair_bits, cond_bits,
      CASE WHEN n_bigrams >= 1
           THEN CAST(FLOOR(cond_bits * 1000 / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS mean_cond_millibits
    FROM per_doc
    UNION ALL
    SELECT id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM base WHERE len(ws) < 2
    """,
)
def text_lm_bigram_score_q(spark, sf_dir):
    """Bigram-LM transition plausibility (operators/text_analysis.py
    bigram_lm_scores): the curation signal unigram scoring cannot see —
    common words in implausible ORDER score low here.  Each adjacent pair
    contributes floor(log2 c(w1,w2)) pair bits and the integer conditional
    floor(log2 c(w1,w2)) − floor(log2 c(w1)) bits (≈ log2 P(w2|w1), c(w1)
    counted as a bigram CONTEXT).  Self-scoring pass (vocabs = the
    corpus's own counts, oov 0 by construction); the operator also takes
    frozen bigram/unigram vocab tables for scoring new documents.  Pair
    extraction is order-preserving pure codegen (filter + slice + zip +
    explode); the oracle replays it with list indexing."""
    from ..operators.text_analysis import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "text", "doc_id")


# --------------------------------------------------------------------------
# join_asof_nearest — closest-event alignment within a tolerance
# --------------------------------------------------------------------------
@register(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 50 = 0
    ),
    r AS (
      SELECT user_id, ts AS t, MIN(event_id) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, CAST(e.user_id AS BIGINT) AS user_id,
      (SELECT r.v FROM r
        WHERE r.user_id = e.user_id
          AND abs(date_diff('microsecond', e.ts, r.t)) <= 86400000000
        ORDER BY abs(date_diff('microsecond', e.ts, r.t)) ASC,
                 CASE WHEN r.t <= e.ts THEN 0 ELSE 1 END ASC
        LIMIT 1) AS near_purchase,
      (SELECT CAST(abs(date_diff('microsecond', e.ts, r.t)) AS BIGINT) FROM r
        WHERE r.user_id = e.user_id
          AND abs(date_diff('microsecond', e.ts, r.t)) <= 86400000000
        ORDER BY abs(date_diff('microsecond', e.ts, r.t)) ASC,
                 CASE WHEN r.t <= e.ts THEN 0 ELSE 1 END ASC
        LIMIT 1) AS near_dist_us
    FROM ev e
    """,
)
def join_asof_nearest_q(spark, sf_dir):
    """Nearest as-of (operators/asof.py join_asof_nearest): each sampled
    event matched to the same user's CLOSEST purchase event in either
    direction, within a 1-day tolerance — merge_asof(direction='nearest')
    semantics with the stated tie rule (equal distance → backward).  One
    union + one keyed exchange feeding two sorts, never a range cross
    product; the oracle is an independent correlated-subquery formulation
    so the gate cross-checks semantics, not implementation."""
    from ..operators.asof import join_asof_nearest

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 50 == 0)
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("t"), F.col("event_id").alias("p_id"))
    )
    out = join_asof_nearest(
        ev, purchases, on="user_id", left_time="ts", right_time="t",
        right_value="p_id", tolerance_seconds=86400, out_col="near_purchase",
    )
    return out.select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("near_purchase").cast("long").alias("near_purchase"),
        F.col("near_purchase_dist_us").alias("near_dist_us"),
    )


# --------------------------------------------------------------------------
# graph_label_propagation — deterministic synchronous LPA communities
# --------------------------------------------------------------------------
def _lpa_oracle(n_rounds: int = 3) -> str:
    """Unroll the fixed-round majority vote as chained CTEs."""
    parts = [
        """
    WITH raw AS (
      SELECT DISTINCT l_suppkey AS a, 100000 + l_partkey % 1500 AS b
      FROM lineitem WHERE l_orderkey % 3 = 0
    ),
    sym AS (SELECT a AS src, b AS dst FROM raw UNION SELECT b, a FROM raw),
    verts AS (SELECT DISTINCT src AS v FROM sym),
    und AS (SELECT src, dst FROM sym UNION SELECT v, v FROM verts),
    lbl0 AS (SELECT v, v AS lab FROM verts)"""
    ]
    for r in range(n_rounds):
        parts.append(
            f""",
    votes{r} AS (
      SELECT e.src AS v, l.lab, COUNT(*) AS c
      FROM und e JOIN lbl{r} l ON l.v = e.dst
      GROUP BY e.src, l.lab
    ),
    lbl{r + 1} AS (
      SELECT v, lab FROM (
        SELECT v, lab, ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab ASC) AS rn
        FROM votes{r}
      ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""
    SELECT v, CAST(lab AS BIGINT) AS lab FROM lbl{n_rounds}"""
    )
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation_q(spark, sf_dir):
    """Deterministic synchronous label propagation (plans/graph_query.py
    label_propagation): community labels on the supplier–part co-purchase
    graph after a FIXED 3 voting rounds — textbook LPA made differential-
    gateable by total tie-breaks (count DESC, label ASC) and a unit
    self-loop damping the bipartite 2-cycle.  The unrolled-CTE oracle
    replays every round's vote exactly."""
    from ..plans.graph_query import label_propagation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.lit(100000) + F.col("l_partkey") % 1500).cast("long").alias("dst"),
    )
    return label_propagation(edges, n_rounds=3)
