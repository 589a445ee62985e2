"""Exact-ID queries for SURVEY.md §2 rows whose behavior is otherwise only
exercised inside combined queries (fn_uri_parse, fn_doc_id_helpers,
agg_dedup_edges, text_inverted_index, ...).

Each §2 operator ID gets its own oracle-checked entry so the coverage
checklist maps 1:1 onto CORRECTNESS results — no ID has to be traced into a
composite query to see it verified.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ..functions import (
    fn_doc_collection_name,
    fn_doc_key,
    fn_make_edge_key,
    fn_make_vertex_id,
    fn_pred_last_path,
    fn_term_split,
    fn_uri_basename,
    fn_uri_fragment,
    fn_uri_rewrite_special,
    fn_version_newer,
)
from ..io import load_table
from ..search import build_inverted_index, text_en_no_stem_tokens
from ..sinks.graph import read_graph_vertices, write_graph
from . import QUERIES, ORACLES, finish_and_clean, register
from .ontology import fixture_graph


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# §2.8 scalar functions, one ID per query
# --------------------------------------------------------------------------
@register(
    "fn_uri_basename",
    oracle="""
    SELECT doc_id, 'CL_' || CAST(doc_id AS VARCHAR) AS basename FROM documents
    """,
)
def fn_uri_basename_q(spark, sf_dir):
    """Last path segment (OntologyGraphBuilder.java:81-85), incl. fragment
    stripping and trailing-slash trim."""
    docs = _t(spark, sf_dir, "documents")
    uri = F.concat(
        F.lit("http://purl.obolibrary.org/obo/CL_"), F.col("doc_id").cast("string")
    )
    # odd ids get a #fragment, which basename must ignore
    uri = F.when(F.col("doc_id") % 2 == 1, F.concat(uri, F.lit("#frag"))).otherwise(uri)
    return docs.select("doc_id", fn_uri_basename(uri).alias("basename"))


@register(
    "fn_uri_fragment",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'f' || CAST(doc_id AS VARCHAR) END AS fragment
    FROM documents
    """,
)
def fn_uri_fragment_q(spark, sf_dir):
    """#fragment extraction, NULL when absent (OntologyGraphBuilder.java:115)."""
    docs = _t(spark, sf_dir, "documents")
    base = F.concat(F.lit("http://www.w3.org/2000/01/rdf-schema"))
    uri = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(base, F.lit("#f"), F.col("doc_id").cast("string")),
    ).otherwise(base)
    return docs.select("doc_id", fn_uri_fragment(uri).alias("fragment"))


@register(
    "fn_pred_last_path",
    oracle="""
    SELECT doc_id, 'RO_' || CAST(doc_id AS VARCHAR) AS token FROM documents
    """,
)
def fn_pred_last_path_q(spark, sf_dir):
    """Last path token for fragment-less predicate URIs
    (OntologyGraphBuilder.java:117-119)."""
    docs = _t(spark, sf_dir, "documents")
    uri = F.concat(F.lit("http://purl.obolibrary.org/obo/RO_"), F.col("doc_id").cast("string"))
    return docs.select("doc_id", fn_pred_last_path(uri).alias("token"))


@register(
    "fn_uri_rewrite_special",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 3
        WHEN 0 THEN 'http://x.org/PCLCS_' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN 'http://x.org/ENSG_' || CAST(doc_id AS VARCHAR)
        ELSE 'http://x.org/obo/CL_' || CAST(doc_id AS VARCHAR)
      END AS rewritten
    FROM documents
    """,
)
def fn_uri_rewrite_special_q(spark, sf_dir):
    """/pcl/CS -> /PCLCS_ and /ensembl/ENSG -> /ENSG_ first-occurrence
    rewrites (OntologyElementParser.java:41-44,77-87)."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 3
    uri = (
        F.when(k == 0, F.concat(F.lit("http://x.org/pcl/CS"), F.col("doc_id").cast("string")))
        .when(k == 1, F.concat(F.lit("http://x.org/ensembl/ENSG"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(F.lit("http://x.org/obo/CL_"), F.col("doc_id").cast("string")))
    )
    return docs.select("doc_id", fn_uri_rewrite_special(uri).alias("rewritten"))


@register(
    "fn_term_split",
    oracle="""
    SELECT doc_id,
      CASE doc_id % 4 WHEN 0 THEN 'CL' WHEN 1 THEN 'GO' END AS id,
      CASE doc_id % 4
        WHEN 0 THEN CAST(doc_id AS VARCHAR)
        WHEN 1 THEN CAST(doc_id AS VARCHAR)
      END AS number
    FROM documents
    """,
)
def fn_term_split_q(spark, sf_dir):
    """2-token split on _ else : with invalid shapes yielding NULLs
    (OntologyGraphBuilder.java:86-99)."""
    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id") % 4
    term = (
        F.when(k == 0, F.concat(F.lit("CL_"), F.col("doc_id").cast("string")))
        .when(k == 1, F.concat(F.lit("GO:"), F.col("doc_id").cast("string")))
        .when(k == 2, F.lit("noseparator"))
        .otherwise(F.concat(F.lit("A_B_C_"), F.col("doc_id").cast("string")))  # >2 tokens
    )
    return docs.select("doc_id", fn_term_split(term).alias("st")).select(
        "doc_id", F.col("st.id").alias("id"), F.col("st.number").alias("number")
    )


@register(
    "fn_make_vertex_id",
    oracle="""
    SELECT doc_id,
           source || '/' || CAST(doc_id AS VARCHAR) AS vertex_id,
           CAST(doc_id AS VARCHAR) || '-' || CAST(doc_id + 1 AS VARCHAR) AS edge_key
    FROM documents
    """,
)
def fn_make_vertex_id_q(spark, sf_dir):
    """{id}/{number} vertex ids and {fromNum}-{toNum} edge keys
    (OntologyGraphBuilder.java:382,387-389)."""
    docs = _t(spark, sf_dir, "documents")
    num = F.col("doc_id").cast("string")
    return docs.select(
        "doc_id",
        fn_make_vertex_id(F.col("source"), num).alias("vertex_id"),
        fn_make_edge_key(num, (F.col("doc_id") + 1).cast("string")).alias("edge_key"),
    )


@register(
    "fn_doc_collection_name",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 <> 0 THEN source END AS collection
    FROM documents
    """,
)
def fn_doc_collection_name_q(spark, sf_dir):
    """Prefix before first '/', NULL without one
    (OntologyGraphBuilder.java:415-421)."""
    docs = _t(spark, sf_dir, "documents")
    full_id = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("source"))
    return docs.select("doc_id", fn_doc_collection_name(full_id).alias("collection"))


@register(
    "fn_doc_key",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 <> 0 THEN CAST(doc_id AS VARCHAR) END AS key
    FROM documents
    """,
)
def fn_doc_key_q(spark, sf_dir):
    """Suffix after first '/', NULL without one
    (OntologyGraphBuilder.java:430-436)."""
    docs = _t(spark, sf_dir, "documents")
    full_id = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("source"))
    return docs.select("doc_id", fn_doc_key(full_id).alias("key"))


@register(
    "fn_contains",
    oracle="""
    SELECT doc_id,
           contains(text, 'the') AS has_rootns,
           contains(text, 'obsolete') AS is_obsolete
    FROM documents
    """,
)
def fn_contains_q(spark, sf_dir):
    """Substring membership checks (OntologyTripleParser.java:43-46,
    OntologyGraphBuilder.java:257-258)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("text").contains("the").alias("has_rootns"),
        F.col("text").contains("obsolete").alias("is_obsolete"),
    )


@register(
    "fn_version_newer",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') > '1996-06-15' AS is_newer
    FROM orders
    """,
)
def fn_version_newer_q(spark, sf_dir):
    """Lexicographic ISO-date compare (OntologyDownloader.java:113)."""
    o = _t(spark, sf_dir, "orders")
    new_ver = F.date_format("o_orderdate", "yyyy-MM-dd")
    return o.select(
        "o_orderkey", fn_version_newer(new_ver, F.lit("1996-06-15")).alias("is_newer")
    )


# --------------------------------------------------------------------------
# §2.4 / §2.9 / §2.10 aliases and DDL surfaces
# --------------------------------------------------------------------------
# agg_dedup_edges_last_wins is the §2.4 row name for the edge-dedup operator
# registered as agg_dedup_edges (sorted-set policy per SURVEY §2.4) — same
# query, both IDs oracle-checked.
def _alias(new_id: str, existing_id: str) -> None:
    QUERIES[new_id] = QUERIES[existing_id]
    if existing_id in ORACLES:
        ORACLES[new_id] = ORACLES[existing_id]


@register(
    "ddl_database_graph",
    oracle="""
    SELECT * FROM (VALUES ('CL', 5), ('GO', 1), ('NCBITaxon', 1)) AS t(collection, n)
    """,
)
def ddl_database_graph_q(spark, sf_dir):
    """Idempotent database/graph/collection DDL (ArangoDbUtilities.java:80-212,
    drop-recreate OntologyGraphBuilder.java:511-517) as the
    {root}/{database}/{graph}/{collection} parquet layout: write the graph
    twice (drop-recreate = mode overwrite), read back through the catalog
    path helpers."""
    g = fixture_graph(spark)
    root = tempfile.mkdtemp(prefix="graph_ddl_")
    # run the DDL twice to prove idempotence (second overwrite == recreate)
    write_graph(g.vertices, g.edges, root, "Cell-KN-Ontologies", "KN-Ontologies-v2.0")
    write_graph(g.vertices, g.edges, root, "Cell-KN-Ontologies", "KN-Ontologies-v2.0")
    back = read_graph_vertices(spark, root, "Cell-KN-Ontologies", "KN-Ontologies-v2.0")
    counts = back.groupBy("collection").agg(F.count(F.lit(1)).cast("int").alias("n"))
    return finish_and_clean(counts, root)


@register(
    "text_inverted_index_view",
    oracle="""
    WITH cfg AS (
      SELECT * FROM (VALUES ('documents', 'text'), ('documents', 'source')) AS t(collection, field)
    ),
    toks AS (
      SELECT 'text' AS field, t.tok AS token, CAST(doc_id AS VARCHAR) AS doc_key
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 60) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
      UNION ALL
      SELECT 'source' AS field, lower(source) AS token, CAST(doc_id AS VARCHAR) AS doc_key
      FROM documents WHERE doc_id < 60
    )
    SELECT field, token, COUNT(DISTINCT doc_key) AS n_docs
    FROM toks
    WHERE field IN (SELECT field FROM cfg)
    GROUP BY field, token
    """,
)
def text_inverted_index_view_q(spark, sf_dir):
    """Config-driven search view (ArangoDbUtilities.java:280-312 + the JSON
    collection-maps config): one inverted index per configured (collection,
    field), unioned into the view."""
    import json

    config = json.loads(
        '{"maps": [["documents", {"individual_fields":'
        ' [{"field_to_display": "text"}, {"field_to_display": "source"}]}]]}'
    )
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    fields = [
        f["field_to_display"]
        for coll, spec in config["maps"]
        for f in spec["individual_fields"]
    ]
    parts = []
    for field in fields:
        idx = build_inverted_index(docs, ["doc_id"], field, text_en_no_stem_tokens)
        parts.append(
            idx.select(
                F.lit(field).alias("field"), "token", F.col("n_docs").cast("long").alias("n_docs")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "text_inverted_index_capped",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT t.tok AS token, CAST(doc_id AS VARCHAR) AS doc_key
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 60) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(LEAST(COUNT(*), 5) AS INT) AS n_stored,
           array_to_string(list_slice(list_sort(list(doc_key)), 1, 5), '|') AS postings_head
    FROM toks GROUP BY token
    """,
)
def text_inverted_index_capped_q(spark, sf_dir):
    """Skew-guarded inverted index (VERDICT r3 #5): max_postings=5 caps the
    stored list at the 5 lexicographically-first doc_keys per token via the
    salted two-level build (crc32(doc_key) salt spreads a hot token's
    aggregation state over 16 reducers), while n_docs stays the TRUE
    document frequency — both hash-gated against DuckDB computing the same
    cap from full postings."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    idx = build_inverted_index(
        docs, ["doc_id"], "text", text_en_no_stem_tokens, max_postings=5
    )
    return idx.select(
        "token",
        "n_docs",
        F.size("postings").alias("n_stored"),
        F.concat_ws("|", F.col("postings")).alias("postings_head"),
    )


@register(
    "text_bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_key, t.tok AS token
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 200) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (SELECT doc_key, token, COUNT(*) AS tf FROM toks GROUP BY doc_key, token),
    dl AS (SELECT doc_key, SUM(tf) AS dl FROM tf GROUP BY doc_key),
    totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    dfr AS (
      SELECT token, COUNT(*) AS df FROM tf
      WHERE token IN ('data', 'processing', 'pipeline') GROUP BY token
    ),
    contrib AS (
      SELECT tf.doc_key,
             (22 * t.total_len * tf.tf * (2 * t.n_docs - 2 * dfr.df + 1) * 100000)
               // ((10 * t.total_len * tf.tf + 3 * t.total_len + 9 * dl.dl * t.n_docs)
                   * (2 * dfr.df + 1)) AS c
      FROM tf JOIN dfr ON dfr.token = tf.token
      JOIN dl ON dl.doc_key = tf.doc_key
      CROSS JOIN totals t
    ),
    scores AS (SELECT doc_key, CAST(SUM(c) AS BIGINT) AS score_units FROM contrib GROUP BY doc_key)
    SELECT doc_key, score_units, CAST(rnk AS INT) AS rnk FROM (
      SELECT doc_key, score_units,
             ROW_NUMBER() OVER (ORDER BY score_units DESC, doc_key ASC) AS rnk
      FROM scores
    ) WHERE rnk <= 10
    """,
)
def text_bm25_topk_q(spark, sf_dir):
    """Ranked retrieval (search/ranking.py): integer-scaled BM25 variant —
    rational idf and one truncating div per term contribution make scores
    BIGINT and bit-exact cross-engine, closing the scoring half of the
    reference's search views (boolean search already covered by
    text_inverted_index / text_phrase_search)."""
    from ..search.ranking import bm25_rank_integer

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return bm25_rank_integer(
        docs, ["doc_id"], "text", ["data", "processing", "pipeline"],
        text_en_no_stem_tokens, k=10,
    )


@register(
    "text_search_ddl",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT t.tok AS token, CAST(doc_id AS VARCHAR) AS doc_key
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 40) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    )
    SELECT COUNT(DISTINCT token) AS n_tokens, COUNT(*) AS n_postings FROM toks
    """,
)
def text_search_ddl_q(spark, sf_dir):
    """Idempotent analyzer/view create-overwrite (ArangoDbUtilities.java:
    219-270,319-326): materialize the index table twice with mode overwrite,
    read back totals — double-apply must equal single-apply."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    idx = build_inverted_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)
    root = tempfile.mkdtemp(prefix="search_ddl_")
    out = root + "/indexed"
    idx.write.mode("overwrite").parquet(out)
    idx.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    totals = back.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.size("postings")).alias("n_postings"),
    )
    return finish_and_clean(totals, root)


def _stemmed_oracle() -> str:
    """DuckDB replay of the text_en analyzer: the SAME staged rule chain
    (search/stemmer.py STAGES) rendered to DuckDB SQL, applied to both the
    corpus tokens and the query words — no second stemmer implementation
    to drift."""
    from ..search.analyzers import _ACCENTED, _FOLDED
    from ..search.stemmer import stem_chain_ctes

    corpus_chain = stem_chain_ctes("toks", "tok", "corpus_stems", "duckdb", prefix="__cs")
    q_chain = stem_chain_ctes("q", "tok", "q_stems", "duckdb", prefix="__qs")
    qvals = ", ".join(f"('{w}')" for w in _STEM_QUERY_WORDS)
    return f"""
    WITH toks AS (
      SELECT doc_id, t.tok AS tok
      FROM (SELECT doc_id, translate(lower(text), '{_ACCENTED}', '{_FOLDED}') AS s
            FROM documents) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), {corpus_chain},
    stats AS (
      SELECT stem, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM corpus_stems GROUP BY stem
    ), q AS (
      SELECT qword, lower(qword) AS tok
      FROM (VALUES {qvals}) v(qword)
    ), {q_chain}
    SELECT qword, stem, COALESCE(n_docs, CAST(0 AS BIGINT)) AS n_docs,
           COALESCE(n_tokens, CAST(0 AS BIGINT)) AS n_tokens
    FROM q_stems LEFT JOIN stats USING (stem)
    """


_STEM_QUERY_WORDS = ["merging", "queries", "scanned", "windows", "ordered", "happily"]


@register("text_search_stemmed", oracle=_stemmed_oracle())
def text_search_stemmed_q(spark, sf_dir):
    """The ``text_en`` STEMMING analyzer (VERDICT r6 #3 — the last §2.9
    fidelity hole; ref ArangoDbUtilities.java:301 links "text_en" per view
    field): lowercase + accent-fold + whitespace tokenize + Porter-subset
    stem via a staged regexp rule chain (search/stemmer.py), then a
    stemmed-token search — query words stem through the SAME chain and
    join the corpus stem statistics, so 'merging' finds 'merge' documents
    and 'queries' finds 'query' documents (the parity a text_en-analyzed
    field query expects).  The DuckDB oracle replays the identical rule
    table rendered to its dialect — one rule source, two engines.  At
    100 TB the analyzer is a stateless per-token map inside codegen; the
    only shuffle is the stem-stats aggregate."""
    from ..search.stemmer import analyze_text_en, stem_tokens

    docs = _t(spark, sf_dir, "documents")
    corpus = analyze_text_en(docs.select("doc_id", "text"), "text", "stem")
    stats = corpus.groupBy("stem").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    qwords = spark.createDataFrame([(w,) for w in _STEM_QUERY_WORDS], "qword string")
    qstem = stem_tokens(
        qwords.withColumn("tok", F.lower(F.col("qword"))), "tok", "stem"
    ).drop("tok")
    return qstem.join(F.broadcast(stats), "stem", "left").select(
        "qword",
        "stem",
        F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
    )


def _four_analyzer_oracle() -> str:
    """DuckDB replay of all FOUR view analyzers over the same bounded
    field slice: identity, text_en_no_stem (lowercase + whitespace),
    text_en (the shared stem rule chain), and the 3-4 char n-gram with
    preserveOriginal."""
    from ..search.stemmer import stem_chain_ctes

    stem_chain = stem_chain_ctes("toks", "tok", "stems", "duckdb", prefix="__fa")
    return f"""
    WITH src AS (
      SELECT doc_id, substring(text, 1, 30) AS s FROM documents WHERE doc_id < 40
    ),
    toks AS (
      SELECT doc_id, t.tok FROM (SELECT doc_id, lower(s) AS ls FROM src) l,
        LATERAL unnest(string_split_regex(ls, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ), {stem_chain},
    grams AS (
      SELECT doc_id, substring(s, i, 3) AS g
      FROM src, generate_series(1, 28) t(i) WHERE i <= greatest(length(s) - 2, 0)
      UNION ALL
      SELECT doc_id, substring(s, i, 4) AS g
      FROM src, generate_series(1, 27) t(i) WHERE i <= greatest(length(s) - 3, 0)
      UNION ALL
      SELECT doc_id, s AS g FROM src
    ),
    tagged AS (
      SELECT 'identity' AS analyzer, doc_id, s AS token FROM src
      UNION ALL
      SELECT 'text_en_no_stem', doc_id, tok FROM toks
      UNION ALL
      SELECT 'text_en', doc_id, stem FROM stems
      UNION ALL
      SELECT 'n-gram', doc_id, g FROM grams
    )
    SELECT analyzer,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT (token, doc_id)) AS BIGINT) AS n_postings
    FROM tagged GROUP BY analyzer
    """


@register("text_view_four_analyzers", oracle=_four_analyzer_oracle())
def text_view_four_analyzers_q(spark, sf_dir):
    """The reference view links exactly FOUR analyzers per field —
    "text_en", "text_en_no_stem", "n-gram", "identity"
    (ArangoDbUtilities.java:301) — and with the round-7 stemmer the repo
    covers all four: this capstone builds the per-analyzer index digest
    (distinct tokens, distinct postings) over one bounded field slice, so
    full view-linkage parity is one hash-gated query instead of an
    inference across three.  Each analyzer is a stateless per-row/token
    expansion (codegen, no UDF); the only shuffle is the digest's
    distinct-aggregate."""
    from ..search.analyzers import char_ngrams
    from ..search.stemmer import analyze_text_en

    src = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.substring("text", 1, 30).alias("s"))
    )
    identity = src.select(
        F.lit("identity").alias("analyzer"), "doc_id", F.col("s").alias("token")
    )
    no_stem = src.select(
        F.lit("text_en_no_stem").alias("analyzer"),
        "doc_id",
        F.explode(text_en_no_stem_tokens(F.col("s"))).alias("token"),
    ).filter(F.col("token") != "")
    stemmed = analyze_text_en(src, "s", "token").select(
        F.lit("text_en").alias("analyzer"), "doc_id", "token"
    )
    grams = src.select(
        F.lit("n-gram").alias("analyzer"),
        "doc_id",
        F.explode(char_ngrams(F.col("s"), 3, 4, preserve_original=True)).alias("token"),
    )
    tagged = identity.unionByName(no_stem).unionByName(stemmed).unionByName(grams)
    return tagged.groupBy("analyzer").agg(
        F.countDistinct("token").cast("long").alias("n_tokens"),
        F.countDistinct("token", "doc_id").cast("long").alias("n_postings"),
    )


@register(
    "sink_bucketed_table",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def sink_bucketed_table_q(spark, sf_dir):
    """Bucketed-table sink (SCALE.md): bucketBy pre-shuffles at write time so
    the keyed join + aggregation read co-located buckets with no exchange.
    Verified against the plain-join oracle."""
    import shutil

    from ..sinks.bucketed import read_table, write_bucketed

    # drop catalog entries AND any orphaned location a previous session left
    # behind (managed-table locations outlive the in-memory catalog)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    for t in ("t2_bucketed_customer", "t2_bucketed_nation"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_nationkey").cast("long").alias("k"),
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name"
    )
    write_bucketed(c, "t2_bucketed_customer", ["k"], 4)
    write_bucketed(n, "t2_bucketed_nation", ["k"], 4)
    joined = read_table(spark, "t2_bucketed_customer").join(
        read_table(spark, "t2_bucketed_nation"), on="k"
    )
    return joined.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "sink_compact",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
)
def sink_compact_q(spark, sf_dir):
    """Small-files compaction: fragment the documents table into 64 files,
    compact to size-targeted files, verify row content unchanged."""
    import tempfile

    from ..sinks.compact import compact_parquet

    docs = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="compact_")
    path = root + "/docs"
    docs.repartition(64).write.mode("overwrite").parquet(path)
    compacted = compact_parquet(spark, path, target_file_bytes=64 * 1024 * 1024)
    totals = compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return finish_and_clean(totals, root)


@register(
    "graph_closure",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT CAST(n_nationkey AS BIGINT) AS a, CAST(n_nationkey + 1 AS BIGINT) AS b
      FROM nation WHERE n_nationkey < 24
    ),
    closure(a, b, hops) AS (
      SELECT a, b, 1 FROM edges
      UNION ALL
      SELECT c.a, e.b, c.hops + 1 FROM closure c JOIN edges e ON c.b = e.a
      WHERE c.hops < 4
    )
    SELECT a, b, MIN(hops) AS hops FROM closure GROUP BY a, b
    """,
)
def graph_closure_q(spark, sf_dir):
    """Bounded transitive closure (<=4 hops) over a synthetic 25-node chain —
    the reachability query the reference delegated to ArangoDB traversals,
    answered with iterative distributed joins (plans/graph_query.py)."""
    from ..plans.graph_query import transitive_closure

    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 24)
    edges = n.select(
        F.col("n_nationkey").cast("long").alias("a"),
        (F.col("n_nationkey") + 1).cast("long").alias("b"),
    )
    out = transitive_closure(edges, max_hops=4)
    return out.select("a", "b", F.col("hops").cast("long").alias("hops"))


_alias("agg_dedup_edges_last_wins", "agg_dedup_edges")
