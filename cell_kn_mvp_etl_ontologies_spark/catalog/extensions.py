"""LLM-data-pipeline extension queries (SURVEY.md §2.12) over the
documents/embeddings/events tables, each with a DuckDB oracle where exactly
expressible (integer-quantized math makes even cosine similarity exact)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..operators.asof import join_asof
from ..operators.dedup import (
    dedup_exact_hash,
    dedup_minhash_lsh,
    ngram_jaccard_pairs,
    simhash16,
)
from ..operators.multimodal import attach_binary_payload, decode_payloads
from ..operators.similarity import embedding_near_dups, similarity_topk
from ..operators.text_analysis import (
    BPE_TOKEN_RE,
    doc_fingerprint,
    lang_id,
    quality_score,
    token_counts,
)
from ..search import analyze_edge_ngram, analyze_ngram, build_inverted_index, text_en_no_stem_tokens
from . import register


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _docs_with_dups(spark, sf_dir, limit: int, n_dups: int):
    """documents subset plus exact copies (id + 10000) so dedup operators
    have true positives to find on the synthetic corpus."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < limit).select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") < n_dups)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    return docs.unionByName(dups)


_DOCS_DUPS_SQL = """
    SELECT doc_id, text FROM documents WHERE doc_id < {limit}
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < {n_dups}
"""


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM ({}) GROUP BY sha256(text)
    """.format(_DOCS_DUPS_SQL.format(limit=500, n_dups=20)),
)
def dedup_exact_hash_q(spark, sf_dir):
    corpus = _docs_with_dups(spark, sf_dir, 500, 20)
    return dedup_exact_hash(corpus, "text", "doc_id")


@register(
    "dedup_minhash_lsh",
    oracle="""
    WITH corpus AS ({corpus}),
    sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 60), i, 5) AS shingle
      FROM corpus, generate_series(1, 56) t(i)
      WHERE i <= greatest(length(substring(text, 1, 60)) - 4, 0)
    ),
    hs AS (
      SELECT id,
             ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh
    ),
    sigs AS (
      SELECT id,
        MIN(h1 + 0 * h2) AS sig_0, MIN(h1 + 1 * h2) AS sig_1,
        MIN(h1 + 2 * h2) AS sig_2, MIN(h1 + 3 * h2) AS sig_3,
        MIN(h1 + 4 * h2) AS sig_4, MIN(h1 + 5 * h2) AS sig_5
      FROM hs GROUP BY id
    ),
    bands AS (
      SELECT id, md5('0' || '|' || CAST(sig_0 AS VARCHAR) || '|' || CAST(sig_1 AS VARCHAR)) AS band_key FROM sigs
      UNION ALL SELECT id, md5('1' || '|' || CAST(sig_2 AS VARCHAR) || '|' || CAST(sig_3 AS VARCHAR)) FROM sigs
      UNION ALL SELECT id, md5('2' || '|' || CAST(sig_4 AS VARCHAR) || '|' || CAST(sig_5 AS VARCHAR)) FROM sigs
    )
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.id < y.id
    """.format(corpus=_DOCS_DUPS_SQL.format(limit=60, n_dups=10)),
)
def dedup_minhash_lsh_q(spark, sf_dir):
    corpus = _docs_with_dups(spark, sf_dir, 60, 10)
    return dedup_minhash_lsh(
        corpus, "text", "doc_id", shingle_width=5, prefix_len=60, n_hashes=6, n_bands=3
    )


@register(
    "dedup_minhash_lsh_capped",
    oracle="""
    WITH corpus AS ({corpus}),
    sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 60), i, 5) AS shingle
      FROM corpus, generate_series(1, 56) t(i)
      WHERE i <= greatest(length(substring(text, 1, 60)) - 4, 0)
    ),
    hs AS (
      SELECT id,
             ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh
    ),
    sigs AS (
      SELECT id,
        MIN(h1 + 0 * h2) AS sig_0, MIN(h1 + 1 * h2) AS sig_1,
        MIN(h1 + 2 * h2) AS sig_2, MIN(h1 + 3 * h2) AS sig_3,
        MIN(h1 + 4 * h2) AS sig_4, MIN(h1 + 5 * h2) AS sig_5
      FROM hs GROUP BY id
    ),
    bands AS (
      SELECT id, md5('0' || '|' || CAST(sig_0 AS VARCHAR) || '|' || CAST(sig_1 AS VARCHAR)) AS band_key FROM sigs
      UNION ALL SELECT id, md5('1' || '|' || CAST(sig_2 AS VARCHAR) || '|' || CAST(sig_3 AS VARCHAR)) FROM sigs
      UNION ALL SELECT id, md5('2' || '|' || CAST(sig_4 AS VARCHAR) || '|' || CAST(sig_5 AS VARCHAR)) FROM sigs
    ),
    sizes AS (SELECT band_key, COUNT(DISTINCT id) AS n FROM bands GROUP BY band_key)
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM bands x
    JOIN bands y ON x.band_key = y.band_key AND x.id < y.id
    JOIN sizes s ON s.band_key = x.band_key AND s.n BETWEEN 2 AND 8
    """.format(corpus=_DOCS_DUPS_SQL.format(limit=60, n_dups=10)),
)
def dedup_minhash_lsh_capped_q(spark, sf_dir):
    """MinHash LSH with the overcrowded-bucket cap (max_bucket=8): bands
    shared by more than 8 documents are boilerplate templates and are
    dropped before pair expansion — the stop-template analogue of the
    capped inverted index, hash-gated against a bucket-size-filtered
    replay.  SCALE.md §minhash-profile records why: at sf0.1 ONE band
    bucket holds 736 documents and the uncapped candidate volume (1.68M
    emissions) is the whole cost tail."""
    corpus = _docs_with_dups(spark, sf_dir, 60, 10)
    return dedup_minhash_lsh(
        corpus, "text", "doc_id", shingle_width=5, prefix_len=60,
        n_hashes=6, n_bands=3, max_bucket=8,
    )


_MINHASH_CTE_SQL = """
    {p}_sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 60), i, 5) AS shingle
      FROM {p} , generate_series(1, 56) t(i)
      WHERE i <= greatest(length(substring(text, 1, 60)) - 4, 0)
    ),
    {p}_hs AS (
      SELECT id,
             ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substring(md5(shingle), 9, 8))::BIGINT AS h2
      FROM {p}_sh
    ),
    {p}_sigs AS (
      SELECT id,
        MIN(h1 + 0 * h2) AS sig_0, MIN(h1 + 1 * h2) AS sig_1,
        MIN(h1 + 2 * h2) AS sig_2, MIN(h1 + 3 * h2) AS sig_3,
        MIN(h1 + 4 * h2) AS sig_4, MIN(h1 + 5 * h2) AS sig_5
      FROM {p}_hs GROUP BY id
    ),
    {p}_bands AS (
      SELECT id, md5('0' || '|' || CAST(sig_0 AS VARCHAR) || '|' || CAST(sig_1 AS VARCHAR)) AS band_key FROM {p}_sigs
      UNION ALL SELECT id, md5('1' || '|' || CAST(sig_2 AS VARCHAR) || '|' || CAST(sig_3 AS VARCHAR)) FROM {p}_sigs
      UNION ALL SELECT id, md5('2' || '|' || CAST(sig_4 AS VARCHAR) || '|' || CAST(sig_5 AS VARCHAR)) FROM {p}_sigs
    )
"""


@register(
    "dedup_incremental_lsh",
    oracle=(
        """
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    newbatch AS (
      SELECT doc_id, text FROM documents WHERE doc_id >= 60 AND doc_id < 80
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 8
    ),
    """
        + _MINHASH_CTE_SQL.format(p="corpus")
        + ","
        + _MINHASH_CTE_SQL.format(p="newbatch")
        + """,
    hits AS (
      SELECT n.id, MIN(c.id) AS matched
      FROM newbatch_bands n JOIN corpus_bands c ON n.band_key = c.band_key
      GROUP BY n.id
    )
    SELECT i.id, hits.matched IS NOT NULL AS is_dup, hits.matched
    FROM (SELECT DISTINCT doc_id AS id FROM newbatch) i
    LEFT JOIN hits ON hits.id = i.id
    """
    ),
)
def dedup_incremental_lsh_q(spark, sf_dir):
    """Incremental near-dedup: a new document batch screened against the
    corpus's PRE-MATERIALIZED LSH band keys (operators/dedup.
    dedup_incremental_lsh) — per-ingest work is O(batch), the corpus is
    joined, never rescanned.  True positives: 8 corpus copies planted in
    the new batch."""
    from ..operators.dedup import (
        dedup_incremental_lsh,
        minhash_band_keys,
        minhash_signatures,
        shingles,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")
    new = (
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 80))
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") < 8).select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text"
            )
        )
    )
    corpus_bands = minhash_band_keys(
        minhash_signatures(
            shingles(corpus, "text", "doc_id", 5, 60, distinct=False), 6
        ),
        6,
        3,
    )
    return dedup_incremental_lsh(
        new, corpus_bands, "text", "doc_id", shingle_width=5, prefix_len=60,
        n_hashes=6, n_bands=3,
    )


@register(
    "dedup_simhash",
    oracle="""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
    toks AS (
      SELECT doc_id AS id, t.tok FROM corpus,
        LATERAL unnest(string_split_regex(text, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    bits AS (
      SELECT id, tok, b.b,
        (CAST(floor((strpos('0123456789abcdef', substring(md5(tok), CAST(b.b // 4 AS INT) + 1, 1)) - 1)
              / power(2.0, CAST(3 - b.b % 4 AS DOUBLE))) AS BIGINT) % 2) AS bit
      FROM toks, generate_series(0, 15) AS b(b)
    ),
    votes AS (
      SELECT id, b, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
      FROM bits GROUP BY id, b
    )
    SELECT id, CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY id
    """,
)
def dedup_simhash_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    return simhash16(docs, "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle="""
    WITH corpus AS ({corpus}),
    sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 40), i, 3) AS shingle
      FROM corpus, generate_series(1, 38) t(i)
      WHERE i <= greatest(length(substring(text, 1, 40)) - 2, 0)
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
      GROUP BY x.id, y.id
    )
    SELECT a, b,
           CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = a
    JOIN sizes sb ON sb.id = b
    """.format(corpus=_DOCS_DUPS_SQL.format(limit=25, n_dups=5)),
)
def dedup_ngram_jaccard_q(spark, sf_dir):
    corpus = _docs_with_dups(spark, sf_dir, 25, 5)
    return ngram_jaccard_pairs(corpus, "text", "doc_id", shingle_width=3, prefix_len=40)


@register(
    "dedup_containment",
    oracle="""
    WITH corpus AS ({corpus}),
    sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 40), i, 3) AS shingle
      FROM corpus, generate_series(1, 38) t(i)
      WHERE i <= greatest(length(substring(text, 1, 40)) - 2, 0)
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    common AS (
      SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id <> y.id
      GROUP BY x.id, y.id
    )
    SELECT a, b, CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS containment
    FROM common JOIN sizes sa ON sa.id = a
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) >= 0.8
    """.format(corpus=_DOCS_DUPS_SQL.format(limit=25, n_dups=5)),
)
def dedup_containment_q(spark, sf_dir):
    """Directed shingle containment (operators/dedup.containment_pairs):
    catches SUBSET duplicates — a document embedded in a longer one — that
    symmetric Jaccard under-scores because the longer side dominates the
    union.  Same scale shape as the Jaccard query: shingle equi-join, never
    a cross product."""
    from ..operators.dedup import containment_pairs

    corpus = _docs_with_dups(spark, sf_dir, 25, 5)
    return containment_pairs(
        corpus, "text", "doc_id", shingle_width=3, prefix_len=40, min_containment=0.8
    )


_QUANT_SQL = """
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id)
"""


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    {quant}
    , dots AS (
      SELECT q.vec_id AS a, t.vec_id AS b, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i AND q.vec_id < t.vec_id
      GROUP BY q.vec_id, t.vec_id
    )
    SELECT a, b,
           CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
    FROM dots JOIN norms na ON na.vec_id = a JOIN norms nb ON nb.vec_id = b
    WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) > 0.95
    """.format(quant=_QUANT_SQL),
)
def dedup_embedding_cosine_q(spark, sf_dir):
    em = _t(spark, sf_dir, "embeddings")
    corpus = (
        em.filter(F.col("vec_id") < 50)
        .select("vec_id", "embedding")
        .unionByName(
            em.filter(F.col("vec_id") < 5).select(
                (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
            )
        )
    )
    return embedding_near_dups(corpus, threshold=0.95)


@register(
    "similarity_topk",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    {quant}
    , dots AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id, SUM(q.v * t.v) AS dot
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 10 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    scored AS (
      SELECT q_id, t_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(nq.norm_sq AS DOUBLE) * CAST(nt.norm_sq AS DOUBLE)) AS cos
      FROM dots JOIN norms nq ON nq.vec_id = q_id JOIN norms nt ON nt.vec_id = t_id
    )
    SELECT q_id, t_id, cos, rnk FROM (
      SELECT q_id, t_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """.format(quant=_QUANT_SQL),
)
def similarity_topk_q(spark, sf_dir):
    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select("vec_id", "embedding")
    q = em.filter(F.col("vec_id") < 10)
    out = similarity_topk(q, em, k=5, quantized=True)
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "text_tokenize_stats",
    oracle=f"""
    SELECT doc_id AS id,
           CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_tokenize_stats_q(spark, sf_dir):
    return token_counts(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id AS id,
      CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
      CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        / (CAST(length(text) AS DOUBLE) + 1.0) AS punct_ratio,
      CAST(len(list_filter(string_split_regex(text, '\\s+'),
            t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS stopword_ratio,
      CAST(len(list_filter(string_split_regex(text, '\\s+'),
            t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) * 0.5
      + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
          / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.5 AS quality
    FROM documents
    """,
)
def text_quality_score_q(spark, sf_dir):
    return quality_score(_t(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "text_lang_id",
    oracle="""
    SELECT doc_id,
      CASE WHEN CAST(len(list_filter(string_split_regex(text, '\\s+'),
             t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) >= 0.04
           THEN 'en' ELSE 'unk' END AS predicted_lang
    FROM documents
    """,
)
def text_lang_id_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("predicted_lang"))


@register(
    "text_fingerprint",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id AS id, substring(substring(text, 1, 40), i, 4) AS shingle
      FROM documents, generate_series(1, 37) t(i)
      WHERE i <= greatest(length(substring(text, 1, 40)) - 3, 0)
    )
    SELECT id, MIN(md5(shingle)) AS fingerprint FROM sh GROUP BY id
    """,
)
def text_fingerprint_q(spark, sf_dir):
    return doc_fingerprint(_t(spark, sf_dir, "documents"), "text", "doc_id")


# --------------------------------------------------------------------------
# Search analyzers (§2.9 exercised on the synthetic corpus)
# --------------------------------------------------------------------------
@register(
    "text_ngram_analyzer",
    oracle="""
    WITH src AS (SELECT doc_id, substring(text, 1, 20) AS s FROM documents WHERE doc_id < 50)
    SELECT doc_id, substring(s, i, 3) AS ngram
    FROM src, generate_series(1, 18) t(i) WHERE i <= greatest(length(s) - 2, 0)
    UNION ALL
    SELECT doc_id, substring(s, i, 4) AS ngram
    FROM src, generate_series(1, 17) t(i) WHERE i <= greatest(length(s) - 3, 0)
    UNION ALL
    SELECT doc_id, s AS ngram FROM src
    """,
)
def text_ngram_analyzer_q(spark, sf_dir):
    """n-gram analyzer (min 3, max 4, preserveOriginal).
    Ref: ArangoDbUtilities.java:219-231."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.substring("text", 1, 20).alias("s"))
    )
    return analyze_ngram(docs, "s", out_col="ngram", n_min=3, n_max=4).select("doc_id", "ngram")


@register(
    "text_edge_ngram_analyzer",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok FROM
        (SELECT doc_id, lower(substring(text, 1, 30)) AS s FROM documents WHERE doc_id < 30) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
    )
    SELECT doc_id, substring(tok, 1, n) AS gram
    FROM toks, generate_series(3, 12) g(n) WHERE n <= length(tok)
    UNION ALL
    SELECT doc_id, tok AS gram FROM toks WHERE length(tok) > 12
    """,
)
def text_edge_ngram_analyzer_q(spark, sf_dir):
    """text_en_no_stem: lowercase, accent-fold, edge n-grams 3-12 with
    preserveOriginal.  Ref: ArangoDbUtilities.java:234-249."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select("doc_id", F.substring("text", 1, 30).alias("s"))
    )
    return analyze_edge_ngram(docs, "s", out_col="gram", n_min=3, n_max=12).select("doc_id", "gram")


@register(
    "text_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT t.tok AS token, CAST(doc_id AS VARCHAR) AS doc_key
      FROM (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 100) src,
        LATERAL unnest(string_split_regex(s, '\\s+')) AS t(tok)
      WHERE t.tok <> ''
    )
    SELECT token, COUNT(*) AS n_docs FROM toks GROUP BY token
    """,
)
def text_inverted_index_q(spark, sf_dir):
    """Inverted-index materialization (ArangoDbUtilities.java:280-312):
    token -> postings; surfaced as document frequencies."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    idx = build_inverted_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)
    return idx.select("token", F.col("n_docs").cast("long").alias("n_docs"))


@register(
    "text_index_positions",
    oracle="""
    WITH src AS (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 80),
    toks AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_key,
             string_split_regex(s, '\\s+')[i] AS token,
             CAST(i - 1 AS BIGINT) AS pos
      FROM src, generate_series(1, 2000) t(i)
      WHERE i <= len(string_split_regex(s, '\\s+'))
        AND string_split_regex(s, '\\s+')[i] <> ''
    )
    SELECT token, doc_key, pos FROM toks
    """,
)
def text_index_positions_q(spark, sf_dir):
    """Position-aware postings (the analyzer `position` feature,
    ArangoDbUtilities.java:229), verified by re-exploding the nested
    postings back to (token, doc_key, pos) rows."""
    from ..search import build_positional_index

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    idx = build_positional_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)
    return (
        idx.select("token", F.explode("postings").alias("p"))
        .select("token", F.col("p.doc_key").alias("doc_key"), F.explode("p.positions").alias("pos"))
        .select("token", "doc_key", F.col("pos").cast("long").alias("pos"))
    )


@register(
    "text_phrase_search",
    oracle="""
    WITH src AS (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 200),
    toks AS (
      SELECT CAST(doc_id AS VARCHAR) AS doc_key,
             string_split_regex(s, '\\s+')[i] AS token,
             CAST(i - 1 AS BIGINT) AS pos
      FROM src, generate_series(1, 2000) t(i)
      WHERE i <= len(string_split_regex(s, '\\s+'))
    )
    SELECT a.doc_key, a.pos AS start_pos
    FROM toks a JOIN toks b ON a.doc_key = b.doc_key AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'value'
    """,
)
def text_phrase_search_q(spark, sf_dir):
    """Phrase query over the positional index: adjacent-token match via
    postings join + offset check (the query side of the search view)."""
    from ..search import build_positional_index, phrase_search, text_en_no_stem_tokens

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    idx = build_positional_index(docs, ["doc_id"], "text", text_en_no_stem_tokens)
    return phrase_search(idx, ["table", "value"])


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------
@register(
    "multimodal_columns",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, lang, n_chars
    FROM documents
    """,
)
def multimodal_columns_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    payload = attach_binary_payload(docs)
    return payload.select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars").alias("n_chars"),
    )


@register(
    "multimodal_decode_stub",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS width,
           CAST((doc_id * 7) % 64 + 1 AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 10 + 1 AS BIGINT) AS n_frames,
           'stub' AS decoder
    FROM documents
    """,
)
def multimodal_decode_stub_q(spark, sf_dir):
    """Arrow-batched mapInPandas decode stage with a deterministic stub
    decoder (real codecs import-gated; not present in this container)."""
    docs = _t(spark, sf_dir, "documents")
    return decode_payloads(attach_binary_payload(docs))


@register(
    "multimodal_resize",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 64 + 1 AS BIGINT) AS width,
             CAST((doc_id * 7) % 64 + 1 AS BIGINT) AS height
      FROM documents
    ),
    fit AS (
      SELECT doc_id, width, height,
             LEAST(width, 32) AS w1, (height * LEAST(width, 32)) // width AS h1
      FROM d
    )
    SELECT doc_id, width, height,
           GREATEST(CASE WHEN h1 > 32 THEN (width * 32) // height ELSE w1 END, 1) AS out_width,
           GREATEST(CASE WHEN h1 > 32 THEN 32 ELSE h1 END, 1) AS out_height
    FROM fit
    """,
)
def multimodal_resize_q(spark, sf_dir):
    """Integer-exact aspect-preserving resize box over the decode stage."""
    from ..operators.multimodal import resize_stub

    docs = _t(spark, sf_dir, "documents")
    return resize_stub(decode_payloads(attach_binary_payload(docs)))


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) % 10 + 1 AS BIGINT) AS n_frames
      FROM documents
    )
    SELECT doc_id, CAST(j AS BIGINT) AS frame_idx,
           substring(text, CAST(j * 8 + 1 AS INT), 8) AS frame_stub
    FROM d, generate_series(0, 9) t(j)
    WHERE j < n_frames AND j % 3 = 0
    """,
)
def multimodal_frame_sample_q(spark, sf_dir):
    """Every-3rd-frame sampling with stub byte-slice frames — bounded
    JVM-side explode after the decode stage."""
    from ..operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs)
    return sample_frames(decode_payloads(payloads), payloads, every_k=3, frame_bytes=8)


# --------------------------------------------------------------------------
# Relational extensions
# --------------------------------------------------------------------------
@register(
    "agg_grouping_sets",
    oracle="""
    SELECT COALESCE(r_name, '(all)') AS r_name,
           CASE WHEN n_name IS NULL THEN '(all)' ELSE n_name END AS n_name,
           COUNT(c_custkey) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def agg_grouping_sets_q(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = c.join(n, c["c_nationkey"] == n["n_nationkey"]).join(
        r, n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("total_acctbal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("r_name"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("n_name"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
           COALESCE(l_linestatus, '(all)') AS l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_cube_q(spark, sf_dir):
    """Full cube over (returnflag, linestatus) — all 4 grouping sets in one
    pass via Expand (§2.12 grouping-sets surface alongside the rollup in
    agg_grouping_sets)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_WIDE_SQL = "SELECT user_id,\n" + ",\n".join(
    f"""  CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}_n,
  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = '{t}'), 0) AS DOUBLE) AS {t}_total"""
    for t in _EVENT_TYPES
) + "\nFROM events GROUP BY user_id"


@register("agg_pivot_wide", oracle=_PIVOT_WIDE_SQL)
def agg_pivot_wide_q(spark, sf_dir):
    """Wide pivot with an EXPLICIT value list (operators/aggregates.py:
    agg_pivot_wide): per-user count + exact-decimal total per event type as
    dedicated columns — the bounded-vocabulary wide view complementing the
    MAP-typed agg_pivot_vertex_attrs.  The explicit list keeps it ONE hash
    aggregate (no schema-discovery distinct job); empty cells are coalesced
    to 0 because pivot yields NULL where no rows matched, while the oracle's
    conditional-aggregation formulation counts 0."""
    from ..operators import agg_pivot_wide

    ev = _t(spark, sf_dir, "events")
    piv = agg_pivot_wide(
        ev,
        ["user_id"],
        "event_type",
        _EVENT_TYPES,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
    )
    sel = [F.col("user_id")]
    for t in _EVENT_TYPES:
        sel.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_n"))
        sel.append(F.coalesce(F.col(f"{t}_total"), F.lit(0.0)).alias(f"{t}_total"))
    return piv.select(*sel)


@register(
    "window_analytics",
    oracle="""
    SELECT user_id, event_id,
           DENSE_RANK() OVER w AS drnk,
           LAG(event_id) OVER w AS prev_event,
           LEAD(event_id) OVER w AS next_event,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS roll3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def window_analytics_q(spark, sf_dir):
    """dense_rank / lag / lead plus a bounded ROWS frame (§2.5 analytic
    window surface beyond row_number top-k)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wf = w.rowsBetween(-2, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(wf).cast("double").alias("roll3"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT 'users' AS metric,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_value,
           TRUE AS within_bound
    FROM events
    UNION ALL
    SELECT 'types' AS metric,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS exact_value,
           TRUE AS within_bound
    FROM events
    """,
)
def agg_approx_distinct_q(spark, sf_dir):
    """HLL++ distinct-count sketch, gated as a BOUNDED-ERROR differential:
    the raw estimate is engine-specific (no cross-engine hash can pin it),
    so the gate output carries the EXACT count plus a boolean asserting
    |approx − exact| ≤ max(4·rsd·exact, 4) — four standard deviations of
    the sketch's declared relative standard deviation (default rsd 0.05).
    The oracle emits TRUE unconditionally: the hash gate goes red the day
    the sketch exceeds its published bound, instead of pretending sketch
    outputs are deterministic (rows-only) or skipping the check.

    100 TB shape: approx_count_distinct is the one-pass mergeable-sketch
    path (fixed state per group, no distinct reshuffle); the exact side
    here is the gate's audit cost, served at scale by the bitmap-word
    rollup twin (`agg_distinct_exact_twin`)."""
    ev = _t(spark, sf_dir, "events")
    both = ev.agg(
        F.approx_count_distinct("user_id").alias("eu"),
        F.approx_count_distinct("event_type").alias("et"),
        F.countDistinct("user_id").alias("xu"),
        F.countDistinct("event_type").alias("xt"),
    )

    def row(metric, est, exact):
        return both.select(
            F.lit(metric).alias("metric"),
            F.col(exact).cast("long").alias("exact_value"),
            (
                F.abs(F.col(est) - F.col(exact))
                <= F.greatest(F.ceil(F.col(exact) * F.lit(0.2)), F.lit(4))
            ).alias("within_bound"),
        )

    return row("users", "eu", "xu").unionByName(row("types", "et", "xt"))


@register(
    "agg_distinct_exact_twin",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '<all>' AS event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    """,
)
def agg_distinct_exact_twin_q(spark, sf_dir):
    """Hash-checkable exact twin of agg_approx_distinct: distinct users per
    event type AND globally, both finalized from ONE set of bitmap words
    built at the finer (event_type, day) grain (operators/aggregates.py) —
    the re-aggregation property an HLL sketch gives approximately, delivered
    exactly.  At 100 TB this is one pass over raw events serving every
    coarser distinct-count grain; count(distinct) would reshuffle raw ids
    per grain."""
    from ..operators.aggregates import bitmap_distinct_rollup, bitmap_distinct_words

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    words = bitmap_distinct_words(ev, ["event_type", "day"], "user_id")
    per_type = bitmap_distinct_rollup(words, ["event_type"]).select(
        "event_type", F.col("n_distinct").alias("n_users")
    )
    total = bitmap_distinct_rollup(words, []).select(
        F.lit("<all>").alias("event_type"), F.col("n_distinct").alias("n_users")
    )
    return per_type.unionByName(total)


@register(
    "similarity_ann_lsh",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
    {quant}
    , planes AS (
      SELECT p.p, q.i,
             (('0x' || substring(md5('42' || '|' || CAST(p.p AS VARCHAR) || '|' ||
               CAST(q.i - 1 AS VARCHAR)), 1, 4))::BIGINT * 2 - 65535) AS w
      FROM generate_series(0, 3) p(p), generate_series(1, 64) q(i)
    ),
    pd AS (
      SELECT q.vec_id, pl.p, SUM(q.v * pl.w) AS dot
      FROM quant q JOIN planes pl ON pl.i = q.i
      GROUP BY q.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id, SUM(CASE WHEN dot > 0 THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE 0 END) AS bucket
      FROM pd GROUP BY vec_id
    ),
    cand AS (
      SELECT a.vec_id AS q_id, b.vec_id AS t_id
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    dots AS (
      SELECT c.q_id, c.t_id, SUM(x.v * y.v) AS dot
      FROM cand c JOIN quant x ON x.vec_id = c.q_id
      JOIN quant y ON y.vec_id = c.t_id AND y.i = x.i
      GROUP BY c.q_id, c.t_id
    ),
    scored AS (
      SELECT q_id, t_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
      FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = t_id
    )
    SELECT q_id, t_id, cos, rnk FROM (
      SELECT q_id, t_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """.format(quant=_QUANT_SQL),
)
def similarity_ann_lsh_q(spark, sf_dir):
    """ANN scale path: hyperplane-LSH bucketing for candidate generation,
    exact quantized cosine + top-k only within buckets — the per-bucket join
    replaces the O(N·Q) cross product of similarity_topk."""
    from ..operators.similarity import (
        _dot_long,
        hyperplane_lsh_bucket_quantized,
        quantize_vec,
    )
    from ..operators.windows import window_rank_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select("vec_id", "embedding")
    b = hyperplane_lsh_bucket_quantized(em, "embedding", n_planes=4, seed=42).select(
        "vec_id",
        quantize_vec(F.col("embedding")).alias("qv"),
        "lsh_bucket",
    ).withColumn("norm_sq", _dot_long(F.col("qv"), F.col("qv")))
    q = b.select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_vec"),
        F.col("norm_sq").alias("q_norm"), "lsh_bucket",
    )
    t = b.select(
        F.col("vec_id").alias("t_id"), F.col("qv").alias("t_vec"),
        F.col("norm_sq").alias("t_norm"), "lsh_bucket",
    )
    pairs = q.join(t, on="lsh_bucket").filter(F.col("q_id") != F.col("t_id"))
    scored = pairs.select(
        "q_id",
        "t_id",
        (
            _dot_long(F.col("q_vec"), F.col("t_vec")).cast("double")
            / F.sqrt(F.col("q_norm").cast("double") * F.col("t_norm").cast("double"))
        ).alias("cos"),
    )
    out = window_rank_topk(
        scored, ["q_id"], [F.col("cos").desc(), F.col("t_id").asc()], 3, rank_col="rnk"
    )
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# Shared by similarity_ann_ivf and similarity_ann_ivf_routed: the routed
# serving path is bit-identical to the inline ivf_topk by contract (pinned
# in tests/test_sketches.py::test_ivf_routed_serving_matches_expression_path_dyadic),
# so both queries check against the same DuckDB replay.
_IVF_ORACLE_SQL = """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
    {quant}
    , cents AS (SELECT vec_id AS cell FROM corpus WHERE vec_id < 8),
    cdots AS (
      SELECT a.vec_id, c.cell, SUM(a.v * b.v) AS dot
      FROM quant a
      JOIN cents c ON TRUE
      JOIN quant b ON b.vec_id = c.cell AND b.i = a.i
      GROUP BY a.vec_id, c.cell
    ),
    ccos AS (
      SELECT d.vec_id, d.cell,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS c_cos
      FROM cdots d JOIN norms na ON na.vec_id = d.vec_id JOIN norms nb ON nb.vec_id = d.cell
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
      SELECT q_id, t_id,
             CAST(dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
      FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = t_id
    )
    SELECT q_id, t_id, cos, rnk FROM (
      SELECT q_id, t_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """.format(quant=_QUANT_SQL)


@register("similarity_ann_ivf", oracle=_IVF_ORACLE_SQL)
def similarity_ann_ivf_q(spark, sf_dir):
    """IVF-flat ANN (the inverted-file scale path alongside LSH): corpus
    vectors live in their nearest cell, queries probe their nprobe=2 nearest
    cells, exact quantized scoring only within probed cells."""
    from ..operators.similarity import ivf_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150).select(
        "vec_id", "embedding"
    )
    centroids = em.filter(F.col("vec_id") < 8)
    queries = em.filter(F.col("vec_id") < 10)
    out = ivf_topk(queries, em, centroids, k=3, nprobe=2)
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


@register(
    "similarity_hamming_topk",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    bits AS (
      SELECT vec_id, CAST((i - 1) // 32 AS INT) AS w,
             CASE WHEN embedding[i] > 0
                  THEN (CAST(1 AS BIGINT) << CAST((i - 1) % 32 AS INT))
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    words AS (SELECT vec_id, w, CAST(SUM(bit) AS BIGINT) AS word FROM bits GROUP BY 1, 2),
    ham AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id,
             CAST(SUM(bit_count(xor(q.word, t.word))) AS BIGINT) AS hamming
      FROM words q JOIN words t ON q.w = t.w
      WHERE q.vec_id < 8 AND q.vec_id <> t.vec_id
      GROUP BY 1, 2
    )
    SELECT q_id, t_id, hamming, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, hamming,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, t_id) AS rnk
      FROM ham
    ) WHERE rnk <= 5
    """,
)
def similarity_hamming_topk_q(spark, sf_dir):
    """Sign-bit binary embeddings + Hamming top-k (round 5,
    operators/pq.py binarize_sign/hamming_topk): the 256x-compression end
    of the ANN ladder — 64 float dims packed to two non-negative 32-bit
    words, distance = xor + bit_count per word, the whole scan pure
    codegen'd integer ALU ops.  Equivalent to 1-bit axis-aligned
    hyperplane LSH; packing AND distances hash-gated bit-for-bit (the
    32-bit word choice exists exactly so DuckDB can replay the packing)."""
    from ..operators.pq import hamming_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    q = em.filter(F.col("vec_id") < 8)
    out = hamming_topk(q, em, k=5)
    return out.select("q_id", "t_id", "hamming", F.col("rnk").cast("long").alias("rnk"))


@register(
    "similarity_hamming_rerank",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    bits AS (
      SELECT vec_id, CAST((i - 1) // 32 AS INT) AS w,
             CASE WHEN embedding[i] > 0
                  THEN (CAST(1 AS BIGINT) << CAST((i - 1) % 32 AS INT))
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    words AS (SELECT vec_id, w, CAST(SUM(bit) AS BIGINT) AS word FROM bits GROUP BY 1, 2),
    ham AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id,
             CAST(SUM(bit_count(xor(q.word, t.word))) AS BIGINT) AS hamming
      FROM words q JOIN words t ON q.w = t.w
      WHERE q.vec_id < 8 AND q.vec_id <> t.vec_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, t_id) AS rn
        FROM ham
      ) WHERE rn <= 20
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    rerank AS (
      SELECT s.q_id, s.t_id,
             CAST(SUM(a.v * b.v) AS DOUBLE)
               / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS cos
      FROM short s
      JOIN quant a ON a.vec_id = s.q_id
      JOIN quant b ON b.vec_id = s.t_id AND b.i = a.i
      JOIN norms na ON na.vec_id = s.q_id
      JOIN norms nb ON nb.vec_id = s.t_id
      GROUP BY s.q_id, s.t_id, na.norm_sq, nb.norm_sq
    )
    SELECT q_id, t_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, t_id ASC) AS rnk
      FROM rerank
    ) WHERE rnk <= 5
    """,
)
def similarity_hamming_rerank_q(spark, sf_dir):
    """Binary shortlist + exact re-rank (round 5, operators/pq.py
    hamming_rerank_topk): Hamming distance over the 256x-compressed sign
    words picks 20 candidates per query entirely inside codegen'd integer
    ops; exact quantized cosine re-ranks only those — the cheapest rung of
    the shortlist-then-rerank ladder, both stages SQL-replayed."""
    from ..operators.pq import hamming_rerank_topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    q = em.filter(F.col("vec_id") < 8)
    out = hamming_rerank_topk(q, em, k=5, shortlist=20)
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# Shared CTE chain for the PQ queries: quantize -> subvector rows (m=4
# subspaces of 16 dims) -> fixed codebooks (subvectors of vec_id < 6) ->
# per-(vector, subspace, cell) squared-L2 distances.  `enc_d` serves BOTH
# encoding (argmin per vector-subspace) and the ADC lookup table (the
# query rows of the same relation) — the same reuse the Spark operators
# make, so the replay is structural, not just numeric.
_PQ_BASE_SQL = """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    subs AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS sub, i, v FROM quant),
    books AS (SELECT sub, CAST(vec_id AS INT) AS cell, i, v FROM subs WHERE vec_id < 6),
    enc_d AS (
      SELECT s.vec_id, s.sub, b.cell, CAST(SUM((s.v - b.v) * (s.v - b.v)) AS BIGINT) AS d
      FROM subs s JOIN books b ON b.sub = s.sub AND b.i = s.i
      GROUP BY s.vec_id, s.sub, b.cell
    ),
    codes AS (
      SELECT vec_id AS t_id, sub, cell AS code FROM (
        SELECT vec_id, sub, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
        FROM enc_d
      ) WHERE rn = 1
    ),
    lut AS (SELECT vec_id AS q_id, sub, cell AS code, d FROM enc_d WHERE vec_id < 8)
"""


@register(
    "similarity_pq_adc",
    oracle=_PQ_BASE_SQL
    + """
    , scored AS (
      SELECT l.q_id, c.t_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
      WHERE l.q_id <> c.t_id
      GROUP BY l.q_id, c.t_id
      HAVING COUNT(*) = 4
    )
    SELECT q_id, t_id, adc_dist, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, t_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def similarity_pq_adc_q(spark, sf_dir):
    """Product-quantization ADC top-k (round 5, operators/pq.py): the
    memory side of the ANN story — each 64-dim vector stored as m=4 codes
    against fixed per-subspace codebooks (subvectors of the first 6
    vectors), queries scored asymmetrically via the exact int64 LUT.
    Every stage is integer-deterministic, so encoding AND scoring are
    hash-gated cell-exactly against the SQL replay."""
    from ..operators.pq import pq_adc_topk, pq_encode, pq_subvector_rows

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    codes = pq_encode(em, books, m=4)
    q = em.filter(F.col("vec_id") < 8)
    out = pq_adc_topk(q, codes, books, k=3, m=4)
    return out.select("q_id", "t_id", "adc_dist", F.col("rnk").cast("long").alias("rnk"))


# Full-ADC recall@5 tail shared by the plain-PQ and OPQ recall audits:
# score every code against the query LUTs, take ADC top-5, compare with
# exact quantized-L2 top-5 per query.
_PQ_RECALL_TAIL_SQL = """
    , scored AS (
      SELECT l.q_id, c.t_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
      WHERE l.q_id <> c.t_id
      GROUP BY l.q_id, c.t_id
      HAVING COUNT(*) = 4
    ),
    adc_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, t_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    exact_d AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id,
             CAST(SUM((q.v - t.v) * (q.v - t.v)) AS BIGINT) AS d
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 8 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    exact_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, t_id) AS rnk
        FROM exact_d
      ) WHERE rnk <= 5
    )
    SELECT e.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM exact_topk e
    LEFT JOIN adc_topk a ON a.q_id = e.q_id AND a.t_id = e.t_id
    GROUP BY e.q_id ORDER BY e.q_id
    """


@register(
    "similarity_pq_recall",
    oracle=_PQ_BASE_SQL + _PQ_RECALL_TAIL_SQL,
)
def similarity_pq_recall_q(spark, sf_dir):
    """Recall@5 audit of PQ ADC scoring against exact quantized L2 — the
    honest accounting of what 16-byte codes lose (same doctrine as
    similarity_ann_recall): both sides integer-deterministic, so the
    per-query overlap profile is hash-gated, making PQ recall measured
    evidence rather than a claim."""
    from ..operators.pq import pq_adc_topk, pq_encode, pq_subvector_rows
    from ..operators.similarity import quantize_vec
    from ..operators.windows import window_rank_topk as _topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    codes = pq_encode(em, books, m=4)
    q = em.filter(F.col("vec_id") < 8)
    adc = pq_adc_topk(q, codes, books, k=5, m=4).select("q_id", "t_id")

    qv = em.select("vec_id", quantize_vec(F.col("embedding")).alias("v"))
    a = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("va")
    )
    b = qv.select(F.col("vec_id").alias("t_id"), F.col("v").alias("vb"))
    pairs = b.join(F.broadcast(a), on=F.lit(True)).filter(F.col("q_id") != F.col("t_id"))
    from ..operators.similarity import sq_dist_long

    exact_d = pairs.select(
        "q_id", "t_id", sq_dist_long(F.col("va"), F.col("vb")).alias("d")
    )
    exact = _topk(exact_d, ["q_id"], [F.col("d").asc(), F.col("t_id").asc()], 5).select(
        "q_id", "t_id"
    )
    joined = exact.alias("e").join(
        adc.alias("a"),
        (F.col("e.q_id") == F.col("a.q_id")) & (F.col("e.t_id") == F.col("a.t_id")),
        "left",
    )
    return (
        joined.groupBy(F.col("e.q_id").alias("q_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("a.t_id").isNotNull(), 1).otherwise(0)).cast("long").alias("n_overlap"),
        )
        .orderBy("q_id")
    )


@register(
    "similarity_pq_rerank",
    oracle=_PQ_BASE_SQL
    + """
    , scored AS (
      SELECT l.q_id, c.t_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
      WHERE l.q_id <> c.t_id
      GROUP BY l.q_id, c.t_id
      HAVING COUNT(*) = 4
    ),
    short AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, t_id) AS rnk
        FROM scored
      ) WHERE rnk <= 20
    ),
    rerank AS (
      SELECT s.q_id, s.t_id,
             CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d
      FROM short s
      JOIN quant a ON a.vec_id = s.q_id
      JOIN quant b ON b.vec_id = s.t_id AND b.i = a.i
      GROUP BY s.q_id, s.t_id
    )
    SELECT q_id, t_id, d, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, d,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, t_id) AS rnk
      FROM rerank
    ) WHERE rnk <= 3
    """,
)
def similarity_pq_rerank_q(spark, sf_dir):
    """Two-stage PQ serving (round 5, operators/pq.py pq_adc_rerank_topk):
    ADC shortlist of 20 over the compressed codes, exact quantized-L2
    re-rank of the shortlist only — the standard production recipe that
    recovers recall@10 = 1.000 on the 80k structured corpus (SCALE.md)
    while the scan touches nothing but codes.  Both stages replayed in
    SQL, so shortlist membership AND final order are hash-gated."""
    from ..operators.pq import pq_adc_rerank_topk, pq_encode, pq_subvector_rows

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    codes = pq_encode(em, books, m=4)
    q = em.filter(F.col("vec_id") < 8)
    out = pq_adc_rerank_topk(q, em, codes, books, k=3, shortlist=20, m=4)
    return out.select("q_id", "t_id", "d", F.col("rnk").cast("long").alias("rnk"))


# Routing + composed-ADC block shared by the IVF-PQ serving oracle and the
# round-7 composed recall audit (one copy of the cosine cell routing,
# candidate pruning, and ADC scoring — the recall oracle extends it with
# the exact-quantized-L2 side).
_IVF_PQ_ROUTING_SQL = """
    , norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    cents AS (SELECT vec_id AS cell FROM corpus WHERE vec_id < 8),
    cdots AS (
      SELECT a.vec_id, c.cell, SUM(a.v * b.v) AS dot
      FROM quant a
      JOIN cents c ON TRUE
      JOIN quant b ON b.vec_id = c.cell AND b.i = a.i
      GROUP BY a.vec_id, c.cell
    ),
    ccos AS (
      SELECT d.vec_id, d.cell,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS c_cos
      FROM cdots d JOIN norms na ON na.vec_id = d.vec_id JOIN norms nb ON nb.vec_id = d.cell
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
        FROM ccos WHERE vec_id < 8
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT q.q_id, t.t_id
      FROM query_cells q JOIN corpus_cells t USING (cell)
      WHERE q.q_id <> t.t_id
    ),
    scored AS (
      SELECT l.q_id, c.t_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM cand x
      JOIN codes c ON c.t_id = x.t_id
      JOIN lut l ON l.q_id = x.q_id AND l.sub = c.sub AND l.code = c.code
      GROUP BY l.q_id, c.t_id
      HAVING COUNT(*) = 4
    )
"""

_IVF_PQ_ORACLE = (
    _PQ_BASE_SQL
    + _IVF_PQ_ROUTING_SQL
    + """
    SELECT q_id, t_id, adc_dist, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT q_id, t_id, adc_dist,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, t_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """
)


@register("similarity_ivf_pq", oracle=_IVF_PQ_ORACLE)
def similarity_ivf_pq_q(spark, sf_dir):
    """IVF-PQ serving (round 5, operators/pq.py ivf_pq_topk): the
    canonical 100 TB ANN composition — IVF cosine routing prunes
    candidates (same fixed vec_id<8 centroids as similarity_ann_ivf),
    product-quantized codes + the ADC lookup table score only the probed
    cells' members, the corpus never decoded.  The oracle replays BOTH
    halves (the cosine cell routing and the integer ADC) in one chain."""
    from ..operators.pq import ivf_pq_topk, pq_encode, pq_subvector_rows

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    centroids = em.filter(F.col("vec_id") < 8)
    q = em.filter(F.col("vec_id") < 8)
    # codes passed prebuilt — the offline artifact, serving never re-encodes
    codes = pq_encode(em, books, m=4)
    out = ivf_pq_topk(q, em, centroids, books, k=3, nprobe=2, m=4, codes=codes)
    return out.select("q_id", "t_id", "adc_dist", F.col("rnk").cast("long").alias("rnk"))


@register(
    "similarity_ivf_pq_recall",
    oracle=_PQ_BASE_SQL
    + _IVF_PQ_ROUTING_SQL
    + """
    , adc_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, t_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    exact_d AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id,
             CAST(SUM((q.v - t.v) * (q.v - t.v)) AS BIGINT) AS d
      FROM quant q JOIN quant t ON q.i = t.i
      WHERE q.vec_id < 8 AND q.vec_id <> t.vec_id
      GROUP BY q.vec_id, t.vec_id
    ),
    exact_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, t_id) AS rnk
        FROM exact_d
      ) WHERE rnk <= 5
    )
    SELECT e.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM exact_topk e
    LEFT JOIN adc_topk a ON a.q_id = e.q_id AND a.t_id = e.t_id
    GROUP BY e.q_id ORDER BY e.q_id
    """,
)
def similarity_ivf_pq_recall_q(spark, sf_dir):
    """Recall@5 audit of the COMPOSED IVF-PQ rung (VERDICT r6 #4): the
    production serving chain — cosine cell routing (nprobe=2) pruning
    candidates, then ADC over 16-byte codes — measured against exact
    quantized L2 top-5.  The per-stage audits (similarity_ann_recall for
    the pruning, similarity_pq_recall for the quantization) cannot bound
    the composition: its loss is the PRODUCT of a pruned candidate set
    and quantized distances.  Both sides integer-deterministic, so the
    per-query overlap profile is hash-gated — composed recall is measured
    evidence, not a claim.  The recall-vs-nprobe curve is recorded in
    SCALE.md §pq."""
    from ..operators.pq import ivf_pq_topk, pq_encode, pq_subvector_rows
    from ..operators.similarity import quantize_vec, sq_dist_long
    from ..operators.windows import window_rank_topk as _topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    centroids = em.filter(F.col("vec_id") < 8)
    q = em.filter(F.col("vec_id") < 8)
    codes = pq_encode(em, books, m=4)
    adc = ivf_pq_topk(q, em, centroids, books, k=5, nprobe=2, m=4, codes=codes).select(
        "q_id", "t_id"
    )

    qv = em.select("vec_id", quantize_vec(F.col("embedding")).alias("v"))
    a = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("va")
    )
    b = qv.select(F.col("vec_id").alias("t_id"), F.col("v").alias("vb"))
    pairs = b.join(F.broadcast(a), on=F.lit(True)).filter(F.col("q_id") != F.col("t_id"))
    exact_d = pairs.select(
        "q_id", "t_id", sq_dist_long(F.col("va"), F.col("vb")).alias("d")
    )
    exact = _topk(exact_d, ["q_id"], [F.col("d").asc(), F.col("t_id").asc()], 5).select(
        "q_id", "t_id"
    )
    joined = exact.alias("e").join(
        adc.alias("a"),
        (F.col("e.q_id") == F.col("a.q_id")) & (F.col("e.t_id") == F.col("a.t_id")),
        "left",
    )
    return (
        joined.groupBy(F.col("e.q_id").alias("q_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("a.t_id").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .orderBy("q_id")
    )


# OPQ-lite base: same corpus/quant as _PQ_BASE_SQL, but subspace membership
# comes from the TRAINED balanced-variance permutation (rank dims by the
# integer variance numerator n·Σv²−(Σv)², deal round-robin: sub = rank % m)
# instead of the contiguous (i-1)//16 split.  Positions within a subspace
# don't affect ADC distances, so the replay only needs the sub map.
_OPQ_BASE_SQL = """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    dimvar AS (
      SELECT i, COUNT(*) AS n, SUM(v) AS s1, SUM(v * v) AS s2 FROM quant GROUP BY i
    ),
    dimrank AS (
      SELECT i, ROW_NUMBER() OVER (ORDER BY (n * s2 - s1 * s1) DESC, i ASC) - 1 AS r
      FROM dimvar
    ),
    subs AS (
      SELECT q.vec_id, CAST(d.r % 4 AS INT) AS sub, q.i, q.v
      FROM quant q JOIN dimrank d USING (i)
    ),
    books AS (SELECT sub, CAST(vec_id AS INT) AS cell, i, v FROM subs WHERE vec_id < 6),
    enc_d AS (
      SELECT s.vec_id, s.sub, b.cell, CAST(SUM((s.v - b.v) * (s.v - b.v)) AS BIGINT) AS d
      FROM subs s JOIN books b ON b.sub = s.sub AND b.i = s.i
      GROUP BY s.vec_id, s.sub, b.cell
    ),
    codes AS (
      SELECT vec_id AS t_id, sub, cell AS code FROM (
        SELECT vec_id, sub, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
        FROM enc_d
      ) WHERE rn = 1
    ),
    lut AS (SELECT vec_id AS q_id, sub, cell AS code, d FROM enc_d WHERE vec_id < 8)
"""


@register("similarity_opq_recall", oracle=_OPQ_BASE_SQL + _PQ_RECALL_TAIL_SQL)
def similarity_opq_recall_q(spark, sf_dir):
    """OPQ-lite recall@5 audit (VERDICT r6 #7): PQ with a TRAINED
    balanced-variance axis permutation before the subspace split
    (operators/pq.py opq_variance_permutation — rank dims by integer
    variance, deal round-robin so each codebook quantizes an equal share
    of the signal), A/B-comparable row-for-row against
    ``similarity_pq_recall`` (same corpus, same fixed first-6-vector
    codebooks, same exact ground truth — exact L2 is permutation-
    invariant, so the ONLY difference is the subspace allocation).  The
    permutation, encode, ADC, and overlap are all integer-deterministic
    and hash-gated against the SQL replay of the same variance ranking.
    Bench-scale A/B with trained codebooks is recorded in SCALE.md §pq."""
    from ..operators.pq import (
        opq_variance_permutation,
        permute_vec,
        pq_adc_topk,
        pq_encode,
        pq_subvector_rows,
    )
    from ..operators.similarity import quantize_vec, sq_dist_long
    from ..operators.windows import window_rank_topk as _topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    perm = opq_variance_permutation(em, m=4)
    pm = em.select("vec_id", permute_vec(F.col("embedding"), perm).alias("embedding"))
    books = pq_subvector_rows(pm.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    codes = pq_encode(pm, books, m=4)
    adc = pq_adc_topk(pm.filter(F.col("vec_id") < 8), codes, books, k=5, m=4).select(
        "q_id", "t_id"
    )

    qv = em.select("vec_id", quantize_vec(F.col("embedding")).alias("v"))
    a = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("va")
    )
    b = qv.select(F.col("vec_id").alias("t_id"), F.col("v").alias("vb"))
    pairs = b.join(F.broadcast(a), on=F.lit(True)).filter(F.col("q_id") != F.col("t_id"))
    exact_d = pairs.select(
        "q_id", "t_id", sq_dist_long(F.col("va"), F.col("vb")).alias("d")
    )
    exact = _topk(exact_d, ["q_id"], [F.col("d").asc(), F.col("t_id").asc()], 5).select(
        "q_id", "t_id"
    )
    joined = exact.alias("e").join(
        adc.alias("a"),
        (F.col("e.q_id") == F.col("a.q_id")) & (F.col("e.t_id") == F.col("a.t_id")),
        "left",
    )
    return (
        joined.groupBy(F.col("e.q_id").alias("q_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.when(F.col("a.t_id").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .orderBy("q_id")
    )


def _pq_trained_oracle(m: int = 4, subdim: int = 16, ksub: int = 4, n_iter: int = 2) -> str:
    """Unroll the full TRAINED-PQ chain as DuckDB CTEs (VERDICT r5 #4): per
    subspace, the deterministic integer k-means (md5-seeded, floor-division
    means, dist/cell tie-breaks — the cluster_kmeans unroll doctrine) over
    the subvector slice, then the encode argmin against the TRAINED books.
    Emitting a codebook digest (cv_sum) next to each code gates the trained
    codebook values themselves, not just the assignments."""
    parts = [
        """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM corpus
    )"""
    ]
    outs = []
    for s in range(m):
        lo, hi = subdim * s, subdim * (s + 1)
        parts.append(
            f""",
    q_{s} AS (SELECT vec_id, i - {lo} AS i, v FROM quant WHERE i > {lo} AND i <= {hi}),
    c0_{s} AS (
      SELECT CAST(sd.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds sd JOIN q_{s} q ON q.vec_id = sd.vec_id WHERE sd.r <= {ksub}
    )"""
        )
        for n in range(1, n_iter + 1):
            parts.append(
                f""",
    d{n}_{s} AS (
      SELECT q.vec_id, c.cell, SUM((q.v - c.v) * (q.v - c.v)) AS d
      FROM q_{s} q JOIN c{n - 1}_{s} c ON c.i = q.i
      GROUP BY q.vec_id, c.cell
    ),
    a{n}_{s} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM d{n}_{s}
      ) WHERE rn = 1
    ),
    c{n}_{s} AS (
      SELECT a.cell, q.i, CAST(floor(CAST(SUM(q.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM a{n}_{s} a JOIN q_{s} q ON q.vec_id = a.vec_id
      GROUP BY a.cell, q.i
    )"""
            )
        parts.append(
            f""",
    ed_{s} AS (
      SELECT q.vec_id, c.cell, SUM((q.v - c.v) * (q.v - c.v)) AS d
      FROM q_{s} q JOIN c{n_iter}_{s} c ON c.i = q.i
      GROUP BY q.vec_id, c.cell
    ),
    code_{s} AS (
      SELECT vec_id AS t_id, cell AS code FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM ed_{s}
      ) WHERE rn = 1
    ),
    cbsum_{s} AS (SELECT cell, CAST(SUM(v) AS BIGINT) AS cv_sum FROM c{n_iter}_{s} GROUP BY cell)"""
        )
        outs.append(
            f"SELECT t_id, {s} AS sub, code, cv_sum FROM code_{s} JOIN cbsum_{s} ON cell = code"
        )
    parts.append(
        "\n    SELECT t_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code, cv_sum FROM (\n      "
        + "\n      UNION ALL ".join(outs)
        + "\n    ) u"
    )
    return "".join(parts)


def _pq_codebook_oracle(m: int = 4, subdim: int = 16, ksub: int = 4, n_iter: int = 2) -> str:
    """Unroll ONLY the codebook-training half of the trained-PQ chain
    (VERDICT r9 #4): identical training CTEs to ``_pq_trained_oracle`` (same
    md5 seeding, floor-division means, dist/cell tie-breaks), but the final
    select emits the trained codebook CELLS — one row per
    (sub, cell, dim, value) — so the codebook vectors themselves are the
    gated surface, cell-exactly, not just a per-code digest."""
    parts = [
        """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 120),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    seeds AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
      FROM corpus
    )"""
    ]
    outs = []
    for s in range(m):
        lo, hi = subdim * s, subdim * (s + 1)
        parts.append(
            f""",
    q_{s} AS (SELECT vec_id, i - {lo} AS i, v FROM quant WHERE i > {lo} AND i <= {hi}),
    c0_{s} AS (
      SELECT CAST(sd.r - 1 AS INT) AS cell, q.i, q.v
      FROM seeds sd JOIN q_{s} q ON q.vec_id = sd.vec_id WHERE sd.r <= {ksub}
    )"""
        )
        for n in range(1, n_iter + 1):
            parts.append(
                f""",
    d{n}_{s} AS (
      SELECT q.vec_id, c.cell, SUM((q.v - c.v) * (q.v - c.v)) AS d
      FROM q_{s} q JOIN c{n - 1}_{s} c ON c.i = q.i
      GROUP BY q.vec_id, c.cell
    ),
    a{n}_{s} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
        FROM d{n}_{s}
      ) WHERE rn = 1
    ),
    c{n}_{s} AS (
      SELECT a.cell, q.i, CAST(floor(CAST(SUM(q.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM a{n}_{s} a JOIN q_{s} q ON q.vec_id = a.vec_id
      GROUP BY a.cell, q.i
    )"""
            )
        outs.append(
            f"SELECT {s} AS sub, cell, i, v FROM c{n_iter}_{s}"
        )
    parts.append(
        "\n    SELECT CAST(sub AS INT) AS sub, CAST(cell AS INT) AS cell,"
        " CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS val FROM (\n      "
        + "\n      UNION ALL ".join(outs)
        + "\n    ) u"
    )
    return "".join(parts)


@register("pq_train_codebooks", oracle=_pq_codebook_oracle())
def pq_train_codebooks_q(spark, sf_dir):
    """The PQ TRAINING operator as its own gated row (VERDICT r9 #4 — the
    one SURVEY §2 ID previously gated only through the
    ``similarity_pq_trained`` chain's per-code digest).  Emits the trained
    codebooks exploded to (sub, cell, dim, val) cells so every trained
    coordinate is hash-gated against the unrolled-CTE k-means replay, the
    strongest possible contract on the training math itself (m=4 subspaces
    × ksub=4 cells × 16 dims = 256 cells on the sf corpus slice).

    Scale shape: training is m independent bounded k-means runs whose
    updates partial-aggregate at (cell, dim) grain — corpus-scale scans,
    codebook-scale (m·ksub·subdim rows) output, permanently broadcastable."""
    from ..operators.pq import pq_train_codebooks

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_train_codebooks(em, m=4, ksub=4, n_iter=2)
    return books.select(
        "sub",
        "cell",
        F.posexplode("cv").alias("pos", "val"),
    ).select(
        F.col("sub").cast("int").alias("sub"),
        F.col("cell").cast("int").alias("cell"),
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.col("val").cast("long").alias("val"),
    )


@register("similarity_pq_trained", oracle=_pq_trained_oracle())
def similarity_pq_trained_q(spark, sf_dir):
    """End-to-end TRAINED product quantization (VERDICT r5 #4,
    operators/pq.py): pq_train_codebooks (m=4 deterministic integer
    k-means runs over 16-dim subvector slices, ksub=4, 2 update rounds)
    feeding pq_encode — the chain the round-5 gates only covered with
    FIXED codebooks.  Output is the long-form code table with a trained
    codebook digest per (sub, code), so both the training and the encode
    are hash-gated cell-exactly against the unrolled-CTE replay."""
    from ..operators.pq import _code_rows, pq_encode, pq_train_codebooks

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_train_codebooks(em, m=4, ksub=4, n_iter=2)
    codes = pq_encode(em, books, m=4)
    digest = books.select(
        "sub",
        F.col("cell").alias("code"),
        F.aggregate("cv", F.lit(0).cast("long"), lambda a, x: a + x).alias("cv_sum"),
    )
    return _code_rows(codes).join(F.broadcast(digest), on=["sub", "code"]).select(
        "t_id", "sub", "code", "cv_sum"
    )


@register("similarity_ann_ivf_routed", oracle=_IVF_ORACLE_SQL)
def similarity_ann_ivf_routed_q(spark, sf_dir):
    """Fully-distributed vectorized IVF serving (VERDICT r4 #2): queries
    never touch the driver — the probe map emits each query once per
    probed cell and scoring is routed_topk's cogrouped applyInArrow
    cosine matmul per cell.  Must be bit-identical to
    similarity_ann_ivf (same oracle replay), which is what makes the
    routing/cogroup machinery itself hash-gated cross-engine."""
    from ..operators.similarity import build_ivf_index, ivf_topk_prebuilt_routed

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150).select(
        "vec_id", "embedding"
    )
    centroids = em.filter(F.col("vec_id") < 8)
    queries = em.filter(F.col("vec_id") < 10)
    index = build_ivf_index(em, centroids)
    out = ivf_topk_prebuilt_routed(queries, index, centroids, k=3, nprobe=2)
    return out.select("q_id", "t_id", "cos", F.col("rnk").cast("long").alias("rnk"))


# --------------------------------------------------------------------------
# Skew mitigation (100 TB posture): salted aggregation + salted join
# --------------------------------------------------------------------------
@register(
    "agg_salted_hot_key",
    oracle="SELECT DISTINCT event_type, user_id FROM events",
)
def agg_salted_hot_key_q(spark, sf_dir):
    """Two-phase salted collect_set over a hot grouping key (event_type has
    ~5 distinct values — every one is hot): per-salt bounded sets, array-
    merged per key.  Result equals the unsalted aggregate (verified by
    re-exploding)."""
    from ..operators.skew import salted_collect_set

    ev = _t(spark, sf_dir, "events")
    out = salted_collect_set(ev, ["event_type"], "user_id", n_salts=8)
    return out.select("event_type", F.explode("values").alias("user_id"))


@register(
    "join_salted_skew",
    oracle="""
    SELECT e.event_id, n.n_name
    FROM (SELECT event_id, user_id % 25 AS k FROM events) e
    JOIN (SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation) n USING (k)
    """,
)
def join_salted_skew_q(spark, sf_dir):
    """Salt-and-replicate skew join: big side salted, small side replicated
    n_salts×, hot keys spread over n_salts reducers."""
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", (F.col("user_id") % 25).alias("k"))
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name"
    )
    return salted_join(ev, nat, ["k"], n_salts=8).select("event_id", "n_name")


# --------------------------------------------------------------------------
# UDF extension surface (SURVEY.md §2.12 udf_surface)
# --------------------------------------------------------------------------
@register(
    "udf_surface",
    oracle="""
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 40)
    SELECT doc_id, CAST(i AS BIGINT) AS pos, string_split(text, ' ')[i] AS token,
           CAST(doc_id AS VARCHAR) AS uri_base
    FROM docs, generate_series(1, 2000) t(i)
    WHERE i <= len(string_split(text, ' '))
    """,
)
def udf_surface_q(spark, sf_dir):
    """Python UDTF (lateral tokenize) + scalar pandas UDF (URI basename) in
    one plan — the engine's sanctioned Python extension points; everything
    else in the catalog stays on built-in expressions."""
    from ..operators.udfs import TokenizeUDTF, uri_basename_udf

    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select("doc_id", "text")
    docs.createOrReplaceTempView("udf_surface_docs")
    toks = spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM udf_surface_docs d, LATERAL tokenize_udtf(d.text) t"
    )
    return toks.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "token",
        uri_basename_udf(
            F.concat(F.lit("http://example.org/doc/"), F.col("doc_id").cast("string"))
        ).alias("uri_base"),
    )


@register(
    "udf_grouped_agg",
    oracle="""
    SELECT o_orderstatus, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def udf_grouped_agg_q(spark, sf_dir):
    """Grouped-aggregate pandas UDF: exact integer-cents total per order
    status (Arrow-batched; round-then-int per element is cross-engine exact)."""
    from ..operators.udfs import cents_sum_udf

    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(cents_sum_udf("o_totalprice").alias("cents"))


@register(
    "join_asof_events",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, o.o_orderkey AS asof_orderkey
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_events_q(spark, sf_dir):
    """As-of join: each event matched to the latest order of the same user at
    or before the event time — union + windowed carry-forward (no range cross
    product)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = join_asof(
        ev, orders, on="user_id", left_time="ts", right_time="o_orderdate",
        right_value="o_orderkey", out_col="asof_orderkey",
    )
    return out.select("event_id", "asof_orderkey")


@register(
    "join_range_interval",
    oracle="""
    WITH pts AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS p, value FROM events
    ),
    iv AS (
      SELECT event_id AS interval_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
      FROM events WHERE event_id % 50 = 0
    )
    SELECT interval_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM pts JOIN iv ON p >= s AND p <= e
    GROUP BY interval_id
    """,
)
def join_range_interval_q(spark, sf_dir):
    """Range (interval) join without a cartesian: every 50th event opens a
    30-minute window; events are matched via a bucketized equi-join
    (bucket = epoch div window) + exact refine filter, then aggregated per
    interval.  The oracle is the plain inequality join DuckDB can afford at
    sf0.01."""
    from ..operators.temporal import join_range_bucketed

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("event_id", F.unix_timestamp("ts").alias("p"), "value")
    iv = ev.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + 1800).alias("e"),
    )
    joined = join_range_bucketed(pts, iv, "p", "s", "e", 1800)
    return joined.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


@register(
    "agg_time_rollup",
    oracle="""
    WITH m AS (
      SELECT date_trunc('minute', ts) AS b, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,6))) AS t
      FROM events GROUP BY 1, 2
    ),
    h AS (
      SELECT date_trunc('hour', b) AS b, event_type, SUM(n) AS n, SUM(t) AS t
      FROM m GROUP BY 1, 2
    ),
    d AS (
      SELECT date_trunc('day', b) AS b, event_type, SUM(n) AS n, SUM(t) AS t
      FROM h GROUP BY 1, 2
    )
    SELECT 'minute' AS grain, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
           event_type, CAST(n AS BIGINT) AS n, CAST(t AS DOUBLE) AS total_value FROM m
    UNION ALL
    SELECT 'hour', strftime(b, '%Y-%m-%d %H:%M:%S'), event_type,
           CAST(n AS BIGINT), CAST(t AS DOUBLE) FROM h
    UNION ALL
    SELECT 'day', strftime(b, '%Y-%m-%d %H:%M:%S'), event_type,
           CAST(n AS BIGINT), CAST(t AS DOUBLE) FROM d
    """,
)
def agg_time_rollup_q(spark, sf_dir):
    """Hypertable-style continuous aggregate: minute buckets from the raw
    stream, hour from minute, day from hour — the raw stream shuffles once;
    coarser grains re-aggregate grain-cardinality rows.  DECIMAL sums stay
    exact through the cascade (assoc.), surfaced as DOUBLE."""
    from ..operators.temporal import time_rollup

    return time_rollup(load_table(spark, sf_dir, "events"))


@register(
    "filter_quality_percentile",
    oracle="""
    WITH q AS (
      SELECT doc_id AS id, lang AS grp,
        CAST(len(list_filter(string_split_regex(text, '\\s+'),
              t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) * 0.5
        + (1.0 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
            / (CAST(length(text) AS DOUBLE) + 1.0)) * 0.5 AS quality
      FROM documents
    ),
    r AS (
      SELECT id, grp, quality,
             percent_rank() OVER (PARTITION BY grp ORDER BY quality) AS pct
      FROM q
    )
    SELECT id, grp AS lang, quality, pct FROM r WHERE pct >= 0.5
    """,
)
def filter_quality_percentile_q(spark, sf_dir):
    """Per-language quality-percentile cut: keep docs at/above their
    language's median quality score — per-group cutoffs, not one global
    bar.  percent_rank is pure order statistics, so the float-valued score
    cuts identically in both engines."""
    from ..operators.text_analysis import filter_quality_percentile

    docs = load_table(spark, sf_dir, "documents")
    return filter_quality_percentile(docs, "text", "doc_id", "lang", 0.5)


@register(
    "similarity_hamming_recall",
    oracle="""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
    bits AS (
      SELECT vec_id, CAST((i - 1) // 32 AS INT) AS w,
             CASE WHEN embedding[i] > 0
                  THEN (CAST(1 AS BIGINT) << CAST((i - 1) % 32 AS INT))
                  ELSE CAST(0 AS BIGINT) END AS bit
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    words AS (SELECT vec_id, w, CAST(SUM(bit) AS BIGINT) AS word FROM bits GROUP BY 1, 2),
    ham AS (
      SELECT q.vec_id AS q_id, t.vec_id AS t_id,
             CAST(SUM(bit_count(xor(q.word, t.word))) AS BIGINT) AS hamming
      FROM words q JOIN words t ON q.w = t.w
      WHERE q.vec_id < 8 AND q.vec_id <> t.vec_id
      GROUP BY 1, 2
    ),
    ham_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, t_id) AS rnk
        FROM ham
      ) WHERE rnk <= 5
    ),
    quant AS (
      SELECT vec_id, i, CAST(round(embedding[i] * 1000) AS BIGINT) AS v
      FROM corpus, generate_series(1, 64) t(i)
      WHERE i <= len(embedding)
    ),
    norms AS (SELECT vec_id, SUM(v * v) AS norm_sq FROM quant GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS q_id, b.vec_id AS t_id, SUM(a.v * b.v) AS dot
      FROM quant a JOIN quant b ON a.i = b.i
      WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    cosd AS (
      SELECT d.q_id, d.t_id,
             CAST(d.dot AS DOUBLE) / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)) AS c
      FROM dots d JOIN norms na ON na.vec_id = d.q_id JOIN norms nb ON nb.vec_id = d.t_id
    ),
    exact_topk AS (
      SELECT q_id, t_id FROM (
        SELECT q_id, t_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, t_id) AS rnk
        FROM cosd
      ) WHERE rnk <= 5
    )
    SELECT e.q_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN h.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap
    FROM exact_topk e
    LEFT JOIN ham_topk h ON h.q_id = e.q_id AND h.t_id = e.t_id
    GROUP BY e.q_id
    """,
)
def similarity_hamming_recall_q(spark, sf_dir):
    """Recall@5 audit of the sign-bit Hamming rung against exact quantized
    cosine — the honest accounting of what 8-byte binary sketches lose,
    completing the per-rung recall evidence (similarity_ann_recall for
    IVF, similarity_pq_recall for PQ, this for Hamming).  Both sides are
    integer-deterministic (packing replayed bit-for-bit; cosine from
    quantized int dots), so the per-query overlap profile hash-gates —
    measured recall, not a claim.  The rerank twin
    (similarity_hamming_rerank) shows the shortlist-stage recovery."""
    from ..operators.pq import hamming_topk
    from ..operators.similarity import _dot_long, quantize_vec
    from ..operators.windows import window_rank_topk as _topk

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", "embedding"
    )
    q = em.filter(F.col("vec_id") < 8)
    ham = hamming_topk(q, em, k=5).select("q_id", "t_id")

    qv = em.select("vec_id", quantize_vec(F.col("embedding")).alias("v"))
    a = qv.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("va")
    )
    b = qv.select(F.col("vec_id").alias("t_id"), F.col("v").alias("vb"))
    pairs = b.join(F.broadcast(a), on=F.lit(True)).filter(F.col("q_id") != F.col("t_id"))
    pairs = pairs.withColumn("qn", _dot_long(F.col("va"), F.col("va"))).withColumn(
        "tn", _dot_long(F.col("vb"), F.col("vb"))
    )
    cosd = pairs.select(
        "q_id",
        "t_id",
        (
            _dot_long(F.col("va"), F.col("vb")).cast("double")
            / F.sqrt(F.col("qn").cast("double") * F.col("tn").cast("double"))
        ).alias("c"),
    )
    exact = _topk(cosd, ["q_id"], [F.col("c").desc(), F.col("t_id").asc()], 5).select(
        "q_id", "t_id"
    )
    joined = exact.alias("e").join(
        ham.alias("h"),
        (F.col("e.q_id") == F.col("h.q_id")) & (F.col("e.t_id") == F.col("h.t_id")),
        "left",
    )
    return joined.groupBy(F.col("e.q_id").alias("q_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.when(F.col("h.t_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_overlap"),
    )


@register("similarity_ivf_pq_routed", oracle=_IVF_PQ_ORACLE)
def similarity_ivf_pq_routed_q(spark, sf_dir):
    """Fully-distributed IVF-PQ serving (round 6, operators/pq.py
    ivf_pq_topk_routed): the cogrouped-ADC analogue of
    similarity_ann_ivf_routed — each probed cell's CODES meet their
    probing queries on the executor, scoring is a per-cell int64 LUT
    gather-sum, and nothing query- or corpus-sized touches the driver.
    Same workload and SAME oracle as similarity_ivf_pq: the ADC sums are
    integer-exact, so the routed path must hash-gate identically to the
    expression path (bit-identity also pinned in tests/test_pq.py)."""
    from ..operators.pq import ivf_pq_topk_routed, pq_encode, pq_subvector_rows
    from ..operators.similarity import ivf_assign

    em = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", "embedding"
    )
    books = pq_subvector_rows(em.filter(F.col("vec_id") < 6), m=4).select(
        "sub", F.col("id").cast("int").alias("cell"), F.col("sv").alias("cv")
    )
    centroids = em.filter(F.col("vec_id") < 8)
    codes = pq_encode(em, books, m=4)
    cells = ivf_assign(em, centroids, nprobe=1).select(
        F.col("vec_id").alias("t_id"), "cell"
    )
    index_codes = cells.join(codes, on="t_id").select("cell", "t_id", "codes")
    q = em.filter(F.col("vec_id") < 8)
    out = ivf_pq_topk_routed(q, index_codes, centroids, books, k=3, nprobe=2, m=4)
    return out.select("q_id", "t_id", "adc_dist", F.col("rnk").cast("long").alias("rnk"))
