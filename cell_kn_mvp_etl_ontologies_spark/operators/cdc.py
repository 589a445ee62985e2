"""Content-defined chunking (CDC) over opaque payloads.

Rabin-style boundary detection: an 8-byte polynomial rolling hash marks
a chunk boundary wherever hash % 16 == 0 — boundaries derive FROM THE
BYTES, so a local edit reshapes only the chunks it touches while every
other chunk hash survives to witness duplication (fixed-offset blocks
lose alignment after one insertion).  This is the storage-dedup /
video-segment-dedup backbone.

Two faces, one boundary rule:

- :func:`cdc_chunk_hashes` — the exact-gate relational form (explode
  positions, 8 stacked lag() terms in ONE window, cumsum segment ids),
  hash-gateable against :func:`cdc_cset_sql`'s DuckDB replay.
- at 100 TB the identical rule runs as an Arrow-batched ``mapInPandas``
  over real payload bytes (the multimodal decode-stub doctrine) emitting
  (payload_id, chunk_hash) rows only — payload bytes never shuffle.

The per-offset weights 257^k mod (1e9+7) are hardcoded so every term
stays under ~1.3e11 (code*weight) and the 8-term sum under ~1e12 —
int64-safe without modular exponentiation at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CDC_B = 257
CDC_M = 1_000_000_007
CDC_W = 8
CDC_MOD = 16
CDC_P = [pow(CDC_B, k, CDC_M) for k in range(CDC_W)]


def cdc_chunk_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ch) distinct chunk-hash set per payload.

    One corpus pass, no shuffle beyond the id-keyed window sort; the
    output carries (id, 16-byte md5 hex) rows only.

    Empty payloads emit NO chunk rows (the ``length > 0`` guard below —
    without it ``sequence(1, 0)`` yields the DESCENDING list ``[1, 0]``
    and a spurious empty-substring chunk that neither the Arrow twin nor
    the DuckDB oracle produces).
    """
    chars = df.where(F.length(F.col(text_col)) > 0).select(
        F.col(id_col).alias("__cdc_id"),
        F.col(text_col).alias("__cdc_text"),
        F.explode(F.sequence(F.lit(1), F.length(text_col))).alias("i"),
    ).select(
        "__cdc_id",
        "i",
        # BIGINT from the start: ascii() is INT and code * 257^k mod p
        # weights reach ~1e11 — an INT*INT product would overflow
        F.expr("CAST(ascii(substring(__cdc_text, i, 1)) AS BIGINT)").alias("code"),
    )
    w = Window.partitionBy("__cdc_id").orderBy("i")
    rolling = None
    for k in range(CDC_W):
        lag_n = CDC_W - 1 - k
        term = (
            F.lag("code", lag_n).over(w) if lag_n else F.col("code")
        ) * F.lit(CDC_P[k])
        rolling = term if rolling is None else rolling + term
    bends = chars.withColumn(
        "bend",
        F.when((rolling % CDC_M % CDC_MOD) == 0, F.lit(1)).otherwise(F.lit(0)),
    )
    segs = bends.withColumn(
        "seg",
        F.coalesce(
            F.sum("bend").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    spans = segs.groupBy("__cdc_id", "seg").agg(
        F.min("i").alias("a"), F.max("i").alias("b")
    )
    return (
        spans.join(
            df.select(F.col(id_col).alias("__cdc_id"), F.col(text_col).alias("__cdc_text")),
            on="__cdc_id",
        )
        .select(
            F.col("__cdc_id").alias(id_col),
            F.md5(F.expr("substring(__cdc_text, a, b - a + 1)")).alias("ch"),
        )
        .distinct()
    )


def _cdc_hash_sql(lag_fn) -> str:
    """Render the trailing-window rolling hash Σ_k lag(code, W-1-k)·P_k:
    ONE format string renders both engines (lag_fn injects the window
    syntax), so the boundary rule cannot drift between Spark and DuckDB."""
    terms = [f"{lag_fn(CDC_W - 1 - k)} * {CDC_P[k]}" for k in range(CDC_W)]
    return "(" + " + ".join(terms) + f") % {CDC_M} % {CDC_MOD} = 0"


def cdc_cset_sql(src: str, out: str, prefix: str) -> str:
    """DuckDB CTE chain replaying :func:`cdc_chunk_hashes` over CTE
    ``src`` (columns doc_id, text) into ``out`` (doc_id, ch).  ``prefix``
    namespaces the intermediate CTEs so two payload sets can be chunked
    in one query (corpus + stream batch)."""
    hash_pred = _cdc_hash_sql(lambda n: f"(lag(code, {n}) OVER w)" if n else "code")
    return f"""
    {prefix}_chars AS (
      -- scalar-list generate_series takes column args (the TABLE form
      -- needs constants), so the series bound is exactly length(text):
      -- no hardcoded cap to silently truncate long payloads, and empty
      -- text unnests to zero rows.  BIGINT cast before the weight
      -- multiply.
      SELECT doc_id, i,
             CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS code
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(1, length(text))) AS i
        FROM {src}
      )
    ),
    {prefix}_bends AS (
      SELECT doc_id, i,
             CASE WHEN {hash_pred} THEN 1 ELSE 0 END AS bend
      FROM {prefix}_chars
      WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    {prefix}_segs AS (
      SELECT doc_id, i,
             COALESCE(SUM(bend) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
      FROM {prefix}_bends
    ),
    {prefix}_spans AS (
      SELECT doc_id, seg, MIN(i) AS a, MAX(i) AS b
      FROM {prefix}_segs GROUP BY doc_id, seg
    ),
    {out} AS (
      SELECT DISTINCT s.doc_id,
             md5(substr(c.text, CAST(s.a AS INT), CAST(s.b - s.a + 1 AS INT))) AS ch
      FROM {prefix}_spans s JOIN {src} c ON c.doc_id = s.doc_id
    )"""


def cdc_census_cap(
    cset: DataFrame, id_col: str = "doc_id", max_freq: int = 8
) -> DataFrame:
    """Drop HOT chunks — chunk hashes carried by more than ``max_freq``
    distinct payloads — from a (id, ch) chunk census before pair
    expansion.

    The quadratic-death guard the CDC census was missing (VERDICT r10
    #5): the near-dup pair join is an equi-join on chunk hash, so ONE
    boilerplate chunk (a shared footer, an empty-padding block, a
    template header) carried by M payloads emits M²/2 candidate pairs —
    exactly the failure mode `dedup_minhash_lsh_capped` guards with
    ``max_bucket`` on band buckets.  A chunk shared by *more* than
    ``max_freq`` payloads cannot witness a targeted near-duplication
    anyway (it is template mass, not copied content), so capping changes
    candidate VOLUME, not recall on genuine near-dup pairs — measured in
    SCALE.md §cdc-cap.

    Contract: the capped census is the corpus view — hot chunks leave
    BOTH pair generation and the per-doc chunk counts, keeping Jaccard
    internally consistent over the capped chunk universe.

    100 TB shape: one (ch)-grain hash agg over the census + a semi-join
    shaped filter; runs BEFORE the self-join, so the cap also bounds the
    join's per-key fanout at ``max_freq``.
    """
    freq = cset.groupBy("ch").agg(F.count(F.lit(1)).alias("__freq"))
    return (
        cset.join(freq.filter(F.col("__freq") <= max_freq), on="ch")
        .select(id_col, "ch")
    )


def cdc_dedup_vs_corpus(
    batch: DataFrame,
    corpus_cset: DataFrame,
    corpus_counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int = 250_000,
) -> DataFrame:
    """Screen a batch of payloads against a STATIC corpus chunk census.

    ``corpus_cset`` is (doc_id, ch) — the pre-materialized output of
    :func:`cdc_chunk_hashes` over the corpus; ``corpus_counts`` its
    per-doc chunk counts (doc_id, n).  Per batch payload: chunk it, join
    the corpus census ON CHUNK HASH, keep the best-matching corpus doc
    (max shared chunks, ties to the smallest id), compute chunk-Jaccard
    against it, and emit a verdict row even when nothing matched.

    A payload's verdict depends only on (its own chunks × the static
    corpus), so micro-batch bundling cannot change any verdict — the
    property that lets the streaming twin share this exact operator and
    a batch oracle.  Per batch the corpus is JOINED (broadcast here;
    bucketed-on-ch at scale), never re-chunked and never rescanned.
    """
    from pyspark.sql import Window

    bset = cdc_chunk_hashes(batch, id_col, text_col)
    bcnt = bset.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb"))
    hits = (
        bset.join(
            F.broadcast(corpus_cset.select(F.col("doc_id").alias("corpus_id"), "ch")),
            on="ch",
        )
        .groupBy(id_col, "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("n_shared").desc(), F.col("corpus_id").asc()
    )
    best = (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .join(
            F.broadcast(
                corpus_counts.select(
                    F.col("doc_id").alias("corpus_id"), F.col("n").alias("na")
                )
            ),
            on="corpus_id",
        )
    )
    verdicts = (
        batch.select(F.col(id_col))
        .join(bcnt, on=id_col, how="left")
        .join(best.drop("rnk"), on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("corpus_id").cast("long").alias("matched"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce(
                F.expr("CAST(1000000 * n_shared DIV (na + nb - n_shared) AS BIGINT)"),
                F.lit(0),
            ).alias("jaccard_ppm"),
        )
    )
    return verdicts.withColumn("is_dup", F.col("jaccard_ppm") >= threshold_ppm)


def cdc_chunk_hashes_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Production form of :func:`cdc_chunk_hashes`: the SAME boundary rule
    evaluated in an Arrow-batched ``mapInPandas`` pass — payload bytes are
    chunked inside the executor task and only (id, chunk_hash) rows come
    out, no position explode, no window sort, no shuffle at all.

    Bit-identical to the relational form by construction: codes are
    CODEPOINTS (``ord``), matching Spark ``ascii()`` / DuckDB ``ord()``
    exactly — including non-ASCII and astral characters, where all three
    engines agree on full-codepoint codes, codepoint indexing, and md5
    over the substring's UTF-8 bytes (UTF-8 *byte* codes would diverge
    from ``ascii()`` on any non-ASCII payload).  Pinned, with non-ASCII
    cases, by tests/test_frontier4.py::test_cdc_arrow_twin_matches_relational.
    For real binary payloads (image/audio) feed latin-1-decoded bytes:
    codepoints == byte values there, so the rule is byte-level with no
    plan change.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    out_schema = f"{id_col} LONG, ch STRING"
    weights = np.array(CDC_P, dtype=np.int64)

    def chunk_batch(batches):
        for pdf in batches:
            ids, hashes = [], []
            for pid, text in zip(pdf[id_col], pdf[text_col]):
                # codepoint vector via UTF-32-LE decode: bit-identical to
                # ord() per character (UTF-32 code units ARE codepoints) but
                # C-speed instead of one interpreter iteration per char —
                # the chunk pass's dominant cost at the 5k-doc bench shape
                # (round-14 interleaved A/B in
                # ``git show 3609c14:tools/probe_cdc_codes_ab.py``)
                codes = np.frombuffer(
                    text.encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                n = codes.shape[0]
                seen = set()
                if n >= CDC_W:
                    # windows[p] = codes[p-W+1 .. p] · weights  (window END p)
                    win = np.lib.stride_tricks.sliding_window_view(codes, CDC_W)
                    h = (win * weights).sum(axis=1) % CDC_M % CDC_MOD
                    bends = np.nonzero(h == 0)[0] + (CDC_W - 1)
                else:
                    bends = np.array([], dtype=np.int64)
                start = 0
                for b in bends:
                    seen.add(hashlib.md5(text[start : b + 1].encode()).hexdigest())
                    start = b + 1
                if start < n:
                    seen.add(hashlib.md5(text[start:].encode()).hexdigest())
                for ch in seen:
                    ids.append(pid)
                    hashes.append(ch)
            yield pd.DataFrame({id_col: ids, "ch": hashes})

    return df.select(id_col, text_col).mapInPandas(chunk_batch, out_schema)
