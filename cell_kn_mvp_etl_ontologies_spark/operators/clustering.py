"""Deterministic distributed k-means over embedding columns.

Float k-means is non-reproducible twice over: seeding is usually random,
and centroid means depend on float summation order, which varies with
partitioning.  This variant removes both sources:

- vectors are quantized to BIGINT units (same ``quantize_vec`` contract as
  the similarity operators), so squared-L2 distances are exact integer sums;
- seeding is the k vectors with the smallest ``md5(id)`` (a uniform but
  deterministic draw — no RNG state);
- centroid updates are element-wise FLOOR divisions of integer sums —
  in BOTH engines expressed as ``floor()`` over IEEE double division
  (exact: |sum| stays far below 2^53).  Note DuckDB's ``//`` is NOT that
  operation — it truncates toward zero (``-7 // 2 = -3``), so substituting
  ``SUM(v) // COUNT(*)`` in the oracle would diverge wherever a centroid
  sum is negative; keep the oracle on ``floor(CAST(SUM(v) AS DOUBLE) /
  COUNT(*))``.

The result is bit-identical across engines, task counts, partitionings,
and re-runs — the property that makes cluster assignments usable as stable
shard keys and makes IVF centroid training reproducible.

Scale shape per iteration: assignment is a broadcast-k cross score + one
per-id top-1 window (k is small by construction); the centroid update
explodes to (cell, dim) grain and partial-aggregates — state per reducer is
k × dims, never corpus-sized.  Iterations localCheckpoint the (tiny)
centroid table, so lineage stays flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import md5_seed_cells, nearest_cells, quantize_vec


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Train centroids only: returns (cell INT, cv ARRAY<BIGINT>) — the
    final integer centroids after ``n_iter`` update rounds.  Feed them to
    ``ivf_topk`` (divide by ``scale`` back to float space) or to
    ``kmeans_integer`` for assignments."""
    if k < 1 or n_iter < 1:
        raise ValueError("k and n_iter must be >= 1")
    quant = df.select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale).alias("qv")
    )
    centroids = (
        md5_seed_cells(quant, id_col, "qv", k)
        .select(F.col("cell").cast("int").alias("cell"), "cv")
        .localCheckpoint(eager=True)
    )

    for _ in range(n_iter):
        assigned = nearest_cells(quant, id_col, "qv", centroids, 1)
        dims = (
            assigned.join(quant, on=id_col)
            .select("cell", F.posexplode("qv").alias("i", "v"))
            .groupBy("cell", "i")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        # floor division (not div): sums go negative and the DuckDB oracle's
        # // floors; magnitudes stay < 2^53 so the double round-trip is exact
        centroids = (
            dims.select(
                "cell", "i", F.floor(F.col("s") / F.col("n")).cast("long").alias("cv_i")
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "cv_i"))),
                    lambda s: s["cv_i"],
                ).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Assign every row to its nearest centroid from ``kmeans_fit`` by
    integer squared-L2 (ties to the lower cell): (id_col, cell)."""
    quant = df.select(
        F.col(id_col), quantize_vec(F.col(vec_col), scale).alias("qv")
    )
    return nearest_cells(quant, id_col, "qv", centroids, 1)


def kmeans_integer(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    n_iter: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Cluster ``df[vec_col]`` into ``k`` cells; returns (id_col, cell INT)
    for every input row.  Cells are 0..k-1 in seed order (ascending md5 of
    the seed id); assignment ties break on the lower cell.  See module
    docstring for the determinism contract; ``kmeans_fit`` exposes the
    trained centroids themselves."""
    centroids = kmeans_fit(df, id_col, vec_col, k, n_iter, scale)
    return kmeans_assign(df, centroids, id_col, vec_col, scale)
