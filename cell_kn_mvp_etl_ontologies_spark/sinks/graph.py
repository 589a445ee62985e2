"""Parquet property-graph store (SURVEY.md §2.1 sink_graph_upsert).

Layout: ``{root}/{database}/{graph}/vertices`` partitioned by collection and
``.../edges`` partitioned by (from_collection, to_collection) — partition
values ARE the reference's dynamic collection DDL
(ArangoDbUtilities.java:80-212): a new ontology id simply materializes as a
new partition directory, no runtime DDL.

Upsert replaces the reference's one-HTTP-round-trip-per-document
exists/insert/update loop (OntologyGraphBuilder.java:254-273,463-479) with a
single distributed MERGE join.  The reference drops and recreates its
databases at the start of every run (OntologyGraphBuilder.java:511-517), so
mode='overwrite' reproduces its semantics; ``upsert_parquet`` covers the
incremental path.

Every graph landing goes through ``_land``, so each partition directory
holds one parquet file (zstd, the engine's codec:
``session.ENGINE_SQL_CONF``) whose rows are ordered by the table's keys.
The rows are rebalanced on the partition columns, so each directory's rows
reach one write task, and AQE splits a directory whose rows exceed its
advisory partition size into several tasks, hence several files.  The
graph's collections are small (a few KB to a few hundred KB each), so
per-file parquet overhead, not row data, would dominate a store landed as
one file per (task, directory).  An unpartitioned ``upsert_parquet`` (the
streaming state tables) keeps the plain write: there the rebalance and
sort only add an exchange to each micro-batch's rewrite.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..io import read_state_parquet, replace_parquet_dir
from ..operators.joins import join_upsert


def _vertices_path(root: str, database: str, graph: str) -> str:
    return f"{root}/{database}/{graph}/vertices"


def _edges_path(root: str, database: str, graph: str) -> str:
    return f"{root}/{database}/{graph}/edges"


def _land(
    df: DataFrame, path: str, partition_by: list[str], keys: list[str], mode: str
) -> None:
    """Write ``df`` under ``path`` partitioned by ``partition_by``: one file
    per partition directory (more only where AQE splits a skewed one), rows
    sorted by ``keys``.  The sort leads with the partition columns, so it is
    also the ordering the partitioned write requires and the write plans no
    second sort."""
    order = partition_by + [k for k in keys if k not in partition_by]
    (
        df.hint("rebalance", *partition_by)
        .sortWithinPartitions(*order)
        .write.mode(mode)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_graph(
    vertices: DataFrame,
    edges: DataFrame,
    root: str,
    database: str,
    graph: str,
    mode: str = "overwrite",
) -> None:
    """Land a graph's vertices and edges under ``{root}/{database}/{graph}``:
    one zstd parquet file per collection directory, vertices sorted by
    ``key`` and edges by (``from_key``, ``to_key``) (module docstring).

    The two writes are independent jobs whose final stages run only a few
    tasks each, so they run concurrently: the edge write on a second thread,
    the vertex write on the calling thread, both sharing the session's
    executors.  The second thread is wrapped with
    ``inheritable_thread_target``, so the caller's local properties (job
    group, description, scheduler pool) and the session's job tags carry
    over: cancelling the caller's job group cancels both writes.  The call
    returns once both writes are done; if either fails it raises on the
    calling thread, the vertex write's error first.
    """

    def write_edges() -> None:
        _land(edges, _edges_path(root, database, graph),
              ["from_collection", "to_collection"], ["from_key", "to_key"], mode)

    # leaving the pool joins the edge thread, also when the vertex write raises
    with ThreadPoolExecutor(max_workers=1, thread_name_prefix="write_graph") as pool:
        edges_written = pool.submit(inheritable_thread_target(edges.sparkSession)(write_edges))
        _land(vertices, _vertices_path(root, database, graph), ["collection"], ["key"], mode)
        edges_written.result()


def read_graph_vertices(spark: SparkSession, root: str, database: str, graph: str) -> DataFrame:
    return spark.read.parquet(_vertices_path(root, database, graph))


def upsert_parquet(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    partition_by: list[str] | None = None,
) -> None:
    """MERGE-style upsert into a parquet path: full-outer join of incoming vs
    existing with incoming-wins semantics (no deletes), rewritten atomically
    via a staging path.  (With a transactional table format this is a single
    MERGE INTO; plain parquet needs the rewrite.)  A partitioned table lands
    like ``write_graph``: one zstd file per partition directory, rows sorted
    by ``keys``; an unpartitioned one is written as the merge leaves it."""
    existing = read_state_parquet(spark, path)
    if existing is not None:
        merged = join_upsert(incoming, existing.select(*incoming.columns), keys)
    else:  # first write: nothing to merge
        merged = incoming
    # two-phase: a source path cannot be overwritten while being read, so
    # materialize the merge to a staging dir, then rename it into place
    staging = path.rstrip("/") + "__staging"
    if partition_by:
        _land(merged, staging, partition_by, keys, "overwrite")
    else:
        merged.write.mode("overwrite").parquet(staging)
    replace_parquet_dir(spark, staging, path.rstrip("/"))
