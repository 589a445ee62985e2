"""Distributed graph-service sink connector: batched per-partition upserts
through a pluggable transport.

The reference loads its graph with per-document HTTP round trips from a
single thread (ArangoDbUtilities.java:80-212 exists/insert/update per doc,
OntologyGraphBuilder.java:254-273).  The distributed shape is: every
executor partition batches its rows and calls a bulk-upsert endpoint, with
bounded retry — N+1 round trips become ceil(rows/batch_size) bulk calls
spread across the cluster.

The transport is a CALLABLE `(collection, list[dict]) -> None` so the
network layer is injected: production passes an HTTP client wrapper
(ArangoDB's /_api/document bulk endpoint with overwriteMode=update, or any
graph service); tests pass a recorder.  The callable must be picklable —
it ships to executors inside the foreachPartition closure.  Keep
connection establishment INSIDE the transport (lazily, per partition),
never captured in the closure: sockets don't pickle.

Idempotence contract: batches are keyed upserts, so retries and Spark task
re-attempts are safe — the same batch applied twice converges to the same
state.  That is the property that lets this run under task-level fault
tolerance with no distributed transaction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

Transport = Callable[[str, list[dict]], None]


def _load_partitions(df, route, transport, batch_size, max_retries, backoff) -> None:
    """One ``foreachPartition`` pass over ``df`` with a batch buffer per
    collection ``route(doc)`` names: a full buffer is sent at once, the
    rest in sorted collection order at partition end, every send with
    bounded retry — so batches are per (partition, collection)."""
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")

    def send(collection: str, batch: list[dict]) -> None:
        for attempt in range(max_retries + 1):
            try:
                transport(collection, batch)
                return
            except Exception:
                if attempt == max_retries:
                    raise
                if backoff is not None:
                    backoff(attempt + 1)

    def handle_partition(rows) -> None:
        buffers: dict[str, list[dict]] = {}
        for row in rows:
            doc = row.asDict(recursive=True)
            coll = route(doc)
            buffers.setdefault(coll, []).append(doc)
            if len(buffers[coll]) >= batch_size:
                send(coll, buffers.pop(coll))
        for coll in sorted(buffers):
            send(coll, buffers[coll])

    df.foreachPartition(handle_partition)


def upsert_via_transport(
    df: DataFrame,
    collection: str,
    transport: Transport,
    batch_size: int = 1000,
    max_retries: int = 3,
    backoff: Callable[[int], None] | None = None,
) -> None:
    """Ship every row of ``df`` to ``transport`` in batches of
    ``batch_size``, per partition, with bounded retry.

    ``backoff(attempt)`` is called between retries (attempt = 1-based retry
    number); default is no-op so tests stay instant — production passes
    ``lambda a: time.sleep(min(2 ** a, 30))`` or similar.  A batch that
    still fails after ``max_retries`` re-raises: the Spark task fails and
    task-level retry re-runs the partition (safe under the idempotent-upsert
    contract).
    """
    _load_partitions(
        df, lambda doc: collection, transport, batch_size, max_retries, backoff
    )


def upsert_graph_via_transport(
    vertices: DataFrame,
    edges: DataFrame,
    transport: Transport,
    vertex_collection_col: str = "collection",
    batch_size: int = 1000,
    max_retries: int = 3,
    backoff: Callable[[int], None] | None = None,
) -> None:
    """Load a property graph through the transport: vertices first (edges
    reference them — same ordering as OntologyGraphBuilder.java:241-273),
    one logical collection per distinct vertex collection value, then the
    edge set as the ``"edges"`` collection.

    The vertices load in one pass: each partition routes its rows into a
    buffer per collection value, so the load is one Spark job however many
    collections there are.  The collection column is checked first, so a
    bad value fails on the driver before any request is sent: its type from
    the schema (no job), then a probe for one null (no shuffle)."""
    col = vertices[vertex_collection_col]
    dtype = vertices.schema[vertex_collection_col].dataType
    bad = None
    if not isinstance(dtype, StringType):
        bad = f"type {dtype.simpleString()}"
    elif vertices.filter(col.isNull()).limit(1).collect():
        bad = "a null value"
    if bad:
        raise ValueError(
            f"vertex column {vertex_collection_col!r} must be non-null strings; "
            f"found {bad} — filter or map it before loading (str(None) would "
            "silently create a 'None' collection in the graph service)"
        )
    args = (transport, batch_size, max_retries, backoff)
    _load_partitions(vertices, lambda doc: doc[vertex_collection_col], *args)
    _load_partitions(edges, lambda doc: "edges", *args)


def arango_flatten_transport(
    inner: Transport, attrs_col: str = "attrs", scalar_single: bool = True
) -> Transport:
    """Adapter that reshapes the engine's vertex rows into the reference's
    ArangoDB document shape before delegating to ``inner``: the pivoted
    ``attrs`` MAP<STRING, ARRAY<STRING>> column is flattened into TOP-LEVEL
    document fields, single-element arrays becoming scalars when
    ``scalar_single`` — exactly the golden state
    OntologyGraphBuilderTest.java:361-368 asserts (list-valued `hasDbXref`
    next to scalar `label`/`hasExactSynonym`/`comment`).

    One deliberate divergence, documented: the reference preserves OWL
    document order inside multi-valued attributes; this engine's pivot
    emits SORTED arrays (the determinism contract every attrs gate pins),
    so list-valued fields land sorted.

    Pure per-batch reshaping (no I/O, no state) — picklable, ships to
    executors inside the foreachPartition closure like any transport."""

    def transport(collection: str, batch: list[dict]) -> None:
        shaped = []
        for doc in batch:
            doc = dict(doc)
            attrs = doc.pop(attrs_col, None) or {}
            for k, vs in attrs.items():
                # Reserved-key guard (ADVICE r10): an attribute named
                # `_key`/`_from`/`_to` (any `_`-prefixed system field),
                # `collection` (the routing field the inner transport
                # assigns downstream), or shadowing an existing document
                # field would silently overwrite the routing fields and
                # corrupt the upsert target.  Data-shaped corruption
                # fails LOUDLY, naming the key — same doctrine as the
                # corrupt-literal gates.
                if k.startswith("_") or k == "collection" or k in doc:
                    raise ValueError(
                        "arango_flatten_transport: attrs key "
                        f"{k!r} would overwrite a reserved/routing "
                        "document field — refusing to flatten"
                    )
                doc[k] = (
                    vs[0]
                    if scalar_single and isinstance(vs, list) and len(vs) == 1
                    else vs
                )
            shaped.append(doc)
        inner(collection, shaped)

    return transport
