"""Sink round-trips and the versioned downloader state machine."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms, fixture_triples
from cell_kn_mvp_etl_ontologies_spark.plans import build_graph, clean_triples
from cell_kn_mvp_etl_ontologies_spark.sinks.graph import (
    read_graph_vertices,
    upsert_parquet,
    write_graph,
)
from cell_kn_mvp_etl_ontologies_spark.sinks.jsonl import export_jsonl
from cell_kn_mvp_etl_ontologies_spark.sinks.side_outputs import (
    write_deprecated_terms,
    write_edge_labels,
)
from cell_kn_mvp_etl_ontologies_spark.sources.files import (
    list_files_matching_pattern,
    scan_dir_regex,
)
from cell_kn_mvp_etl_ontologies_spark.sources.http_versioned import update_downloads
from cell_kn_mvp_etl_ontologies_spark.sources.owl_fixtures import (
    NO_VERSION_TEST_OWL,
    VERSION_INFO_TEST_OWL,
    write_fixture_dir,
)


@pytest.fixture(scope="module")
def graph(spark):
    clean = clean_triples(fixture_triples(spark), keep_src_file=False)
    return build_graph(clean, fixture_ro_terms(spark))


def test_graph_sink_roundtrip(spark, graph, tmp_path):
    root = str(tmp_path / "store")
    write_graph(graph.vertices, graph.edges, root, "Cell-KN-Ontologies", "KN-Ontologies-v2.0")
    back = read_graph_vertices(spark, root, "Cell-KN-Ontologies", "KN-Ontologies-v2.0")
    assert back.count() == graph.vertices.count()
    # partition pruning: reading one collection touches only its directory
    assert back.filter(F.col("collection") == "GO").count() == 1
    assert os.path.isdir(f"{root}/Cell-KN-Ontologies/KN-Ontologies-v2.0/vertices/collection=CL")


def test_write_graph_concurrent_writes_keep_job_group(spark, graph, tmp_path):
    """write_graph lands edges on a second thread: its jobs stay in the
    caller's job group, both directories land, an edge failure is raised
    to the caller, and no thread outlives the call."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    root = str(tmp_path / "store")
    threads = threading.active_count()
    before = job_ids()
    sc.setJobGroup("wg", "write_graph concurrency")
    try:
        write_graph(graph.vertices, graph.edges, root, "db", "g")
        started = job_ids() - before
        assert started
        assert started <= set(sc.statusTracker().getJobIdsForGroup("wg"))
        assert os.path.exists(f"{root}/db/g/vertices/_SUCCESS")
        assert os.path.exists(f"{root}/db/g/edges/_SUCCESS")
        assert threading.active_count() == threads

        bad = graph.edges.withColumn(
            "from_key", F.coalesce(F.raise_error(F.lit("edge boom")).cast("string"), "from_key")
        )
        with pytest.raises(Exception, match="edge boom"):
            write_graph(graph.vertices, bad, str(tmp_path / "bad"), "db", "g")
        assert threading.active_count() == threads
    finally:
        jsc.clearJobGroup()


def _landed_files(path):
    """{partition directory: [data file, ...]} under a landed table."""
    out = {}
    for dirpath, _, names in os.walk(path):
        data = [n for n in names if not n.startswith((".", "_"))]
        if data:
            out[dirpath] = data
    return out


def test_graph_landing_layout(spark, graph, tmp_path):
    """write_graph and upsert_parquet land each partition directory as one
    zstd parquet file with its rows ordered by key, and the upserted store
    is the old store overridden by the incoming rows (incoming wins, no
    deletes)."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "store")
    write_graph(graph.vertices, graph.edges, root, "db", "g")
    g = f"{root}/db/g"
    v_old = {(r["collection"], r["key"]): r["attrs"] for r in graph.vertices.collect()}
    e_keys = ["from_collection", "to_collection", "from_key", "to_key"]
    e_old = {tuple(r[k] for k in e_keys): (r["labels"], r["sources"]) for r in graph.edges.collect()}

    v_new = spark.createDataFrame(
        [("CL", "0000576", {"label": ["classical monocyte"]}),
         ("CL", "0000001", {"label": ["primary cultured cell"]}),
         ("UBERON", "0002390", {"label": ["hematopoietic system"]})],
        graph.vertices.schema,
    )
    e_new = spark.createDataFrame(
        [("CL", "CL", "0000235", "0000576", ["SUB_CLASS_OF"], ["CL"]),
         ("CL", "UBERON", "0000235", "0002390", ["PART_OF"], ["CL"])],
        graph.edges.schema,
    )
    upsert_parquet(spark, v_new, f"{g}/vertices", ["collection", "key"], ["collection"])
    upsert_parquet(spark, e_new, f"{g}/edges", e_keys, ["from_collection", "to_collection"])

    for table, sort_keys in (("vertices", ["key"]), ("edges", ["from_key", "to_key"])):
        files = _landed_files(f"{g}/{table}")
        assert files and all(len(names) == 1 for names in files.values()), files
        for dirpath, (name,) in files.items():
            f = pq.ParquetFile(os.path.join(dirpath, name))
            meta = f.metadata
            assert {
                meta.row_group(i).column(j).compression
                for i in range(meta.num_row_groups)
                for j in range(meta.num_columns)
            } == {"ZSTD"}
            rows = f.read(columns=sort_keys).to_pylist()
            order = [tuple(r[k] for k in sort_keys) for r in rows]
            assert order == sorted(order), dirpath

    v_got = {(r["collection"], r["key"]): r["attrs"]
             for r in spark.read.parquet(f"{g}/vertices").collect()}
    e_got = {tuple(r[k] for k in e_keys): (r["labels"], r["sources"])
             for r in spark.read.parquet(f"{g}/edges").collect()}
    v_old.update({(r["collection"], r["key"]): r["attrs"] for r in v_new.collect()})
    e_old.update({tuple(r[k] for k in e_keys): (r["labels"], r["sources"])
                  for r in e_new.collect()})
    assert v_got == v_old
    assert e_got == e_old


def test_upsert_parquet(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k: long, v: string")
    upsert_parquet(spark, base, path, ["k"])
    update = spark.createDataFrame([(2, "B"), (3, "c")], "k: long, v: string")
    upsert_parquet(spark, update, path, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_side_outputs_and_jsonl(spark, graph, tmp_path):
    dep = str(tmp_path / "dep")
    write_deprecated_terms(graph.deprecated, dep)
    assert {r["value"] for r in spark.read.text(dep).collect()} == {"CL_0000999"}
    lab = str(tmp_path / "lab")
    write_edge_labels(graph.edge_labels, lab)
    rows = {
        (r["raw_label"], r["normalized_label"])
        for r in spark.read.option("header", "true").csv(lab).collect()
    }
    assert ("develops from", "DEVELOPS_FROM") in rows
    j = str(tmp_path / "jsonl")
    export_jsonl(graph.deprecated, j, coalesce=1)
    assert spark.read.json(j).count() == 1


def test_scan_dir_regex(spark, tmp_path_factory):
    d = write_fixture_dir(str(tmp_path_factory.mktemp("obo_scan")))
    # PathUtilitiesTest.java:19-59: all five fixtures match .*\.owl
    assert len(list_files_matching_pattern(d, r".*\.owl")) == 5
    assert len(list_files_matching_pattern(d, r"ro\.owl")) == 1
    assert list_files_matching_pattern(d, r".*\.nope") == []
    with pytest.raises(FileNotFoundError):
        list_files_matching_pattern(d + "/missing", r".*")
    df = scan_dir_regex(spark, d, r".*\.owl", glob="*.owl")
    assert df.count() == 5
    assert scan_dir_regex(spark, d, r"ro\.owl").count() == 1


def _fake_fetch_factory(payload: bytes):
    def fetch(url: str) -> bytes:
        return payload

    return fetch


def test_downloader_state_machine(tmp_path):
    d = str(tmp_path / "obo")
    url = ["http://example.org/obo/cl.owl"]
    old = VERSION_INFO_TEST_OWL.replace("2024-01-15", "2023-05-01").encode()
    new = VERSION_INFO_TEST_OWL.encode()  # 2024-01-15

    # first download: init
    out = update_downloads(url, d, fetch=_fake_fetch_factory(old))[0]
    assert out.decision == "init" and out.version_new == "2023-05-01"
    # newer version: replace + archive
    out = update_downloads(url, d, fetch=_fake_fetch_factory(new))[0]
    assert out.decision == "replace"
    assert out.version_cur == "2023-05-01" and out.version_new == "2024-01-15"
    assert os.path.exists(f"{d}/.archive/cl-2023-05-01.owl")
    # same version again: keep, download removed
    out = update_downloads(url, d, fetch=_fake_fetch_factory(new))[0]
    assert out.decision == "keep"
    assert not os.path.exists(f"{d}/cl-new.owl")
    # unversioned download against versioned current: keep
    out = update_downloads(url, d, fetch=_fake_fetch_factory(NO_VERSION_TEST_OWL.encode()))[0]
    assert out.decision == "keep" and out.version_new is None


def test_downloader_requires_explicit_fetch(tmp_path):
    with pytest.raises(ValueError):
        update_downloads(["http://example.org/x.owl"], str(tmp_path))
