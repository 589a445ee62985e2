#!/usr/bin/env python3
"""Benchmark of the paper's OWL -> triples -> graph -> store pipeline.

Run from the repository root:

    python3 owlbench/run.py --workload corpus_build --seed 1 --seconds 1 --trace 0
    python3 owlbench/run.py --workload all --seed 1

Workloads (inputs generated from ``--seed`` by ``corpus.py``):

- ``corpus_build``: eight ontology files plus ``ro.owl`` through the whole
  pipeline -- ``plans.extract.ontology_graph_from_owl`` (parse with
  ``sources.owl.scan_rdf_triples``, extract, ``plans.graph_build``),
  ``sinks.graph.write_graph`` with an overwrite landing, and
  ``search.build_inverted_index`` over the landed vertex labels and synonyms.
- ``incremental_reload``: the store holds version 1 of the corpus; the
  operation merges a version 2 graph into it with
  ``sinks.graph.upsert_parquet`` and loads it through ``HttpJsonTransport``
  into an in-process bulk server (``wire.py``).  Both graphs are the rows
  the pipeline lands for those corpora, derived from the generator's model,
  so setup needs no parse or build.  The version 1 store and the server
  state are restored outside the timed region before each operation.

An operation is timed from a fresh Spark session, so the first operation
pays JIT and Python-worker start-up exactly as a batch run does (and a
warm-up operation would not fit the run: one corpus_build operation takes
30 to 60 s on 4 cores); operations repeat until ``--seconds`` have passed
and the median is reported.  After
every operation the landed store is checked against the generator's model;
a mismatch counts as a failed operation.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one
untraced operation, timed as ``--trace 0`` times it, then a traced one in
the warm session, and prints the per-layer metrics: spans around each
layer call (written to standard error as one JSON line at the end), Spark
counters per layer from the status store, and the tracing overhead (traced
minus untraced wall time, so the warm session's gain is netted against the
cost of tracing).  A layer the workload does not run reports 0.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus as C  # noqa: E402
from probes import ProcessTree, Tracer, TreeSampler, null_span, stage_totals  # noqa: E402

WORKLOADS = ["corpus_build", "incremental_reload"]
CORES = 4
# The local-mode driver JVM holds the executors.  A 2 GB heap limit leaves
# most of a 15 GB host to the Python workers and other tenants (Spark's
# default 1 GB ran out of memory on larger corpora).  The heap starts small
# and the serial collector grows it only when what survives a collection
# needs the room, so peak_rss_mb follows what the pipeline holds (about
# 1.3 GB of JVM on corpus_build).  G1, the default here, sizes the heap
# from its pause times instead: on a 4 vCPU host with hypervisor steal the
# JVM's resident size then varied by a fifth between runs.
DRIVER_MEMORY = "2g"
JVM_OPTIONS = "-XX:+UseSerialGC -XX:-UsePerfData"
# classes per ontology file: about 10 MB of OWL over the eight files.  On
# 4 cores a cold corpus_build operation took as long at 8 MB as at 32 MB
# (Spark's per-job and start-up cost dominates), but incremental_reload's
# input generation and setup grow with the size.  At this size a run takes
# at most about a minute even when the host runs at half its usual speed.
CLASSES = 1250
ANNOTATIONS = 1        # extra synonyms and xrefs per class, one owl:Axiom per synonym
# The session starts once per process, and the first preparation is also
# the session's warm-up; repeating it would add several seconds to every
# run, and a run must stay short enough to be repeated many times.
PREPARE_REPEATS = 1
DB, GRAPH = "cell_kn", "ontologies"
V_KEYS = ["collection", "key"]
E_KEYS = ["from_collection", "to_collection", "from_key", "to_key"]
LAYERS = ["owl", "extract", "graph_build", "sinks.graph", "search", "graph_service"]
# job groups (span names) whose Spark work belongs to each layer
LAYER_GROUPS = {
    "owl": ["parse"],
    "extract": ["extract"],
    "graph_build": ["graph_build", "vertices", "edges"],
    "sinks.graph": ["sink", "upsert"],
    "search": ["search"],
    "graph_service": ["wire"],
}
SPARK_COUNTERS = ["executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks"]


def start_spark(work: Path):
    from pyspark.sql import SparkSession

    from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

    builder = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("owlbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "10000")
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"{JVM_OPTIONS} -Djava.io.tmpdir={work / 'tmp'}")
    )
    for key, value in ENGINE_SQL_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree: ProcessTree) -> None:
    """Stop the session, end the gateway JVM (it exits when its stdin
    closes) and wait until no process started by this run is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while len(tree.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def dir_stats(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's marker files excluded."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def landed_digests(spark, store: Path, search: bool) -> dict[str, tuple[int, int]]:
    """Order-independent digests of what the store holds, in one job.  A
    vertex reads as ``corpus.vertex_string`` writes it: its key and its
    attribute map, predicates and values sorted."""
    from pyspark.sql import functions as F

    g = store / DB / GRAPH
    attrs = F.transform(
        F.array_sort(F.map_keys("attrs")),
        lambda a: F.concat(a, F.lit("="), F.array_join(F.array_sort(F.element_at("attrs", a)), ",")),
    )
    parts = [
        spark.read.parquet(str(g / "vertices")).select(
            F.lit("vertices").alias("kind"),
            F.concat(F.concat_ws("/", "collection", "key"), F.lit("|"), F.concat_ws(";", attrs))
            .alias("s"),
        ),
        spark.read.parquet(str(g / "edges")).select(F.lit("edges").alias("kind"), F.concat(
            F.concat_ws("/", "from_collection", "from_key"), F.lit(">"),
            F.concat_ws("/", "to_collection", "to_key"), F.lit(":"),
            F.array_join("labels", ","),
        ).alias("s")),
    ]
    if search:
        parts.append(spark.read.parquet(str(store / DB / "search")).select(
            F.lit("search").alias("kind"),
            F.concat("token", F.lit("#"), F.col("n_docs").cast("string")).alias("s"),
        ))
    union = parts[0]
    for part in parts[1:]:
        union = union.unionByName(part)
    rows = union.groupBy("kind").agg(F.count(F.lit(1)), F.sum(F.crc32("s"))).collect()
    return {r[0]: (int(r[1]), int(r[2])) for r in rows}


def expected_digests(graph: C.ExpectedGraph, search: bool) -> dict[str, tuple[int, int]]:
    out = {
        "vertices": C.digest(graph.vertex_strings()),
        "edges": C.digest(graph.edge_strings()),
    }
    if search:
        out["search"] = C.digest(graph.search_strings())
    return out


def digest_errors(got: dict, want: dict) -> list[str]:
    return [
        f"{k}: landed {got.get(k, (0, 0))} expected {want[k]}"
        for k in want
        if got.get(k, (0, 0)) != want[k]
    ]


def search_docs(vertices):
    """One row per label or synonym of each vertex: the fields the
    reference's search view links."""
    from pyspark.sql import functions as F

    texts = [F.coalesce(F.col("attrs")[a], F.array()) for a in C.SEARCH_ATTRS]
    return vertices.select("collection", "key", F.explode(F.flatten(F.array(*texts))).alias("text"))


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------
class CorpusBuild:
    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.src = work / "owl"
        self.store = work / "store"
        model = C.generate(seed, C.CORPUS_ONTOLOGIES, CLASSES, ANNOTATIONS)
        self.input_bytes = model.write(str(self.src))
        self.expected = C.expected_graph(model)

    def prepare(self) -> None:
        """Nothing to prepare: the landing overwrites."""

    def restore(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def operation(self, tracer: Tracer | None) -> dict:
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from cell_kn_mvp_etl_ontologies_spark.plans.extract import (
            extract_triples,
            ontology_graph_from_owl,
        )
        from cell_kn_mvp_etl_ontologies_spark.plans.graph_build import build_graph
        from cell_kn_mvp_etl_ontologies_spark.search import (
            build_inverted_index,
            text_en_no_stem_tokens,
        )
        from cell_kn_mvp_etl_ontologies_spark.sinks.graph import (
            read_graph_vertices,
            write_graph,
        )
        from cell_kn_mvp_etl_ontologies_spark.sources.owl import scan_xml_elements

        spark, src, root = self.spark, str(self.src), str(self.store)
        counts: dict = {}
        if tracer is None:
            g = ontology_graph_from_owl(spark, src)
            write_graph(g.vertices, g.edges, root, DB, GRAPH)
        else:
            # the same composition as ontology_graph_from_owl, with each
            # layer's output materialised inside its span.  A layer's inputs
            # are released once its output is cached: nothing reads them
            # again, and every cached plan slows the planning of later ones.
            span = tracer.span
            level = StorageLevel.MEMORY_AND_DISK
            persisted: list = []
            with span("extract"):
                # extract_triples persists the raw parse first; counting it
                # fills that cache, which the clean triples then read
                triples = extract_triples(spark, src, persisted_out=persisted).persist(level)
                with span("parse"):
                    counts["raw"] = persisted[0].count()
                counts["clean"] = triples.count()
                for df in persisted:
                    df.unpersist()
            with span("graph_build"):
                ro = scan_xml_elements(spark, src, glob="ro.owl")
                g = build_graph(triples, ro, persist_clean=True)
                with span("vertices"):
                    vertices = g.vertices.persist(level)
                    counts["vertices"] = vertices.count()
                with span("edges"):
                    edges = g.edges.persist(level)
                    counts["edges"] = edges.count()
                counts["deprecated"] = g.deprecated.count()
                g.unpersist()
                triples.unpersist()
            with span("sink"):
                write_graph(vertices, edges, root, DB, GRAPH)
            g.persisted = [vertices, edges]
        with (tracer.span("search") if tracer else null_span("search")):
            landed = read_graph_vertices(spark, root, DB, GRAPH)
            index = build_inverted_index(
                search_docs(landed), V_KEYS, "text", text_en_no_stem_tokens
            )
            index.write.mode("overwrite").parquet(f"{root}/{DB}/search")
        g.unpersist()
        if tracer is not None:
            idx = spark.read.parquet(f"{root}/{DB}/search")
            row = idx.select(F.count(F.lit(1)), F.sum("n_docs")).first()
            counts["terms"], counts["postings"] = int(row[0]), int(row[1] or 0)
        return counts

    def check(self) -> list[str]:
        return digest_errors(landed_digests(self.spark, self.store, True),
                             expected_digests(self.expected, True))

    def layer_metrics(self, tracer: Tracer, counts: dict) -> dict:
        files, size = dir_stats(self.store / DB / GRAPH)
        return {
            "owl.parse_s": tracer.seconds("parse"),
            "owl.raw_triples": counts["raw"],
            "owl.input_mb": self.input_bytes / 2**20,
            "extract.self_s": tracer.get("extract").self_seconds,
            "extract.clean_triples": counts["clean"],
            "extract.keep_ratio": counts["clean"] / counts["raw"],
            "graph_build.vertices_s": tracer.seconds("vertices"),
            "graph_build.edges_s": tracer.seconds("edges"),
            "graph_build.vertices": counts["vertices"],
            "graph_build.edges": counts["edges"],
            "graph_build.deprecated": counts["deprecated"],
            "sinks.graph.write_s": tracer.seconds("sink"),
            "sinks.graph.files": files,
            "sinks.graph.bytes": size,
            "search.index_s": tracer.seconds("search"),
            "search.terms": counts["terms"],
            "search.postings": counts["postings"],
        }


# ---------------------------------------------------------------------------
# incremental_reload
# ---------------------------------------------------------------------------
class IncrementalReload:
    def __init__(self, spark, work: Path, seed: int) -> None:
        from wire import BulkServer

        self.spark = spark
        self.store = work / "store"
        self.v1_store = work / "store_v1"
        v1 = C.generate(seed, C.CORPUS_ONTOLOGIES, CLASSES, ANNOTATIONS)
        v2, _ = C.delta(v1, seed)
        self.g1, self.g2 = C.expected_graph(v1), C.expected_graph(v2)
        self.rows1 = C.graph_rows(self.g1)
        self.rows2 = C.graph_rows(self.g2)
        # the OWL source the version 2 graph stands for
        self.input_bytes = sum(map(len, v2.files().values()))
        self.expected = self.g1.merged_with(self.g2)
        self.rows_changed = self.g1.rows_changed_by(self.g2)
        self.v1_docs = _server_ids(self.g1)
        self.server = BulkServer()
        self.v2: tuple = ()

    def _frames(self, rows):
        vschema = "collection string, key string, attrs map<string,array<string>>"
        eschema = ("from_collection string, to_collection string, from_key string, "
                   "to_key string, labels array<string>, sources array<string>")
        return (self.spark.createDataFrame(rows[0], vschema),
                self.spark.createDataFrame(rows[1], eschema))

    def prepare(self) -> None:
        """Land version 1 with the graph sink and hold the version 2 graph
        in memory, as a reload that has already built it would."""
        from cell_kn_mvp_etl_ontologies_spark.sinks.graph import write_graph

        shutil.rmtree(self.v1_store, ignore_errors=True)
        v, e = self._frames(self.rows1)
        write_graph(v, e, str(self.v1_store), DB, GRAPH)
        for df in self.v2:
            df.unpersist()
        self.v2 = tuple(df.persist() for df in self._frames(self.rows2))
        for df in self.v2:
            df.count()

    def restore(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.v1_store, self.store)
        self.server.restore(self.v1_docs)

    def operation(self, tracer: Tracer | None) -> dict:
        from cell_kn_mvp_etl_ontologies_spark.sinks.graph import upsert_parquet
        from cell_kn_mvp_etl_ontologies_spark.sinks.graph_service import (
            upsert_graph_via_transport,
        )
        from cell_kn_mvp_etl_ontologies_spark.sinks.http_transport import HttpJsonTransport

        span = tracer.span if tracer else null_span
        g = self.store / DB / GRAPH
        vertices, edges = self.v2
        with span("upsert"):
            upsert_parquet(self.spark, vertices, str(g / "vertices"), V_KEYS, ["collection"])
            upsert_parquet(self.spark, edges, str(g / "edges"), E_KEYS,
                           ["from_collection", "to_collection"])
        with span("wire"):
            upsert_graph_via_transport(vertices, edges, HttpJsonTransport(self.server.url),
                                       batch_size=1000)
        return {}

    def check(self) -> list[str]:
        errors = digest_errors(landed_digests(self.spark, self.store, False),
                               expected_digests(self.expected, False))
        n_store = len(self.expected.vertices) + len(self.expected.edges)
        with self.server.lock:
            held = set(self.server.docs)
        if len(held) != n_store or held != _server_ids(self.expected):
            errors.append(f"server holds {len(held)} documents, store {n_store}")
        return errors

    def layer_metrics(self, tracer: Tracer, counts: dict) -> dict:
        # rows the upsert's write jobs wrote, from the status store
        rewritten = stage_totals(self.spark, ["upsert"]).output_records
        s = self.server
        return {
            "sinks.graph.upsert_s": tracer.seconds("upsert"),
            "sinks.graph.rows_rewritten": rewritten,
            "sinks.graph.rewrite_ratio": rewritten / self.rows_changed,
            "graph_service.load_s": tracer.seconds("wire"),
            "graph_service.requests": s.requests,
            "graph_service.bytes": s.bytes,
            "graph_service.docs": s.received,
            "graph_service.docs_per_request": s.received / max(s.requests, 1),
        }

    def close(self) -> None:
        self.server.close()


def _server_ids(graph: C.ExpectedGraph) -> set[tuple]:
    return {*graph.vertices, *(("edges", *k) for k in graph.edges)}


WORKLOAD_CLASSES = {"corpus_build": CorpusBuild, "incremental_reload": IncrementalReload}

# Every per-layer metric, so each traced run reports the full set; a layer
# the workload does not exercise reads 0.
PER_LAYER = [
    "owl.parse_s", "owl.raw_triples", "owl.input_mb", "owl.tasks", "owl.max_task_s",
    "extract.self_s", "extract.clean_triples", "extract.keep_ratio",
    "graph_build.vertices_s", "graph_build.edges_s", "graph_build.vertices",
    "graph_build.edges", "graph_build.deprecated",
    "sinks.graph.write_s", "sinks.graph.files", "sinks.graph.bytes",
    "sinks.graph.upsert_s", "sinks.graph.rows_rewritten", "sinks.graph.rewrite_ratio",
    "search.index_s", "search.terms", "search.postings",
    "graph_service.load_s", "graph_service.requests", "graph_service.bytes",
    "graph_service.docs", "graph_service.docs_per_request",
    *[f"{layer}.{c}" for layer in LAYERS for c in SPARK_COUNTERS if f"{layer}.{c}" != "owl.tasks"],
    "trace.overhead_s",
]
UNITS = {
    "_s": "s", "_mb": "MB", ".bytes": "bytes", "_ratio": "ratio",
    ".docs_per_request": "docs/request",
}


def unit_of(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def timed_op(w, tracer: Tracer | None, tree: ProcessTree) -> tuple[float, TreeSampler, dict]:
    """Restore the workload's starting state, then time one operation."""
    w.restore()
    with TreeSampler(tree) as sampler:
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.span("op"):
                counts = w.operation(tracer)
        else:
            counts = w.operation(None)
        wall = time.perf_counter() - t0
    return wall, sampler, counts


def run(args, work: Path) -> dict:
    tree = ProcessTree()
    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        t = time.perf_counter()
        w = WORKLOAD_CLASSES[args.workload](spark, work, args.seed)
        inputs_s = time.perf_counter() - t   # input generation: not part of setup_s
        try:
            preps = []
            for _ in range(PREPARE_REPEATS):
                t = time.perf_counter()
                w.prepare()
                preps.append(time.perf_counter() - t)
            summary = {"session_s": session_s, "inputs_s": inputs_s,
                       "prepare_s": statistics.median(preps)}
            measure = measure_traced if args.trace else measure_untraced
            result = measure(args, spark, w, tree, session_s + statistics.median(preps), summary)
        finally:
            if hasattr(w, "close"):
                w.close()
    finally:
        stop_spark(spark, tree)
    print(f"owlbench: {args.workload} seed={args.seed} "
          + " ".join(f"{k}={v:.4g}" for k, v in summary.items()), file=sys.stderr)
    return result


def result_of(checks: list[list[str]], metrics: dict) -> dict:
    failed = sum(1 for errs in checks if errs)
    for errs in checks:
        for e in errs:
            print(f"owlbench: check failed: {e}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def measure_untraced(args, spark, w, tree, setup_s: float, summary: dict) -> dict:
    walls, cpus, peaks, checks = [], [], [], []
    start = time.perf_counter()
    while not walls or time.perf_counter() - start < args.seconds:
        wall, sampler, _ = timed_op(w, None, tree)
        checks.append(w.check())
        walls.append(wall)
        cpus.append(sampler.cpu_s)
        peaks.append(sampler.peak_mb)
    size = dir_stats(w.store)[1]
    summary.update(error_rate=sum(map(bool, checks)) / len(checks), operations=len(checks),
                   input_mb=w.input_bytes / 2**20)
    return result_of(checks, {
        "run_s": (statistics.median(walls), "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "peak_rss_mb": (statistics.median(peaks), "MB"),
        "setup_s": (setup_s, "s"),
        "store_bytes_per_input_byte": (size / w.input_bytes, "ratio"),
    })


def measure_traced(args, spark, w, tree, setup_s: float, summary: dict) -> dict:
    """An untraced operation exactly as an untraced run times it, then the
    traced one in the now warm session; the overhead is their difference.
    The traced operation's output is the one checked."""
    untraced = timed_op(w, None, tree)[0]
    tracer = Tracer(spark)
    traced, _, counts = timed_op(w, tracer, tree)
    checks = [w.check()]
    layer = w.layer_metrics(tracer, counts)
    for name in LAYERS:
        totals = stage_totals(spark, LAYER_GROUPS[name], task_times=name == "owl")
        for c in SPARK_COUNTERS:
            layer[f"{name}.{c}"] = getattr(totals, c)
        if name == "owl":
            layer["owl.max_task_s"] = totals.max_task_s
    layer["trace.overhead_s"] = traced - untraced
    print("owlbench: spans " + json.dumps(tracer.rows()), file=sys.stderr)
    summary.update(traced_s=traced, untraced_s=untraced)
    return result_of(checks, {m: (layer.get(m, 0), unit_of(m)) for m in PER_LAYER})


def run_all(args) -> int:
    """Every workload in its own process; prints each metric with its unit."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__)), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=os.getcwd())
        if proc.returncode != 0:
            print(f"{name}: exited with {proc.returncode}")
            status = 1
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']} "
              f"error_rate={result['failed'] / result['attempted']:.4g}")
        for metric, m in result["metrics"].items():
            print(f"  {metric} = {m['value']:.6g} {m['unit']}")
        status |= 0 if result["correct"] else 1
    return status


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if args.workload == "all":
        return run_all(args)

    work = ROOT / ".owlbench_work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # everything Spark, Python workers and tempfile write stays in the
    # work directory; workers import the package from the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (str(ROOT), os.environ.get("PYTHONPATH")) if x
    )
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
