"""A/B profile of the graph_build_full bench path.

Times build + edges materialization with persist_clean on/off and dumps the
executed plan's join strategies so shuffle-vs-broadcast decisions are visible.
With persist_clean on, build_graph itself runs a Spark job (the eager
localCheckpoint of the clean triples), so the timed region starts before the
build_graph call in both modes.

Usage: python tools/profile_graph_build.py [--runs 2]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession

from cell_kn_mvp_etl_ontologies_spark.session import ENGINE_SQL_CONF

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


def build(spark, persist_clean: bool):
    import bench

    from cell_kn_mvp_etl_ontologies_spark.fixtures import fixture_ro_terms
    from cell_kn_mvp_etl_ontologies_spark.plans import build_graph

    # the bench row's own triples, so both modes time the bench's build
    triples = bench.synthetic_clean_triples(spark)
    return build_graph(triples, fixture_ro_terms(spark), persist_clean=persist_clean)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("profile-graph-build")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_SQL_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for persist_clean in (False, True):
        times = []
        for _ in range(args.runs):
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            g = build(spark, persist_clean)
            g.edges.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            if args.explain and not persist_clean:
                plan = g.edges._jdf.queryExecution().executedPlan().toString()
                joins = [
                    line.strip()[:120]
                    for line in plan.splitlines()
                    if re.search(r"Join|Exchange", line) and "Reused" not in line
                ]
                print("\n".join(joins))
            g.unpersist()
        print(f"persist_clean={persist_clean}: {[round(t, 2) for t in times]} min={min(times):.2f}")


if __name__ == "__main__":
    main()
