#!/usr/bin/env python3
"""spark-submit entrypoint for the KG-construction pipeline.

Usage (north rule: ``spark-submit --py-files`` at two cluster sizes):

    zip -r /tmp/sophia_rs_spark.zip sophia_rs_spark
    spark-submit --master local[8]  --py-files /tmp/sophia_rs_spark.zip \\
        jobs/run_pipeline.py --pages <parquet-dir> --workdir <dir>
    spark-submit --master local[32] --py-files /tmp/sophia_rs_spark.zip \\
        jobs/run_pipeline.py --pages <parquet-dir> --workdir <dir>

On a real cluster the same invocation takes ``--master yarn`` /
``--num-executors N``; nothing in the job is local-mode specific.
Prints one JSON line with stage row counts, lineage checksums, and
throughput.  Re-running with the same workdir resumes from the stage
manifests (checkpoint-resume).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="parquet dir with the pages table")
    ap.add_argument("--workdir", required=True, help="stage checkpoint directory")
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--salt-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("sophia-rs-spark-pipeline").getOrCreate()
    from sophia_rs_spark.plans.pipeline import load_manifest, run_pipeline

    t0 = time.time()
    pages = spark.read.parquet(args.pages)
    run_pipeline(
        spark,
        pages,
        args.workdir,
        strict=args.strict,
        salt_partitions=args.salt_partitions,
    )
    elapsed = time.time() - t0
    # the stage manifests already hold every row count: no recount jobs
    rows = {
        st: load_manifest(args.workdir, st)["rows"]
        for st in ("graph", "terms", "quarantine", "components", "lineage")
    }
    n_graph = rows["graph"]
    report = {
        "pages": pages.count(),
        "graph_rows": n_graph,
        "terms": rows["terms"],
        "quarantined": rows["quarantine"],
        "components": rows["components"],
        "lineage_partitions": rows["lineage"],
        "elapsed_sec": round(elapsed, 3),
        "triples_per_sec": round(n_graph / elapsed, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
