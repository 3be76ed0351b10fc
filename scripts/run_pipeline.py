"""Cluster entry point: ``spark-submit --py-files deepie_spark.zip
scripts/run_pipeline.py --pages <dir> --out <dir> --manifest <dir>``.

The north-rule execution path: the driver builds its session with
``SparkSession.builder.getOrCreate()`` (so spark-submit's master /
executor configuration wins), reads the pages table, runs the flagship
pages→triples pipeline over buckets NOT yet recorded in the manifest,
and writes part_id-partitioned triples + lineage rows.  Rerunning the
same command resumes: completed buckets are anti-joined away.

On a real cluster this is submitted with ``--master yarn|k8s://…`` and
``--num-executors N``; the code is identical — partitioning, broadcast
sizes, and AQE settings do not assume local mode.

Its workers fork from the stock ``pyspark.daemon``, not
``deepie_spark.worker_daemon`` (``session.get_spark``): ``--py-files``
join ``sys.path`` per task, after the daemon has started, so the daemon
could not import a module shipped in them.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    from deepie_spark.operators.pairs import MAX_DISTANCE

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet dir")
    ap.add_argument("--out", required=True, help="triples output dir")
    ap.add_argument("--manifest", required=True, help="lineage manifest dir")
    ap.add_argument("--max-distance", type=int, default=MAX_DISTANCE)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("deepie-kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from deepie_spark.plans.pipeline import extract_triples, part_id_col
    from deepie_spark.plans.resume import resume_run

    pages = spark.read.parquet(args.pages).withColumn(
        "part_id", part_id_col()
    )
    result = resume_run(
        spark,
        pages,
        args.out,
        args.manifest,
        lambda todo: extract_triples(
            spark, todo.drop("part_id"), max_distance=args.max_distance
        ),
    )
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
