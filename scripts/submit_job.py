"""spark-submit entrypoint for the KG-construction pipeline.

Deploy (north rule: `spark-submit --py-files` on a multi-executor
cluster; the sandbox runs the same command against a local master):

    python scripts/make_package.py
    spark-submit --master local[8] \
        --py-files dist/graphiti_spark.zip \
        scripts/submit_job.py <sf_dir> <out_dir> [run_id]

On a real cluster swap --master for yarn/k8s and size
spark.sql.shuffle.partitions to ~2-3× total cores; the job itself is
unchanged (the engine ships entirely inside the zip). Output: merged
parquet graph tables + lineage.parquet with per-stage row/triple
counts and timings; re-running with the same run_id resumes (skips
stages whose sentinel exists).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graphiti_submit_out"
    run_id = sys.argv[3] if len(sys.argv) > 3 else "submit1"

    # engine modules resolve from the --py-files zip, which spark-submit
    # puts on the driver's PYTHONPATH before this script starts
    from graphiti_spark import transcripts as tr
    from graphiti_spark.plans import pipeline as pl
    from graphiti_spark.session import ENGINE_SQL_CONF

    # master, memory and partitions come from spark-submit
    spark = (
        SparkSession.builder.appName("graphiti_spark_submit")
        .config(map=ENGINE_SQL_CONF)
        .getOrCreate()
    )

    t = tr.transcripts_from_events(spark, sf_dir)
    counts = pl.run_pipeline(spark, t, out_dir, run_id=run_id)
    print(json.dumps({"run_id": run_id, "out_dir": out_dir, "counts": counts}))
    spark.stop()


if __name__ == "__main__":
    main()
