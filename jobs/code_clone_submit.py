"""spark-submit entry point for the source-code clone-clustering pipeline.

The north_rule's launch shape for the code arm: package the library once,
submit to any cluster size — no local[N] assumptions in the job; parallelism
comes from the cluster manager and the input table's partitioning.

    cd /path/to/repo && zip -qr /tmp/biblib_spark.zip biblib_spark
    spark-submit --py-files /tmp/biblib_spark.zip \
        --conf "spark.executor.extraJavaOptions=-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100" \
        jobs/code_clone_submit.py \
        --input  s3://bucket/code/            # parquet/Iceberg: (repo, path, commit, lang, content) [+ row_id]
        --work-dir s3://bucket/runs/2026-08-18

(The extraJavaOptions line prevents G1 GCLocker allocation-stall storms on
many-threaded executors — see jobs/cluster_submit.py and
bench_runs/r04/ab_gclocker_summary.json for the measurement.)

Resumable: every stage is an IceTable snapshot under --work-dir, and
re-submitting with the same --work-dir skips completed stages (per-file
lineage verified; changed input rebuilds — plans/checkpoint.py). The
clusters table (row_id, cluster_id, cluster_size) lands under
<work-dir>/clusters; read it with
``IceTable(<work-dir>/clusters).read(spark)``.

If the input lacks a ``row_id`` column one is derived as a deterministic
64-bit hash of (repo, path, commit) — the natural key of a file version per
the input_hint shape.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="code-file parquet/Iceberg path")
    ap.add_argument("--work-dir", required=True, help="stage checkpoint root")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from biblib_spark.plans.code_pipeline import run_code_pipeline

    # no master/core config here: spark-submit + the cluster manager own that
    spark = SparkSession.builder.appName("biblib_spark_code_clones").getOrCreate()
    files = spark.read.parquet(args.input)
    if "row_id" not in files.columns:
        files = files.withColumn(
            "row_id", F.xxhash64("repo", "path", "commit")
        )
    clusters = run_code_pipeline(spark, files, args.work_dir)
    n = clusters.count()
    groups = clusters.filter("cluster_size > 1").select("cluster_id").distinct().count()
    print(f"clustered {n} files; {groups} non-singleton clone clusters")
    spark.stop()


if __name__ == "__main__":
    main()
