"""spark-submit entry point for the parse + dedup + cluster pipeline.

The north_rule's launch shape: package the library once, submit the job to
any cluster size — the code contains no local[N] assumptions; parallelism
comes from the cluster manager and the input's partitioning.

    cd /path/to/repo && zip -qr /tmp/biblib_spark.zip biblib_spark
    spark-submit --py-files /tmp/biblib_spark.zip \
        --conf "spark.executor.extraJavaOptions=-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=100" \
        jobs/cluster_submit.py \
        --input  s3://bucket/corpus/          # parquet/Iceberg dir: (repo, path, commit, lang, content) + row_id
        --work-dir s3://bucket/runs/2026-08-16 \
        [--source-col repo] [--no-year-blocking]

The extraJavaOptions line matters on G1 executors: JNI codec critical
sections + Tungsten's 16-128 MiB humongous allocations turn the default
GCLocker retry count (2) into whole-executor allocation-stall storms —
measured 1.18x end-to-end at 32 threads (bench_runs/r04/
ab_gclocker_summary.json; biblib_spark/session.py bakes the same flag
into local sessions).

Resumable: re-submitting with the same --work-dir skips completed stages
(per-partition lineage verified; changed input or config rebuilds). The
work dir holds two stages: <work-dir>/features (the dedup feature table) and
<work-dir>/clusters (the output). Without --source-col the detected format
is each record's source. Unparseable payloads are not written; use
biblib_spark.sources.parse.parse_corpus_quarantine to list them.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="corpus parquet/Iceberg path")
    ap.add_argument("--work-dir", required=True, help="stage checkpoint root")
    ap.add_argument(
        "--source-col",
        default=None,
        help="corpus column carrying the per-payload source register (M12)",
    )
    ap.add_argument(
        "--source-preferences",
        default="",
        help="comma-separated source preference order for election",
    )
    ap.add_argument(
        "--no-year-blocking",
        action="store_true",
        help="disable M1 year blocking (O(n^2) within blocks becomes global)",
    )
    ap.add_argument(
        "--table-format",
        default="parquet",
        choices=("parquet", "iceberg"),
        help="stage checkpoint format: _STAGE_OK-marked parquet or IceTable"
        " snapshot commits (atomic, time-travelable rebuilds)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from biblib_spark.operators.dedupe import DedupConfig
    from biblib_spark.plans.icetable import read_table_or_parquet
    from biblib_spark.plans.pipeline import run_pipeline

    # no master/core config here: spark-submit + the cluster manager own that
    spark = SparkSession.builder.appName("biblib_spark_cluster").getOrCreate()
    cfg = DedupConfig(
        group_by_year=not args.no_year_blocking,
        source_preferences=[s for s in args.source_preferences.split(",") if s],
    )
    # --input may be an IceTable (snapshot-isolated read) or plain parquet
    corpus = read_table_or_parquet(spark, args.input)
    clusters = run_pipeline(
        spark, corpus, args.work_dir, cfg, source_col=args.source_col,
        table_format=args.table_format,
    )
    n = clusters.count()
    uniq = clusters.filter("is_unique").count()
    print(f"clustered {n} records into {uniq} unique representatives")
    spark.stop()


if __name__ == "__main__":
    main()
