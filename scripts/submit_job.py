"""spark-submit entry point for the CPD-adaptive rollup job.

Cluster deployment (the sandbox has no cluster; this is the documented path):

    python scripts/make_pyfiles.py                       # builds dist/pysatl_cpd_spark.zip
    spark-submit \
      --master spark://<master>:7077 \
      --deploy-mode client \
      --num-executors $N --executor-cores 8 --executor-memory 16g \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.skewJoin.enabled=true \
      --conf spark.sql.shuffle.partitions=$((N * 16)) \
      --py-files dist/pysatl_cpd_spark.zip \
      scripts/submit_job.py --input /data/transcripts --workdir /data/job1

In local mode (driver proxy): python scripts/submit_job.py --local 8 ...
"""

from __future__ import annotations

import argparse
import sys

sys.path.insert(0, "/root/repo")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--input",
        default=None,
        help="transcripts table ref: iceberg:catalog.db.table | parquet:/path | /path "
        "(default: synthesize)",
    )
    ap.add_argument("--workdir", default="/tmp/pysatl_cpd_job")
    ap.add_argument("--local", type=int, default=None, help="local[N] proxy mode")
    ap.add_argument("--n-conversations", type=int, default=1000)
    ap.add_argument("--avg-turns", type=int, default=400)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    if args.local:
        from pysatl_cpd_spark.session import get_spark

        spark = get_spark(cores=args.local, app_name="cpd_rollup_job")
    else:
        spark = SparkSession.builder.appName("cpd_rollup_job").getOrCreate()

    from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD
    from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
    from pysatl_cpd_spark.operators.rollup import rollup_all_tiers
    from pysatl_cpd_spark.operators.segments import encode_segments_colocated
    from pysatl_cpd_spark.operators.series import turn_rate_series
    from pysatl_cpd_spark.plans.lineage import CheckpointedJob
    from pysatl_cpd_spark.sources.transcripts import transcripts_table

    job = CheckpointedJob(
        spark, args.workdir, {"input": args.input, "n": args.n_conversations}
    )

    def load():
        if args.input:
            from pysatl_cpd_spark.sources.catalog import load_table

            return load_table(spark, args.input).select("conv_id", "turn_idx", "ts")
        return transcripts_table(
            spark, n_conversations=args.n_conversations, avg_turns=args.avg_turns, seed=42
        ).select("conv_id", "turn_idx", "ts")

    raw = job.stage("load", load)
    series = job.stage(
        "series", lambda: turn_rate_series(raw.df), inputs_fp=job.stage_fp("load")
    )

    def colocated():
        # the co-located dispatch needs complete series per partition
        return series.df.repartition(spark.sparkContext.defaultParallelism, "series_id")

    def run_detect():
        # batched BayesianLinearHeuristic(BayesianOnlineDetector(ConstantHazard,
        # HeuristicGaussianVsExponential, 20, Threshold(0.04), Argmax), 500, 250)
        return detect_lockstep_colocated(
            colocated(),
            lambda: LockstepLinearBOCPD(
                1.0 / (1.0 - 0.5 ** (1.0 / 500)), 20, 0.04, 500, 250
            ),
        )

    cps = job.stage("detect", run_detect, inputs_fp=job.stage_fp("series"))
    job.stage(
        "segments",
        lambda: encode_segments_colocated(colocated(), cps.df),
        inputs_fp=job.stage_fp("detect"),
    )
    for tier, df in rollup_all_tiers(
        raw.df.select("conv_id", "ts", F.lit(1.0).alias("value")), ["conv_id"]
    ).items():
        job.stage(f"rollup_{tier}", lambda d=df: d, inputs_fp=job.stage_fp("load"))
    print(f"job complete; lineage + metrics at {args.workdir}/_metrics")


if __name__ == "__main__":
    main()
