"""Production-shaped tier job: spark-submit entry point.

    spark-submit --master local[N] \
        --py-files hdstats_spark.zip,hdstats_oracle.zip \
        jobs/tier_job.py --input <transcripts parquet> --root <tier root> \
        [--reroll-days 2024-01-03,2024-01-04] [--report out.json]

Reads a transcript table, materializes the raw→1m→1h→1d retention tiers with
checkpointed per-day commits (resume = rerun the same command), and prints a
one-line JSON metrics report (rows per tier, rolled-up points/sec).
On a cluster the same command takes --master yarn/k8s and executor confs —
nothing in the job is local-mode specific.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="")
    ap.add_argument("--root", required=True)
    ap.add_argument("--raw-root", default="", help="reuse an ingested raw tier")
    ap.add_argument("--phase", default="all", choices=["all", "ingest", "rollup"])
    ap.add_argument("--input-snapshot", default="adhoc")
    ap.add_argument("--reroll-days", default="")
    ap.add_argument("--report", default="")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--with-composite", action="store_true",
        help="also materialize the geomedian+MAD composite tier from the 1m tier",
    )
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="run the phase this many times (fresh tier root each time) and "
        "report the LAST iteration — JIT/codegen-warm numbers, matching a "
        "long-running production job",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("hdstats-tier-job")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from hdstats_spark.plans.pipeline import TierPipeline

    transcripts = spark.read.parquet(args.input) if args.input else None
    reroll = {d for d in args.reroll_days.split(",") if d}
    for i in range(max(args.repeat, 1)):
        root = args.root if args.repeat <= 1 else f"{args.root}_i{i}"
        pipe = TierPipeline(spark, root, raw_root=args.raw_root or None)
        t0 = time.time()
        metrics = pipe.run(
            transcripts,
            args.input_snapshot,
            reroll_days=reroll,
            phase=args.phase,
            with_composite=args.with_composite,
        )
        wall = time.time() - t0
    metrics["wall_s"] = round(wall, 2)
    pts = metrics.get("points", 0)
    metrics["points_per_sec"] = round(pts / wall, 1) if wall and pts else None
    line = json.dumps(metrics)
    print(line)
    if args.report:
        with open(args.report, "w") as f:
            f.write(line)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
