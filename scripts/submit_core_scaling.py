"""spark-submit entry for the north-rule scaling measurement — the
parsed+routed CORE job (scan → pandas-UDF RFC3164 parse → literal route
dispatch → noop write) run under the exact deployment shape the rule names:

    zip -r punt_spark.zip punt_spark
    spark-submit --master local[N]  --py-files punt_spark.zip \\
        scripts/submit_core_scaling.py --input <core fixture dir> --rows M
    spark-submit --master local[4N] --py-files punt_spark.zip \\
        scripts/submit_core_scaling.py --input <core fixture dir> --rows M

Two invocations at N and 4N parallelism on the SAME input stand in for the
rule's two cluster sizes (this sandbox has one node; CPU parallelism is
the axis a multi-executor cluster would scale). Prints ONE JSON line with
wall seconds and turns/sec; divide across the pair for efficiency. A ~10%
warm-up pass precedes the timed pass so a fresh JVM's JIT/codegen and
Python-worker startup don't penalize the short high-parallelism leg.

Imports only from the shipped zip, like submit_job.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="fixture dir containing transcripts.parquet")
    ap.add_argument("--rows", type=int, required=True, help="row count of the fixture (for turns/sec)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from punt_spark.config import default_config
    from punt_spark.parse import with_parsed
    from punt_spark.route import route, routes_df
    from punt_spark.session import SESSION_CONF

    builder = SparkSession.builder.appName("punt-core-scaling")
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    t = spark.read.parquet(
        os.path.join(args.input, "transcripts.parquet")
    ).withColumnRenamed("ts", "turn_ts")
    parsed = with_parsed(t, "text", 2017)
    env = parsed.filter(F.col("parse_ok")).select(
        "conv_id", "turn_idx", "turn_ts",
        "parsed.priority", "parsed.ts", "parsed.hostname",
        "parsed.tag", "parsed.pid", "parsed.content",
    )
    routed, _ = route(env, routes_df(spark, default_config()))
    routed.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(10)) == 0
    ).write.format("noop").mode("overwrite").save()
    t0 = time.monotonic()
    routed.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "master": spark.sparkContext.master,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(args.rows / wall, 1),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
