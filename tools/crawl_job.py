"""spark-submit entrypoint for the frontier crawl (north_rule run mode).

Usage:
  spark-submit --master <master> --py-files <pkg.zip> tools/crawl_job.py \
      --ckpt /path/ckpt --docs 20000 --hosts 32 --iterations 3 \
      [--resume K] [--budget 256] [--run-id run1]

The package ships as a zip via --py-files (built by
tools/spark_submit_crawl.sh), so the same invocation works unchanged on a
multi-executor cluster — only --master changes. Prints one JSON line with
per-iteration scheduled counts and throughput.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--hosts", type=int, default=32)
    ap.add_argument("--iterations", type=int, default=3)
    ap.add_argument("--seeds-per-host", type=int, default=300)
    ap.add_argument("--budget", type=float, default=256.0)
    ap.add_argument("--resume", type=int, default=None)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--bloom-buckets", type=int, default=None,
                    help="seen/prefilter bucket count; default: derived "
                         "from --docs (scaling.derive_bloom_buckets; 4096 "
                         "at 10^10)")
    ap.add_argument("--compact-every", type=int, default=4,
                    help="collapse seen epochs every K iterations (0=off)")
    ap.add_argument("--robots-mode", choices=("any_disallow",
                                              "longest_match"),
                    default="any_disallow",
                    help="robots precedence: reference-parity any-disallow "
                         "or Google-spec longest-match")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("url-frontier-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from url_pattern_algorithm_spark.plans.crawl import Politeness, run_crawl
    from url_pattern_algorithm_spark.sources.synthetic import docs_df, robots_df

    docs = docs_df(spark, args.docs, args.hosts).persist()
    docs.count()
    rng = spark.range(args.hosts * args.seeds_per_host)
    h = (F.col("id") % args.hosts).cast("string")
    seeds = rng.select(
        F.concat(F.lit("http://site"), h, F.lit(".example.com/cat/news/"),
                 (F.col("id") / args.hosts).cast("long").cast("string")
                 ).alias("url"),
        (1.0 + F.pmod(F.col("id") * 2654435761, F.lit(1000)) / 1000.0
         ).alias("priority"),
    )
    robots = robots_df(spark, args.hosts)
    pol = Politeness(args.budget, args.budget, args.budget)

    t0 = time.time()
    counts = run_crawl(
        spark, docs, seeds, robots, args.ckpt, n_docs=args.docs,
        iterations=args.iterations, run_id=args.run_id,
        resume_from=args.resume, pol=pol,
        bloom_buckets=args.bloom_buckets, compact_every=args.compact_every,
        robots_mode=args.robots_mode,
    )
    dt = time.time() - t0
    total = sum(counts.values())
    print(json.dumps({
        "scheduled": counts, "total": total, "sec": round(dt, 2),
        "urls_per_sec": round(total / dt, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
