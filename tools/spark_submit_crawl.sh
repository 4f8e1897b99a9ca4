#!/usr/bin/env bash
# Package the library and run the crawl via spark-submit --py-files —
# the north_rule's cluster run mode. Only --master changes on a real
# cluster (e.g. yarn / k8s with N executors).
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="${MASTER:-local[8]}"
CKPT="${CKPT:-$(mktemp -d /tmp/crawl_ckpt_XXXX)}"
ZIP=/tmp/url_pattern_algorithm_spark.zip

rm -f "$ZIP"
zip -qr "$ZIP" url_pattern_algorithm_spark -x '*__pycache__*'

exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions="${SHUFFLE:-32}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --py-files "$ZIP" \
  tools/crawl_job.py --ckpt "$CKPT" "$@"
