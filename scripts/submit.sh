#!/usr/bin/env bash
# Package the engine and run the flagship pipeline via spark-submit
# --py-files (the north rule's deployment mode). On a real cluster set
# MASTER (e.g. yarn / k8s://...) and executor sizing; defaults run local.
#
# usage: scripts/submit.sh <webtext_path> <out_root> [n_lineage_buckets]
#        [--mappings file.json] [--previous-mappings file.json]
set -euo pipefail

HERE="$(cd "$(dirname "$0")/.." && pwd)"
WEBTEXT="${1:?webtext parquet path}"
OUT="${2:?output root}"
BUCKETS="${3:-256}"
shift $(( $# > 3 ? 3 : $# ))
MASTER="${MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}"

ZIP="$(mktemp -d)/sts_otel_spark.zip"
(cd "$HERE" && zip -qr "$ZIP" sts_opentelemetry_collector_spark)

spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.ansi.enabled=false \
  --conf spark.sql.mapKeyDedupPolicy=LAST_WIN \
  --conf spark.sql.sources.partitionOverwriteMode=dynamic \
  --conf spark.python.sql.dataFrameDebugging.enabled=false \
  "$HERE/scripts/run_job.py" "$WEBTEXT" "$OUT" "$BUCKETS" "$@"
