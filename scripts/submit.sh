#!/bin/bash
# spark-submit deployment (north_rule: --py-files packaging, multi-executor).
# Usage: scripts/submit.sh [--job extract|curate|mmcurate] [job args...]
#        (env: SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM,
#        SPARK_GRAFT_EXEC_MEM_MB; unset, task slots come from the CPU
#        affinity mask, the driver heap is half of RAM and each
#        processes-mode executor gets the rest split over the slots, as
#        in ocr_gang_spark/session.py)
set -euo pipefail
JOB="extract"
if [ "${1:-}" = "--job" ]; then
  JOB="$2"; shift 2
fi
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
read -r CPUS DRIVER_MEM EXEC_MEM_MB < <(cd "$ROOT" && python -c \
  'from ocr_gang_spark.session import driver_memory, executor_memory_mb, task_slots as t; print(t(), driver_memory(), executor_memory_mb(t()))')
# SPARK_GRAFT_EXEC_MODE=processes -> local-cluster[N,1,M]: N separate
# single-core executor JVMs (the honest N-executors configuration)
if [ "${SPARK_GRAFT_EXEC_MODE:-threads}" = "processes" ]; then
  MASTER="local-cluster[$CPUS,1,$EXEC_MEM_MB]"
  # ActiveProcessorCount: stop each 1-core executor JVM sizing its
  # GC/JIT pools for the host's core count (see session.py)
  EXEC_CONF=(--conf "spark.executor.memory=${EXEC_MEM_MB}m"
             --conf "spark.executor.extraJavaOptions=-XX:G1HeapRegionSize=32m -XX:ActiveProcessorCount=2")
else
  MASTER="local[$CPUS]"
  EXEC_CONF=()
fi
ZIP="$(mktemp -u /tmp/ocr_gang_spark_XXXX).zip"
(cd "$ROOT" && zip -qr "$ZIP" ocr_gang_spark -x '*__pycache__*')
export SPARK_SUBMIT_RUNNING=1
export OMP_NUM_THREADS=1 OPENBLAS_NUM_THREADS=1 MKL_NUM_THREADS=1
exec spark-submit \
  --master "$MASTER" \
  "${EXEC_CONF[@]}" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.execution.arrow.pyspark.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=512 \
  --conf spark.driver.memory="$DRIVER_MEM" \
  --conf spark.ui.enabled=false \
  --py-files "$ZIP" \
  "$ROOT/jobs/${JOB}_job.py" \
  $([ "$JOB" = "extract" ] && echo "--weights-mlp $ROOT/fixtures/ocrwb.txt --weights-cnn $ROOT/fixtures/cnnwb.txt") \
  "$@"
