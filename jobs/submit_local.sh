#!/usr/bin/env bash
# spark-submit wrapper for single-host runs.
#
# get_spark() sets spark.driver.extraJavaOptions, but under spark-submit the
# driver JVM is ALREADY RUNNING when that conf is read, so the GC fixes
# silently don't apply — and the default G1 + transparent-huge-page churn on
# multi-MB audio byte[] rows has produced GC-thread segfaults
# (StubRoutines arraycopy, SIGSEGV) on this host. Pass the flags at launch.
set -euo pipefail
cd "$(dirname "$0")/.."
# same host-derived default master and heap as get_spark()
MASTER="${SPARK_GRAFT_MASTER:-$(python -c 'from bento_spark.session import default_master; print(default_master())')}"
MEM="${SPARK_GRAFT_DRIVER_MEM:-$(python -c 'from bento_spark.session import default_driver_memory; print(default_driver_memory())')}"
export MALLOC_MMAP_THRESHOLD_=134217728 MALLOC_TRIM_THRESHOLD_=134217728
export ARROW_DEFAULT_MEMORY_POOL=system
python tools/build_pyfiles.py >/dev/null
exec spark-submit \
  --master "$MASTER" \
  --driver-memory "$MEM" \
  --driver-java-options "-XX:+UseParallelGC -Xms${MEM}" \
  --py-files dist/bento_spark.zip \
  jobs/run_pipeline.py "$@"
