"""spark-submit entry point: run a YAML pipeline as a Structured Streaming
job with the exactly-once sink.

Cluster usage (north rule: spark-submit --py-files on multi-executor):

    python tools/build_pyfiles.py                      # -> dist/bento_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/bento_spark.zip \
        jobs/run_pipeline.py --config pipeline.yaml \
        --checkpoint s3://bucket/ckpt [--continuous]

Local smoke (what the sandbox runs):

    spark-submit --master 'local[8]' --py-files dist/bento_spark.zip \
        jobs/run_pipeline.py --config config/examples/clips_window.yaml \
        --checkpoint /tmp/ckpt

The job resumes from the checkpoint if one exists (offset/commit logs +
state store), so kill/restart is exactly-once end-to-end. With
--continuous it runs until SIGTERM (processingTime trigger); default is
one availableNow drain (bounded catch-up, the reference's `read_until`
shape for bounded runs).
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", required=True, help="pipeline YAML path")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--continuous", action="store_true", help="run until stopped (processingTime trigger)")
    ap.add_argument("--stage-clips", type=int, default=0, metavar="N",
                    help="first materialize N synthetic clips to input.parquet.path")
    ap.add_argument("--timeout", type=int, default=0, help="max seconds to run (0 = no bound)")
    args = ap.parse_args()

    # Route through the session factory even under spark-submit: the JVM
    # already exists (so GC flags come from jobs/submit_local.sh), but the
    # SQL-level confs — RocksDB state store, shuffle partitions, Arrow batch
    # size, UTC session timezone — are session confs that getOrCreate applies
    # to the running context. A bare getOrCreate() silently dropped RocksDB
    # (e2e ran on HDFSBackedStateStoreProvider: state capped by heap).
    from bento_spark.session import get_spark

    spark = get_spark(app_name="bento-pipeline")

    from bento_spark.plans.compiler import Pipeline, compile_yaml
    from bento_spark.streaming.bridge import BridgeFailed
    from bento_spark.streaming.metrics import BentoMetricsListener, collect_progress

    with open(args.config) as f:
        pipe = compile_yaml(f.read())

    if args.stage_clips:
        path = pipe.conf["input"]["parquet"]["path"]
        Pipeline.stage_clips(spark, path, args.stage_clips)

    # a spool-bridge input's bridge runs for the length of the query, and
    # the output's driver-side resources are released after it
    try:
        q = pipe.run(spark, args.checkpoint, continuous=args.continuous, timeout=args.timeout)
    except BridgeFailed as e:
        print(e, file=sys.stderr)
        return 1
    # metrics are PULLED from recentProgress after the run — a push listener
    # over the py4j callback server can garble under concurrent-query
    # callbacks and take the whole job down (see metrics.collect_progress)
    listener = collect_progress(BentoMetricsListener(), q)

    import json

    totals = listener.totals()
    try:
        totals["output_sent"] = pipe.sink.output_sent()
    except RuntimeError:
        pass  # switch/fan_out configs have per-case sinks instead
    for i, s in enumerate(pipe._case_sinks):
        totals[f"output_sent_case{i}"] = s.output_sent()
    print(json.dumps({"metrics": totals, "lineage_batches": len(listener.lineage_rows())}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
