"""bento-spark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, from a traced run that also writes its spans to
``.perfbench/traces/``. Workloads, metrics and the evidence behind each
design choice are described in perfbench/README.md.

Everything the run writes stays under ``<checkout>/.perfbench/``: the input
cache, and a per-run directory (checkpoints, sink output, Spark local and
temp dirs, event log) that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

DEADLINE_S = 170.0  # a run must end within 180 s

# clips_window_drain: files of 200 clips, 8 files per trigger (as shipped)
WARM_FILES = 16
ROUND_FILES = 16
MIN_ROUNDS = 2
ROUND_EST_S = 8  # one round on a 4-core host

# headline_batch: bench.py's HEADLINE and its dataset
HEADLINE = [
    "pricing_summary", "lookup_join", "multi_join", "tumbling_window", "sliding_window",
    "session_window", "text_stats", "dedupe_exact", "minhash_lsh", "simhash", "ann_cosine",
    "embedding_norms", "parse_log", "asof_join", "rollup_agg", "workflow_dag",
    "mapping_pipeline", "cep_funnel", "tar_roundtrip", "chunker_scan",
    "audio_features_window", "clip_transcript_join",
]
SF_DIR = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.compile_yaml_ms": "ms",
    "plans.run_stream_start_ms": "ms",
    "plans.query_planning_ms.p50": "ms",
    "plans.build_df_s": "s",
    "wall.total_s": "s",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.rows_per_s": "rows/s",
    "streaming.rows_per_batch.p50": "rows",
    "streaming.trigger_ms.p50": "ms",
    "streaming.trigger_ms.p90": "ms",
    "streaming.add_batch_ms.p50": "ms",
    "streaming.source_ms.p50": "ms",
    "streaming.offset_commit_ms.p50": "ms",
    "streaming.read_amplification": "ratio",
    "state.rows_total.max": "rows",
    "state.memory_mb.max": "MB",
    "state.commit_ms.p50": "ms",
    "state.sst_mb.max": "MB",
    "state.rows_dropped_late": "rows",
    "sink.rows_committed": "rows",
    "sink.dlq_rows": "rows",
    "sink.files_per_batch": "count",
    "sink.mb_written": "MB",
    "audio.features_ms_per_clip": "ms",
    "audio.payload_mb": "MB",
    "audio.arrow_to_python_mb": "MB",
    "audio.arrow_from_python_mb": "MB",
    **{f"q.{q}_s": "s" for q in HEADLINE},
    "spark.jobs_per_batch": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "host.probe_ms.before": "ms",
    "host.probe_ms.after": "ms",
    "host.loadavg_1m.before": "load",
    "host.loadavg_1m.after": "load",
    **{f"self_s.{layer}": "s" for layer in ("session", "plans", "streaming", "sink", "audio", "headline", "spark")},
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}


class Run:
    """One benchmark run: its directories, Spark session, spans and metrics."""

    def __init__(self, seed: int, seconds: int, trace: bool) -> None:
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.t_begin = time.time()
        self.dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
        self.cache = os.path.join(WORK, "cache")
        self.event_dir = os.path.join(self.dir, "events")
        for d in (self.dir, self.cache, self.event_dir, os.path.join(self.dir, "tmp")):
            os.makedirs(d, exist_ok=True)
        self.spans = layers.Spans()
        self.progress = layers.ProgressLog()
        self.metrics: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def left(self) -> float:
        return DEADLINE_S - (time.time() - self.t_begin)

    def start_spark(self):
        """Session sized from this machine: local[nproc], driver heap a
        quarter of memory (at most 4 GB), everything on disk in the run dir."""
        from bento_spark.session import get_spark

        heap_mb = max(1024, min(4096, layers.memory_limit_mb() // 4))
        conf = {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.spans.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.streams.addListener(self.progress.listener())
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, the JVM and every process it forked, and wait."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        kids = [p for p in layers.tree_pids(os.getpid()) if p != os.getpid()]
        try:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=20)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=10)
            _reap(kids)

    def fail(self, n: int, problems: list[str]) -> None:
        self.failed += n
        self.problems.extend(problems)


def _reap(pids: list[int], timeout: float = 15.0) -> None:
    """Wait for `pids` to exit; kill whatever is left after `timeout`."""
    import signal

    end = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < end:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------- clips_window_drain


def _drain(run: Run, pipe, checkpoint: str) -> tuple[float, float]:
    """Start the pipeline's queries with availableNow and wait until every
    query it started (the DLQ side query too) has terminated."""
    spark = run.spark
    t0 = time.time()
    with run.spans.span("plans.run_stream"):
        pipe.run_stream(spark, checkpoint, available_now=True)
    while spark.streams.active:
        if run.left() < 0:
            raise TimeoutError("stream drain exceeded the run deadline")
        time.sleep(0.02)
    t1 = time.time()
    run.progress.wait_quiet()
    errs = run.progress.errors()
    if errs:
        raise RuntimeError(f"streaming query failed: {errs[0][:2000]}")
    run.spans.add("streaming.drain", t0, t1)
    return t0, t1


def clips_window_drain(run: Run) -> None:
    import pandas as pd
    from bento_spark.plans.compiler import compile_yaml

    with open(os.path.join(ROOT, "config", "examples", "clips_window.yaml")) as f:
        yaml_src = f.read()
    # a fixed amount of work for a given --seconds, generated before timing
    n_rounds = max(MIN_ROUNDS, -(-run.seconds // ROUND_EST_S))
    cache = inputs.clip_cache(run.cache, run.seed)
    if inputs.ensure_files(cache, run.seed, WARM_FILES + ROUND_FILES * n_rounds):
        os.sync()  # keep write-back of fresh inputs out of the timed phases
    in_dir, out_dir, dlq_dir, ck = (run.path(x) for x in ("in", "out", "dlq", "ck"))
    inputs.stage_files(cache, 0, WARM_FILES, in_dir)

    t_setup = time.time()
    with layers.RssSampler(os.getpid()) as rss:
        spark = run.start_spark()
        with run.spans.span("plans.compile_yaml"):
            pipe = compile_yaml(yaml_src, overrides={
                "input.parquet.path": in_dir, "output.path": out_dir, "output.dlq": dlq_dir})
        _drain(run, pipe, ck)
        t_meas = time.time()
        setup_s = t_meas - t_setup

        walls, cpus, drained = [], [], WARM_FILES
        for _ in range(n_rounds):
            inputs.stage_files(cache, drained, ROUND_FILES, in_dir)
            c0 = layers.tree_cpu_s(os.getpid())
            t0, t1 = _drain(run, pipe, ck)
            cpus.append(layers.tree_cpu_s(os.getpid()) - c0)
            walls.append(t1 - t0)
            drained += ROUND_FILES
        t_end = time.time()
    rows_per_round = ROUND_FILES * inputs.CLIPS_PER_FILE
    run.metrics.update({"setup_s": setup_s, "cpu_s": statistics.median(cpus), "peak_rss_mb": rss.peak_mb,
                        "wall.total_s": statistics.median(walls)})

    ref = inputs.read_refs(cache, 0, drained).to_pandas()
    run.attempted = len(ref)
    with run.spans.span("checks.window"):
        main_progress = [p for p in run.progress.progress if p.get("stateOperators")]
        wms = [p.get("eventTime", {}).get("watermark") for p in main_progress]
        wms = [w for w in wms if w and not w.startswith("1970")]
        wm_us = int(pd.Timestamp(max(wms)).value // 1000) if wms else None
        run.fail(*checks.check_windows(checks.committed(out_dir), ref, wm_us))
        run.fail(*checks.check_dlq(checks.committed(dlq_dir, ["clip_id"]), ref))

    if run.trace:
        measured = ref.iloc[WARM_FILES * inputs.CLIPS_PER_FILE :]
        m = layers.streaming_metrics(run.progress.progress, len(measured), t_meas, t_end)
        m.update(_sink_metrics([out_dir, dlq_dir], t_meas, t_end, m["streaming.batches"]))
        m["streaming.rows_per_s"] = statistics.median(rows_per_round / w for w in walls)
        m["audio.payload_mb"] = float(measured["payload_bytes"].sum()) / 1e6
        m["audio.features_ms_per_clip"] = _audio_kernel_ms(run, cache, WARM_FILES)
        m["plans.compile_yaml_ms"] = run.spans.duration("plans.compile_yaml") * 1e3
        m["plans.run_stream_start_ms"] = statistics.median(
            (s["end"] - s["start"]) * 1e3 for s in run.spans.items if s["name"] == "plans.run_stream")
        run.metrics.update(m)
        _batch_spans(run)
        run.stop_spark()
        rounds = [(x["start"], x["end"]) for x in run.spans.items if x["name"] == "streaming.drain"][1:]
        run.metrics.update(layers.event_log_metrics(run.event_dir, rounds, m["streaming.batches"]))


def _sink_metrics(sink_dirs: list[str], t0: float, t1: float, batches: int) -> dict:
    """Rows, files and bytes committed by the exactly-once sinks in [t0, t1],
    read from their commit markers and data directories."""
    rows = dlq = files = size = 0
    for k, d in enumerate(sink_dirs):
        for marker in os.scandir(os.path.join(d, "commits")):
            if not marker.name.isdigit() or not t0 <= marker.stat().st_mtime <= t1:
                continue
            with open(marker.path) as f:
                n = json.load(f).get("rows", 0)
            rows += n
            dlq += n if k == len(sink_dirs) - 1 else 0
            for e in os.scandir(os.path.join(d, "data", f"_bid={marker.name}")):
                if e.name.endswith(".parquet"):
                    files += 1
                    size += e.stat().st_size
    return {"sink.rows_committed": rows, "sink.dlq_rows": dlq,
            "sink.files_per_batch": files / batches if batches else 0.0, "sink.mb_written": size / 1e6}


def _audio_kernel_ms(run: Run, cache: str, file_idx: int) -> float:
    """ms per clip of the program's decode+features kernel on one measured
    file, single-threaded in this process (median of three passes)."""
    import pyarrow.parquet as pq
    from bento_spark.audio.udfs import audio_feature_frame

    pdf = pq.read_table(os.path.join(cache, f"f{file_idx:05d}.parquet")).to_pandas()
    times = []
    with run.spans.span("audio.kernel_probe"):
        for _ in range(3):
            t0 = time.perf_counter()
            audio_feature_frame(pdf, ["clip_id"])
            times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3 / len(pdf)


_PHASES = [("latestOffset", "streaming.source"), ("walCommit", "streaming.offset_commit"),
           ("getBatch", "streaming.source"), ("queryPlanning", "plans.query_planning"),
           ("addBatch", "sink.add_batch"), ("commitOffsets", "streaming.offset_commit")]


def _batch_spans(run: Run) -> None:
    """One span per micro-batch of every query, rebuilt from its progress
    (timestamp + durationMs), with its phases laid out as child spans."""
    import pandas as pd

    drains = [s for s in run.spans.items if s["name"] == "streaming.drain"]
    for p in run.progress.progress:
        start = pd.Timestamp(p["timestamp"]).value / 1e9
        parent = next((s["id"] for s in drains if s["start"] - 0.5 <= start <= s["end"]), None)
        d = p.get("durationMs", {})
        bid = run.spans.add("streaming.batch", start, start + d.get("triggerExecution", 0) / 1e3, parent,
                            query=p["id"], batch=p["batchId"], rows=p.get("numInputRows", 0))
        t = start
        for key, name in _PHASES:
            dt = d.get(key, 0) / 1e3
            if dt:
                run.spans.add(name, t, t + dt, bid, query=p["id"], batch=p["batchId"])
                t += dt


# ---------------------------------------------------------------- headline_batch


def _verify_dataset() -> None:
    import hashlib

    with open(os.path.join(SF_DIR, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(SF_DIR, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise RuntimeError(f"headline dataset file {name} does not match SHA256SUMS")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def headline_batch(run: Run) -> None:
    _verify_dataset()
    import __spark_entry__ as entry

    qs = entry.queries()
    order = list(HEADLINE)
    random.Random(run.seed).shuffle(order)

    want = checks.oracle_summaries(SF_DIR, TABLES, {q: entry.oracle_sql()[q] for q in HEADLINE},
                                   os.path.join(run.cache, "headline-oracle.json"))
    run.attempted = len(HEADLINE)

    t_setup = time.time()
    with layers.RssSampler(os.getpid()) as rss:
        spark = run.start_spark()
        # warm-up: every query once, collected; its results are checked below
        results = {}
        with run.spans.span("headline.warmup"):
            for name in order:
                results[name] = _collect(run, name, qs[name](spark, SF_DIR))
        t_meas = time.time()
        setup_s = t_meas - t_setup
        times, build, cpu = {}, 0.0, 0.0
        with run.spans.span("headline.pass"):
            for name in order:
                with run.spans.span(f"headline.{name}"):
                    c0 = layers.tree_cpu_s(os.getpid())
                    t0 = time.perf_counter()
                    with run.spans.span("plans.build_df"):
                        df = qs[name](spark, SF_DIR)
                    t1 = time.perf_counter()
                    with run.spans.span("spark.execute"):
                        _noop(df)
                    times[name] = time.perf_counter() - t0
                    cpu += layers.tree_cpu_s(os.getpid()) - c0
                    build += t1 - t0
    run.metrics.update({"setup_s": setup_s, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb,
                        "wall.total_s": sum(times.values())})
    with run.spans.span("checks.oracle"):
        for name, result in results.items():
            problem = result is not None and checks.compare(name, checks.summary(result), want[name])
            if problem:
                run.fail(1, [problem])
    if run.trace:
        run.metrics.update({f"q.{name}_s": t for name, t in times.items()})
        run.metrics["plans.build_df_s"] = build
        run.stop_spark()
        timed = [(x["start"], x["end"]) for x in run.spans.items
                 if x["name"].startswith("headline.") and x["name"][9:] in times]
        run.metrics.update(layers.event_log_metrics(run.event_dir, timed, 0))


def _collect(run: Run, name: str, df):
    """The query's full result in the driver, or None (a failed query) if it
    raises."""
    try:
        return df.toPandas()
    except Exception as e:  # a query that raises is a failed query, not a crash
        run.fail(1, [f"{name}: {type(e).__name__}: {str(e)[:300]}"])
        return None


WORKLOADS = {"clips_window_drain": clips_window_drain, "headline_batch": headline_batch}


# ---------------------------------------------------------------- main


def _program_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, p)) for p in
               ("bento_spark/session.py", "__spark_entry__.py", "config/examples/clips_window.yaml"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print("bento_spark sources not found next to perfbench/: run from a source checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    run = Run(args.seed, args.seconds, bool(args.trace))
    # workers import bento_spark from this checkout; temp files stay in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    host = {"host.probe_ms.before": layers.cpu_probe_ms(), "host.loadavg_1m.before": layers.loadavg_1m()}
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.stop_spark()
        shutil.rmtree(run.dir, ignore_errors=True)
    host.update({"host.probe_ms.after": layers.cpu_probe_ms(), "host.loadavg_1m.after": layers.loadavg_1m()})

    if args.trace:
        run.metrics.update(host)
        for k in END_TO_END:
            run.metrics[f"traced.{k}"] = run.metrics[k]
        run.metrics["session.get_spark_s"] = run.spans.duration("session.get_spark")
        self_s = run.spans.self_time_by_layer()
        for k in PER_LAYER:
            if k.startswith("self_s."):
                run.metrics[k] = self_s.get(k.split(".", 1)[1], 0.0)
        run.spans.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"))
        wanted = PER_LAYER
    else:
        wanted = END_TO_END
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        # a layer the workload does not run did no work: it reports 0
        "metrics": {k: {"value": float(run.metrics.get(k, 0.0)), "unit": u} for k, u in wanted.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
