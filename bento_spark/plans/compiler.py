"""YAML config -> Pipeline (a DAG of DataFrame transforms).

Re-creates the reference's declarative model — a YAML config declaring
`input -> pipeline.processors -> output`
(/root/reference/internal/config/schema.go:29-40, stream section
internal/stream/config.go:21-24) — compiled to DataFrame transforms
instead of a goroutine chain (stream assembly in the reference:
internal/stream/type.go:100-154). The config IS the logical plan; Catalyst
owns the physical plan.

Inputs come from the input registry (plans/inputs.py): one row per
`input.<name>` section with its reader, whether it reads as a table, a
stream or both, and, for spool-bridge inputs, the starter that
`Pipeline.start_bridge()` runs. Processors come from the processor
registry (plans/processors.py): `_chain` looks up each processor's row,
checks its required fields and calls its builder. Outputs come from the
output registry
(plans/outputs.py): `run_stream` builds the stream once, calls the row of
the one output the `output` map names, and wraps its writer in the map's
`dlq` (errored rows to the DLQ, on any output), then `input.read_until`,
then `error_handling: retry`. Before a window or join the DLQ split comes
first, and the errored rows join the windowed ones as a tagged union, so a
pipeline runs as one streaming query.

Config shape (the Bento-shaped subset we support, plus `window` which the
reference expresses as the system_window buffer):

    input:
      generate_clips: {count: 1000, event_step_ms: 100}   # or
      parquet: {path: ..., schema: ...}                    # batch or stream
    pipeline:
      processors:
        - mapping: |
            root.key = this.clip_id.slice(10, 12)
            root = deleted() if this.dur_ms > 60000
        - audio_decode: {}
        - audio_features: {}
        - audio_normalize: {target_sr: 16000}
        - bounds_check: {column: bytes, min: 1}
        - dedupe: {keys: [clip_id], watermark: [event_ts, "10 seconds"]}
        - set_error: {when: "this.sr_hz < 8000", message: "bad sr"}
        - catch: {set: {sr_hz: "16000"}}
        - spread_skew: {cost: dur_ms}
    window:
      type: tumbling            # tumbling | sliding | session
      size: 10 seconds
      slide: 5 seconds          # sliding only
      gap: 30 seconds           # session only
      keys: [key]
      lateness: 2 seconds
      aggs: {n: "count()", total_ms: "sum(dur_ms)"}
    output:
      path: /tmp/out
      keys: [window_start, key]     # exactly-once MERGE key
      dlq: /tmp/dlq                 # errored rows routed here
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from typing import Any

import yaml
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.audio.generate import clips_df
from bento_spark.functions.bloblang import compile_expr
from bento_spark.plans.inputs import INPUTS, read_input, select_input
from bento_spark.plans.outputs import OUTPUTS, select_output
from bento_spark.plans.processors import ALIASES, CACHE_BACKENDS, PROCESSORS
from bento_spark.streaming.checkpoint import local_checkpoint_commits
from bento_spark.streaming.sink import IdempotentParquetSink, dlq_split_writer, tagged_union
from bento_spark.streaming.windows import session_windowed, sliding_windowed, tumbling_windowed

_AGG_RE = re.compile(r"^\s*(\w+)\s*\(\s*(.*?)\s*\)\s*$")

# Processors that turn each row into exactly one row, leave `error` as it
# is and take `keep_payload`. A filter on `error` commutes with them, so the
# window+DLQ path of run_stream runs a trailing run of them after its split
# on `error`: each branch decodes only the rows it keeps. Each member is
# pinned by a test in tests/test_window_dlq.py.
_ROW_MAPS_KEEPING_ERROR = frozenset({"audio_features"})


def _parse_agg(src: str) -> Column:
    m = _AGG_RE.match(src)
    if not m:
        raise ValueError(f"bad aggregate expression: {src!r}")
    fn, arg = m.group(1).lower(), m.group(2)
    col = compile_expr(arg) if arg else F.lit(1)
    table = {
        "count": lambda c: F.count(F.lit(1)) if not arg else F.count(c),
        "count_distinct": F.countDistinct,
        "approx_count_distinct": F.approx_count_distinct,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "avg": F.avg,
        "mean": F.avg,
        "collect_list": F.collect_list,
        "first": F.first,
        "stddev": F.stddev,
    }
    if fn not in table:
        raise ValueError(f"unsupported aggregate fn: {fn}")
    return table[fn](col)


@dataclass
class Pipeline:
    conf: dict[str, Any]
    _sink: IdempotentParquetSink | None = field(default=None, init=False)
    _case_sinks: list = field(default_factory=list, init=False)  # switch/fan_out sinks
    _stop_requested: bool = field(default=False, init=False)
    # error_handling reject capture: batch defers the DLQ write to
    # run_batch/flush time (streaming routes it inside the query)
    _batch_dlq_pending: Any = field(default=None, init=False)
    _close_output: Any = field(default=None, init=False)  # see close()

    def __post_init__(self) -> None:
        # zmq4n (zeromq/input_zmq4n.go, output_zmq4n.go): the reference's
        # pure-Go client registration of the SAME ZMTP 3.0 wire contract
        # — normalize onto the zmq4 sections once so every consumer sees
        # one name. A section naming both is left as written: the input
        # registry reports that input map as naming two inputs.
        for section in ("input", "output"):
            sec = self.conf.get(section)
            if isinstance(sec, dict) and "zmq4n" in sec and "zmq4" not in sec:
                sec["zmq4"] = sec.pop("zmq4n")

    # ------------------------------------------------------------------ input
    def _input(self, spark: SparkSession, streaming: bool) -> DataFrame:
        return read_input(spark, self.conf.get("input") or {}, streaming)

    @staticmethod
    def stage_clips(spark: SparkSession, path: str, count: int, **kw) -> None:
        """Materialize the deterministic clips table to a dir usable as a
        (file-)stream source."""
        clips_df(spark, count, **kw).write.mode("overwrite").parquet(path)

    @property
    def bridged(self) -> bool:
        """Whether the input is a spool bridge, i.e. has a runtime part
        for start_bridge() to start."""
        name, _ = select_input(self.conf.get("input") or {})
        return INPUTS[name].start is not None

    def start_bridge(self):
        """Start the bridge of a spool-bridge input (the listener,
        subscriber or poller that writes the spool dir the stream reads)
        and return its handle: the caller owns `.stop()`. Separate from
        build_stream on purpose: the bridge is a runtime resource, the
        stream is a plan."""
        name, o = select_input(self.conf.get("input") or {})
        start = INPUTS[name].start
        if start is None:
            raise ValueError(f"{name} input has no bridge to start (it reads by itself)")
        return start(o)

    # -------------------------------------------------------- cache resources
    def _cache_backend(self, resource: str, spark: SparkSession, key_col: str = "key",
                       _visiting: frozenset = frozenset()):
        """Resolve a `resource:` reference to a cache backend. A label
        declared under top-level `cache_resources:` wins (the reference
        registers caches as named resources — config/schema.go's
        cache_resources section, 16 backends under internal/impl/*/
        cache_*.go); its backend is the row of the first kind of
        CACHE_BACKENDS (plans/processors.py) it names. An undeclared
        resource falls back to the historical behavior of treating the
        string as a parquet KeyValueCache path.

        Shared kinds (the in-process memory/lru/ttlru/ristretto/noop and
        multilevel compositions) are memoized per Pipeline by label — a
        `set` in one processor and a `get` in a later one must hit the SAME
        store, exactly as the reference shares one registered resource
        instance across components."""
        mem = self.__dict__.setdefault("_mem_cache_instances", {})
        if resource in mem:
            return mem[resource]
        # mutual multilevel cycles (A: [B], B: [A]) would recurse to
        # RecursionError — the memo entry only lands after construction
        if resource in _visiting:
            raise ValueError(
                f"multilevel cache cycle through {resource!r} "
                f"(visiting: {sorted(_visiting)})")
        r = next((r for r in self.conf.get("cache_resources") or []
                  if isinstance(r, dict) and r.get("label") == resource), None)
        if r is None:
            from bento_spark.operators.cache import KeyValueCache

            return KeyValueCache(spark, resource, key_col=key_col)
        kind = next((k for k in CACHE_BACKENDS if k in r), None)
        if kind is None:
            raise ValueError(
                f"cache resource {resource!r} needs a backend section "
                f"(one of {', '.join(CACHE_BACKENDS)})"
            )
        row, d = CACHE_BACKENDS[kind], r[kind] or {}
        if row.required is not None and row.required not in d:
            raise ValueError(
                f"cache resource {resource!r}: {kind} backend needs `{row.required}`"
            )

        def level(label):
            if label == resource:
                raise ValueError(f"multilevel cache {resource!r} references itself")
            return self._cache_backend(str(label), spark, _visiting=_visiting | {resource})

        cache = row(spark, d, key_col, level)
        if row.shared:
            mem[resource] = cache
        return cache

    # ------------------------------------------------------------ rate limits
    def _rate_limit_conf(self, label: str) -> dict:
        """Look up a named entry in top-level `rate_limit_resources:`
        (reference: rate limits registered as shared resources,
        rate_limit_local.go:31; both the flat `{label, count, interval}`
        and the reference's nested `{label, local: {...}}` shapes parse)."""
        for r in self.conf.get("rate_limit_resources") or []:
            if isinstance(r, dict) and r.get("label") == label:
                return r.get("local") or r
        known = [
            r.get("label") for r in self.conf.get("rate_limit_resources") or []
            if isinstance(r, dict)
        ]
        raise ValueError(
            f"unknown rate_limit resource {label!r} (declared: {known or 'none'} "
            "— add it under top-level rate_limit_resources:)"
        )

    def _rate_limit_share(self, label, df: DataFrame):
        """Resolve a component's `rate_limit: label` reference to a
        picklable limiter spec for operators/rate_limit.make_limiter:
        the default local resource becomes a per-partition
        (rate_per_s, burst) token-bucket share (dividing by max task
        concurrency bounds the cluster-wide rate without coordination);
        a `redis:` resource becomes a shared fixed-window spec — ONE
        Redis-keyed window for every worker and every pipeline naming
        the resource (rate_limit.go:89), no division needed."""
        if label is None:
            return None
        body = self._rate_limit_conf(str(label))
        from bento_spark.streaming.cep import duration_ms

        if isinstance(body.get("redis"), dict):
            rd = body["redis"]
            from bento_spark.streaming.redis import parse_redis_url

            host, port = parse_redis_url(rd.get("url", "tcp://127.0.0.1:6379"))
            return {
                "kind": "redis",
                "host": host,
                "port": port,
                "key": str(rd.get("key", f"bento_rl_{label}")),
                "count": int(rd.get("count", body.get("count", 1000))),
                "interval_ms": duration_ms(str(rd.get("interval", body.get("interval", "1s")))),
            }
        from bento_spark.operators.rate_limit import per_partition_share

        parallelism = int(
            body.get("parallelism")
            or df.sparkSession.sparkContext.defaultParallelism
        )
        return per_partition_share(
            int(body.get("count", 1000)),
            duration_ms(str(body.get("interval", "1s"))),
            parallelism,
        )

    @staticmethod
    def _proto_source(o: dict) -> str | None:
        """Concatenated .proto source for the protobuf processors: inline
        `proto` and/or `proto_file`/`proto_files` paths (the reference's
        import_paths model — all sources share one registry). None when
        only `descriptor_file` is configured (jar-gated path)."""
        parts = []
        if o.get("proto"):
            parts.append(o["proto"])
        files = o.get("proto_files") or ([o["proto_file"]] if o.get("proto_file") else [])
        for path in files:
            with open(path, encoding="utf-8") as fh:
                parts.append(fh.read())
        if parts:
            return "\n".join(parts)
        if not o.get("descriptor_file"):
            raise ValueError(
                "protobuf processor needs a schema: `proto` (inline source), "
                "`proto_file(s)` (paths), or `descriptor_file` (compiled set, "
                "requires the spark-protobuf jar)"
            )
        return None

    # ------------------------------------------------------------- processors
    def _apply_processors(self, df: DataFrame) -> DataFrame:
        procs = (self.conf.get("pipeline") or {}).get("processors") or []
        return self._error_strategy(self._chain(procs), df)

    def _error_strategy(self, chain, df: DataFrame) -> DataFrame:
        """Engine-level `error_handling:` strategy (errorhandling/docs.go:7,
        applied in cli/common/manager.go:114-121) — ONE knob that flips the
        whole pipeline's error posture, composing the in-band error-column
        machinery:

        - none (default): errored rows flow flagged; outputs decide.
        - reject: errored rows are split off the main output after the
          chain (strict mode, bundle/strict/processor.go) — to
          `error_handling.dlq` (parquet) when given, else dropped.
        - retry: re-run the chain while errored rows exist, up to
          `max_attempts` (default 3), then apply `on_exhausted`
          (none|reject, default none). The reference's feedback pipeline
          retries failed messages forever (strict/pipeline.go backoff with
          MaxElapsedTime=0); a bounded loop is the deliberate deviation —
          an unbounded retry of a deterministic failure is a hang, not a
          feature. A full deterministic chain converges on attempt 2 (same
          errors), so permanent failures cost max_attempts-1 extra passes;
          transient stages (http/subprocess) get real second chances.
        """
        eh = self.conf.get("error_handling") or {}
        strategy = eh.get("strategy", "none")
        if strategy not in ("none", "reject", "retry"):
            raise ValueError(
                f"error_handling.strategy must be none|reject|retry, got {strategy!r}"
            )
        out = chain(df)
        if df.isStreaming:
            # streaming: reject filters here; retry is applied at the SINK —
            # errored rows raise inside foreachBatch so Spark replays the
            # micro-batch (task retries + checkpoint restart), the native
            # analogue of the reference's feedback pipeline (see run_stream's
            # retry wrapper)
            # reject with a dlq keeps the errored rows: run_stream routes
            # them to the DLQ inside the query
            if strategy == "reject" and "error" in out.columns and not eh.get("dlq"):
                return out.filter(F.col("error").isNull())
            return out
        if strategy == "retry":
            max_attempts = int(eh.get("max_attempts", 3))
            for _ in range(max_attempts - 1):
                # cheap driver-side convergence probe on a bounded sample —
                # acceptable because retry loops are per-micro-batch, not
                # per-row, and exit immediately for clean batches
                if not out.filter(F.col("error").isNotNull()).limit(1).take(1):
                    return out
                out = chain(df)
            if eh.get("on_exhausted", "none") == "reject":
                strategy = "reject"
        if strategy == "reject":
            dlq = eh.get("dlq")
            if dlq and "error" in out.columns:
                # materialize ONCE so DLQ and main output agree on which
                # rows errored (non-deterministic stages — http, subprocess
                # — could otherwise diverge between the two evaluations);
                # the write itself is DEFERRED to run_batch/flush time so
                # plan-building stays side-effect-free and repeated builds
                # don't append duplicate DLQ rows
                out = out.localCheckpoint(eager=True)
                self._batch_dlq_pending = (
                    out.filter(F.col("error").isNotNull()),
                    str(dlq),
                )
            return out.filter(F.col("error").isNull()) if "error" in out.columns else out
        return out

    def processor_chain(self, procs: list | None):
        """Public chain compiler — the `bento test` runner targets a
        processor list selected by JSON pointer (cli/test/case.go Provide)."""
        return self._chain(procs)

    def _chain(self, procs: list | None):
        """Compile a processor list to a DataFrame transform — the unit of
        composition for nested sections (switch cases, group_by groups, try
        bodies, while loops: the reference nests processor lists the same
        way, internal/impl/pure/processor_switch.go:104)."""

        def run(df: DataFrame) -> DataFrame:
            for p in procs or []:
                if not isinstance(p, dict) or len(p) != 1:
                    raise ValueError(f"each processor must be a single-key map, got {p!r}")
                name, opts = next(iter(p.items()))
                row = PROCESSORS.get(ALIASES.get(name, name))
                if row is None:
                    raise ValueError(f"unsupported processor: {name}")
                o = {} if opts is None else opts
                for f in row.required:
                    if not isinstance(o, dict) or f not in o:
                        raise ValueError(f"{name} processor: missing required field '{f}'")
                df = row(self, df, o)
            return df

        return run

    # ------------------------------------------------------------------- join
    def _apply_join(self, df: DataFrame, spark: SparkSession, streaming: bool) -> DataFrame:
        """Stateful stream-stream join section (the north-rule clip ⋈
        transcript join; reference analogue is the cache-hydration pattern,
        config/examples/joining_streams.yaml:32-56 in the reference repo).

            join:
              right: {parquet: {path: ..., schema: ..., max_files_per_trigger: N}}
              key: clip_id
              left_ts: event_ts
              right_ts: t_event_ts
              watermark: 10 seconds
              max_lag: 30 seconds
              how: inner          # or leftOuter
        """
        j = self.conf.get("join")
        if not j:
            return df
        from bento_spark.streaming.joins import stream_stream_join

        right = read_input(spark, j["right"], streaming)
        return stream_stream_join(
            df,
            right,
            key=j.get("key", "clip_id"),
            left_ts=j.get("left_ts", "event_ts"),
            right_ts=j.get("right_ts", "t_event_ts"),
            watermark=j.get("watermark", "10 seconds"),
            max_lag=j.get("max_lag", "30 seconds"),
            how=j.get("how", "inner"),
        )

    # ----------------------------------------------------------------- window
    def _split_tail(self, procs: list) -> list:
        """The trailing processors run_stream's window+DLQ path applies after
        its split on `error`: the longest suffix of _ROW_MAPS_KEEPING_ERROR
        members. Empty under an error_handling strategy other than none,
        which needs the whole chain in one place."""
        if (self.conf.get("error_handling") or {}).get("strategy", "none") != "none":
            return []
        n = len(procs)
        while n and isinstance(procs[n - 1], dict) and procs[n - 1].keys() <= _ROW_MAPS_KEEPING_ERROR:
            n -= 1
        return procs[n:]

    def _window_reads_payload(self) -> bool:
        """Whether the window keys, event_col or aggs, or the join key or
        left_ts, name the `bytes` payload column."""
        w = self.conf.get("window") or {}
        j = self.conf.get("join") or {}
        refs = [*(w.get("keys") or []), w.get("event_col", ""), *(w.get("aggs") or {}).values(),
                j.get("key", ""), j.get("left_ts", "")]
        return any(re.search(r"\bbytes\b", str(r)) for r in refs)

    def _apply_window(self, df: DataFrame) -> DataFrame:
        w = self.conf.get("window")
        if not w:
            return df
        keys = w.get("keys") or []
        aggs = {n: _parse_agg(s) for n, s in (w.get("aggs") or {"n": "count()"}).items()}
        event_col = w.get("event_col", "event_ts")
        lateness = w.get("lateness")
        typ = w.get("type", "tumbling")
        if typ == "tumbling":
            return tumbling_windowed(df, event_col, w["size"], keys, aggs,
                                     offset=w.get("offset"), allowed_lateness=lateness)
        if typ == "sliding":
            return sliding_windowed(df, event_col, w["size"], w["slide"], keys, aggs,
                                    offset=w.get("offset"), allowed_lateness=lateness)
        if typ == "session":
            return session_windowed(df, event_col, w["gap"], keys, aggs, allowed_lateness=lateness)
        raise ValueError(f"unsupported window type: {typ}")

    # ------------------------------------------------------------------ build
    def build_batch(self, spark: SparkSession) -> DataFrame:
        """Bounded run: same plan on a batch DataFrame (the reference's
        bounded test mode; SURVEY §1 streams-vs-tables)."""
        df = self._apply_processors(self._input(spark, streaming=False))
        df = self._apply_join(df, spark, streaming=False)
        return self._apply_window(df)

    def run_batch(self, spark: SparkSession) -> DataFrame:
        """build_batch + deferred side effects: flushes the error_handling
        reject DLQ capture (one append per run, reading the already-
        materialized localCheckpoint — no re-evaluation of the chain).
        Callers that only build (tests, `bento test`) pay no write."""
        df = self.build_batch(spark)
        self.flush_batch_dlq()
        return df

    def flush_batch_dlq(self) -> None:
        pending, self._batch_dlq_pending = self._batch_dlq_pending, None
        if pending is not None:
            errored, path = pending
            errored.write.mode("append").parquet(path)

    def build_stream(self, spark: SparkSession) -> DataFrame:
        df = self._apply_processors(self._input(spark, streaming=True))
        df = self._apply_join(df, spark, streaming=True)
        return self._apply_window(df)

    def run_stream(self, spark: SparkSession, checkpoint: str, available_now: bool = True):
        """Execute as one StreamingQuery with the exactly-once parquet sink
        (Iceberg MERGE on a real cluster) and optional DLQ routing."""
        for old in (checkpoint.rstrip("/") + "_dlq", checkpoint.rstrip("/") + "_ehdlq"):
            if os.path.exists(old):
                raise ValueError(
                    f"{old} is the checkpoint of a DLQ side query from an earlier build; this "
                    "build routes errored rows inside the main query and cannot resume it. "
                    "Drain the pipeline with the previous build, then remove that directory "
                    f"(a window or join pipeline also needs a fresh {checkpoint})")
        # A local checkpoint commits through rename(2), an atomic replace:
        # Spark's default FileContext manager forks /usr/bin/readlink for
        # every rename on a host without libhadoop. Other filesystems keep
        # the default, whose rename is the atomic one there.
        with local_checkpoint_commits(spark, checkpoint):
            return self._run_stream(spark, checkpoint, available_now)

    def _run_stream(self, spark: SparkSession, checkpoint: str, available_now: bool):
        out = self.conf.get("output") or {}
        name, section = select_output(out)
        eh = self.conf.get("error_handling") or {}
        # reject_errored (output_reject_errored.go:19) inside the one query:
        # errored rows -> the DLQ, the rest -> the output. The query's
        # checkpoint binds the DLQ sink's markers too.
        dlq_path = eh.get("dlq") if eh.get("strategy") == "reject" else out.get("dlq")
        split = bool(dlq_path and (self.conf.get("window") or self.conf.get("join")))
        df, errored = self._split_stream(spark) if split else (self.build_stream(spark), None)
        df, writer = OUTPUTS[name](self, spark, section, df, checkpoint)
        self._close_output = getattr(writer, "close", None)
        if dlq_path and not split and "error" in df.columns:
            writer = dlq_split_writer(writer, IdempotentParquetSink(dlq_path, checkpoint=checkpoint))
        # input.read_until: deliver the batch holding the first row that
        # matches `check`, then stop the query (input_read_until.go:34)
        until = (self.conf.get("input") or {}).get("read_until")
        if until:
            writer = self._wrap_read_until(writer, compile_expr(str(until["check"])))
        if eh.get("strategy") == "retry":
            writer = self._wrap_retry_writer(writer, eh)
        if errored is not None:
            df, writer = tagged_union(df, errored, writer,
                                      IdempotentParquetSink(dlq_path, checkpoint=checkpoint))
        q = (
            df.writeStream.outputMode(out.get("mode", "append"))
            .option("checkpointLocation", checkpoint)
            .foreachBatch(writer)
        )
        query = q.trigger(**self._trigger(available_now)).start()
        if until:
            import threading

            def monitor() -> None:
                while query.isActive:
                    if self._stop_requested:
                        query.stop()
                        return
                    import time

                    time.sleep(0.1)

            threading.Thread(target=monitor, daemon=True).start()
        return query

    def _trigger(self, available_now: bool) -> dict:
        """availableNow in bounded mode; otherwise a processingTime
        interval — rate_limit.interval (if the pipeline declared one) takes
        precedence over output.trigger."""
        if available_now:
            return {"availableNow": True}
        rl = self.conf.get("_rate_limit") or {}
        ivl = rl.get("interval", (self.conf.get("output") or {}).get("trigger", "5 seconds"))
        # normalize through duration_ms: the pipeline accepts '1s' /
        # '500 ms' everywhere else, but Spark's trigger parser does not —
        # render as '<n> milliseconds', which both dialects agree on
        from bento_spark.streaming.cep import duration_ms

        return {"processingTime": f"{duration_ms(str(ivl))} milliseconds"}

    def _split_stream(self, spark: SparkSession) -> tuple[DataFrame, DataFrame | None]:
        """The stream of a config with a DLQ and a window or join, split on
        `error` before them: (the clean rows, joined and windowed; the
        errored rows, or None when the chain sets no `error`)."""
        # Errored rows must be routed BEFORE the window agg (the agg
        # output has no per-row error column — reference semantics:
        # reject_errored sits between pipeline and the window-fed
        # output), and before a join, so an errored row reaches the DLQ
        # whether it matches or not. run_stream unions the two branches
        # into its one query.
        # The split comes before the chain's trailing run of row maps that
        # keep `error` (_split_tail: audio_features in the shipped
        # clips_window.yaml), so the DLQ branch decodes only the errored
        # rows and the window branch only the clean ones, instead of each
        # decoding every clip. DLQ rows come out as if the split were after
        # the whole chain. The window branch drops `bytes` from the decode
        # output unless the window or join reads it, so the payload crosses
        # Arrow once (JVM -> Python) instead of twice.
        procs = (self.conf.get("pipeline") or {}).get("processors") or []
        tail = self._split_tail(procs)
        rows = self._error_strategy(
            self._chain(procs[: len(procs) - len(tail)]), self._input(spark, streaming=True)
        )
        errored = None
        if "error" in rows.columns:
            errored = self._chain(tail)(rows.filter(F.col("error").isNotNull()))
            rows = rows.filter(F.col("error").isNull())
        if tail and not self._window_reads_payload():
            name, opts = next(iter(tail[-1].items()))
            tail = [*tail[:-1], {name: {**(opts or {}), "keep_payload": False}}]
        rows = self._chain(tail)(rows)
        rows = self._apply_join(rows, spark, streaming=True)
        return self._apply_window(rows), errored

    def close(self) -> None:
        """Release what the output holds on the driver: the `close()` its
        writer carries (the subprocess output's child, the http_server
        output's server). Call it once the query has stopped."""
        close, self._close_output = self._close_output, None
        if close is not None:
            close()

    def run(self, spark: SparkSession, checkpoint: str, continuous: bool = False,
            timeout: float = 0):
        """Run the pipeline as `python -m bento_spark run` and
        jobs/run_pipeline.py do: start the input's bridge (a spool-bridge
        input), then the query, and wait for the query in steps of at most
        1 s, for at most `timeout` seconds (0: until it ends). A continuous
        query still running then is stopped. A bridge that fails stops the
        query and raises `BridgeFailed("input <name>: <cause>")`. The
        bridge and what the output holds on the driver are released
        whatever happens. Returns the query."""
        import time

        from bento_spark.streaming.bridge import BridgeFailed

        name, _ = select_input(self.conf.get("input") or {})
        bridge = self.start_bridge() if self.bridged else None
        try:
            q = self.run_stream(spark, checkpoint=checkpoint, available_now=not continuous)
            deadline = time.monotonic() + timeout if timeout else None
            while True:
                step = 1.0 if deadline is None else min(1.0, deadline - time.monotonic())
                ended = step <= 0 or q.awaitTermination(step)
                # checked after the step too: a bridge that fails while an
                # available_now query ends still fails the run
                if bridge is not None and bridge.state == "failed":
                    q.stop()
                    raise BridgeFailed(f"input {name}: {bridge.cause}")
                if ended:
                    break
            if continuous and q.isActive:
                q.stop()
            return q
        finally:
            if bridge is not None:
                bridge.stop()
            self.close()

    def _wrap_retry_writer(self, inner, eh: dict):
        """Streaming `error_handling: {strategy: retry}` — the reference's
        feedback pipeline (bundle/strict/pipeline.go) re-feeds failed
        messages; the micro-batch analogue re-EVALUATES the epoch's plan
        (foreachBatch frames are lazy, so each evaluation re-runs the
        chain's transient stages — http/subprocess get real second
        chances). Each attempt is materialized via localCheckpoint so the
        checked rows ARE the written rows; after `max_attempts` (default 3,
        bounded by design — the reference retries forever, which turns a
        permanent failure into a hang), `on_exhausted` decides: 'none'
        writes the batch with errors flagged, 'reject' writes only clean
        rows (pair with output.dlq to capture)."""
        max_attempts = int(eh.get("max_attempts", 3))
        on_exhausted = eh.get("on_exhausted", "none")

        def writer(batch_df, epoch_id: int) -> None:
            has_error_col = "error" in batch_df.columns
            mat, has_err = batch_df, False
            for _ in range(max_attempts):
                mat = batch_df.localCheckpoint(eager=True)
                has_err = has_error_col and bool(
                    mat.filter(F.col("error").isNotNull()).limit(1).take(1)
                )
                if not has_err:
                    break
            if has_err and on_exhausted == "reject":
                mat = mat.filter(F.col("error").isNull())
            inner(mat, epoch_id)

        return writer

    def _wrap_read_until(self, inner, cond: Column):
        """Wrap the sink writer with read_until semantics: the triggering
        batch is written, subsequent batches are discarded while the stop
        monitor tears the query down (the reference likewise drops messages
        consumed after the predicate fires)."""

        def writer(batch_df, epoch_id: int) -> None:
            if self._stop_requested:
                return
            inner(batch_df, epoch_id)
            if not batch_df.filter(cond).isEmpty():
                self._stop_requested = True

        return writer

    @property
    def sink(self) -> IdempotentParquetSink:
        if self._sink is None:
            raise RuntimeError("run_stream has not been called")
        return self._sink


_ENV_RE = re.compile(r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}")
# same pattern but also matching (and preserving) the $$-escaped form
_ENV_ESC_RE = re.compile(r"\$?\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}")


def _split_args_array(mapping: str) -> list[str]:
    """Split the reference's `args_mapping` form `root = [e1, e2, ...]`
    into element expressions (top-level commas only — brackets, parens
    and string quotes nest)."""
    import re

    m = re.match(r"\s*root\s*=\s*\[(.*)\]\s*$", mapping, re.S)
    if not m:
        raise ValueError(
            "args_mapping must be `root = [expr, ...]` (cassandra/output.go) "
            "or a YAML list of expressions")
    body = m.group(1)
    out: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    i = 0
    while i < len(body):
        ch = body[i]
        if quote:
            cur.append(ch)
            if ch == quote:
                # closed only when preceded by an EVEN number of
                # backslashes ("\\" ends the string; "\"" does not)
                nbs = 0
                j = i - 1
                while j >= 0 and body[j] == "\\":
                    nbs += 1
                    j -= 1
                if nbs % 2 == 0:
                    quote = None
        elif ch in "\"'":
            quote = ch
            cur.append(ch)
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    if not out:
        raise ValueError("args_mapping array is empty")
    return out


def interpolate_env(src: str, env: dict[str, str] | None = None) -> str:
    """Environment-variable interpolation in raw config text, BEFORE YAML
    parse: `${VAR}` / `${VAR:default}` (reference
    internal/config/env_vars.go). Missing vars without a default raise —
    the reference lints these. `${! ... }` Bloblang interpolations are a
    different mini-language resolved per row at compile time; the leading
    `!` keeps them out of this regex. `$${VAR}` escapes to a literal
    `${VAR}` (the reference's env_vars interpolation supports the same
    double-dollar escape)."""
    import os as _os

    env = _os.environ if env is None else env

    def sub(m: re.Match) -> str:
        if m.group(0).startswith("$$"):
            return m.group(0)[1:]  # $${VAR} -> literal ${VAR}
        val = env.get(m.group(1), m.group(2))
        if val is None:
            raise ValueError(f"config references unset environment variable ${{{m.group(1)}}}")
        return val

    return _ENV_ESC_RE.sub(sub, src)


def apply_overrides(conf: dict, overrides: dict[str, Any]) -> dict:
    """`-s field.path=value` CLI overrides (reference internal/cli/run.go
    runFlags :97): dotted paths into the parsed config, creating
    intermediate maps; values are YAML-parsed so `-s a.b=3` is an int."""
    for path, val in overrides.items():
        node = conf
        keys = path.split(".")
        for k in keys[:-1]:
            nxt = node.get(k)
            if not isinstance(nxt, dict):
                nxt = {}
                node[k] = nxt
            node = nxt
        node[keys[-1]] = yaml.safe_load(val) if isinstance(val, str) else val
    return conf


def compile_yaml(
    src: str,
    overrides: dict[str, Any] | None = None,
    env: dict[str, str] | None = None,
) -> Pipeline:
    conf = yaml.safe_load(interpolate_env(src, env))
    if not isinstance(conf, dict):
        raise ValueError("pipeline config must be a mapping")
    if overrides:
        conf = apply_overrides(conf, overrides)
    return Pipeline(conf)
