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
`Pipeline.start_bridge()` runs. Outputs come from the output registry
(plans/outputs.py): `run_stream` builds the stream once, calls the row of
the one output the `output` map names, and wraps its writer in the map's
`dlq` (errored rows to the DLQ, on any output), then `input.read_until`,
then `error_handling: retry`.

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

import re
from dataclasses import dataclass, field
from typing import Any

import yaml
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.audio.generate import clips_df
from bento_spark.audio.udfs import with_audio_features, with_decoded_pcm, with_normalized_clip
from bento_spark.functions.bloblang import compile_expr, compile_interpolated, compile_mapping
from bento_spark.operators import errors as err_ops
from bento_spark.operators import grouping, mapping as map_ops, skew
from bento_spark.plans.inputs import (
    INPUTS, cosmos_creds, gcs_creds, nats_addr, read_input, select_input,
)
from bento_spark.plans.outputs import OUTPUTS, select_output
from bento_spark.streaming.checkpoint import local_checkpoint_commits
from bento_spark.streaming.sink import IdempotentParquetSink, dlq_split_writer
from bento_spark.streaming.windows import session_windowed, sliding_windowed, tumbling_windowed

_AGG_RE = re.compile(r"^\s*(\w+)\s*\(\s*(.*?)\s*\)\s*$")

# Processors that turn each row into exactly one row, leave `error` as it
# is and take `keep_payload`. A filter on `error` commutes with them, so the
# window+DLQ path of run_stream runs a trailing run of them after its split
# on `error`: each query decodes only the rows it keeps. Each member is
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
    _dlq_query: Any = field(default=None, init=False)  # StreamingQuery for window+dlq configs
    _case_sinks: list = field(default_factory=list, init=False)  # switch/fan_out sinks
    _stop_requested: bool = field(default=False, init=False)
    # error_handling reject capture: batch defers the DLQ write to
    # run_batch/flush time; streaming stashes the errored branch for a side
    # DLQ query started by run_stream
    _batch_dlq_pending: Any = field(default=None, init=False)
    _reject_errored: Any = field(default=None, init=False)
    _eh_dlq_query: Any = field(default=None, init=False)
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
                       _visiting: frozenset | None = None):
        """Resolve a `resource:` reference to a cache backend. A label
        declared under top-level `cache_resources:` wins (the reference
        registers caches as named resources — config/schema.go's
        cache_resources section, 16 backends under internal/impl/*/
        cache_*.go); an undeclared resource falls back to the historical
        behavior of treating the string as a parquet KeyValueCache path.

        In-process kinds (memory/lru/ttlru/noop) and multilevel compositions
        are memoized per Pipeline by label — a `set` in one processor and a
        `get` in a later one must hit the SAME store, exactly as the
        reference shares one registered resource instance across components."""
        from bento_spark.operators.cache import FileCache, KeyValueCache

        mem = self.__dict__.setdefault("_mem_cache_instances", {})
        if resource in mem:
            return mem[resource]
        for r in self.conf.get("cache_resources") or []:
            if isinstance(r, dict) and r.get("label") == resource:
                if any(k in r for k in ("memory", "lru", "ttlru", "ristretto")):
                    from bento_spark.operators.cache import MemoryCache

                    kind = next(k for k in ("memory", "lru", "ttlru",
                                            "ristretto") if k in r)
                    o = r[kind] or {}
                    # reference defaults: lru cap 1000 (cache_lru.go:17),
                    # ttlru cap 1024 + default_ttl 5m (cache_ttlru.go:15-19),
                    # memory uncapped + default_ttl 5m (cache_memory.go);
                    # ristretto (dgraph/cache_ristretto.go) = an in-process
                    # TTL cache — same engine-level semantics as ttlru here
                    # (the reference's frequency-based admission is an
                    # eviction heuristic, not an API contract), default_ttl
                    # optional like the reference's
                    cap = o.get("cap", {"lru": 1000, "ttlru": 1024}.get(kind))
                    ttl = o.get("default_ttl",
                                "5m" if kind in ("memory", "ttlru") else None)
                    mem[resource] = MemoryCache(
                        spark, cap=cap, default_ttl=ttl,
                        init_values=o.get("init_values"),
                    )
                    return mem[resource]
                if "noop" in r:
                    from bento_spark.operators.cache import NoopCache

                    mem[resource] = NoopCache(spark)
                    return mem[resource]
                if "multilevel" in r:
                    from bento_spark.operators.cache import MultilevelCache

                    names = r["multilevel"] or []
                    if resource in names:
                        raise ValueError(f"multilevel cache {resource!r} references itself")
                    # mutual cycles (A: multilevel [B], B: multilevel [A])
                    # would recurse to RecursionError — the memo entry only
                    # lands after construction, so thread a visiting-set
                    visiting = _visiting or frozenset()
                    if resource in visiting:
                        raise ValueError(
                            f"multilevel cache cycle through {resource!r} "
                            f"(visiting: {sorted(visiting)})")
                    mem[resource] = MultilevelCache(
                        [self._cache_backend(str(n), spark,
                                             _visiting=visiting | {resource})
                         for n in names]
                    )
                    return mem[resource]
                if "file" in r:
                    f = r["file"] or {}
                    if "directory" not in f:
                        raise ValueError(
                            f"cache resource {resource!r}: file backend needs `directory`"
                        )
                    return FileCache(
                        spark, f["directory"], key_col=key_col,
                        value_col=f.get("value_col", "value"), ttl=f.get("ttl"),
                    )
                if "parquet" in r:
                    p = r["parquet"] or {}
                    if "path" not in p:
                        raise ValueError(
                            f"cache resource {resource!r}: parquet backend needs `path`"
                        )
                    return KeyValueCache(spark, p["path"], key_col=key_col)
                if "sqlite" in r:
                    s = r["sqlite"] or {}
                    if "path" not in s:
                        raise ValueError(
                            f"cache resource {resource!r}: sqlite backend needs `path`"
                        )
                    from bento_spark.operators.cache import SqliteCache

                    return SqliteCache(
                        spark, s["path"], table=s.get("table", "bento_cache"),
                        key_col=key_col, value_col=s.get("value_col", "value"),
                    )
                if "mongodb" in r:
                    d = r["mongodb"] or {}
                    if "url" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: mongodb backend needs `url`"
                        )
                    from bento_spark.streaming.mongodb import MongoCache

                    return MongoCache(
                        spark, d["url"], database=d.get("database", "bento"),
                        collection=d.get("collection", "cache"),
                        key_field=d.get("key_field", "key"),
                        value_field=d.get("value_field", "value"),
                        key_col=key_col, value_col=d.get("value_col", "value"),
                    )
                if "aws_dynamodb" in r:
                    d = r["aws_dynamodb"] or {}
                    if "table" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: aws_dynamodb "
                            "backend needs `table`"
                        )
                    import os as _os

                    from bento_spark.streaming.dynamodb import DynamoCache

                    return DynamoCache(
                        spark,
                        str(d.get("endpoint")
                            or f"https://dynamodb.{d.get('region', 'us-east-1')}.amazonaws.com"),
                        str(d["table"]),
                        str(d.get("access_key")
                            or _os.environ.get("AWS_ACCESS_KEY_ID", "")),
                        str(d.get("secret_key")
                            or _os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
                        region=str(d.get("region", "us-east-1")),
                        hash_key=str(d.get("hash_key", "key")),
                        data_key=str(d.get("data_key", "value")),
                        ttl_key=d.get("ttl_key"),
                        default_ttl=d.get("default_ttl"),
                        key_col=key_col, value_col=d.get("value_col", "value"),
                    )
                if "aws_s3" in r:
                    d = r["aws_s3"] or {}
                    if "bucket" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: aws_s3 backend "
                            "needs `bucket`"
                        )
                    import os as _os

                    from bento_spark.streaming.s3 import S3Cache

                    return S3Cache(
                        spark,
                        str(d.get("endpoint")
                            or f"https://s3.{d.get('region', 'us-east-1')}.amazonaws.com"),
                        str(d["bucket"]),
                        str(d.get("access_key")
                            or _os.environ.get("AWS_ACCESS_KEY_ID", "")),
                        str(d.get("secret_key")
                            or _os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
                        region=str(d.get("region", "us-east-1")),
                        content_type=str(d.get("content_type",
                                               "application/octet-stream")),
                        key_col=key_col, value_col=d.get("value_col", "value"),
                    )
                if "gcp_cloud_storage" in r:
                    d = r["gcp_cloud_storage"] or {}
                    if "bucket" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: gcp_cloud_storage "
                            "backend needs `bucket`"
                        )
                    from bento_spark.streaming.gcs import GcsCache

                    return GcsCache(
                        spark,
                        str(d.get("endpoint")
                            or "https://storage.googleapis.com"),
                        str(d["bucket"]),
                        credentials=gcs_creds(d),
                        content_type=str(d.get("content_type",
                                               "application/octet-stream")),
                        key_col=key_col, value_col=d.get("value_col", "value"),
                    )
                if "couchbase" in r:
                    d = r["couchbase"] or {}
                    if "url" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: couchbase backend "
                            "needs `url`"
                        )
                    from bento_spark.streaming.couchbase import CouchbaseCache

                    return CouchbaseCache(
                        spark, str(d["url"]), bucket=d.get("bucket"),
                        username=d.get("username"), password=d.get("password"),
                        key_col=key_col, value_col=d.get("value_col", "value"),
                        default_ttl=d.get("default_ttl"),
                    )
                if "nats_kv" in r:
                    # KV bucket over JetStream subjects (nats/cache_kv.go):
                    # acknowledged publishes, Create via expected-last-seq 0,
                    # DIRECT.GET last_by_subj reads, DEL markers
                    d = r["nats_kv"] or {}
                    if "bucket" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: nats_kv backend "
                            "needs `bucket`"
                        )
                    from bento_spark.streaming.nats import NatsKvCache

                    url = (d.get("urls") or [d.get("url", "127.0.0.1:4222")])[0]
                    return NatsKvCache(
                        spark, str(url),
                        bucket=str(d["bucket"]), key_col=key_col,
                        value_col=d.get("value_col", "value"),
                    )
                if "memcached" in r:
                    d = r["memcached"] or {}
                    if "addresses" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: memcached backend "
                            "needs `addresses`"
                        )
                    from bento_spark.streaming.memcached import MemcachedCache

                    return MemcachedCache(
                        spark, str(d["addresses"][0]), key_col=key_col,
                        value_col=d.get("value_col", "value"),
                        prefix=d.get("prefix", ""),
                        default_ttl=d.get("default_ttl", "300s"),
                    )
                if "redis" in r:
                    d = r["redis"] or {}
                    if "url" not in d:
                        raise ValueError(
                            f"cache resource {resource!r}: redis backend needs `url`"
                        )
                    from bento_spark.streaming.redis import RedisCache

                    return RedisCache(
                        spark, d["url"], key_col=key_col,
                        value_col=d.get("value_col", "value"),
                        prefix=d.get("prefix", ""),
                        default_ttl=d.get("default_ttl"),
                    )
                raise ValueError(
                    f"cache resource {resource!r} needs a backend section "
                    "(file: {directory: ...}, parquet: {path: ...}, "
                    "sqlite: {path: ...}, redis: {url: ...}, "
                    "memcached: {addresses: [...]}, "
                    "memory/lru/ttlru: {cap, default_ttl, init_values}, "
                    "noop: {}, or multilevel: [labels...])"
                )
        return KeyValueCache(spark, resource, key_col=key_col)

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
            if strategy == "reject" and "error" in out.columns:
                if eh.get("dlq"):
                    # capture BEFORE the filter: run_stream starts a side
                    # DLQ query over this branch (same dual-query pattern
                    # as window+output.dlq) — filtering first would mean
                    # the DLQ sink never sees an errored row
                    self._reject_errored = (
                        out.filter(F.col("error").isNotNull()),
                        str(eh["dlq"]),
                    )
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
                df = self._apply_one(df, name, opts)
            return df

        return run

    def _apply_one(self, df: DataFrame, name: str, opts: Any) -> DataFrame:
        if name in ("mapping", "mutation", "bloblang"):
            # mutation = mapping with in-place assignment semantics
            # (processor_mutation.go:15) — identical compilation here since
            # our assignments are withColumn either way; `bloblang` is the
            # reference's older name for the same processor
            return compile_mapping(opts).apply(df)
        if name == "sleep":
            return df  # throttling is a trigger/rate concern in Spark (below)
        if name == "rate_limit":
            # token-bucket rate limiting (processor_rate_limit.go:32,
            # rate_limit_local.go:16) maps to source-side pacing in Spark:
            # maxFilesPerTrigger/maxOffsetsPerTrigger + trigger interval.
            # Recorded on the plan; run_stream maps `interval` to the
            # processingTime trigger in continuous mode (see run_stream).
            # `resource: label` references a shared rate_limit_resources
            # entry (the reference processor's only field) — its interval
            # becomes the pacing interval.
            o = dict(opts or {})
            if "resource" in o:
                body = self._rate_limit_conf(str(o.pop("resource")))
                o.setdefault(
                    "interval",
                    body.get("interval")
                    or (body.get("redis") or {}).get("interval", "1s"),
                )
            self.conf.setdefault("_rate_limit", o)
            return df
        if name == "filter":
            return df.filter(compile_expr(opts))
        if name == "audio_decode":
            return with_decoded_pcm(df)
        if name == "image_resize":
            # thumbnail stage: decode -> box-average/nearest resize ->
            # deterministic re-encode (images/udfs.py)
            from bento_spark.images.udfs import with_image_resize

            o = opts or {}
            return with_image_resize(
                df, int(o["width"]), int(o["height"]),
                col=o.get("column", "bytes"), out_col=o.get("out"),
            )
        if name == "image_features":
            # second multimodal family (images/udfs.py): PNG decode +
            # feature scalars, same Arrow contract as audio_features
            from bento_spark.images.udfs import with_image_features

            o = opts or {}
            return with_image_features(
                df, col=o.get("column", "bytes"),
                keep_payload=bool(o.get("keep_payload", True)),
            )
        if name == "video_meta":
            # third multimodal family (video/udfs.py): O(1) header-only
            # metadata parse, no frame decode
            from bento_spark.video.udfs import with_video_meta

            o = opts or {}
            return with_video_meta(df, col=o.get("column", "bytes"))
        if name == "frame_sample":
            # explode one row per sampled frame; frames are sliced out of
            # the container decode-free (video/container.py)
            from bento_spark.video.udfs import with_frame_sample

            o = opts or {}
            mf = o.get("max_frames")
            return with_frame_sample(
                df, int(o["every"]), col=o.get("column", "bytes"),
                max_frames=None if mf is None else int(mf),
                keep_payload=bool(o.get("keep_payload", False)),
            )
        if name == "video_features":
            from bento_spark.video.udfs import with_video_features

            o = opts or {}
            return with_video_features(
                df, col=o.get("column", "bytes"),
                keep_payload=bool(o.get("keep_payload", True)),
            )
        if name == "audio_features":
            o = opts or {}
            # YAML pipelines keep pass-through semantics by default; set
            # keep_payload: false to drop `bytes` from the UDF output (the
            # scale-path default for agg-bound pipelines). run_stream's
            # window+DLQ path runs this after its split on `error` and sets
            # keep_payload: false itself on the window branch (the DLQ
            # branch keeps the configured value).
            return with_audio_features(df, keep_payload=bool(o.get("keep_payload", True)))
        if name == "audio_normalize":
            o = opts or {}
            return with_normalized_clip(
                df, target_sr=int(o.get("target_sr", 16000)), target_codec=o.get("codec", "pcm_s16le")
            )
        if name == "bounds_check":
            o = opts or {}
            return map_ops.bounds_check(
                df, col=o.get("column", "bytes"), min_len=int(o.get("min", 0)),
                max_len=int(o["max"]) if "max" in o else None,
            )
        if name == "dedupe":
            o = opts or {}
            wm = tuple(o["watermark"]) if "watermark" in o else None
            return grouping.dedupe(df, o["keys"], watermark=wm)
        if name == "set_error":
            # message is an interpolated field (`${! expr }` segments,
            # field/expression.go:19) so errors can carry per-row context
            msg = compile_interpolated(str(opts.get("message", "error")))
            return err_ops.set_error_when(df, compile_expr(opts["when"]), msg)
        if name == "catch":
            o = opts or {}
            sets = o.get("set") or {}

            def fix(d: DataFrame) -> DataFrame:
                for colname, expr_src in sets.items():
                    d = d.withColumn(colname, compile_expr(str(expr_src)))
                return d

            fixes = [fix] if sets else []
            if "processors" in o:
                fixes.append(self._chain(o["processors"]))
            return err_ops.catch_(df, *fixes)
        if name == "try":
            # try: run children, already-errored rows short-circuit
            # (processor_try.go:15)
            return err_ops.try_(df, self._chain(opts["processors"]))
        if name == "switch":
            # processor-level switch: first matching case's chain processes
            # the row (processor_switch.go:181-184)
            from bento_spark.operators.switch import switch_transform

            o = opts or {}
            cases = [(compile_expr(c["check"]), self._chain(c.get("processors"))) for c in o["cases"]]
            default = self._chain(o["default"]) if "default" in o else None
            return switch_transform(df, cases, default=default)
        if name == "group_by":
            # ordered checks label rows; each group gets its own processor
            # chain (processor_group_by.go:75,130-185)
            o = opts or {}
            checks = [(c["name"], compile_expr(c["check"])) for c in o["checks"]]
            df = grouping.group_by(df, checks, default=o.get("default", "default"))
            chains = {c["name"]: self._chain(c["processors"]) for c in o["checks"] if c.get("processors")}
            return grouping.per_group(df, chains) if chains else df
        if name == "group_by_value":
            # the reference's group key IS an interpolated string
            # (processor_group_by_value.go:21)
            v = str(opts["value"])
            key = compile_interpolated(v) if "${!" in v else compile_expr(v)
            return grouping.group_by_value(df, key)
        if name == "while":
            # driver-side loop, bounded by max_loops (processor_while.go:20):
            # re-run children while any row matches `check`. Batch-only —
            # iteration count is data-dependent, which a streaming plan
            # cannot express; localCheckpoint truncates lineage per round.
            o = opts or {}
            if df.isStreaming:
                raise ValueError("while is batch-only (data-dependent iteration)")
            cond = compile_expr(o["check"])
            body = self._chain(o["processors"])
            for _ in range(int(o.get("max_loops", 10))):
                if df.filter(cond).isEmpty():
                    break
                df = body(df).localCheckpoint()
            return df
        if name == "select_parts":
            from bento_spark.operators import batching

            o = opts or {}
            return batching.select_parts(df, o["key"], o["order_by"], o["indexes"])
        if name == "insert_part":
            from bento_spark.operators import batching

            o = opts or {}
            row = {k: compile_expr(str(v)) for k, v in o["row"].items()}
            return batching.insert_part(df, o["key"], o["order_by"], int(o.get("index", -1)), row)
        if name == "cache":
            # per-batch get/set/add/delete on a named keyed state table
            # (processor_cache.go:125; the key field is interpolated in the
            # reference — here `key` names the column holding it)
            o = opts or {}
            cache = self._cache_backend(
                o["resource"], df.sparkSession, key_col=o.get("key_col", "key")
            )
            op = o.get("operator", "get")
            key = o["key"]
            # ttl (seconds or duration string) + optional pinned now_ms for
            # deterministic tests/oracles (processor_cache.go:150)
            ttl, now_ms = o.get("ttl"), o.get("now_ms")
            if op == "get":
                return cache.get(df, on=key, now_ms=now_ms)
            if df.isStreaming:
                raise ValueError(f"cache {op} is batch-only in YAML pipelines; stream writes go through outputs")
            cols = o.get("columns") or [c for c in df.columns if c != key]
            if getattr(cache, "single_value", False) and op in ("set", "add"):
                # one entry holds ONE string value (file: the content IS the
                # value, cache_file.go; redis: SET k v) — a multi-column
                # write has no encoding in these backends
                if len(cols) != 1:
                    raise ValueError(
                        f"cache {o['resource']!r} stores a single value column; "
                        f"got columns={cols} (pick one with `columns: [col]`)"
                    )
                sel = df.select(key, F.col(cols[0]).cast("string").alias(cache.value_col))
                if key != cache.key_col:
                    sel = sel.withColumnRenamed(key, cache.key_col)
                if op == "set":
                    cache.set(sel, ttl=ttl, now_ms=now_ms)
                    return df
                # op == "add" falls through to the shared rejection routing
            else:
                sel = df.select(key, *cols)
                if key != cache.key_col:
                    sel = sel.withColumnRenamed(key, cache.key_col)
            if op == "set":
                cache.set(sel, ttl=ttl, now_ms=now_ms)
                return df
            if op == "delete":
                cache.delete(sel.select(cache.key_col))
                return df
            if op == "add":
                # rejected keys (already present) error their rows, matching
                # the reference's add-operator failure semantics
                rejected = cache.add(sel, ttl=ttl, now_ms=now_ms).select(F.col(cache.key_col).alias(key)).withColumn(
                    "_cache_dup", F.lit(True)
                )
                out = df.join(F.broadcast(rejected), key, "left")
                out = err_ops.set_error_when(
                    out, F.col("_cache_dup").isNotNull(), f"cache add: key exists in {o['resource']}"
                )
                return out.drop("_cache_dup")
            raise ValueError(f"unsupported cache operator: {op}")
        if name == "cached":
            # memoize the child chain per key (processor_cached.go)
            from bento_spark.operators.cache import KeyValueCache, cached

            o = opts or {}
            cache = self._cache_backend(o["resource"], df.sparkSession)
            if not isinstance(cache, KeyValueCache):
                raise ValueError(
                    "cached memoization needs a parquet-backed cache resource "
                    "(it stores arbitrary value columns; the file backend holds "
                    "one string per key)"
                )
            return cached(cache, o["key_cols"], self._chain(o["processors"]),
                          ttl=o.get("ttl"), now_ms=o.get("now_ms"))(df)
        if name == "lookup":
            # broadcast dimension enrichment — the reference's cache-get /
            # sql_select lookup patterns as a real join (enrich.py); works on
            # streams too (stream-static join, dimension read per micro-batch)
            from bento_spark.operators.enrich import lookup_join

            o = opts or {}
            dim = read_input(df.sparkSession, o["right"], streaming=False)
            # accept `keys:` (preferred — YAML 1.1 parses a bare `on:` key as
            # boolean True, the classic Norway problem) but tolerate both
            on = o.get("keys", o.get("on", o.get(True)))
            if on is None:
                raise ValueError("lookup needs `keys:` (join key or {left,right} pair)")
            if isinstance(on, dict):  # differently-named keys: {left: l_k, right: r_k}
                dim = dim.withColumnRenamed(on["right"], on["left"])
                on = on["left"]
            keys = on if isinstance(on, list) else [on]
            if "columns" in o:
                dim = dim.select(*keys, *o["columns"])
            return lookup_join(df, dim, on=on, how=o.get("how", "left"),
                               broadcast_dim=bool(o.get("broadcast", True)))
        if name == "spread_skew":
            o = opts or {}
            return skew.spread_by_cost(df, cost_col=o.get("cost", "dur_ms"))
        if name == "repartition":
            o = opts or {}
            if "by" in o:
                return df.repartition(int(o.get("num", 0)) or df.sparkSession.sparkContext.defaultParallelism,
                                      *[F.col(c) for c in o["by"]])
            return df.repartition(int(o["num"]))
        if name == "compress":
            o = opts or {}
            from bento_spark.operators.codec import compress_col

            col = o.get("column", "bytes")
            return df.withColumn(o.get("out", col), compress_col(col, o.get("algorithm", "gzip")))
        if name == "decompress":
            o = opts or {}
            from bento_spark.operators.codec import decompress_col

            col = o.get("column", "bytes")
            out = o.get("out", col)
            dfd = df.withColumn(out, decompress_col(col, o.get("algorithm", "gzip")))
            return err_ops.set_error_when(dfd, F.col(out).isNull() & F.col(col).isNotNull(), "decompress failed")
        if name == "grok":
            from bento_spark.operators.codec import grok

            return grok(df, opts["column"], opts["pattern"])
        if name == "parse_log":
            from bento_spark.operators.codec import parse_log

            o = opts or {}
            return parse_log(df, o.get("column", "line"), o.get("format", "apache_common"))
        if name == "json_map":
            from bento_spark.operators.codec import json_map

            o = dict(opts)
            col = o.pop("column")
            outputs = {k: (v["path"], v.get("type", "string")) for k, v in o["fields"].items()}
            return json_map(df, col, outputs)
        if name == "json_schema":
            from bento_spark.operators.codec import json_schema_check

            return json_schema_check(df, opts["column"], [(f["field"], f["type"]) for f in opts["required"]])
        if name == "archive":
            from bento_spark.operators import batching

            o = opts or {}
            return batching.archive(
                df, o["key"], o["order_by"], o["column"],
                fmt=o.get("format", "lines"), out_col=o.get("out", "archived"),
            )
        if name == "unarchive":
            from bento_spark.operators import batching

            o = opts or {}
            return batching.unarchive(df, o["column"], fmt=o.get("format", "lines"), out_col=o.get("out", "part"))
        if name == "branch":
            # expression-only branch: request_map/result_map of Bloblang
            # exprs, optional skip_when (processor_branch.go:152)
            from bento_spark.operators.branch import Branch, apply_branch_inline

            o = opts or {}
            br = Branch(
                name=o.get("name", "branch"),
                request_map={k: compile_expr(v) for k, v in (o.get("request_map") or {}).items()} or None,
                processors=lambda d: d,
                result_map={k: compile_expr(v) for k, v in o["result_map"].items()},
                skip_when=compile_expr(o["skip_when"]) if "skip_when" in o else None,
            )
            return apply_branch_inline(df, br)
        if name == "workflow":
            from bento_spark.operators.branch import Branch, workflow as run_workflow

            brs = []
            for b in opts["branches"]:
                brs.append(
                    Branch(
                        name=b["name"],
                        request_map=None,
                        processors=lambda d: d,
                        result_map={k: compile_expr(v) for k, v in b["result_map"].items()},
                        skip_when=compile_expr(b["skip_when"]) if "skip_when" in b else None,
                        depends_on=b.get("depends_on", ()),
                    )
                )
            return run_workflow(df, brs)
        if name == "xml_extract":
            from bento_spark.operators.codec import xml_extract

            o = dict(opts)
            col = o.pop("column")
            fields = {k: (v["xpath"], v.get("type", "string")) for k, v in o["fields"].items()}
            return xml_extract(df, col, fields)
        if name == "parquet_encode":
            from bento_spark.operators.codec import parquet_encode

            o = opts or {}
            return parquet_encode(df, o["group_by"], out_col=o.get("out", "parquet_blob"))
        if name == "parquet_decode":
            from bento_spark.operators.codec import parquet_decode

            o = opts or {}
            return parquet_decode(df, o.get("column", "parquet_blob"), o["schema"],
                                  keep_cols=o.get("keep", ()))
        if name == "msgpack_encode":
            from bento_spark.operators.msgpack_codec import msgpack_encode

            o = opts or {}
            return msgpack_encode(df, o["columns"], out_col=o.get("out", "msgpack_blob"))
        if name == "msgpack_decode":
            from bento_spark.operators.msgpack_codec import msgpack_decode

            o = opts or {}
            return msgpack_decode(df, o.get("column", "msgpack_blob"), o["schema"],
                                  keep_cols=o.get("keep", ()))
        if name == "jmespath":
            # full JMESPath query over a JSON column (processor_jmespath.go:65);
            # the result document replaces the column (reference: replaces
            # the message) unless `out` is given
            from bento_spark.operators.codec import jmespath_map

            o = opts or {}
            return jmespath_map(df, o.get("column", "bytes"), o["query"], out_col=o.get("out"))
        if name == "avro_decode":
            # dependency-free spec codec by default (avro/scanner.go:46,
            # processor.go:21 — see operators/avro_codec.py); `engine: spark`
            # opts into the jar-gated from_avro (struct `out` column) for
            # clusters that ship spark-avro
            o = opts or {}
            if o.get("engine") == "spark":
                from bento_spark.operators.codec import avro_decode

                return avro_decode(df, o.get("column", "value"), o["schema"],
                                   out_col=o.get("out", "record"))
            from bento_spark.operators.avro_codec import avro_record_decode

            return avro_record_decode(df, o.get("column", "value"), o["schema"],
                                      keep_cols=o.get("keep", ()))
        if name == "avro_encode":
            o = opts or {}
            if o.get("engine") == "spark":
                from bento_spark.operators.codec import avro_encode

                return avro_encode(df, o["columns"], o["schema"], out_col=o.get("out", "avro_bytes"))
            from bento_spark.operators.avro_codec import avro_record_encode

            return avro_record_encode(df, o["columns"], o["schema"],
                                      out_col=o.get("out", "avro_bytes"))
        if name == "sentry_capture":
            # sentry/processor_capture.go: interpolated message + tags,
            # envelope POST per non-errored row, rows pass through
            o = opts or {}
            from bento_spark.operators.sentry import sentry_capture

            work = df.withColumn("_sn_msg", compile_interpolated(str(o["message"])))
            tag_cols = {}
            for tname, expr in (o.get("tags") or {}).items():
                col = f"_sn_tag_{tname}"
                work = work.withColumn(col, compile_interpolated(str(expr)))
                tag_cols[tname] = col
            return sentry_capture(
                work, str(o["dsn"]), "_sn_msg", tag_cols=tag_cols,
                level=str(o.get("level", "ERROR")).lower(),
                environment=o.get("environment"), release=o.get("release"),
            )
        if name == "azure_cosmosdb":
            # azure/processor_cosmosdb.go over cosmosdb/docs.go: operation
            # Create|Upsert|Read|Replace|Delete|Patch, per-row partition
            # key (`partition_keys_map` compiled to a COLUMN), interpolated
            # item_id; the document is the message JSON rendered JVM-side
            o = opts or {}
            from bento_spark.streaming.cosmosdb import cosmos_map

            endpoint, key = cosmos_creds(o)
            op = str(o.get("operation", "Create"))
            work = df
            pk_src = str(o.get("partition_keys_map", "root = null"))
            pk_expr = re.sub(r"^\s*root\s*=\s*", "", pk_src)
            work = work.withColumn(
                "_cdb_pk", compile_expr(pk_expr).cast("string"))
            id_col = None
            if o.get("item_id"):
                work = work.withColumn(
                    "_cdb_id", compile_interpolated(str(o["item_id"])))
                id_col = "_cdb_id"
            doc_col = None
            if op in ("Create", "Upsert", "Replace"):
                data_cols = [c for c in df.columns if c != "error"]
                work = work.withColumn("_cdb_doc", F.to_json(F.struct(*[
                    F.col(c) for c in data_cols])))
                doc_col = "_cdb_doc"
            patches = [{"operation": str(p["operation"]),
                        "path": str(p["path"]),
                        **({"value": p["value"]} if "value" in p else {})}
                       for p in (o.get("patch_operations") or [])]
            out = cosmos_map(
                work, endpoint, key, str(o["database"]), str(o["container"]),
                "_cdb_pk", operation=op, doc_col=doc_col, id_col=id_col,
                auto_id=bool(o.get("auto_id", True)),
                patch_operations=patches or None,
                patch_condition=(str(o["patch_condition"])
                                 if o.get("patch_condition") else None),
                out_col=str(o.get("out", "cosmosdb")))
            return out
        if name == "couchbase":
            # couchbase/processor.go: interpolated id, Bloblang content,
            # operation get|insert|remove|replace|upsert; KV binary
            # protocol client (streaming/couchbase.py)
            o = opts or {}
            from bento_spark.streaming.couchbase import couchbase_map

            work = df.withColumn("_cb_id", compile_interpolated(str(o["id"])))
            content_col = None
            if o.get("content") is not None:
                work = work.withColumn("_cb_content", compile_expr(str(o["content"])))
                # object/array content must be JSON on the wire (the gocb
                # default transcoder) — a bare str() of a struct row would
                # store Python repr; scalars pass through as strings
                dt = work.schema["_cb_content"].dataType.simpleString()
                if dt.startswith(("struct", "array", "map")):
                    work = work.withColumn("_cb_content", F.to_json("_cb_content"))
                else:
                    work = work.withColumn("_cb_content",
                                           F.col("_cb_content").cast("string"))
                content_col = "_cb_content"
            out = couchbase_map(
                work, str(o.get("url", "127.0.0.1:11210")), "_cb_id",
                operation=str(o.get("operation", "get")),
                content_col=content_col, bucket=o.get("bucket"),
                username=o.get("username"), password=o.get("password"),
                out_col=o.get("out", "couchbase"),
            )
            return out.drop("_cb_id", "_cb_content")
        if name == "schema_registry_encode":
            # confluent/processor_schema_registry_encode.go: subject's
            # latest Avro schema resolved at plan time, wire-format
            # magic+id header prepended
            o = opts or {}
            from bento_spark.operators.schema_registry import schema_registry_encode

            return schema_registry_encode(
                df, str(o["url"]), str(o["subject"]), o["columns"],
                out_col=o.get("out", "sr_blob"))
        if name == "schema_registry_decode":
            # confluent/processor_schema_registry_decode.go: per-row schema
            # id, per-executor schema memo, standard-JSON output column
            o = opts or {}
            from bento_spark.operators.schema_registry import schema_registry_decode

            keep = o.get("keep") or [c for c in df.columns
                                     if c != o.get("column", "sr_blob")]
            return schema_registry_decode(
                df, str(o["url"]), blob_col=o.get("column", "sr_blob"),
                out_col=o.get("out", "decoded"), keep_cols=keep)
        if name == "unarchive_avro":
            # `avro` scanner (scanner.go:46): a binary column of whole OCF
            # files -> one row per record, standard-JSON content (schema
            # carried per file)
            from bento_spark.operators.avro_codec import avro_ocf_scan

            o = opts or {}
            return avro_ocf_scan(df, o.get("column", "content"), keep_cols=o.get("keep", ()),
                                 out_col=o.get("out", "record_json"))
        if name == "protobuf_decode":
            # .proto SOURCE schemas (`proto` inline / `proto_file` path —
            # processor_protobuf.go:66 import_paths model) use the
            # dependency-free wire codec; `descriptor_file` keeps the
            # jar-gated spark-protobuf path for compiled descriptor sets.
            o = opts or {}
            src = self._proto_source(o)
            if src is not None:
                from bento_spark.operators.protobuf_codec import protobuf_record_decode

                keep = o.get("keep", [c for c in df.columns if c != o.get("column", "value")])
                return protobuf_record_decode(df, o.get("column", "value"), src,
                                              o["message"], keep_cols=keep)
            from bento_spark.operators.codec import protobuf_decode

            return protobuf_decode(df, o.get("column", "value"), o["message"], o["descriptor_file"],
                                   out_col=o.get("out", "record"))
        if name == "protobuf_encode":
            o = opts or {}
            src = self._proto_source(o)
            if src is not None:
                from bento_spark.operators.protobuf_codec import protobuf_record_encode

                return protobuf_record_encode(df, o["columns"], src, o["message"],
                                              out_col=o.get("out", "proto_bytes"))
            from bento_spark.operators.codec import protobuf_encode

            return protobuf_encode(df, o["columns"], o["message"], o["descriptor_file"],
                                   out_col=o.get("out", "proto_bytes"))
        if name == "match_sequence":
            # CEP funnel: A then B ... within T per key (streaming/cep.py)
            from bento_spark.streaming.cep import match_sequence, match_sequence_stream

            o = opts or {}
            steps = [compile_expr(str(s)) for s in o["steps"]]
            common = dict(key=o["key"], ts_col=o.get("ts", "ts"), steps=steps,
                          within=o["within"], step_names=o.get("names"))
            if df.isStreaming:
                return match_sequence_stream(df, watermark=o.get("watermark", "2 minutes"),
                                             late_policy=o.get("late_policy", "eager"), **common)
            return match_sequence(df, **common)
        if name == "http":
            # HTTP enrichment (processor_http.go:16): interpolated url/body,
            # response into out (error column on failure); `rate_limit`
            # names a shared resource capping request rate across all
            # parallel components (processor_http.go:18)
            from bento_spark.operators.http_enrich import http_enrich

            o = opts or {}
            return http_enrich(
                df,
                compile_interpolated(str(o["url"])),
                out_col=o.get("out", "http_response"),
                method=o.get("method", "GET"),
                headers=o.get("headers"),
                body=compile_interpolated(str(o["body"])) if "body" in o else None,
                timeout=float(o.get("timeout", 5)),
                retries=int(o.get("retries", 1)),
                rate_limit=self._rate_limit_share(o.get("rate_limit"), df),
            )
        if name == "nats_request_reply":
            # request-reply over core NATS (nats/processor_request_reply.go):
            # interpolated subject, unique inbox reply-to per row, reply
            # into `out` (timeout -> error column)
            from bento_spark.streaming.cep import duration_ms
            from bento_spark.streaming.nats import nats_request_reply_enrich

            o = opts or {}
            host, port = nats_addr(o)
            return nats_request_reply_enrich(
                df, host, port,
                compile_interpolated(str(o["subject"])),
                out_col=o.get("out", "nats_reply"),
                timeout=duration_ms(str(o.get("timeout", "3s"))) / 1000.0,
                inbox_prefix=str(o.get("inbox_prefix", "_INBOX")),
            )
        if name == "gcp_bigquery_select":
            # gcp/processor_bigquery_select.go: the sql_raw amortization —
            # args_mapping compiles to a Catalyst ARRAY column, one
            # jobs.query per DISTINCT args tuple, JSON row arrays
            # broadcast-joined back
            from bento_spark.streaming.bigquery import bigquery_select_map

            o = opts or {}
            args_col = None
            d = df
            if o.get("args_mapping"):
                if df.isStreaming:
                    raise ValueError(
                        "gcp_bigquery_select with args_mapping is batch-only "
                        "(the per-distinct-tuple query runs driver-side); "
                        "argless enrichment works in streams")
                d = df.withColumn("_bq_args",
                                  compile_expr(str(o["args_mapping"])))
                args_col = "_bq_args"
            out = bigquery_select_map(
                d, str(o.get("endpoint") or "https://bigquery.googleapis.com"),
                str(o["project"]), str(o["table"]),
                [str(c) for c in (o.get("columns") or ["*"])], args_col,
                where=str(o.get("where", "")),
                prefix=str(o.get("prefix", "")),
                suffix=str(o.get("suffix", "")),
                credentials=gcs_creds(o),
                result_col=str(o.get("result_col", "bigquery_rows")))
            return out.drop("_bq_args") if args_col else out
        if name == "sql_raw":
            # arbitrary statement with placeholder binds
            # (processor_sql_raw.go:30-80): args_mapping compiles to a
            # Catalyst ARRAY column; SELECTs amortize one query per
            # DISTINCT args tuple + broadcast join; exec_only runs one
            # executemany transaction per batch (sqlite DB-API path —
            # server DBs route to sql_select/sql_insert over JDBC)
            from bento_spark.operators.sql_raw import sql_raw_processor

            o = opts or {}
            args_col = None
            d = df
            if o.get("args_mapping"):
                d = df.withColumn("_sql_args", compile_expr(str(o["args_mapping"])))
                args_col = "_sql_args"
            out = sql_raw_processor(
                d, str(o.get("driver", "sqlite")), str(o["dsn"]),
                str(o["query"]), args_col=args_col,
                exec_only=bool(o.get("exec_only", False)),
                result_col=str(o.get("result_col", "sql_rows")),
            )
            return out.drop("_sql_args") if args_col else out
        if name == "mongodb":
            # find-one enrichment (mongodb/processor.go): filter_map fields
            # compile to a JVM-side to_json struct; the matched document
            # lands as a JSON string column (NULL on miss)
            from bento_spark.streaming.mongodb import mongodb_find_one

            o = opts or {}
            if str(o.get("operation", "find-one")) != "find-one":
                raise ValueError(
                    "mongodb processor supports operation: find-one "
                    "(write operations belong on output.mongodb)"
                )
            flt = o.get("filter_map") or {}
            if not flt:
                raise ValueError("mongodb processor requires `filter_map`")
            df = df.withColumn(
                "_mongo_filter",
                F.to_json(F.struct(*[
                    compile_expr(str(v)).alias(str(k)) for k, v in flt.items()
                ])),
            )
            return mongodb_find_one(
                df, str(o["url"]), str(o.get("database", "bento")),
                str(o["collection"]), "_mongo_filter",
                out_col=o.get("out_col", "mongodb"),
            ).drop("_mongo_filter")
        if name == "nats_object_store":
            # get/put against an object-store bucket (nats/processor_os.go)
            from bento_spark.streaming.nats import nats_os_map

            o = opts or {}
            host, port = nats_addr(o)
            d = df.withColumn("_os_name",
                              compile_interpolated(str(o["object_name"])))
            out = nats_os_map(
                d, host, port, str(o["bucket"]),
                str(o.get("operation", "get")), name_col="_os_name",
                value_col=o.get("value_col"),
                out_col=str(o.get("out", "nats_os")),
                chunk_size=int(o.get("chunk_size", 128 * 1024)))
            return out.drop("_os_name")
        if name == "redis":
            # one command per row (redis/processor.go): `command`
            # interpolates, args_mapping -> ARRAY column; legacy
            # `operator:`+`key:` form maps onto the same path. Batch
            # pipelines as one round trip per partition.
            from bento_spark.streaming.redis import (
                parse_redis_url,
                redis_command_map,
            )

            o = opts or {}
            host, port = parse_redis_url(
                str(o.get("url") or o.get("address", "127.0.0.1:6379")))
            d = df
            if o.get("operator"):
                if o.get("args_mapping"):
                    raise ValueError(
                        "redis processor: args_mapping is invalid with an "
                        "operator set (processor.go config lint)")
                op = str(o["operator"])
                if op not in ("keys", "scard", "sadd", "incrby"):
                    raise ValueError(f"redis processor: unknown operator {op!r}")
                key = compile_interpolated(str(o.get("key", "")))
                content = F.col(o.get("column", "value")).cast("string")
                args = (F.array(key, content) if op in ("sadd", "incrby")
                        else F.array(key))
                d = (d.withColumn("_redis_cmd", F.lit(op))
                       .withColumn("_redis_args", args))
            else:
                if not o.get("command"):
                    raise ValueError(
                        "redis processor: one of `operator` or `command` "
                        "must be specified")
                d = d.withColumn("_redis_cmd",
                                 compile_interpolated(str(o["command"])))
                if o.get("args_mapping"):
                    d = d.withColumn("_redis_args",
                                     compile_expr(str(o["args_mapping"])))
            args_col = "_redis_args" if "_redis_args" in d.columns else None
            out = redis_command_map(
                d, host, port, "_redis_cmd", args_col=args_col,
                out_col=str(o.get("out", "redis")),
                retries=int(o.get("retries", 3)))
            return out.drop("_redis_cmd", *([args_col] if args_col else []))
        if name == "redis_script":
            # Lua script per row via the script-cache protocol
            # (redis/script_processor.go): EVALSHA, -NOSCRIPT rows retry
            # as EVAL with the body
            from bento_spark.streaming.redis import (
                parse_redis_url,
                redis_script_map,
            )

            o = opts or {}
            host, port = parse_redis_url(
                str(o.get("url") or o.get("address", "127.0.0.1:6379")))
            d = df
            keys_col = args_col = None
            if o.get("keys_mapping"):
                d = d.withColumn("_rs_keys", compile_expr(str(o["keys_mapping"])))
                keys_col = "_rs_keys"
            if o.get("args_mapping"):
                d = d.withColumn("_rs_args", compile_expr(str(o["args_mapping"])))
                args_col = "_rs_args"
            out = redis_script_map(
                d, host, port, str(o["script"]),
                keys_col=keys_col, args_col=args_col,
                out_col=str(o.get("out", "redis")),
                retries=int(o.get("retries", 3)))
            return out.drop(*[c for c in (keys_col, args_col) if c])
        if name == "aws_lambda":
            # invoke a Lambda per message (aws/processor_lambda.go:20):
            # result replaces the payload column; function errors set
            # lambda_function_error; transport failures flag the error
            # column with content unchanged
            import os as _os

            from bento_spark.streaming.cep import duration_ms
            from bento_spark.streaming.lambda_proc import lambda_map

            o = opts or {}
            region = str(o.get("region", "us-east-1"))
            return lambda_map(
                df,
                endpoint=str(o.get("endpoint")
                             or f"https://lambda.{region}.amazonaws.com"),
                access_key=str(o.get("access_key")
                               or _os.environ.get("AWS_ACCESS_KEY_ID", "")),
                secret_key=str(o.get("secret_key")
                               or _os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
                function=str(o["function"]),
                payload_col=str(o.get("column", "value")),
                region=region,
                retries=int(o.get("retries", 3)),
                # reference-style duration strings ('5s') parse via
                # duration_ms (ADVICE r05); bare YAML numbers keep the old
                # seconds semantics
                timeout=(
                    float(o["timeout"])
                    if isinstance(o.get("timeout"), (int, float))
                    else duration_ms(str(o.get("timeout", "5s"))) / 1000.0
                ),
            )
        if name == "aws_dynamodb_partiql":
            # PartiQL per message over BatchExecuteStatement
            # (aws/processor_dynamodb_partiql.go:106); args_mapping
            # compiles to a Catalyst ARRAY column
            import os as _os

            from bento_spark.streaming.dynamodb import dynamodb_partiql

            o = opts or {}
            region = str(o.get("region", "us-east-1"))
            d, args_col = df, None
            if o.get("args_mapping"):
                d = df.withColumn("_pq_args", compile_expr(str(o["args_mapping"])))
                args_col = "_pq_args"
            out = dynamodb_partiql(
                d,
                endpoint=str(o.get("endpoint")
                             or f"https://dynamodb.{region}.amazonaws.com"),
                access_key=str(o.get("access_key")
                               or _os.environ.get("AWS_ACCESS_KEY_ID", "")),
                secret_key=str(o.get("secret_key")
                               or _os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
                query=str(o["query"]),
                args_col=args_col,
                region=region,
                result_col=str(o.get("result_col", "partiql")),
            )
            return out.drop("_pq_args") if args_col else out
        if name == "aws_s3":
            # GetObject per message with interpolated bucket/key
            # (aws/processor_s3.go:26); body lands in out_col,
            # delete_objects removes only successfully fetched objects
            import os as _os

            from bento_spark.streaming.s3 import s3_get_map

            o = opts or {}
            region = str(o.get("region", "us-east-1"))
            d = (df.withColumn("_s3_bucket", compile_interpolated(str(o["bucket"])))
                   .withColumn("_s3_key", compile_interpolated(str(o["key"]))))
            out = s3_get_map(
                d,
                endpoint=str(o.get("endpoint")
                             or f"https://s3.{region}.amazonaws.com"),
                access_key=str(o.get("access_key")
                               or _os.environ.get("AWS_ACCESS_KEY_ID", "")),
                secret_key=str(o.get("secret_key")
                               or _os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
                bucket_col="_s3_bucket", key_col="_s3_key",
                region=region,
                out_col=str(o.get("out_col", "s3_object")),
                delete_objects=bool(o.get("delete_objects", False)),
            )
            return out.drop("_s3_bucket", "_s3_key")
        if name == "awk":
            # per-message AWK run over the system binary with the
            # reference's custom json_*/metadata_*/timestamp functions
            # (awk/processor.go; codecs none|text|json) — slow path like
            # `command`, a fork per message
            from bento_spark.operators.awk_proc import awk_map

            o = opts or {}
            return awk_map(
                df,
                o["program"],
                codec=o.get("codec", "text"),
                col=o.get("column", "text"),
                meta_cols=o.get("meta_columns"),
                binary=o.get("binary", "awk"),
                timeout=float(o.get("timeout", 10)),
                now_unix=o.get("now_unix"),
            )
        if name == "opensnowcat":
            # Snowplow/OpenSnowcat enriched-TSV events: drop filters, PII
            # transforms, TSV->flattened-JSON (opensnowcat/
            # processor_opensnowcat.go) — filters/transforms compile to
            # codegen over the split line
            from bento_spark.operators.opensnowcat import opensnowcat

            o = opts or {}
            flt = o.get("filters") or {}
            return opensnowcat(
                df,
                col=o.get("column", "line"),
                output_format=o.get("output_format", "tsv"),
                drop=flt.get("drop"),
                transform=flt.get("transform"),
            )
        if name == "subprocess":
            # long-lived child per partition, lockstep line protocol
            # (processor_subprocess.go:47-66); stderr -> error column
            from bento_spark.operators.subprocess_proc import subprocess_map

            o = opts or {}
            return subprocess_map(
                df,
                o["name"],
                args=[str(a) for a in o.get("args", [])],
                col=o.get("column", "text"),
                codec_send=o.get("codec_send", "lines"),
                codec_recv=o.get("codec_recv", "lines"),
                timeout=float(o.get("timeout", 10)),
                rate_limit=self._rate_limit_share(o.get("rate_limit"), df),
            )
        if name == "command":
            # one exec per message (processor_command.go:17); args_mapping
            # is a Bloblang expression resolving to array<string> per row
            from bento_spark.operators.subprocess_proc import command_map

            o = opts or {}
            args = (
                compile_expr(str(o["args_mapping"]))
                if "args_mapping" in o
                else [str(a) for a in o.get("args", [])]
            )
            return command_map(
                df,
                o["name"],
                args=args,
                col=o.get("column", "text"),
                timeout=float(o.get("timeout", 10)),
                rate_limit=self._rate_limit_share(o.get("rate_limit"), df),
            )
        if name == "unarchive_tar":
            from bento_spark.operators.scanners import unarchive_tar

            o = opts or {}
            return unarchive_tar(df, o.get("column", "content"), keep_cols=o.get("keep", ()),
                                 fmt=o.get("format", "tar"))
        if name == "tar_encode":
            from bento_spark.operators.scanners import tar_encode

            o = opts or {}
            return tar_encode(df, o["group_by"], o["name"], o["payload"],
                              out_col=o.get("out", "tar_blob"))
        if name == "chunker":
            from bento_spark.operators.scanners import chunker

            o = opts or {}
            return chunker(df, o["column"], int(o["size"]), out_col=o.get("out", "chunk"))
        if name == "re_split":
            from bento_spark.operators.scanners import re_split

            o = opts or {}
            return re_split(df, o["column"], o["pattern"], out_col=o.get("out", "part"))
        if name == "skip_bom":
            from bento_spark.operators.scanners import skip_bom

            return skip_bom(df, (opts or {}).get("column", "line"))
        if name == "metric":
            # custom metrics (processor_metric.go:22): counter / counter_by /
            # gauge over message fields. Spark-first: df.observe() — the
            # native Observation API evaluates the aggregate DURING the
            # existing pass (no extra job) and surfaces per-micro-batch
            # values in QueryProgress.observedMetrics, which the metrics
            # listener collects (observed_totals()).
            o = opts or {}
            if "name" not in o:
                raise ValueError("metric requires `name`")
            mtype = o.get("type", "counter")
            val = compile_expr(str(o["value"])) if "value" in o else None
            cond = compile_expr(str(o["check"])) if "check" in o else None
            if mtype == "counter":
                agg = F.count(F.when(cond, 1)) if cond is not None else F.count(F.lit(1))
            elif mtype == "counter_by":
                if val is None:
                    raise ValueError("metric counter_by requires `value`")
                agg = F.sum(F.when(cond, val) if cond is not None else val)
            elif mtype == "gauge":
                if val is None:
                    raise ValueError("metric gauge requires `value`")
                if "order_by" in o:
                    # deterministic gauge: value of the max-order row
                    agg = F.max_by(val, compile_expr(str(o["order_by"])))
                else:
                    # no total order exists inside a distributed micro-batch
                    # (the reference processes sequentially): F.last is
                    # partition-merge-order dependent — pass `order_by`
                    # (e.g. the event-time column) for a deterministic gauge
                    agg = F.last(val, ignorenulls=True)
            else:
                raise ValueError(f"unsupported metric type {mtype!r} (counter/counter_by/gauge)")
            return df.observe(str(o["name"]), agg.alias(mtype))
        if name in ("noop", "log"):
            return df  # log side effects live in the metrics listener
        raise ValueError(f"unsupported processor: {name}")

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
        """Execute as a StreamingQuery with the exactly-once parquet sink
        (Iceberg MERGE on a real cluster) and optional DLQ routing."""
        # Local checkpoints (the main query's and the DLQ side queries',
        # which sit next to it) commit through rename(2), an atomic replace:
        # Spark's default FileContext manager forks /usr/bin/readlink for
        # every rename on a host without libhadoop. Other filesystems keep
        # the default, whose rename is the atomic one there.
        with local_checkpoint_commits(spark, checkpoint):
            return self._run_stream(spark, checkpoint, available_now)

    def _run_stream(self, spark: SparkSession, checkpoint: str, available_now: bool):
        out = self.conf.get("output") or {}
        name, section = select_output(out)
        self._reject_errored = None  # re-stashed by the build below
        dlq_path = out.get("dlq")
        window_dlq = bool(dlq_path and self.conf.get("window"))
        if window_dlq:
            if name != "path":
                # the window+dlq dual-query path writes the windowed output
                # through the path output's sink
                raise ValueError(
                    "window + dlq requires output.path (the windowed main sink); "
                    f"a {name} output cannot take the pre-window DLQ split"
                )
            df = self._window_dlq_stream(spark, checkpoint, dlq_path, available_now)
        else:
            df = self.build_stream(spark)
        df, writer = OUTPUTS[name](self, spark, section, df, checkpoint)
        self._close_output = getattr(writer, "close", None)
        if dlq_path and not window_dlq and "error" in df.columns:
            # reject_errored around the output (output_reject_errored.go:19):
            # errored rows -> DLQ, the rest -> the output. Same query =>
            # same checkpoint binds the DLQ's markers too
            writer = dlq_split_writer(writer, IdempotentParquetSink(dlq_path, checkpoint=checkpoint))
        # input.read_until: deliver the batch holding the first row that
        # matches `check`, then stop the query (input_read_until.go:34)
        until = (self.conf.get("input") or {}).get("read_until")
        if until:
            writer = self._wrap_read_until(writer, compile_expr(str(until["check"])))
        eh = self.conf.get("error_handling") or {}
        if eh.get("strategy") == "retry":
            writer = self._wrap_retry_writer(writer, eh)
        if self._reject_errored is not None:
            # streaming error_handling: {strategy: reject, dlq: ...} —
            # the errored branch stashed by _error_strategy feeds a SIDE
            # query with its own checkpoint (same dual-query pattern as
            # window+output.dlq); without this the reject filter silently
            # drops errored rows that batch mode DLQs
            errored, eh_dlq_path = self._reject_errored
            self._eh_dlq_query = self._start_dlq_query(
                errored, eh_dlq_path, checkpoint.rstrip("/") + "_ehdlq", available_now)
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
        """Trigger selection shared by the main query and the DLQ
        side-queries: availableNow in bounded mode; otherwise a
        processingTime interval — rate_limit.interval (if the pipeline
        declared one) takes precedence over output.trigger."""
        if available_now:
            return {"availableNow": True}
        rl = self.conf.get("_rate_limit") or {}
        ivl = rl.get("interval", (self.conf.get("output") or {}).get("trigger", "5 seconds"))
        # normalize through duration_ms: the pipeline accepts '1s' /
        # '500 ms' everywhere else, but Spark's trigger parser does not —
        # render as '<n> milliseconds', which both dialects agree on
        from bento_spark.streaming.cep import duration_ms

        return {"processingTime": f"{duration_ms(str(ivl))} milliseconds"}

    def _start_dlq_query(self, errored: DataFrame, path: str, checkpoint: str,
                         available_now: bool):
        """Start a side query writing `errored` to an exactly-once DLQ sink
        under its own checkpoint: exactly-once holds independently for it
        and the main query."""
        dlq = IdempotentParquetSink(path, checkpoint=checkpoint)
        return (
            errored.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(dlq.foreach_batch())
            .trigger(**self._trigger(available_now))
            .start()
        )

    def _window_dlq_stream(self, spark: SparkSession, checkpoint: str, dlq_path: str,
                           available_now: bool) -> DataFrame:
        """The windowed stream of a window + output.dlq config, with the DLQ
        side query over its errored rows started."""
        # Errored rows must be routed BEFORE the window agg (the agg
        # output has no per-row error column — reference semantics:
        # reject_errored sits between pipeline and the window-fed
        # output). Idiomatic Spark: a SECOND streaming query over the
        # same source feeds the DLQ, each with its own checkpoint —
        # exactly-once holds independently for both sinks. (A single
        # query can't window correctly per-micro-batch: a window's rows
        # may span batches and last-writer-wins MERGE would drop the
        # earlier partials.)
        # The two queries share the chain up to its trailing run of
        # row maps that keep `error` (_split_tail: audio_features in
        # the shipped clips_window.yaml). The split on `error` comes
        # there, so the DLQ query decodes only the errored rows and the
        # main query only the clean ones, instead of each decoding
        # every clip. DLQ rows come out as if the split were after the
        # whole chain. The window branch drops `bytes` from the decode
        # output unless the window or join reads it, so the payload
        # crosses Arrow once (JVM -> Python) instead of twice.
        procs = (self.conf.get("pipeline") or {}).get("processors") or []
        tail = self._split_tail(procs)
        rows = self._error_strategy(
            self._chain(procs[: len(procs) - len(tail)]), self._input(spark, streaming=True)
        )
        if "error" in rows.columns:
            errored = self._chain(tail)(rows.filter(F.col("error").isNotNull()))
            self._dlq_query = self._start_dlq_query(
                errored, dlq_path, checkpoint.rstrip("/") + "_dlq", available_now)
            rows = rows.filter(F.col("error").isNull())
        if tail and not self._window_reads_payload():
            name, opts = next(iter(tail[-1].items()))
            tail = [*tail[:-1], {name: {**(opts or {}), "keep_payload": False}}]
        rows = self._chain(tail)(rows)
        rows = self._apply_join(rows, spark, streaming=True)
        return self._apply_window(rows)

    def close(self) -> None:
        """Release what the output holds on the driver: the `close()` its
        writer carries (the subprocess output's child, the http_server
        output's server). Call it once the queries have stopped."""
        close, self._close_output = self._close_output, None
        if close is not None:
            close()

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
