"""The processor registry: one table row per processor.

The reference registers each processor once, with its config spec
(`service.Register*`, ~74 processors in internal/bundle/processors.go).
Here `PROCESSORS` maps each `pipeline.processors[].<name>` to a row holding

- the operator it wraps, named as `<module>.<function>` under `bento_spark`
  and imported only when the row is used (a row with neither wraps no
  operator);
- `build(pipeline, df, opts, function) -> DataFrame`: it maps the options
  onto the operator's arguments (interpolations and expressions compile to
  Columns, rendered JVM-side);
- `required`: the options the builder reads on every path;
- `nested`: where the options hold processor lists the builder compiles
  (`processors`, or `cases[].processors` for a list of maps each holding
  one).

`Pipeline._chain` looks up the row, normalises absent options to `{}`,
reports a missing required option as `<name> processor: missing required
field '<f>'` and calls the row. `lint.known_processors` and the lint of a
processor list read the same table, so lint reports what the compiler would
reject, in nested lists too.

`CACHE_BACKENDS` does the same for `cache_resources` entries: one row per
backend kind with the cache class (`<module>.<class>`, imported only when
used), a builder from the YAML section, the option it requires and whether
one instance is shared per label. `Pipeline._cache_backend` and lint read
it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from importlib import import_module
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bento_spark.functions.bloblang import compile_expr, compile_interpolated
from bento_spark.operators.errors import set_error_when
from bento_spark.plans.inputs import aws_conn, cosmos_creds, gcs_creds, nats_addr, read_input, redis_addr
from bento_spark.plans.outputs import opt_col


@dataclass(frozen=True)
class Processor:
    module: str | None  # under bento_spark, e.g. "operators.codec"
    function: str | None
    build: Callable[..., DataFrame]
    required: tuple[str, ...] = ()
    nested: tuple[str, ...] = ()

    def __call__(self, p, df: DataFrame, opts) -> DataFrame:
        fn = self.module and getattr(import_module(f"bento_spark.{self.module}"), self.function)
        return self.build(p, df, opts, fn)


# mutation = mapping with in-place assignment semantics
# (processor_mutation.go:15) — identical compilation here since our
# assignments are withColumn either way; `bloblang` is the reference's older
# name for the same processor. log side effects live in the metrics listener.
ALIASES = {"mutation": "mapping", "bloblang": "mapping", "log": "noop"}


@dataclass(frozen=True)
class CacheBackend:
    module: str  # under bento_spark, e.g. "streaming.redis"
    cls: str
    # (cls, spark, section, key_col, level) -> cache; `level(label)`
    # resolves another cache_resources label (multilevel's children)
    build: Callable[..., object]
    required: str | None = None
    shared: bool = False  # one instance per label: the in-process kinds

    def __call__(self, spark, section, key_col: str, level):
        cls = getattr(import_module(f"bento_spark.{self.module}"), self.cls)
        return self.build(cls, spark, section, key_col, level)


def _in_memory(cap, default_ttl):
    # reference defaults: lru cap 1000 (cache_lru.go:17), ttlru cap 1024 +
    # default_ttl 5m (cache_ttlru.go:15-19), memory uncapped + default_ttl
    # 5m (cache_memory.go); ristretto (dgraph/cache_ristretto.go) = an
    # in-process TTL cache — ttlru's semantics here (the reference's
    # frequency-based admission is an eviction heuristic, not an API
    # contract), default_ttl optional like the reference's
    return CacheBackend(
        "operators.cache", "MemoryCache",
        lambda cls, spark, d, k, level: cls(spark, cap=d.get("cap", cap),
                                            default_ttl=d.get("default_ttl", default_ttl),
                                            init_values=d.get("init_values")),
        shared=True)


def _value(d: dict) -> str:
    return d.get("value_col", "value")


# cache_resources backend kind -> its row; the first kind an entry names
# is its backend, in this order.
CACHE_BACKENDS: dict[str, CacheBackend] = {
    "memory": _in_memory(None, "5m"),
    "lru": _in_memory(1000, None),
    "ttlru": _in_memory(1024, "5m"),
    "ristretto": _in_memory(None, None),
    "noop": CacheBackend("operators.cache", "NoopCache",
                         lambda cls, spark, d, k, level: cls(spark), shared=True),
    "multilevel": CacheBackend("operators.cache", "MultilevelCache",
                               lambda cls, spark, d, k, level: cls([level(n) for n in d]),
                               shared=True),
    "file": CacheBackend(
        "operators.cache", "FileCache",
        lambda cls, spark, d, k, level: cls(spark, d["directory"], key_col=k, ttl=d.get("ttl"),
                                            value_col=_value(d)),
        "directory"),
    "parquet": CacheBackend("operators.cache", "KeyValueCache",
                            lambda cls, spark, d, k, level: cls(spark, d["path"], key_col=k),
                            "path"),
    "sqlite": CacheBackend(
        "operators.cache", "SqliteCache",
        lambda cls, spark, d, k, level: cls(spark, d["path"], table=d.get("table", "bento_cache"),
                                            key_col=k, value_col=_value(d)),
        "path"),
    "mongodb": CacheBackend(
        "streaming.mongodb", "MongoCache",
        lambda cls, spark, d, k, level: cls(
            spark, d["url"], database=d.get("database", "bento"),
            collection=d.get("collection", "cache"), key_field=d.get("key_field", "key"),
            value_field=d.get("value_field", "value"), key_col=k, value_col=_value(d)),
        "url"),
    "aws_dynamodb": CacheBackend(
        "streaming.dynamodb", "DynamoCache",
        lambda cls, spark, d, k, level: cls(
            spark, table=str(d["table"]), hash_key=str(d.get("hash_key", "key")),
            data_key=str(d.get("data_key", "value")), ttl_key=d.get("ttl_key"),
            default_ttl=d.get("default_ttl"), key_col=k, value_col=_value(d),
            **aws_conn(d, "dynamodb")),
        "table"),
    "aws_s3": CacheBackend(
        "streaming.s3", "S3Cache",
        lambda cls, spark, d, k, level: cls(
            spark, bucket=str(d["bucket"]),
            content_type=str(d.get("content_type", "application/octet-stream")),
            key_col=k, value_col=_value(d), **aws_conn(d, "s3")),
        "bucket"),
    "gcp_cloud_storage": CacheBackend(
        "streaming.gcs", "GcsCache",
        lambda cls, spark, d, k, level: cls(
            spark, str(d.get("endpoint") or "https://storage.googleapis.com"), str(d["bucket"]),
            credentials=gcs_creds(d),
            content_type=str(d.get("content_type", "application/octet-stream")),
            key_col=k, value_col=_value(d)),
        "bucket"),
    "couchbase": CacheBackend(
        "streaming.couchbase", "CouchbaseCache",
        lambda cls, spark, d, k, level: cls(
            spark, str(d["url"]), bucket=d.get("bucket"), username=d.get("username"),
            password=d.get("password"), key_col=k, default_ttl=d.get("default_ttl"),
            value_col=_value(d)),
        "url"),
    # KV bucket over JetStream subjects (nats/cache_kv.go)
    "nats_kv": CacheBackend(
        "streaming.nats", "NatsKvCache",
        lambda cls, spark, d, k, level: cls(
            spark, str((d.get("urls") or [d.get("url", "127.0.0.1:4222")])[0]),
            bucket=str(d["bucket"]), key_col=k, value_col=_value(d)),
        "bucket"),
    "memcached": CacheBackend(
        "streaming.memcached", "MemcachedCache",
        lambda cls, spark, d, k, level: cls(
            spark, str(d["addresses"][0]), key_col=k, prefix=d.get("prefix", ""),
            default_ttl=d.get("default_ttl", "300s"), value_col=_value(d)),
        "addresses"),
    "redis": CacheBackend(
        "streaming.redis", "RedisCache",
        lambda cls, spark, d, k, level: cls(
            spark, d["url"], key_col=k, prefix=d.get("prefix", ""),
            default_ttl=d.get("default_ttl"), value_col=_value(d)),
        "url"),
}


def _rate_limit(p, df, o, _):
    # token-bucket rate limiting (processor_rate_limit.go:32,
    # rate_limit_local.go:16) maps to source-side pacing in Spark:
    # maxFilesPerTrigger/maxOffsetsPerTrigger + trigger interval.
    # Recorded on the plan; run_stream maps `interval` to the
    # processingTime trigger in continuous mode (see run_stream).
    # `resource: label` references a shared rate_limit_resources
    # entry (the reference processor's only field) — its interval
    # becomes the pacing interval.
    o = dict(o)
    if "resource" in o:
        body = p._rate_limit_conf(str(o.pop("resource")))
        o.setdefault(
            "interval",
            body.get("interval")
            or (body.get("redis") or {}).get("interval", "1s"),
        )
    p.conf.setdefault("_rate_limit", o)
    return df


# ------------------------------------------------------------- multimodal
def _image_resize(p, df, o, with_image_resize):
    # thumbnail stage: decode -> box-average/nearest resize ->
    # deterministic re-encode (images/udfs.py)
    return with_image_resize(
        df, int(o["width"]), int(o["height"]),
        col=o.get("column", "bytes"), out_col=o.get("out"),
    )


def _payload_features(p, df, o, with_features):
    return with_features(
        df, col=o.get("column", "bytes"),
        keep_payload=bool(o.get("keep_payload", True)),
    )


def _frame_sample(p, df, o, with_frame_sample):
    # explode one row per sampled frame; frames are sliced out of
    # the container decode-free (video/container.py)
    mf = o.get("max_frames")
    return with_frame_sample(
        df, int(o["every"]), col=o.get("column", "bytes"),
        max_frames=None if mf is None else int(mf),
        keep_payload=bool(o.get("keep_payload", False)),
    )


def _audio_features(p, df, o, with_audio_features):
    # YAML pipelines keep pass-through semantics by default; set
    # keep_payload: false to drop `bytes` from the UDF output (the
    # scale-path default for agg-bound pipelines). run_stream's
    # window+DLQ path runs this after its split on `error` and sets
    # keep_payload: false itself on the window branch (the DLQ
    # branch keeps the configured value).
    return with_audio_features(df, keep_payload=bool(o.get("keep_payload", True)))


def _audio_normalize(p, df, o, with_normalized_clip):
    return with_normalized_clip(
        df, target_sr=int(o.get("target_sr", 16000)), target_codec=o.get("codec", "pcm_s16le")
    )


# ------------------------------------------------- rows, errors and control
def _bounds_check(p, df, o, bounds_check):
    return bounds_check(
        df, col=o.get("column", "bytes"), min_len=int(o.get("min", 0)),
        max_len=int(o["max"]) if "max" in o else None,
    )


def _dedupe(p, df, o, dedupe):
    wm = tuple(o["watermark"]) if "watermark" in o else None
    return dedupe(df, o["keys"], watermark=wm)


def _set_error(p, df, o, set_error_when):
    # message is an interpolated field (`${! expr }` segments,
    # field/expression.go:19) so errors can carry per-row context
    msg = compile_interpolated(str(o.get("message", "error")))
    return set_error_when(df, compile_expr(o["when"]), msg)


def _catch(p, df, o, catch_):
    sets = o.get("set") or {}

    def fix(d: DataFrame) -> DataFrame:
        for colname, expr_src in sets.items():
            d = d.withColumn(colname, compile_expr(str(expr_src)))
        return d

    fixes = [fix] if sets else []
    if "processors" in o:
        fixes.append(p._chain(o["processors"]))
    return catch_(df, *fixes)


def _switch(p, df, o, switch_transform):
    # processor-level switch: first matching case's chain processes
    # the row (processor_switch.go:181-184)
    cases = [(compile_expr(c["check"]), p._chain(c.get("processors"))) for c in o["cases"]]
    default = p._chain(o["default"]) if "default" in o else None
    return switch_transform(df, cases, default=default)


def _group_by(p, df, o, group_by):
    # ordered checks label rows; each group gets its own processor
    # chain (processor_group_by.go:75,130-185)
    from bento_spark.operators.grouping import per_group

    checks = [(c["name"], compile_expr(c["check"])) for c in o["checks"]]
    df = group_by(df, checks, default=o.get("default", "default"))
    chains = {c["name"]: p._chain(c["processors"]) for c in o["checks"] if c.get("processors")}
    return per_group(df, chains) if chains else df


def _group_by_value(p, df, o, group_by_value):
    # the reference's group key IS an interpolated string
    # (processor_group_by_value.go:21)
    v = str(o["value"])
    key = compile_interpolated(v) if "${!" in v else compile_expr(v)
    return group_by_value(df, key)


def _while(p, df, o, _):
    # driver-side loop, bounded by max_loops (processor_while.go:20):
    # re-run children while any row matches `check`. Batch-only —
    # iteration count is data-dependent, which a streaming plan
    # cannot express; localCheckpoint truncates lineage per round.
    if df.isStreaming:
        raise ValueError("while is batch-only (data-dependent iteration)")
    cond = compile_expr(o["check"])
    body = p._chain(o["processors"])
    for _ in range(int(o.get("max_loops", 10))):
        if df.filter(cond).isEmpty():
            break
        df = body(df).localCheckpoint()
    return df


def _insert_part(p, df, o, insert_part):
    row = {k: compile_expr(str(v)) for k, v in o["row"].items()}
    return insert_part(df, o["key"], o["order_by"], int(o.get("index", -1)), row)


# ------------------------------------------------------------------ caches
def _cache(p, df, o, _):
    # per-batch get/set/add/delete on a named keyed state table
    # (processor_cache.go:125; the key field is interpolated in the
    # reference — here `key` names the column holding it)
    cache = p._cache_backend(o["resource"], df.sparkSession, key_col=o.get("key_col", "key"))
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
        out = set_error_when(
            out, F.col("_cache_dup").isNotNull(), f"cache add: key exists in {o['resource']}"
        )
        return out.drop("_cache_dup")
    raise ValueError(f"unsupported cache operator: {op}")


def _cached(p, df, o, cached):
    # memoize the child chain per key (processor_cached.go)
    from bento_spark.operators.cache import KeyValueCache

    cache = p._cache_backend(o["resource"], df.sparkSession)
    if not isinstance(cache, KeyValueCache):
        raise ValueError(
            "cached memoization needs a parquet-backed cache resource "
            "(it stores arbitrary value columns; the file backend holds "
            "one string per key)"
        )
    return cached(cache, o["key_cols"], p._chain(o["processors"]),
                  ttl=o.get("ttl"), now_ms=o.get("now_ms"))(df)


def _lookup(p, df, o, lookup_join):
    # broadcast dimension enrichment — the reference's cache-get /
    # sql_select lookup patterns as a real join (enrich.py); works on
    # streams too (stream-static join, dimension read per micro-batch)
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


def _repartition(p, df, o, _):
    if "by" in o:
        return df.repartition(int(o.get("num", 0)) or df.sparkSession.sparkContext.defaultParallelism,
                              *[F.col(c) for c in o["by"]])
    return df.repartition(int(o["num"]))


# ------------------------------------------------------------------ codecs
def _compress(p, df, o, compress_col):
    col = o.get("column", "bytes")
    return df.withColumn(o.get("out", col), compress_col(col, o.get("algorithm", "gzip")))


def _decompress(p, df, o, decompress_col):
    col = o.get("column", "bytes")
    out = o.get("out", col)
    dfd = df.withColumn(out, decompress_col(col, o.get("algorithm", "gzip")))
    return set_error_when(dfd, F.col(out).isNull() & F.col(col).isNotNull(), "decompress failed")


def _json_map(p, df, o, json_map):
    outputs = {k: (v["path"], v.get("type", "string")) for k, v in o["fields"].items()}
    return json_map(df, o["column"], outputs)


def _archive(p, df, o, archive):
    return archive(
        df, o["key"], o["order_by"], o["column"],
        fmt=o.get("format", "lines"), out_col=o.get("out", "archived"),
    )


def _branch(p, df, o, apply_branch_inline):
    # expression-only branch: request_map/result_map of Bloblang
    # exprs, optional skip_when (processor_branch.go:152)
    from bento_spark.operators.branch import Branch

    br = Branch(
        name=o.get("name", "branch"),
        request_map={k: compile_expr(v) for k, v in (o.get("request_map") or {}).items()} or None,
        processors=lambda d: d,
        result_map={k: compile_expr(v) for k, v in o["result_map"].items()},
        skip_when=compile_expr(o["skip_when"]) if "skip_when" in o else None,
    )
    return apply_branch_inline(df, br)


def _workflow(p, df, o, workflow):
    from bento_spark.operators.branch import Branch

    brs = []
    for b in o["branches"]:
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
    return workflow(df, brs)


def _xml_extract(p, df, o, xml_extract):
    fields = {k: (v["xpath"], v.get("type", "string")) for k, v in o["fields"].items()}
    return xml_extract(df, o["column"], fields)


def _jmespath(p, df, o, jmespath_map):
    # full JMESPath query over a JSON column (processor_jmespath.go:65);
    # the result document replaces the column (reference: replaces
    # the message) unless `out` is given
    return jmespath_map(df, o.get("column", "bytes"), o["query"], out_col=o.get("out"))


def _avro_decode(p, df, o, avro_record_decode):
    # dependency-free spec codec by default (avro/scanner.go:46,
    # processor.go:21 — see operators/avro_codec.py); `engine: spark`
    # opts into the jar-gated from_avro (struct `out` column) for
    # clusters that ship spark-avro
    if o.get("engine") == "spark":
        from bento_spark.operators.codec import avro_decode

        return avro_decode(df, o.get("column", "value"), o["schema"],
                           out_col=o.get("out", "record"))
    return avro_record_decode(df, o.get("column", "value"), o["schema"],
                              keep_cols=o.get("keep", ()))


def _avro_encode(p, df, o, avro_record_encode):
    if o.get("engine") == "spark":
        from bento_spark.operators.codec import avro_encode

        return avro_encode(df, o["columns"], o["schema"], out_col=o.get("out", "avro_bytes"))
    return avro_record_encode(df, o["columns"], o["schema"],
                              out_col=o.get("out", "avro_bytes"))


def _schema_registry_encode(p, df, o, schema_registry_encode):
    # confluent/processor_schema_registry_encode.go: subject's
    # latest Avro schema resolved at plan time, wire-format
    # magic+id header prepended
    return schema_registry_encode(
        df, str(o["url"]), str(o["subject"]), o["columns"],
        out_col=o.get("out", "sr_blob"))


def _schema_registry_decode(p, df, o, schema_registry_decode):
    # confluent/processor_schema_registry_decode.go: per-row schema
    # id, per-executor schema memo, standard-JSON output column
    keep = o.get("keep") or [c for c in df.columns
                             if c != o.get("column", "sr_blob")]
    return schema_registry_decode(
        df, str(o["url"]), blob_col=o.get("column", "sr_blob"),
        out_col=o.get("out", "decoded"), keep_cols=keep)


def _unarchive_avro(p, df, o, avro_ocf_scan):
    # `avro` scanner (scanner.go:46): a binary column of whole OCF
    # files -> one row per record, standard-JSON content (schema
    # carried per file)
    return avro_ocf_scan(df, o.get("column", "content"), keep_cols=o.get("keep", ()),
                         out_col=o.get("out", "record_json"))


def _protobuf_decode(p, df, o, protobuf_record_decode):
    # .proto SOURCE schemas (`proto` inline / `proto_file` path —
    # processor_protobuf.go:66 import_paths model) use the
    # dependency-free wire codec; `descriptor_file` keeps the
    # jar-gated spark-protobuf path for compiled descriptor sets.
    src = p._proto_source(o)
    if src is not None:
        keep = o.get("keep", [c for c in df.columns if c != o.get("column", "value")])
        return protobuf_record_decode(df, o.get("column", "value"), src,
                                      o["message"], keep_cols=keep)
    from bento_spark.operators.codec import protobuf_decode

    return protobuf_decode(df, o.get("column", "value"), o["message"], o["descriptor_file"],
                           out_col=o.get("out", "record"))


def _protobuf_encode(p, df, o, protobuf_record_encode):
    src = p._proto_source(o)
    if src is not None:
        return protobuf_record_encode(df, o["columns"], src, o["message"],
                                      out_col=o.get("out", "proto_bytes"))
    from bento_spark.operators.codec import protobuf_encode

    return protobuf_encode(df, o["columns"], o["message"], o["descriptor_file"],
                           out_col=o.get("out", "proto_bytes"))


def _match_sequence(p, df, o, match_sequence):
    # CEP funnel: A then B ... within T per key (streaming/cep.py)
    steps = [compile_expr(str(s)) for s in o["steps"]]
    common = dict(key=o["key"], ts_col=o.get("ts", "ts"), steps=steps,
                  within=o["within"], step_names=o.get("names"))
    if df.isStreaming:
        from bento_spark.streaming.cep import match_sequence_stream

        return match_sequence_stream(df, watermark=o.get("watermark", "2 minutes"),
                                     late_policy=o.get("late_policy", "eager"), **common)
    return match_sequence(df, **common)


def _metric(p, df, o, _):
    # custom metrics (processor_metric.go:22): counter / counter_by /
    # gauge over message fields. Spark-first: df.observe() — the
    # native Observation API evaluates the aggregate DURING the
    # existing pass (no extra job) and surfaces per-micro-batch
    # values in QueryProgress.observedMetrics, which the metrics
    # listener collects (observed_totals()).
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


# ------------------------------------------------------ network enrichment
def _sentry_capture(p, df, o, sentry_capture):
    # sentry/processor_capture.go: interpolated message + tags,
    # envelope POST per non-errored row, rows pass through
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


def _azure_cosmosdb(p, df, o, cosmos_map):
    # azure/processor_cosmosdb.go over cosmosdb/docs.go: operation
    # Create|Upsert|Read|Replace|Delete|Patch, per-row partition
    # key (`partition_keys_map` compiled to a COLUMN), interpolated
    # item_id; the document is the message JSON rendered JVM-side
    endpoint, key = cosmos_creds(o)
    op = str(o.get("operation", "Create"))
    pk_src = str(o.get("partition_keys_map", "root = null"))
    pk_expr = re.sub(r"^\s*root\s*=\s*", "", pk_src)
    work = df.withColumn("_cdb_pk", compile_expr(pk_expr).cast("string"))
    work, id_col = opt_col(work, "_cdb_id", o.get("item_id"))
    doc_col = None
    if op in ("Create", "Upsert", "Replace"):
        data_cols = [c for c in df.columns if c != "error"]
        work = work.withColumn("_cdb_doc", F.to_json(F.struct(*[
            F.col(c) for c in data_cols])))
        doc_col = "_cdb_doc"
    patches = [{"operation": str(po["operation"]),
                "path": str(po["path"]),
                **({"value": po["value"]} if "value" in po else {})}
               for po in (o.get("patch_operations") or [])]
    return cosmos_map(
        work, endpoint, key, str(o["database"]), str(o["container"]),
        "_cdb_pk", operation=op, doc_col=doc_col, id_col=id_col,
        auto_id=bool(o.get("auto_id", True)),
        patch_operations=patches or None,
        patch_condition=(str(o["patch_condition"])
                         if o.get("patch_condition") else None),
        out_col=str(o.get("out", "cosmosdb")))


def _couchbase(p, df, o, couchbase_map):
    # couchbase/processor.go: interpolated id, Bloblang content,
    # operation get|insert|remove|replace|upsert; KV binary
    # protocol client (streaming/couchbase.py)
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


def _http(p, df, o, http_enrich):
    # HTTP enrichment (processor_http.go:16): interpolated url/body,
    # response into out (error column on failure); `rate_limit`
    # names a shared resource capping request rate across all
    # parallel components (processor_http.go:18)
    return http_enrich(
        df,
        compile_interpolated(str(o["url"])),
        out_col=o.get("out", "http_response"),
        method=o.get("method", "GET"),
        headers=o.get("headers"),
        body=compile_interpolated(str(o["body"])) if "body" in o else None,
        timeout=float(o.get("timeout", 5)),
        retries=int(o.get("retries", 1)),
        rate_limit=p._rate_limit_share(o.get("rate_limit"), df),
    )


def _nats_request_reply(p, df, o, nats_request_reply_enrich):
    # request-reply over core NATS (nats/processor_request_reply.go):
    # interpolated subject, unique inbox reply-to per row, reply
    # into `out` (timeout -> error column)
    from bento_spark.streaming.cep import duration_ms

    host, port = nats_addr(o)
    return nats_request_reply_enrich(
        df, host, port,
        compile_interpolated(str(o["subject"])),
        out_col=o.get("out", "nats_reply"),
        timeout=duration_ms(str(o.get("timeout", "3s"))) / 1000.0,
        inbox_prefix=str(o.get("inbox_prefix", "_INBOX")),
    )


def _gcp_bigquery_select(p, df, o, bigquery_select_map):
    # gcp/processor_bigquery_select.go: the sql_raw amortization —
    # args_mapping compiles to a Catalyst ARRAY column, one
    # jobs.query per DISTINCT args tuple, JSON row arrays
    # broadcast-joined back
    if o.get("args_mapping") and df.isStreaming:
        raise ValueError(
            "gcp_bigquery_select with args_mapping is batch-only "
            "(the per-distinct-tuple query runs driver-side); "
            "argless enrichment works in streams")
    d, args_col = opt_col(df, "_bq_args", o.get("args_mapping"), compile_expr)
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


def _sql_raw(p, df, o, sql_raw_processor):
    # arbitrary statement with placeholder binds
    # (processor_sql_raw.go:30-80): args_mapping compiles to a
    # Catalyst ARRAY column; SELECTs amortize one query per
    # DISTINCT args tuple + broadcast join; exec_only executes each
    # row's statement when the plan runs (sqlite DB-API path —
    # server DBs route to sql_select/sql_insert over JDBC)
    d, args_col = opt_col(df, "_sql_args", o.get("args_mapping"), compile_expr)
    out = sql_raw_processor(
        d, str(o.get("driver", "sqlite")), str(o["dsn"]),
        str(o["query"]), args_col=args_col,
        exec_only=bool(o.get("exec_only", False)),
        result_col=str(o.get("result_col", "sql_rows")),
    )
    return out.drop("_sql_args") if args_col else out


def _mongodb(p, df, o, mongodb_find_one):
    # find-one enrichment (mongodb/processor.go): filter_map fields
    # compile to a JVM-side to_json struct; the matched document
    # lands as a JSON string column (NULL on miss)
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


def _nats_object_store(p, df, o, nats_os_map):
    # get/put against an object-store bucket (nats/processor_os.go)
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


def _redis(p, df, o, redis_command_map):
    # one command per row (redis/processor.go): `command`
    # interpolates, args_mapping -> ARRAY column; legacy
    # `operator:`+`key:` form maps onto the same path. Batch
    # pipelines as one round trip per partition.
    host, port = redis_addr(o)
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
        d = (df.withColumn("_redis_cmd", F.lit(op))
               .withColumn("_redis_args", args))
        args_col = "_redis_args"
    else:
        if not o.get("command"):
            raise ValueError(
                "redis processor: one of `operator` or `command` "
                "must be specified")
        d = df.withColumn("_redis_cmd",
                          compile_interpolated(str(o["command"])))
        d, args_col = opt_col(d, "_redis_args", o.get("args_mapping"), compile_expr)
    out = redis_command_map(
        d, host, port, "_redis_cmd", args_col=args_col,
        out_col=str(o.get("out", "redis")),
        retries=int(o.get("retries", 3)))
    return out.drop("_redis_cmd", *([args_col] if args_col else []))


def _redis_script(p, df, o, redis_script_map):
    # Lua script per row via the script-cache protocol
    # (redis/script_processor.go): EVALSHA, -NOSCRIPT rows retry
    # as EVAL with the body
    host, port = redis_addr(o)
    d, keys_col = opt_col(df, "_rs_keys", o.get("keys_mapping"), compile_expr)
    d, args_col = opt_col(d, "_rs_args", o.get("args_mapping"), compile_expr)
    out = redis_script_map(
        d, host, port, str(o["script"]),
        keys_col=keys_col, args_col=args_col,
        out_col=str(o.get("out", "redis")),
        retries=int(o.get("retries", 3)))
    return out.drop(*[c for c in (keys_col, args_col) if c])


def _aws_lambda(p, df, o, lambda_map):
    # invoke a Lambda per message (aws/processor_lambda.go:20):
    # result replaces the payload column; function errors set
    # lambda_function_error; transport failures flag the error
    # column with content unchanged
    from bento_spark.streaming.cep import duration_ms

    return lambda_map(
        df,
        function=str(o["function"]),
        payload_col=str(o.get("column", "value")),
        retries=int(o.get("retries", 3)),
        # reference-style duration strings ('5s') parse via
        # duration_ms (ADVICE r05); bare YAML numbers keep the old
        # seconds semantics
        timeout=(
            float(o["timeout"])
            if isinstance(o.get("timeout"), (int, float))
            else duration_ms(str(o.get("timeout", "5s"))) / 1000.0
        ),
        **aws_conn(o, "lambda"),
    )


def _aws_dynamodb_partiql(p, df, o, dynamodb_partiql):
    # PartiQL per message over BatchExecuteStatement
    # (aws/processor_dynamodb_partiql.go:106); args_mapping
    # compiles to a Catalyst ARRAY column
    d, args_col = opt_col(df, "_pq_args", o.get("args_mapping"), compile_expr)
    out = dynamodb_partiql(
        d, query=str(o["query"]), args_col=args_col,
        result_col=str(o.get("result_col", "partiql")), **aws_conn(o, "dynamodb"),
    )
    return out.drop("_pq_args") if args_col else out


def _aws_s3(p, df, o, s3_get_map):
    # GetObject per message with interpolated bucket/key
    # (aws/processor_s3.go:26); body lands in out_col,
    # delete_objects removes only successfully fetched objects
    d = (df.withColumn("_s3_bucket", compile_interpolated(str(o["bucket"])))
           .withColumn("_s3_key", compile_interpolated(str(o["key"]))))
    out = s3_get_map(
        d, bucket_col="_s3_bucket", key_col="_s3_key",
        out_col=str(o.get("out_col", "s3_object")),
        delete_objects=bool(o.get("delete_objects", False)),
        **aws_conn(o, "s3"),
    )
    return out.drop("_s3_bucket", "_s3_key")


# ------------------------------------------------------ external programs
def _awk(p, df, o, awk_map):
    # per-message AWK run over the system binary with the
    # reference's custom json_*/metadata_*/timestamp functions
    # (awk/processor.go; codecs none|text|json) — slow path like
    # `command`, a fork per message
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


def _opensnowcat(p, df, o, opensnowcat):
    # Snowplow/OpenSnowcat enriched-TSV events: drop filters, PII
    # transforms, TSV->flattened-JSON (opensnowcat/
    # processor_opensnowcat.go) — filters/transforms compile to
    # codegen over the split line
    flt = o.get("filters") or {}
    return opensnowcat(
        df,
        col=o.get("column", "line"),
        output_format=o.get("output_format", "tsv"),
        drop=flt.get("drop"),
        transform=flt.get("transform"),
    )


def _subprocess(p, df, o, subprocess_map):
    # long-lived child per partition, lockstep line protocol
    # (processor_subprocess.go:47-66); stderr -> error column
    return subprocess_map(
        df,
        o["name"],
        args=[str(a) for a in o.get("args", [])],
        col=o.get("column", "text"),
        codec_send=o.get("codec_send", "lines"),
        codec_recv=o.get("codec_recv", "lines"),
        timeout=float(o.get("timeout", 10)),
        rate_limit=p._rate_limit_share(o.get("rate_limit"), df),
    )


def _command(p, df, o, command_map):
    # one exec per message (processor_command.go:17); args_mapping
    # is a Bloblang expression resolving to array<string> per row
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
        rate_limit=p._rate_limit_share(o.get("rate_limit"), df),
    )


PROCESSORS: dict[str, Processor] = {
    "mapping": Processor("functions.bloblang", "compile_mapping",
                         lambda p, df, o, compile_mapping: compile_mapping(o).apply(df)),
    # throttling is a trigger/rate concern in Spark (see rate_limit)
    "sleep": Processor(None, None, lambda p, df, o, _: df),
    "rate_limit": Processor(None, None, _rate_limit),
    "filter": Processor("functions.bloblang", "compile_expr",
                        lambda p, df, o, compile_expr: df.filter(compile_expr(o))),
    "audio_decode": Processor("audio.udfs", "with_decoded_pcm", lambda p, df, o, f: f(df)),
    "image_resize": Processor("images.udfs", "with_image_resize", _image_resize,
                              required=("width", "height")),
    # second multimodal family (images/udfs.py): PNG decode +
    # feature scalars, same Arrow contract as audio_features
    "image_features": Processor("images.udfs", "with_image_features", _payload_features),
    # third multimodal family (video/udfs.py): O(1) header-only
    # metadata parse, no frame decode
    "video_meta": Processor("video.udfs", "with_video_meta",
                            lambda p, df, o, f: f(df, col=o.get("column", "bytes"))),
    "frame_sample": Processor("video.udfs", "with_frame_sample", _frame_sample,
                              required=("every",)),
    "video_features": Processor("video.udfs", "with_video_features", _payload_features),
    "audio_features": Processor("audio.udfs", "with_audio_features", _audio_features),
    "audio_normalize": Processor("audio.udfs", "with_normalized_clip", _audio_normalize),
    "bounds_check": Processor("operators.mapping", "bounds_check", _bounds_check),
    "dedupe": Processor("operators.grouping", "dedupe", _dedupe, required=("keys",)),
    "set_error": Processor("operators.errors", "set_error_when", _set_error, required=("when",)),
    "catch": Processor("operators.errors", "catch_", _catch, nested=("processors",)),
    # try: run children, already-errored rows short-circuit
    # (processor_try.go:15)
    "try": Processor("operators.errors", "try_",
                     lambda p, df, o, try_: try_(df, p._chain(o["processors"])),
                     required=("processors",), nested=("processors",)),
    "switch": Processor("operators.switch", "switch_transform", _switch,
                        required=("cases",), nested=("cases[].processors", "default")),
    "group_by": Processor("operators.grouping", "group_by", _group_by,
                          required=("checks",), nested=("checks[].processors",)),
    "group_by_value": Processor("operators.grouping", "group_by_value", _group_by_value,
                                required=("value",)),
    "while": Processor(None, None, _while, required=("check", "processors"),
                       nested=("processors",)),
    "select_parts": Processor("operators.batching", "select_parts",
                              lambda p, df, o, f: f(df, o["key"], o["order_by"], o["indexes"]),
                              required=("key", "order_by", "indexes")),
    "insert_part": Processor("operators.batching", "insert_part", _insert_part,
                             required=("key", "order_by", "row")),
    "cache": Processor(None, None, _cache, required=("resource", "key")),
    "cached": Processor("operators.cache", "cached", _cached,
                        required=("resource", "key_cols", "processors"), nested=("processors",)),
    # `keys` is optional: lookup also accepts `on` and reports a missing key itself
    "lookup": Processor("operators.enrich", "lookup_join", _lookup, required=("right",)),
    "spread_skew": Processor("operators.skew", "spread_by_cost",
                             lambda p, df, o, f: f(df, cost_col=o.get("cost", "dur_ms"))),
    "repartition": Processor(None, None, _repartition),
    "compress": Processor("operators.codec", "compress_col", _compress),
    "decompress": Processor("operators.codec", "decompress_col", _decompress),
    "grok": Processor("operators.codec", "grok",
                      lambda p, df, o, grok: grok(df, o["column"], o["pattern"]),
                      required=("column", "pattern")),
    "parse_log": Processor("operators.codec", "parse_log",
                           lambda p, df, o, f: f(df, o.get("column", "line"),
                                                 o.get("format", "apache_common"))),
    "json_map": Processor("operators.codec", "json_map", _json_map, required=("column", "fields")),
    "json_schema": Processor(
        "operators.codec", "json_schema_check",
        lambda p, df, o, f: f(df, o["column"], [(r["field"], r["type"]) for r in o["required"]]),
        required=("column", "required")),
    "archive": Processor("operators.batching", "archive", _archive,
                         required=("key", "order_by", "column")),
    "unarchive": Processor("operators.batching", "unarchive",
                           lambda p, df, o, f: f(df, o["column"], fmt=o.get("format", "lines"),
                                                 out_col=o.get("out", "part")),
                           required=("column",)),
    "branch": Processor("operators.branch", "apply_branch_inline", _branch,
                        required=("result_map",)),
    "workflow": Processor("operators.branch", "workflow", _workflow, required=("branches",)),
    "xml_extract": Processor("operators.codec", "xml_extract", _xml_extract,
                             required=("column", "fields")),
    "parquet_encode": Processor("operators.codec", "parquet_encode",
                                lambda p, df, o, f: f(df, o["group_by"],
                                                      out_col=o.get("out", "parquet_blob")),
                                required=("group_by",)),
    "parquet_decode": Processor("operators.codec", "parquet_decode",
                                lambda p, df, o, f: f(df, o.get("column", "parquet_blob"),
                                                      o["schema"], keep_cols=o.get("keep", ())),
                                required=("schema",)),
    "msgpack_encode": Processor("operators.msgpack_codec", "msgpack_encode",
                                lambda p, df, o, f: f(df, o["columns"],
                                                      out_col=o.get("out", "msgpack_blob")),
                                required=("columns",)),
    "msgpack_decode": Processor("operators.msgpack_codec", "msgpack_decode",
                                lambda p, df, o, f: f(df, o.get("column", "msgpack_blob"),
                                                      o["schema"], keep_cols=o.get("keep", ())),
                                required=("schema",)),
    "jmespath": Processor("operators.codec", "jmespath_map", _jmespath, required=("query",)),
    "avro_decode": Processor("operators.avro_codec", "avro_record_decode", _avro_decode,
                             required=("schema",)),
    "avro_encode": Processor("operators.avro_codec", "avro_record_encode", _avro_encode,
                             required=("columns", "schema")),
    "sentry_capture": Processor("operators.sentry", "sentry_capture", _sentry_capture,
                                required=("message", "dsn")),
    "azure_cosmosdb": Processor("streaming.cosmosdb", "cosmos_map", _azure_cosmosdb,
                                required=("database", "container")),
    "couchbase": Processor("streaming.couchbase", "couchbase_map", _couchbase, required=("id",)),
    "schema_registry_encode": Processor("operators.schema_registry", "schema_registry_encode",
                                        _schema_registry_encode,
                                        required=("url", "subject", "columns")),
    "schema_registry_decode": Processor("operators.schema_registry", "schema_registry_decode",
                                        _schema_registry_decode, required=("url",)),
    "unarchive_avro": Processor("operators.avro_codec", "avro_ocf_scan", _unarchive_avro),
    "protobuf_decode": Processor("operators.protobuf_codec", "protobuf_record_decode",
                                 _protobuf_decode, required=("message",)),
    "protobuf_encode": Processor("operators.protobuf_codec", "protobuf_record_encode",
                                 _protobuf_encode, required=("columns", "message")),
    "match_sequence": Processor("streaming.cep", "match_sequence", _match_sequence,
                                required=("steps", "key", "within")),
    "http": Processor("operators.http_enrich", "http_enrich", _http, required=("url",)),
    "nats_request_reply": Processor("streaming.nats", "nats_request_reply_enrich",
                                    _nats_request_reply, required=("subject",)),
    "gcp_bigquery_select": Processor("streaming.bigquery", "bigquery_select_map",
                                     _gcp_bigquery_select, required=("project", "table")),
    "sql_raw": Processor("operators.sql_raw", "sql_raw_processor", _sql_raw,
                         required=("dsn", "query")),
    "mongodb": Processor("streaming.mongodb", "mongodb_find_one", _mongodb,
                         required=("url", "collection")),
    "nats_object_store": Processor("streaming.nats", "nats_os_map", _nats_object_store,
                                   required=("object_name", "bucket")),
    "redis": Processor("streaming.redis", "redis_command_map", _redis),
    "redis_script": Processor("streaming.redis", "redis_script_map", _redis_script,
                              required=("script",)),
    "aws_lambda": Processor("streaming.lambda_proc", "lambda_map", _aws_lambda,
                            required=("function",)),
    "aws_dynamodb_partiql": Processor("streaming.dynamodb", "dynamodb_partiql",
                                      _aws_dynamodb_partiql, required=("query",)),
    "aws_s3": Processor("streaming.s3", "s3_get_map", _aws_s3, required=("bucket", "key")),
    "awk": Processor("operators.awk_proc", "awk_map", _awk, required=("program",)),
    "opensnowcat": Processor("operators.opensnowcat", "opensnowcat", _opensnowcat),
    "subprocess": Processor("operators.subprocess_proc", "subprocess_map", _subprocess,
                            required=("name",)),
    "command": Processor("operators.subprocess_proc", "command_map", _command,
                         required=("name",)),
    "unarchive_tar": Processor("operators.scanners", "unarchive_tar",
                               lambda p, df, o, f: f(df, o.get("column", "content"),
                                                     keep_cols=o.get("keep", ()),
                                                     fmt=o.get("format", "tar"))),
    "tar_encode": Processor("operators.scanners", "tar_encode",
                            lambda p, df, o, f: f(df, o["group_by"], o["name"], o["payload"],
                                                  out_col=o.get("out", "tar_blob")),
                            required=("group_by", "name", "payload")),
    "chunker": Processor("operators.scanners", "chunker",
                         lambda p, df, o, f: f(df, o["column"], int(o["size"]),
                                               out_col=o.get("out", "chunk")),
                         required=("column", "size")),
    "re_split": Processor("operators.scanners", "re_split",
                          lambda p, df, o, f: f(df, o["column"], o["pattern"],
                                                out_col=o.get("out", "part")),
                          required=("column", "pattern")),
    "skip_bom": Processor("operators.scanners", "skip_bom",
                          lambda p, df, o, f: f(df, o.get("column", "line"))),
    "metric": Processor(None, None, _metric, required=("name",)),
    "noop": Processor(None, None, lambda p, df, o, _: df),
}
