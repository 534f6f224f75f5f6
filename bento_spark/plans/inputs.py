"""The input registry: one table row per input section.

The reference registers each input once (`service.Register*`, ~61 inputs in
internal/bundle/inputs.go) and its lint and docs read that registry. Here
`INPUTS` maps each `input.<name>` section to a row holding

- `modes`: whether the input reads as a table ("batch"), as a stream
  ("streaming") or both;
- `read`: `(spark, section, streaming) -> DataFrame`;
- `start`: for a spool-bridge input, `(section) -> started handle`. The
  bridge is the driver-side listener, subscriber or poller that writes each
  message as one file under `spool_dir` (streaming/spool.py: the format,
  and why a push source is a bridge). A client-side bridge is a
  `streaming.bridge.Bridge` (its connector's `<name>_bridge` function
  makes it), which owns the thread, the reconnects and the ack-after-put
  rule; the two listeners (`HttpSpoolServer`, `TcpSpoolServer`) keep their
  own servers. `Pipeline.start_bridge()` starts it; the caller owns
  `.stop()`. A bridge's reader is `spool.read_spool` with the row's
  metadata DDL, so reading one imports no connector module.

Connector modules are named as strings and imported when a row is used, so
importing the compiler loads none of them. `Pipeline._input` (via
`read_input`), `Pipeline.start_bridge`, `lint.known_inputs` and the lint of
an input map all read this one table.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from importlib import import_module
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.audio.generate import CLIP_SCHEMA, clips_df
from bento_spark.functions.bloblang import compile_mapping
from bento_spark.gating import require_object_store


class Input(NamedTuple):
    modes: str  # "batch", "streaming" or "both"
    read: Callable[[SparkSession, dict, bool], DataFrame]
    start: Callable[[dict], Any] | None = None


# zmq4n (zeromq/input_zmq4n.go): the reference's pure-Go client registration
# of the same ZMTP 3.0 wire contract
ALIASES = {"zmq4n": "zmq4"}


def _resolve(module: str, name: str):
    return getattr(import_module(f"bento_spark.streaming.{module}"), name)


def _ms(v) -> int:
    from bento_spark.streaming.cep import duration_ms

    return duration_ms(str(v))


@dataclass(frozen=True)
class _Spool:
    """Reader of a spool-bridge input: `read_spool(spark, spool_dir,
    meta_ddl=meta, max_files_per_trigger=..., **extra(section))`, then
    `post` (`<module>.<function>`, df -> df) for the columns a connector
    computes rather than types."""

    meta: str = ""
    extra: Callable[[dict], dict] | None = None
    post: str | None = None

    def __call__(self, spark: SparkSession, o: dict, streaming: bool) -> DataFrame:
        from bento_spark.streaming.spool import read_spool

        kw = {"meta_ddl": self.meta, **(self.extra(o) if self.extra else {})}
        df = read_spool(spark, o["spool_dir"],
                        max_files_per_trigger=o.get("max_files_per_trigger"), **kw)
        return _resolve(*self.post.split("."))(df) if self.post else df


@dataclass(frozen=True)
class _Bridge:
    """Starter of a spool bridge: `<module>.<factory>(spool_dir=...,
    **fields(section)).start()`. `fields` maps the section's keys onto the
    factory's arguments: it is the component's config spec."""

    module: str
    factory: str
    fields: Callable[[dict], dict]

    def __call__(self, o: dict):
        make = _resolve(self.module, self.factory)
        return make(spool_dir=o["spool_dir"], **self.fields(o)).start()


def _bridge(module: str, factory: str, fields, meta: str = "", extra=None,
            post: str | None = None) -> Input:
    """Row of a streaming-only spool-bridge input: `module.factory` makes
    the bridge that writes the spool, whose header holds the columns of
    the DDL `meta`."""
    return Input("streaming", _Spool(meta, extra, post), _Bridge(module, factory, fields))


# ------------------------------------------ connection fields (inputs+outputs)
def host_port(addr, default: str) -> tuple[str, int]:
    """`[scheme://]host:port`, the host or port missing from `addr` (or
    all of it) taken from `default`."""
    default_host, _, default_port = default.partition(":")
    host, _, port = re.sub(r"^\w+://", "", str(addr or default)).partition(":")
    return host or default_host, int(port or default_port)


def mqtt_addr(o: dict) -> tuple[str, int]:
    """First entry of the reference's `urls` list (tcp://host:port)
    or a bare `address: host:port`."""
    return host_port((o.get("urls") or [o.get("address")])[0], "127.0.0.1:1883")


def kafka_sasl(o: dict) -> dict | None:
    """First entry of the reference's `sasl` list (mechanism/username/
    password — input_kafka_franz.go saslField); None = no auth."""
    entries = o.get("sasl") or []
    if not entries:
        return None
    e = entries[0] if isinstance(entries, list) else entries
    out = {"mechanism": str(e.get("mechanism", "PLAIN")),
           "username": str(e.get("username", e.get("user", ""))),
           "password": str(e.get("password", ""))}
    for k in ("access_key", "secret_key", "region", "host"):
        if e.get(k) is not None:
            out[k] = str(e[k])
    return out


def kafka_addr(o: dict) -> tuple[str, int]:
    """First entry of the reference's `seed_brokers` list (host:port)."""
    return host_port((o.get("seed_brokers") or [None])[0], "127.0.0.1:9092")


def nats_addr(o: dict) -> tuple[str, int]:
    """First entry of the reference's `urls` list (nats://host:port)
    or a bare `address: host:port`."""
    return host_port((o.get("urls") or [o.get("address")])[0], "127.0.0.1:4222")


def redis_addr(o: dict) -> tuple[str, int]:
    """First entry of the reference's `url` field (redis://host:port)
    or a bare `address: host:port`."""
    from bento_spark.streaming.redis import parse_redis_url

    url = (o.get("urls") or [None])[0] or o.get("url") or o.get("address", "127.0.0.1:6379")
    return parse_redis_url(str(url))


def pubsub_creds(o: dict) -> dict | None:
    import json as _json

    c = o.get("credentials_json")
    if c is None:
        return None
    if isinstance(c, dict):
        return c
    with open(str(c), encoding="utf-8") as f:
        return _json.load(f)


def gcs_creds(o: dict) -> dict | None:
    """Service-account fields from the section, a credentials_file
    (the service-account JSON), or None (emulator/unauthenticated)."""
    import json as _json

    if o.get("credentials_file"):
        from pathlib import Path as _Path

        sa = _json.loads(_Path(str(o["credentials_file"])).read_text())
        return {"client_email": sa["client_email"],
                "private_key": sa["private_key"],
                "token_uri": sa.get(
                    "token_uri", "https://oauth2.googleapis.com/token")}
    c = o.get("credentials")
    if c:
        return {"client_email": str(c["client_email"]),
                "private_key": str(c["private_key"]),
                "token_uri": str(c.get(
                    "token_uri", "https://oauth2.googleapis.com/token"))}
    return None


def sftp_private_key(creds: dict) -> str | None:
    """credentials.private_key_file -> PEM text (RFC 4252 §7
    publickey auth, rsa-sha2-256). Passphrase-encrypted keys need
    PEM decryption the pure-Python parser doesn't do — name it."""
    if not creds.get("private_key_file"):
        return None
    if creds.get("private_key_pass"):
        raise ValueError(
            "sftp: private_key_pass (encrypted PEM) is not supported "
            "by the built-in SSH transport — decrypt the key first "
            "(openssl pkcs8) or use credentials.password")
    from pathlib import Path as _Path

    return _Path(str(creds["private_key_file"])).read_text()


def cosmos_creds(o: dict) -> tuple[str, str]:
    """connection_string wins over endpoint+account_key, like the
    reference's credential docs."""
    if o.get("connection_string"):
        from bento_spark.streaming.cosmosdb import parse_connection_string

        return parse_connection_string(str(o["connection_string"]))
    return str(o["endpoint"]), str(o["account_key"])


def sync_dir_of(o: dict) -> str:
    """The reply handoff dir shared by the listener and the
    sync_response writer (defaults next to the spool dir)."""
    return str(o.get("sync_dir") or (str(o["spool_dir"]).rstrip("/") + "_resp"))


def aws_conn(o: dict, service: str) -> dict:
    """Endpoint, region and credentials of an AWS input or output;
    credentials come from the section or the standard AWS_* env vars."""
    region = str(o.get("region", "us-east-1"))
    return {
        "endpoint": str(o.get("endpoint") or f"https://{service}.{region}.amazonaws.com"),
        "region": region,
        "access_key": str(o.get("access_key") or os.environ.get("AWS_ACCESS_KEY_ID", "")),
        "secret_key": str(o.get("secret_key") or os.environ.get("AWS_SECRET_ACCESS_KEY", "")),
    }


def azure_conn(o: dict, service: str) -> dict:
    """Endpoint and SharedKey credentials of an Azure storage input or
    output, from the section or the standard AZURE_STORAGE_* env vars."""
    account = str(o.get("storage_account") or os.environ.get("AZURE_STORAGE_ACCOUNT", ""))
    return {
        "endpoint": str(o.get("endpoint") or f"https://{account}.{service}.core.windows.net"),
        "account": account,
        "account_key": str(o.get("storage_access_key")
                           or os.environ.get("AZURE_STORAGE_ACCESS_KEY", "")),
    }


def _listen_addr(o: dict) -> dict:
    return dict(zip(("host", "port"), host_port(o.get("address"), "127.0.0.1:0")))


# ------------------------------------------------------------ input readers
def _generate_clips(spark, o, streaming):
    # streams via a staging dir: input.parquet over a dir written by
    # clips_df (Pipeline.stage_clips)
    return clips_df(spark, int(o.get("count", 1000)), seed=int(o.get("seed", 42)),
                    event_step_ms=int(o.get("event_step_ms", 100)))


def _generate_images(spark, o, streaming):
    # images twin of generate_clips (images/generate.py)
    from bento_spark.images.generate import images_df

    return images_df(spark, int(o.get("count", 300)), seed=int(o.get("seed", 42)))


def _generate_videos(spark, o, streaming):
    # videos twin of generate_clips/generate_images (video/generate.py)
    from bento_spark.video.generate import videos_df

    return videos_df(spark, int(o.get("count", 100)), seed=int(o.get("seed", 42)))


def _generate(spark, o, streaming):
    # general generate input (input_generate.go:22): a Bloblang mapping over
    # a generated sequence. Batch = spark.range(count) (the `id` column is
    # the 0-based message index, usable as this.id for deterministic rows);
    # streaming = the rate source paced by `interval` (rows/sec =
    # 1/interval), value -> id.
    if streaming:
        ms = max(_ms(str(o.get("interval", "1s")) or "1s"), 1)
        if ms <= 1000:
            rps, every = int(round(1000.0 / ms)), 1
        else:
            # rate source floors at 1 row/sec: pace longer intervals by
            # keeping every Nth row (interval 1m = every 60th)
            rps, every = 1, int(round(ms / 1000.0))
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rps)
            .load()
            .filter((F.col("value") % every) == 0)
            .select((F.col("value") / every).cast("long").alias("id"))
            # timestamp dropped: wall-clock in the data path breaks
            # determinism AND batch/stream schema parity
        )
        if "count" in o:
            # bounded generate: emit exactly `count` rows then nothing (the
            # reference stops its input; a Spark rate stream stays alive —
            # pair with read_until to stop)
            src = src.filter(F.col("id") < int(o["count"]))
    else:
        src = spark.range(int(o.get("count", 100)))
    if o.get("mapping"):
        src = compile_mapping(str(o["mapping"])).apply(src)
    return src


def _parquet(spark, o, streaming):
    path = require_object_store(spark, o["path"])
    if streaming:
        reader = spark.readStream.schema(o.get("schema", CLIP_SCHEMA))
        if "max_files_per_trigger" in o:
            reader = reader.option("maxFilesPerTrigger", int(o["max_files_per_trigger"]))
        return reader.parquet(path)
    return spark.read.parquet(path)


# file-format scanners (reference scanners: lines/csv/json_documents,
# internal/impl/pure/scanner_*.go) — Spark readers ARE the scanners
def _csv(spark, o, streaming):
    rd = spark.readStream if streaming else spark.read
    if streaming or "schema" in o:
        rd = rd.schema(o["schema"])
    return rd.options(
        header=str(o.get("header", True)).lower(),
        **({"maxFilesPerTrigger": str(o["max_files_per_trigger"])}
           if streaming and "max_files_per_trigger" in o else {}),
    ).csv(require_object_store(spark, o["path"]))


def _json(spark, o, streaming):
    rd = spark.readStream if streaming else spark.read
    if streaming or "schema" in o:
        rd = rd.schema(o["schema"])
    return rd.json(require_object_store(spark, o["path"]))


def _lines(spark, o, streaming):
    rd = (spark.readStream if streaming else spark.read).format("text")
    if o.get("whole"):
        # to_the_end scanner (scanner_to_the_end.go): the whole file is ONE
        # message — Spark's wholetext option is exactly that. format+load,
        # not .text(): text()'s wholetext KEYWORD (default False) overrides
        # a reader-level option
        rd = rd.option("wholetext", "true")
    return rd.load(require_object_store(spark, o["path"])).withColumnRenamed(
        "value", o.get("column", "line"))


def _binary_file(spark, o, streaming):
    # whole-file binary rows (path, modificationTime, length, content) — the
    # byte-stream the reference's scanners consume; follow with
    # unarchive_tar/chunker/re_split processors
    rd = (spark.readStream if streaming else spark.read).format("binaryFile")
    if "glob" in o:
        rd = rd.option("pathGlobFilter", o["glob"])
    if streaming:
        rd = rd.schema("path string, modificationTime timestamp, length bigint, content binary")
    return rd.load(o["path"])


def _xml(spark, o, streaming):
    # native XML datasource (Spark 4) — the reference's xml scanner/
    # processor to_json path (internal/impl/xml/processor.go)
    rd = spark.readStream if streaming else spark.read
    rd = rd.format("xml").option("rowTag", o.get("row_tag", "row"))
    if streaming and "schema" not in o:
        raise ValueError("xml streaming input requires an explicit schema")
    if "schema" in o:
        rd = rd.schema(o["schema"])
    return rd.load(o["path"])


def _stdin(spark, o, streaming):
    # stdin line input (internal/impl/io/input_stdin.go) — inherently a
    # single-process feed, read on the driver
    import sys as _sys

    rows = [(ln.rstrip("\n"),) for ln in _sys.stdin]
    return spark.createDataFrame(rows, f"{o.get('column', 'line')} string")


def _cassandra(spark, o, streaming):
    # SELECT as a batch source (cassandra/input.go) — driver-side
    # single-batch read for control-plane-sized tables; bulk data belongs
    # in parquet/Iceberg
    from bento_spark.streaming.cassandra import cassandra_read

    addr = (o.get("addresses") or [o.get("address", "127.0.0.1:9042")])[0]
    return cassandra_read(spark, str(addr), str(o["query"]))


def _mongodb(spark, o, streaming):
    # collection find as a batch source (mongodb/input.go) — driver-side
    # single-batch read for control-plane-sized collections
    import json as _json

    from bento_spark.streaming.mongodb import mongodb_read

    flt = o.get("filter")
    if isinstance(flt, str):
        flt = _json.loads(flt)
    return mongodb_read(
        spark, str(o["url"]), str(o.get("database", "bento")),
        str(o["collection"]), flt=flt, limit=int(o.get("limit", 0)),
    )


def _sql_raw(spark, o, streaming):
    # one-shot query, each result row a message (input_sql_raw.go)
    from bento_spark.operators.sql_raw import sql_raw_query

    return sql_raw_query(spark, str(o.get("driver", "sqlite")), str(o["dsn"]),
                         str(o["query"]), args=o.get("args"))


def _redis_scan(spark, o, streaming):
    # keyspace-as-batch input (redis/input_scan.go): driver-side SCAN
    # cursor, executor-side pipelined MGET per partition
    from bento_spark.streaming.redis import read_redis_scan

    host, port = redis_addr(o)
    return read_redis_scan(spark, host, port, match=o.get("match", "*"))


def _socket(spark, o, streaming):
    # TCP line source (internal/impl/io/input_socket.go) — Spark's native
    # socket source; dev/debug grade (no offset replay), like the reference's
    return (
        spark.readStream.format("socket")
        .option("host", o.get("host", "127.0.0.1"))
        .option("port", int(o["port"]))
        .load()
        .withColumnRenamed("value", o.get("column", "line"))
    )


def _kafka(spark, o, streaming):
    from bento_spark.streaming.kafka import read_kafka_stream

    return read_kafka_stream(
        spark,
        addresses=o["addresses"],
        topics=o["topics"],
        starting_offsets=o.get("starting_offsets", "earliest"),
        checkpoint_limit=o.get("checkpoint_limit"),
        value_schema=o.get("value_schema"),
        value_format=o.get("value_format", "json"),
    )


def _read_until(spark, o, streaming):
    # consume the child input until a predicate fires (input_read_until.go:
    # 34). Granularity is the micro-batch: run_stream wires the `check`
    # monitor, which delivers the batch holding the first match and stops.
    return read_input(spark, o["input"], streaming)


def _union(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _broker(spark, o, streaming):
    # fan-in of child inputs (input_broker.go:78) = streaming union
    return _union([read_input(spark, c, streaming) for c in o["inputs"]])


def _dynamic(spark, o, streaming):
    # labeled broker (input_dynamic.go): the static `inputs` map compiles to
    # a fan-in union tagged with _dynamic_label. Runtime add/remove maps to
    # the StreamManager REST API (update/recreate) — Spark cannot graft
    # sources onto a live DAG, and the manager's stream-level mutation is
    # the supported equivalent of the reference's /inputs/{id}.
    children = o.get("inputs") or {}
    if not children:
        raise ValueError("dynamic input: `inputs` map is empty")
    return _union([
        read_input(spark, c, streaming).withColumn("_dynamic_label", F.lit(str(label)))
        for label, c in sorted(children.items())
    ])


def _sequence(spark, o, streaming):
    # ordered consumption: child i's rows all precede child i+1's
    # (input_sequence.go:35). Tables have no arrival order, so the sequence
    # position is materialized as _seq_input — downstream order-sensitive
    # ops sort on it. Batch-only: a stream never "gracefully terminates".
    return _union([
        read_input(spark, c, False).withColumn("_seq_input", F.lit(i))
        for i, c in enumerate(o["inputs"])
    ])


# ------------------------------------------------------ bridge field specs
# Each maps an input section onto its bridge factory's arguments (spool_dir is
# added by _Bridge); the fields follow the reference input named.
def _http_server(o):  # input_http_server.go
    return {**_listen_addr(o), "path": o.get("path", "/post"),
            "sync_dir": sync_dir_of(o) if o.get("sync") else None,
            "sync_timeout": float(o.get("sync_timeout", 15.0))}


def _http_client(o):  # input_http_client.go
    return {"url": o["url"], "interval_s": _ms(o.get("interval", "1s")) / 1000.0,
            "method": o.get("method", "GET"), "headers": o.get("headers"),
            "drop_empty": bool(o.get("drop_empty", True)),
            "drop_repeats": bool(o.get("drop_repeats", False))}


def _websocket(o):  # input_websocket.go
    return {"url": o["url"], "open_message": o.get("open_message"),
            "tls_insecure": bool(o.get("tls_insecure", False))}


def _subprocess(o):  # input_subprocess.go
    return {"name": str(o["name"]), "args": [str(a) for a in (o.get("args") or [])],
            "restart_on_exit": bool(o.get("restart_on_exit", False)),
            "max_buffer": int(o.get("max_buffer", 65536))}


def _mqtt(o):  # mqtt/input.go
    host, port = mqtt_addr(o)
    return {"host": host, "port": port, "topics": list(o["topics"]),
            "qos": int(o.get("qos", 1)), "client_id": o.get("client_id"),
            "clean_session": bool(o.get("clean_session", True))}


def _kafka_franz(o):  # kafka/input_kafka_franz.go
    host, port = kafka_addr(o)
    return {"host": host, "port": port, "topics": list(o["topics"]),
            "checkpoint_limit": int(o.get("checkpoint_limit", 4096)),
            "sasl": kafka_sasl(o)}


def _nats_object_store(o):  # nats/input_os.go
    host, port = nats_addr(o)
    return {"host": host, "port": port, "bucket": str(o["bucket"]),
            "durable": str(o.get("durable", "bento_spark_os"))}


def _nats_jetstream(o):  # nats/input_jetstream.go
    host, port = nats_addr(o)
    return {"host": host, "port": port, "stream": str(o["stream"]),
            "durable": str(o.get("durable", "bento_spark")),
            "subject": str(o.get("subject", "")), "deliver": str(o.get("deliver", "all")),
            "ack_wait_s": _ms(o.get("ack_wait", "30s")) / 1000.0}


def _nats(o):  # nats/input.go
    host, port = nats_addr(o)
    return {"host": host, "port": port, "subject": o["subject"], "queue": o.get("queue")}


def _pulsar(o):  # pulsar/input.go
    from bento_spark.streaming.pulsar import parse_pulsar_url

    host, port = parse_pulsar_url(str(o.get("url", "pulsar://127.0.0.1:6650")))
    auth = (o.get("auth") or {}).get("token") or {}
    return {"host": host, "port": port, "topics": list(o.get("topics") or []),
            "subscription": o["subscription_name"],
            "sub_type": o.get("subscription_type", "shared"),
            "topics_pattern": o.get("topics_pattern"),
            "token": auth.get("token") if auth.get("enabled") else None}


def _aws_kinesis(o):  # aws/input_kinesis.go
    return {**aws_conn(o, "kinesis"), "streams": [str(s) for s in o["streams"]],
            "checkpoint_limit": int(o.get("checkpoint_limit", 1000))}


def _aws_sqs(o):  # aws/input_sqs.go
    return {**aws_conn(o, "sqs"), "queue_url": str(o["url"]),
            "wait_time_s": int(o.get("wait_time_seconds", 1)),
            "max_messages": int(o.get("max_number_of_messages", 10)),
            "delete_message": bool(o.get("delete_message", True))}


def _aws_s3(o):  # aws/input_s3.go: one listing pass, or SQS-notified objects
    sqs = o.get("sqs") or {}
    return {**aws_conn(o, "s3"), "bucket": str(o["bucket"]), "prefix": str(o.get("prefix", "")),
            "delete_objects": bool(o.get("delete_objects", False)),
            "sqs_queue_url": str(sqs["url"]) if sqs.get("url") else None,
            "sqs_endpoint": str(sqs["endpoint"]) if sqs.get("endpoint") else None,
            "sqs_key_path": str(sqs.get("key_path", "Records.*.s3.object.key")),
            "sqs_bucket_path": str(sqs.get("bucket_path", "Records.*.s3.bucket.name")),
            "sqs_wait_time_s": int(sqs.get("wait_time_seconds", 1)),
            "sqs_max_messages": int(sqs.get("max_number_of_messages", 10))}


def _gcp_spanner_cdc(o):  # gcp/input_spanner_cdc.go
    return {"dsn": str(o["spanner_dsn"]), "stream_name": str(o["stream_name"]),
            "start_time": str(o["start_time"]) if o.get("start_time") else None,
            "end_time": str(o["end_time"]) if o.get("end_time") else None,
            "heartbeat_ms": _ms(o.get("heartbeat_interval", "3s")),
            "endpoint": str(o.get("endpoint") or "https://spanner.googleapis.com"),
            "credentials": pubsub_creds(o)}


def _gcp_pubsub(o):  # gcp/input_pubsub.go; no credentials = emulator mode
    create = o.get("create_subscription") or {}
    return {"endpoint": str(o.get("endpoint") or "https://pubsub.googleapis.com"),
            "project": str(o["project"]), "subscription": str(o["subscription"]),
            "credentials": pubsub_creds(o),
            "max_messages": int(o.get("max_outstanding_messages", 10)),
            "create_topic": str(create["topic"]) if create.get("enabled") else None}


def _gcp_bigquery_select(o):  # gcp/input_bigquery_select.go
    return {"endpoint": str(o.get("endpoint") or "https://bigquery.googleapis.com"),
            "project": str(o["project"]), "table": str(o["table"]),
            "columns": [str(c) for c in (o.get("columns") or ["*"])],
            "where": str(o.get("where", "")), "args": list(o.get("args") or []) or None,
            "prefix": str(o.get("prefix", "")), "suffix": str(o.get("suffix", "")),
            "credentials": gcs_creds(o)}


def _gcp_cloud_storage(o):  # gcp/input_cloud_storage.go
    return {"endpoint": str(o.get("endpoint") or "https://storage.googleapis.com"),
            "bucket": str(o["bucket"]), "prefix": str(o.get("prefix", "")),
            "delete_objects": bool(o.get("delete_objects", False)),
            "credentials": gcs_creds(o)}


def _azure_queue_storage(o):  # azure/input_queue_storage.go
    vis = o.get("dequeue_visibility_timeout", "30s")
    return {**azure_conn(o, "queue"), "queue": str(o["queue_name"]),
            "max_messages": int(o.get("max_in_flight", 16)),
            "visibility_timeout_s": max(1, _ms(vis) // 1000)}


def _azure_table_storage(o):  # azure/input_table_storage.go
    return {**azure_conn(o, "table"), "table": str(o["table_name"]),
            "filter": str(o.get("filter", "")), "select": str(o.get("select", "")),
            "page_size": int(o.get("page_size", 1000))}


def _azure_blob_storage(o):  # azure/input_blob_storage.go
    return {**azure_conn(o, "blob"), "container": str(o["container"]),
            "prefix": str(o.get("prefix", "")),
            "delete_blobs": bool(o.get("delete_objects", False))}


def _azure_service_bus_queue(o):  # azure/input_service_bus_queue.go
    from bento_spark.streaming.azure_servicebus import parse_sb_connection_string

    cs = str(o["connection_string"])
    host, key_name, key, entity = parse_sb_connection_string(cs)
    # real Service Bus listens on 5671 (amqps); the Endpoint may carry an
    # explicit port (the mini broker / emulators do)
    port = int(o.get("port", 0))
    if not port:
        m = re.search(r"Endpoint=sb://[^:;/]+:(\d+)", cs)
        port = int(m.group(1)) if m else 5671
    return {"host": host, "port": port, "queue": str(o.get("queue") or entity or ""),
            "key_name": key_name, "key": key,
            "nack_reject_patterns": [str(p) for p in (o.get("nack_reject_patterns") or [])]}


def _azure_cosmosdb(o):  # azure/input_cosmosdb.go
    from bento_spark.streaming.cosmosdb import parse_pk_mapping

    endpoint, key = cosmos_creds(o)
    # partition_keys_map is a Bloblang mapping evaluated once with no input,
    # i.e. a literal (input_cosmosdb.go:96)
    pk = (parse_pk_mapping(str(o["partition_keys_map"]))
          if o.get("partition_keys_map") is not None else o.get("partition_key"))
    # engine contract: STRING partition keys end-to-end (the per-row mapping
    # on the write side compiles to a string column)
    if pk is not None and not isinstance(pk, str):
        pk = "true" if pk is True else "false" if pk is False else str(pk)
    return {"endpoint": endpoint, "account_key": key, "database": str(o["database"]),
            "container": str(o["container"]), "partition_key": pk,
            "query": str(o["query"]),
            "parameters": [{"name": str(p["name"]), "value": p["value"]}
                           for p in (o.get("args") or [])],
            "page_size": int(o.get("batch_count", 100))}


def _cypher(o):  # cypher/input_cypher.go + conn_fields.go
    auth = o.get("basic_auth") or {}
    no_auth = bool(o.get("no_auth", False))
    return {"uri": str(o["uri"]), "query": str(o["query"]),
            "database": str(o.get("database", "")),
            "user": None if no_auth else auth.get("user"),
            "password": None if no_auth else auth.get("password")}


def _cockroachdb_changefeed(o):  # cockroachdb/input_changefeed.go
    # cursor_cache: a spool-dir dotfile in the reference's cache-resource
    # role; truthy resumes from the last delivered row's `updated` timestamp
    return {"dsn": str(o["dsn"]), "tables": [str(t) for t in (o.get("tables") or [])],
            "options": [str(x) for x in (o.get("options") or [])],
            "cursor_cache": bool(o.get("cursor_cache"))}


def _etcd(o):  # etcd/input.go + client.go
    opts = o.get("options") or {}
    auth = o.get("auth") or {}
    return {"endpoints": [str(e) for e in (o.get("endpoints") or [])], "key": str(o["key"]),
            "with_prefix": bool(opts.get("with_prefix", False)),
            "with_range": str(opts.get("with_range", "")),
            "progress_notify": bool(opts.get("with_progress_notify", False)),
            "filter_put": bool(opts.get("with_filter_put", False)),
            "filter_delete": bool(opts.get("with_filter_delete", False)),
            "created_notify": bool(opts.get("with_created_notify", False)),
            "username": str(auth.get("username", "")),
            "password": str(auth.get("password", "")),
            "auth_enabled": bool(auth.get("enabled", False))}


def _discord(o):  # discord/input.go
    return {"endpoint": str(o.get("endpoint") or "https://discord.com"),
            "channel_id": str(o["channel_id"]), "bot_token": str(o["bot_token"]),
            "poll_period_s": _ms(o.get("poll_period", "1m")) / 1000.0,
            "limit": int(o.get("limit", 100))}


def _sftp(o):  # sftp/input.go; password or private_key_file auth
    from bento_spark.streaming.sftp import parse_sftp_address

    creds = o.get("credentials") or {}
    host, port = parse_sftp_address(str(o.get("address", "127.0.0.1:22")))
    w = o.get("watcher") or {}
    return {"host": host, "port": port, "username": str(creds.get("username", "")),
            "password": str(creds.get("password", "")),
            "private_key_pem": sftp_private_key(creds),
            "paths": [str(p) for p in (o.get("paths") or [])],
            "delete_on_finish": bool(o.get("delete_on_finish", False)),
            "watcher": bool(w.get("enabled", False)),
            "poll_interval_s": _ms(w.get("poll_interval", "1s")) / 1000.0,
            "minimum_age_s": _ms(w.get("minimum_age", "0s")) / 1000.0}


def _amqp_1(o):  # amqp1/input.go
    url = o.get("url") or (o.get("urls") or [None])[0]
    if not url:
        raise ValueError("input.amqp_1 needs `url` (or `urls`)")
    return {"url": str(url), "source_address": str(o["source_address"]),
            "credit": int(o.get("credit", 64))}


def _amqp_0_9(o):  # amqp09/input.go
    from bento_spark.streaming.amqp import parse_amqp_url

    url = (o.get("urls") or [o.get("url", "amqp://127.0.0.1:5672")])[0]
    host, port, vhost = parse_amqp_url(str(url))
    return {"host": host, "port": port, "queue": o["queue"], "vhost": vhost,
            "declare": bool((o.get("queue_declare") or {}).get("enabled", False)),
            "bindings": [(b["exchange"], b.get("key", ""))
                         for b in o.get("bindings_declare") or []],
            "consumer_tag": o.get("consumer_tag", "bento_spark"),
            "prefetch_count": int(o.get("prefetch_count", 64))}


def _hdfs(o):  # hdfs/input.go: one listing pass over WebHDFS
    return {"hosts": o.get("hosts") or [str(o.get("host", "127.0.0.1:9870"))],
            "user": str(o.get("user", "bento")), "directory": str(o["directory"])}


def _nanomsg(o):  # nanomsg/input.go
    return {"socket_type": str(o.get("socket_type", "PULL")).upper(),
            "urls": [str(u) for u in o.get("urls") or []],
            "bind": bool(o.get("bind", False)),
            "sub_filters": ([str(f) for f in o["sub_filters"]]
                            if o.get("sub_filters") is not None else None)}


def _zmq4(o):  # zeromq/input_zmq4.go
    return {"socket_type": str(o.get("socket_type", "PULL")).upper(),
            "urls": [str(u) for u in o.get("urls") or []],
            "bind": bool(o.get("bind", False)),
            "sub_filters": [str(f) for f in o.get("sub_filters") or []]}


def _beanstalkd(o):  # beanstalkd/input.go
    from bento_spark.streaming.beanstalkd import parse_beanstalkd_addr

    host, port = parse_beanstalkd_addr(str(o.get("address", "127.0.0.1:11300")))
    return {"host": host, "port": port}


def _nsq(o):  # nsq/input.go
    from bento_spark.streaming.nsq import parse_nsqd_addr

    host, port = parse_nsqd_addr(str((o.get("nsqd_tcp_addresses") or ["127.0.0.1:4150"])[0]))
    return {"host": host, "port": port, "topic": str(o["topic"]),
            "channel": str(o.get("channel", "bento_spark")),
            "max_in_flight": int(o.get("max_in_flight", 64)),
            "max_attempts": int(o.get("max_attempts", 5))}


def _redis_list(o):  # redis/input_list.go
    host, port = redis_addr(o)
    return {"host": host, "port": port, "key": o["key"],
            "command": o.get("command", "blpop")}


def _redis_pubsub(o):  # redis/input_pubsub.go
    host, port = redis_addr(o)
    return {"host": host, "port": port, "channels": list(o["channels"]),
            "use_patterns": bool(o.get("use_patterns", False))}


def _redis_streams(o):  # redis/input_streams.go
    host, port = redis_addr(o)
    return {"host": host, "port": port, "streams": list(o["streams"]),
            "body_key": o.get("body_key", "body"),
            "consumer_group": o.get("consumer_group", "bento_spark"),
            "client_id": o.get("client_id", "bento_spark_consumer"),
            "limit": int(o.get("limit", 10))}


INPUTS: dict[str, Input] = {
    "generate_clips": Input("batch", _generate_clips),
    "generate_images": Input("batch", _generate_images),
    "generate_videos": Input("batch", _generate_videos),
    "generate": Input("both", _generate),
    "parquet": Input("both", _parquet),
    "csv": Input("both", _csv),
    "json": Input("both", _json),
    "lines": Input("both", _lines),
    "binary_file": Input("both", _binary_file),
    "xml": Input("both", _xml),
    "stdin": Input("batch", _stdin),
    "cassandra": Input("batch", _cassandra),
    "mongodb": Input("batch", _mongodb),
    "sql_raw": Input("batch", _sql_raw),
    "redis_scan": Input("batch", _redis_scan),
    "socket": Input("streaming", _socket),
    "kafka": Input("streaming", _kafka),
    "read_until": Input("streaming", _read_until),
    "broker": Input("both", _broker),
    "dynamic": Input("both", _dynamic),
    "sequence": Input("batch", _sequence),
    # spool bridges: a row names the spool header's columns; they follow
    # each reference input's metadata fields
    "http_server": _bridge(
        "http_server", "HttpSpoolServer", _http_server,
        # sync mode: request_id is the routing key output.sync_response
        # replies by
        extra=lambda o: {"lines": not o.get("whole_body", True),
                         "meta_ddl": "request_id string" if o.get("sync") else ""}),
    "http_client": _bridge("http_server", "http_poll_bridge", _http_client,
                           extra=lambda o: {"lines": not o.get("whole_body", True)}),
    "socket_server": _bridge("http_server", "TcpSpoolServer", _listen_addr,
                             extra=lambda o: {"lines": bool(o.get("lines", True))}),
    "websocket": _bridge("http_server", "websocket_bridge", _websocket),
    "subprocess": _bridge("subprocess_io", "subprocess_bridge", _subprocess),
    "mqtt": _bridge("mqtt", "mqtt_bridge", _mqtt, "mqtt_topic string"),
    "kafka_franz": _bridge(
        "kafka_wire", "kafka_bridge", _kafka_franz,
        "kafka_topic string, kafka_partition int, kafka_offset bigint, kafka_ts bigint, "
        "kafka_key string, kafka_tombstone boolean", post="kafka_wire.kafka_columns"),
    "nats": _bridge("nats", "nats_bridge", _nats,
                    "nats_subject string, nats_reply_subject string"),
    "nats_jetstream": _bridge("nats", "jetstream_bridge", _nats_jetstream,
                              "nats_subject string, nats_sequence bigint"),
    "nats_object_store": _bridge("nats", "nats_os_bridge", _nats_object_store,
                                 "nats_object_name string, nats_object_size bigint"),
    "pulsar": _bridge(
        "pulsar", "pulsar_bridge", _pulsar,
        "pulsar_topic string, pulsar_message_id string, pulsar_key string, "
        "pulsar_ordering_key string, pulsar_publish_time_unix bigint, "
        "pulsar_redelivery_count int, pulsar_event_time_unix bigint, "
        "pulsar_producer_name string, pulsar_properties map<string,string>"),
    "aws_kinesis": _bridge(
        "kinesis", "kinesis_bridge", _aws_kinesis,
        "kinesis_stream string, kinesis_shard string, kinesis_sequence string, "
        "kinesis_partition_key string"),
    "aws_sqs": _bridge("sqs", "sqs_bridge", _aws_sqs, "sqs_message_id string"),
    "aws_s3": _bridge("s3", "s3_bridge", _aws_s3,
                      "s3_bucket string, s3_key string, s3_last_modified_unix bigint"),
    "gcp_spanner_cdc": _bridge(
        "spanner", "spanner_cdc_bridge", _gcp_spanner_cdc,
        "gcp_spanner_commit_timestamp string, gcp_spanner_cdc_mod_type string, "
        "gcp_spanner_table_name string, gcp_spanner_cdc_server_transaction_id string, "
        "gcp_spanner_cdc_record_sequence string"),
    "gcp_pubsub": _bridge("pubsub", "pubsub_bridge", _gcp_pubsub, "pubsub_message_id string"),
    "gcp_bigquery_select": _bridge("bigquery", "bigquery_bridge", _gcp_bigquery_select),
    "gcp_cloud_storage": _bridge(
        "gcs", "gcs_bridge", _gcp_cloud_storage,
        "gcs_key string, gcs_bucket string, gcs_last_modified string, "
        "gcs_content_type string, gcs_content_encoding string", post="gcs.gcs_columns"),
    "azure_queue_storage": _bridge("azure_queue", "azure_queue_bridge", _azure_queue_storage,
                                   "queue_storage_message_id string"),
    "azure_table_storage": _bridge("azure_table", "azure_table_bridge", _azure_table_storage,
                                   "table_storage_name string, row_num bigint"),
    "azure_blob_storage": _bridge("azure_blob", "azure_blob_bridge", _azure_blob_storage,
                                  "blob_storage_container string, blob_storage_key string"),
    "azure_service_bus_queue": _bridge(
        "azure_servicebus", "service_bus_bridge", _azure_service_bus_queue,
        "service_bus_message_id string, service_bus_sequence_number bigint, "
        "service_bus_enqueued_time bigint, service_bus_delivery_count int, "
        "service_bus_content_type string, service_bus_correlation_id string"),
    "azure_cosmosdb": _bridge("cosmosdb", "cosmos_bridge", _azure_cosmosdb,
                              "cosmosdb_database string, cosmosdb_container string, "
                              "row_num bigint"),
    "cypher": _bridge("cypher", "cypher_bridge", _cypher),
    "cockroachdb_changefeed": _bridge("cockroachdb", "changefeed_bridge",
                                      _cockroachdb_changefeed),
    "etcd": _bridge("etcd", "etcd_watch_bridge", _etcd),
    "discord": _bridge("discord", "discord_bridge", _discord),
    "sftp": _bridge("sftp", "sftp_bridge", _sftp, "sftp_path string"),
    "amqp_1": _bridge("amqp1", "amqp1_bridge", _amqp_1, "amqp_delivery_id bigint"),
    "amqp_0_9": _bridge("amqp", "amqp_bridge", _amqp_0_9, "amqp_key string"),
    "hdfs": _bridge("hdfs", "hdfs_bridge", _hdfs, "hdfs_path string, hdfs_modified_ms bigint"),
    "nanomsg": _bridge("nanomsg", "nanomsg_bridge", _nanomsg),
    "zmq4": _bridge("zeromq", "zmq_bridge", _zmq4),
    "beanstalkd": _bridge("beanstalkd", "beanstalkd_bridge", _beanstalkd,
                          "beanstalkd_id bigint"),
    "nsq": _bridge("nsq", "nsq_bridge", _nsq,
                   "nsq_id string, nsq_attempts int, nsq_timestamp bigint"),
    "redis_list": _bridge("redis", "redis_list_bridge", _redis_list, "redis_key string"),
    "redis_pubsub": _bridge("redis", "redis_pubsub_bridge", _redis_pubsub,
                            "redis_channel string"),
    "redis_streams": _bridge("redis", "redis_streams_bridge", _redis_streams,
                             "redis_stream string, redis_id string, "
                             "redis_meta map<string,string>"),
}


def select_input(inp: dict) -> tuple[str, Any]:
    """(registry name, section) of the one input an input map names. Keys
    that name no input are ignored; two registered inputs are an error."""
    inp = inp or {}
    keys = [k for k in inp if ALIASES.get(k, k) in INPUTS]
    if len(keys) > 1:
        raise ValueError(
            f"input map names {len(keys)} inputs ({', '.join(keys)}): an input "
            "section holds one input (use broker to read several)")
    if not keys:
        raise ValueError(f"unsupported input config: {list(inp)}")
    return ALIASES.get(keys[0], keys[0]), inp[keys[0]] or {}


def read_input(spark: SparkSession, inp: dict, streaming: bool) -> DataFrame:
    """The DataFrame an input map reads, as a table or as a stream."""
    name, o = select_input(inp)
    row = INPUTS[name]
    if row.modes not in ("both", "streaming" if streaming else "batch"):
        raise ValueError(f"{name} input is {row.modes}-only")
    return row.read(spark, o, streaming)
