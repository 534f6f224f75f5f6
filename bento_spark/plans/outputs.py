"""The output registry: one table row per output section.

The reference registers each output once (`service.Register*`, ~72 outputs
in internal/bundle/outputs.go) and wraps any of them in `reject_errored`
(output_reject_errored.go:19). Here `OUTPUTS` maps each `output.<name>` key
to a row holding

- the connector's writer factory, named as `<module>.<function>` under
  `bento_spark` and imported only when the row is used, so importing the
  compiler loads no connector module;
- `build(pipeline, spark, section, df, checkpoint, factory) -> (df, writer)`:
  it maps the section onto the factory's arguments (the component's config
  spec), adds the per-row columns the writer reads (interpolations compile
  to Columns, rendered JVM-side) and returns the foreachBatch writer.

Calling a row, `OUTPUTS[name](pipeline, spark, section, df, checkpoint)`,
resolves the factory and runs `build`. A writer holding a driver-side
resource (the subprocess output's child, the http_server output's server)
carries a `close()`, which `Pipeline.close()` runs.

`Pipeline._run_stream` builds the stream once, selects the one output the
map names (`select_output`), calls its row and wraps the writer in the
output map's modifiers (`dlq`, then `input.read_until`, then
`error_handling: retry`). `lint.known_outputs` and the lint of an output
map read the same table.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from importlib import import_module
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bento_spark.functions.bloblang import compile_expr, compile_interpolated
from bento_spark.gating import require_object_store
from bento_spark.plans.inputs import (
    aws_conn,
    azure_conn,
    cosmos_creds,
    gcs_creds,
    host_port,
    kafka_addr,
    kafka_sasl,
    mqtt_addr,
    nats_addr,
    pubsub_creds,
    redis_addr,
    sftp_private_key,
    sync_dir_of,
)
from bento_spark.streaming.sink import IdempotentParquetSink

Writer = Callable[[DataFrame, int], None]


@dataclass(frozen=True)
class Output:
    module: str  # under bento_spark, e.g. "streaming.kafka"
    factory: str
    build: Callable[..., tuple[DataFrame, Writer]]

    def __call__(self, p, spark, section, df: DataFrame, checkpoint: str):
        factory = getattr(import_module(f"bento_spark.{self.module}"), self.factory)
        return self.build(p, spark, section, df, checkpoint, factory)


# zmq4n (zeromq/output_zmq4n.go): the reference's pure-Go client registration
# of the same ZMTP 3.0 wire contract
ALIASES = {"zmq4n": "zmq4"}

# keys of an output map that modify the output it names rather than name one
MODIFIERS = frozenset({"keys", "dlq", "mode", "trigger"})


def opt_col(df: DataFrame, name: str, template,
            compile: Callable[[str], Column] = compile_interpolated) -> tuple[DataFrame, str | None]:
    """(df with column `name` = the compiled template, name), or (df, None)
    when the optional template is unset. Templates are interpolated strings
    unless `compile` says otherwise (compile_expr for an `args_mapping`)."""
    if not template:
        return df, None
    return df.withColumn(name, compile(str(template))), name


def _case_sinks(p, paths, checkpoint: str) -> list[IdempotentParquetSink]:
    """One exactly-once parquet sink per path, kept on the pipeline as
    `_case_sinks` (callers read them back after the run)."""
    p._case_sinks = [IdempotentParquetSink(path, checkpoint=checkpoint) for path in paths]
    return p._case_sinks


# ---------------------------------------------------------- parquet outputs
def _path(p, spark, path, df, ck, parquet_sink):
    # the default output: exactly-once parquet, last-writer-wins MERGE on `keys`
    p._sink = parquet_sink(require_object_store(spark, path),
                           key_cols=p.conf["output"].get("keys"), checkpoint=ck)
    return df, p._sink.foreach_batch()


def _switch(p, spark, cases, df, ck, route_outputs):
    # predicate-routed multi-sink (output_switch.go:164): first
    # matching case wins; `default: path` is the catch-all
    preds = [compile_expr(c["check"]) for c in cases]
    paths = [c["path"] for c in cases]
    if p.conf["output"].get("default"):
        preds.append(None)
        paths.append(p.conf["output"]["default"])
    return df, route_outputs(list(zip(preds, _case_sinks(p, paths, ck))), mode="switch")


def _broker(mode: str):
    # broker patterns (output_broker.go:150): fan_out = every sink
    # gets the batch; round_robin = deterministic row-hash spread
    def build(p, spark, paths, df, ck, route_outputs):
        return df, route_outputs([(None, s) for s in _case_sinks(p, paths, ck)], mode=mode)

    return build


def _dynamic(p, spark, o, df, ck, route_outputs):
    # labeled fan_out broker (output_dynamic.go: "the broker
    # pattern used is always fan_out"); runtime add/remove maps
    # to the StreamManager REST API, like input.dynamic
    outputs = o.get("outputs") or {}
    if not outputs:
        raise ValueError("dynamic output: `outputs` map is empty")
    return _broker("fan_out")(p, spark, [path for _, path in sorted(outputs.items())], df, ck,
                              route_outputs)


def _fallback(p, spark, paths, df, ck, fallback_writer):
    # ordered try-next-sink failover (output_fallback.go:18)
    return df, fallback_writer(_case_sinks(p, paths, ck))


# --------------------------------------------------------- message outputs
def _kafka(p, spark, k, df, ck, kafka_sink):
    # keyed JSON producer (output_kafka.go); availability-gated —
    # at-least-once into Kafka (exactly-once needs Kafka txns,
    # out of scope like the reference)
    return df, kafka_sink(spark, k["addresses"], k["topic"], key_col=k.get("key"))


def _kafka_franz(p, spark, k, df, ck, kafka_wire_sink):
    # dependency-free wire-protocol producer
    # (kafka/output_kafka_franz.go: seed_brokers, topic,
    # interpolated key, murmur2 default partitioner) — the per-row
    # key compiles to a COLUMN, value serializes JVM-side
    df, key_col = opt_col(df, "_kafka_key", k.get("key"))
    host, port = kafka_addr(k)
    return df, kafka_wire_sink(host, port, str(k["topic"]), key_col=key_col, sasl=kafka_sasl(k))


def _http_client(p, spark, h, df, ck, http_post_writer):
    # per-row JSON POSTs, executor-side pooled connections,
    # at-least-once via micro-batch retry (output_http_client.go)
    return df, http_post_writer(
        h["url"], method=h.get("method", "POST"), headers=h.get("headers"),
        timeout=float(h.get("timeout", 10)),
        retries=int(h.get("retries", 3)),
        backoff_s=float(h.get("backoff", 0.25)),
    )


def _questdb(p, spark, qd, df, ck, questdb_sink):
    # ILP-over-TCP (questdb/output.go: table, symbols -> tags,
    # doubles, designated_timestamp_field) — the whole line
    # renders JVM-side, executors stream pre-built text
    return df, questdb_sink(
        *host_port(qd.get("address"), "127.0.0.1:9009"), str(qd["table"]),
        symbols=qd.get("symbols"), doubles=qd.get("doubles"),
        designated_timestamp_field=qd.get("designated_timestamp_field"),
    )


def _slack_webhook(p, spark, sl, df, ck, http_post_writer):
    # slack/output_slack_webhook.go: POST the message JSON to the
    # webhook URL — the message must already be WebhookMessage-
    # shaped (`text`, `blocks`, ... — the reference passes the
    # payload through verbatim the same way)
    from bento_spark.streaming.cep import duration_ms

    return df, http_post_writer(
        str(sl["webhook"]),
        timeout=float(duration_ms(str(sl.get("timeout", "5s"))) / 1000.0),
        retries=int(sl.get("retries", 3)),
    )


def _splunk_hec(p, spark, s, df, ck, http_post_writer):
    # Splunk HTTP Event Collector (splunk/template_output.yaml —
    # the reference implements this output as an http_client
    # template wrapping rows in the HEC event envelope with
    # Splunk-token auth; same composition here). The envelope is
    # built JVM-side: the whole row becomes `event`, the optional
    # host/source/sourcetype/index fields ride alongside. It wraps each
    # batch as it is written, so output.dlq still sees the row's `error`.
    envelope = [F.struct(*[F.col(c) for c in df.columns]).alias("event")]
    for fld in ("host", "source", "sourcetype", "index"):
        v = s.get(f"event_{fld}")
        if v:
            envelope.append(F.lit(str(v)).alias(fld))
    post = http_post_writer(
        str(s["url"]),
        headers={"Authorization": f"Splunk {s['token']}", **(s.get("headers") or {})},
        timeout=float(s.get("timeout", 10)),
        retries=int(s.get("retries", 3)),
        backoff_s=float(s.get("backoff", 0.25)),
    )
    return df, lambda batch_df, epoch_id: post(batch_df.select(*envelope), epoch_id)


def _elasticsearch(p, spark, e, df, ck, es_bulk_writer):
    # bulk indexer (elasticsearch/output.go; opensearch/output.go
    # and elasticsearch/output_v2.go register the SAME _bulk API
    # shape — the reference maintains three near-identical
    # outputs, this one serves all the names; v2's `auth:` object
    # is accepted alongside `basic_auth:`):
    # index/action/id/routing/pipeline interpolate PER MESSAGE
    # (:353-363) — each compiles to a COLUMN, and both NDJSON bulk
    # lines are built JVM-side; the executor loop only chunks
    # bytes and POSTs
    from bento_spark.streaming.elasticsearch import ACTIONS

    url = (e.get("urls") or [e.get("url", "http://127.0.0.1:9200")])[0]
    if "index" not in e:
        raise ValueError("output.elasticsearch requires `index`")
    action = str(e.get("action", "index"))
    if "${!" not in action and action not in ACTIONS:
        raise ValueError(
            f"elasticsearch action {action!r} is not allowed "
            f"(one of {', '.join(ACTIONS)})"  # output.go:499
        )
    act = compile_interpolated(action)
    # an interpolated action resolving outside the allowed set fails
    # the row at runtime, like the reference's build error
    act = F.when(act.isin(*ACTIONS), act).otherwise(
        F.raise_error(F.concat(F.lit("elasticsearch action not allowed: "), act))
    )
    hdrs = dict(e.get("headers") or {})
    auth = e.get("basic_auth") or e.get("auth") or {}
    if auth.get("enabled"):
        import base64

        tok = base64.b64encode(
            f"{auth.get('username', '')}:{auth.get('password', '')}".encode()
        ).decode()
        hdrs["Authorization"] = f"Basic {tok}"
    df = (
        df.withColumn("_es_index", compile_interpolated(str(e["index"])))
        .withColumn("_es_action", act)
        .withColumn("_es_id", compile_interpolated(str(e.get("id", ""))))
        .withColumn("_es_routing", compile_interpolated(str(e.get("routing", ""))))
        .withColumn("_es_pipeline", compile_interpolated(str(e.get("pipeline", ""))))
    )
    return df, es_bulk_writer(
        str(url),
        max_batch_bytes=int(e.get("max_batch_bytes", 4 * 2**20)),
        timeout=float(e.get("timeout", 10)),
        retries=int(e.get("retries", 3)),
        backoff_s=float(e.get("backoff", 0.25)),
        headers=hdrs,
    )


def _pusher(p, spark, pu, df, ck, pusher_sink):
    # signed Pusher Channels REST output (pusher/output_pusher.go:
    # interpolated channel, event, appId/key/secret) — channel
    # compiles to a COLUMN, executors sign per request
    df = df.withColumn("_pusher_channel", compile_interpolated(str(pu["channel"])))
    host, port = host_port(pu.get("address"), "api.pusherapp.com:443")
    return df, pusher_sink(
        host, port, str(pu["appId"]), str(pu["key"]),
        str(pu["secret"]), str(pu["event"]), "_pusher_channel",
        https=bool(pu.get("https", port == 443)),
    )


def _cassandra(p, spark, ca, df, ck, cassandra_writer):
    # CQL v4 PREPARE/EXECUTE writer (cassandra/output.go: `query` +
    # `args_mapping` array) — each arg compiles to a typed COLUMN,
    # rendered as one JVM-side JSON struct; executors bind against
    # the PREPARED statement's column types
    from bento_spark.plans.compiler import _split_args_array

    am = ca.get("args_mapping")
    exprs = [str(e) for e in am] if isinstance(am, list) else _split_args_array(str(am))
    addr = (ca.get("addresses") or [ca.get("address", "127.0.0.1:9042")])[0]
    return df, cassandra_writer(str(addr), str(ca["query"]), [compile_expr(e) for e in exprs])


def _mongodb(p, spark, mg, df, ck, mongodb_writer):
    # write operations per message (mongodb/output.go via
    # common.go:102-126): document_map/filter_map are maps of
    # field -> Bloblang expression, each compiling to a COLUMN and
    # folding into ONE JVM-side to_json struct — the executor only
    # converts JSON->BSON and batches commands per partition
    op = str(mg.get("operation", "insert-one"))

    def _json_map(spec, default_all: bool) -> Column:
        if spec:
            return F.to_json(F.struct(*[
                compile_expr(str(v)).alias(str(k)) for k, v in spec.items()
            ]))
        if not default_all:
            raise ValueError(f"output.mongodb operation {op!r} requires `filter_map`")
        return F.to_json(F.struct(*[F.col(c) for c in df.columns]))

    if op not in ("delete-one", "delete-many"):
        df = df.withColumn("_mongo_doc", _json_map(mg.get("document_map"), default_all=True))
    if op != "insert-one":
        df = df.withColumn("_mongo_filter", _json_map(mg.get("filter_map"), default_all=False))
    return df, mongodb_writer(
        str(mg["url"]), str(mg.get("database", "bento")),
        str(mg["collection"]), operation=op,
        upsert=bool(mg.get("upsert", False)),
    )


def _aws_kinesis(p, spark, kn, df, ck, kinesis_sink):
    # SigV4-signed PutRecords (aws/output_kinesis.go) — the
    # interpolated partition key as a COLUMN, <=500 records per
    # request
    df, pk_col = opt_col(df, "_kinesis_pk", kn.get("partition_key"))
    return df, kinesis_sink(stream=str(kn["stream"]), partition_key_col=pk_col,
                            **aws_conn(kn, "kinesis"))


def _gcp_pubsub(p, spark, pb, df, ck, pubsub_sink):
    # Pub/Sub publisher (gcp/output_pubsub.go: project +
    # interpolated topic) — topic as a COLUMN, batched publishes
    df = df.withColumn("_pubsub_topic", compile_interpolated(str(pb["topic"])))
    return df, pubsub_sink(
        str(pb.get("endpoint") or "https://pubsub.googleapis.com"),
        str(pb["project"]), "_pubsub_topic",
        credentials=pubsub_creds(pb),
    )


def _aws_sqs(p, spark, sq, df, ck, sqs_sink):
    # SigV4-signed SendMessage per row (aws/output_sqs.go) —
    # optional FIFO message_group_id as an interpolated COLUMN
    df, group_col = opt_col(df, "_sqs_group", sq.get("message_group_id"))
    return df, sqs_sink(queue_url=str(sq["url"]), group_id_col=group_col, **aws_conn(sq, "sqs"))


def _azure_queue_storage(p, spark, aq, df, ck, azure_queue_sink):
    # one Put Message per row (azure/output_queue_storage.go)
    from bento_spark.streaming.cep import duration_ms

    return df, azure_queue_sink(
        queue=str(aq["queue_name"]),
        ttl_s=max(1, duration_ms(str(aq["ttl"])) // 1000) if aq.get("ttl") else None,
        **azure_conn(aq, "queue"),
    )


def _aws_sns(p, spark, sn, df, ck, sns_sink):
    # PublishBatch per partition (aws/output_sns.go): FIFO
    # group/dedupe ids as interpolated COLUMNS
    df, group_col = opt_col(df, "_sns_group", sn.get("message_group_id"))
    df, dedupe_col = opt_col(df, "_sns_dedupe", sn.get("message_deduplication_id"))
    return df, sns_sink(topic_arn=str(sn["topic_arn"]), group_id_col=group_col,
                        dedupe_id_col=dedupe_col, **aws_conn(sn, "sns"))


def _aws_kinesis_firehose(p, spark, fh, df, ck, firehose_sink):
    # PutRecordBatch with per-record failure retry
    # (aws/output_kinesis_firehose.go)
    return df, firehose_sink(stream=str(fh["stream"]), **aws_conn(fh, "firehose"))


def _azure_blob_storage(p, spark, ab, df, ck, azure_blob_sink):
    # one Put Blob per message (azure/output_blob_storage.go) —
    # interpolated blob `path` renders JVM-side as a column
    if "path" not in ab:
        raise ValueError("output.azure_blob_storage requires an interpolated `path`")
    df = df.withColumn("_blob_path", compile_interpolated(str(ab["path"])))
    return df, azure_blob_sink(
        container=str(ab["container"]), path_col="_blob_path",
        content_type=str(ab.get("content_type", "application/octet-stream")),
        value_col=(str(ab["value_col"]) if ab.get("value_col") else None),
        **azure_conn(ab, "blob"),
    )


def _cypher(p, spark, cy, df, ck, cypher_sink):
    # one RUN per row (cypher/output_cypher.go): the `values` map
    # of interpolations renders JVM-side as ONE JSON column whose
    # keys feed the query's $param references
    vals = cy.get("values") or {}
    df = df.withColumn("_cypher_values", F.to_json(F.struct(*[
        compile_interpolated(str(v)).alias(str(k))
        for k, v in vals.items()])) if vals else F.lit("{}"))
    auth = cy.get("basic_auth") or {}
    no_auth = bool(cy.get("no_auth", False))
    return df, cypher_sink(
        str(cy["uri"]), str(cy["query"]), "_cypher_values",
        database=str(cy.get("database", "")),
        user=None if no_auth else auth.get("user"),
        password=None if no_auth else auth.get("password"))


def _discord(p, spark, dc, df, ck, discord_sink):
    # one POST per message (discord/output.go: API message objects
    # post verbatim, plain content wraps) — rendered JVM-side
    return df, discord_sink(
        str(dc.get("endpoint") or "https://discord.com"),
        str(dc["channel_id"]), str(dc["bot_token"]),
        value_col=(str(dc["value_col"]) if dc.get("value_col") else None))


def _gcp_bigquery(p, spark, bq, df, ck, bigquery_sink):
    # one inline-data load job per partition batch
    # (gcp/output_bigquery.go: dataset/table, format
    # NEWLINE_DELIMITED_JSON|CSV + csv.header) — rows render
    # JVM-side (to_json / to_csv)
    csv_opts = bq.get("csv") or {}
    return df, bigquery_sink(
        str(bq.get("endpoint") or "https://bigquery.googleapis.com"),
        str(bq["project"]), str(bq["dataset"]), str(bq["table"]),
        credentials=gcs_creds(bq),
        source_format=str(bq.get("format", "NEWLINE_DELIMITED_JSON")),
        csv_header=[str(h) for h in (csv_opts.get("header") or [])] or None,
        csv_field_delimiter=str(csv_opts.get("field_delimiter", ",")))


def _gcp_cloud_storage(p, spark, gc, df, ck, gcs_sink):
    # one upload per message (gcp/output_cloud_storage.go) —
    # interpolated object `path` renders JVM-side as a column;
    # collision_mode overwrite|append|error-if-exists|ignore
    if "path" not in gc:
        raise ValueError("output.gcp_cloud_storage requires an interpolated `path`")
    df = df.withColumn("_gcs_path", compile_interpolated(str(gc["path"])))
    return df, gcs_sink(
        str(gc.get("endpoint") or "https://storage.googleapis.com"),
        str(gc["bucket"]), "_gcs_path",
        credentials=gcs_creds(gc),
        content_type=str(gc.get("content_type", "application/octet-stream")),
        collision_mode=str(gc.get("collision_mode", "overwrite")),
        value_col=(str(gc["value_col"]) if gc.get("value_col") else None))


def _sftp(p, spark, sf, df, ck, sftp_sink):
    # per-row upload to the interpolated path (sftp/output.go:
    # codec all|lines|append) over the from-scratch SSH transport
    from bento_spark.streaming.sftp import parse_sftp_address

    creds = sf.get("credentials") or {}
    host, port = parse_sftp_address(str(sf.get("address", "127.0.0.1:22")))
    df = df.withColumn("_sftp_path", compile_interpolated(str(sf["path"])))
    return df, sftp_sink(host, port,
                         str(creds.get("username", "")),
                         str(creds.get("password", "")),
                         "_sftp_path",
                         codec=str(sf.get("codec", "all")),
                         private_key_pem=sftp_private_key(creds))


def _snowflake_put(p, spark, sf, df, ck, snowflake_put_sink):
    # snowflake/output_snowflake_put.go: rows group into stage
    # files per interpolated (stage, path), compressed, announced
    # via the public Snowpipe insertFiles REST (key-pair JWT);
    # stage upload transport modeled — see streaming/snowflake.py
    pem = sf.get("private_key")
    if not pem and sf.get("private_key_file"):
        from pathlib import Path as _Path

        pem = _Path(str(sf["private_key_file"])).read_text()
    if not pem:
        raise ValueError(
            "output.snowflake_put requires private_key or "
            "private_key_file (key-pair JWT auth)")
    account = str(sf["account"])
    endpoint = str(sf.get("endpoint") or f"https://{account}.snowflakecomputing.com")
    df = (df.withColumn("_sf_stage", compile_interpolated(str(sf["stage"])))
            .withColumn("_sf_path", compile_interpolated(str(sf.get("path", "")))))
    return df, snowflake_put_sink(
        endpoint, account, str(sf["user"]), str(pem),
        stage_col="_sf_stage", path_col="_sf_path",
        pipe=(str(sf["snowpipe"]) if sf.get("snowpipe") else None),
        compression=str(sf.get("compression", "AUTO")))


def _azure_cosmosdb(p, spark, cd, df, ck, cosmos_sink):
    # per-row document operation (azure/output_cosmosdb.go) — the
    # partition key compiles to a COLUMN (`partition_keys_map`),
    # the document renders JVM-side, item_id interpolates
    endpoint, key = cosmos_creds(cd)
    data_cols = [c for c in df.columns if c != "error"]
    pk_src = str(cd.get("partition_keys_map", "root = null"))
    df = (df.withColumn("_cdb_pk",
                        compile_expr(re.sub(r"^\s*root\s*=\s*", "", pk_src)).cast("string"))
            .withColumn("_cdb_doc", F.to_json(F.struct(*[F.col(c) for c in data_cols]))))
    df, id_col = opt_col(df, "_cdb_id", cd.get("item_id"))
    return df, cosmos_sink(
        endpoint, key, str(cd["database"]), str(cd["container"]),
        pk_col="_cdb_pk", doc_col="_cdb_doc", id_col=id_col,
        operation=str(cd.get("operation", "Create")),
        auto_id=bool(cd.get("auto_id", True)))


def _azure_table_storage(p, spark, at, df, ck, azure_table_sink):
    # per-row entity operation (azure/output_table_storage.go) —
    # interpolated table_name/partition_key/row_key/transaction_type
    # render JVM-side as columns; properties default to ALL json
    # fields stringified (the reference's marshalling contract)
    data_cols = list(df.columns)
    df = (df.withColumn("_at_table", compile_interpolated(str(at["table_name"])))
            .withColumn("_at_pk", compile_interpolated(str(at.get("partition_key", ""))))
            .withColumn("_at_rk", compile_interpolated(str(at.get("row_key", ""))))
            .withColumn("_at_op",
                        compile_interpolated(str(at.get("transaction_type", "INSERT")))))
    props = at.get("properties") or {}
    if props:
        df = df.withColumn("_at_props", F.to_json(F.struct(*[
            compile_interpolated(str(v)).alias(str(k))
            for k, v in props.items()])))
    else:
        df = df.withColumn("_at_props", F.to_json(F.struct(*[F.col(c) for c in data_cols])))
    return df, azure_table_sink(
        table_col="_at_table", pk_col="_at_pk", rk_col="_at_rk",
        op_col="_at_op", props_col="_at_props", **azure_conn(at, "table"))


def _amqp_1(p, spark, a1, df, ck, amqp1_sink):
    # AMQP 1.0 sender link (amqp1/output.go): rows publish as JSON
    # amqp-value sections; the batch waits for accepted
    # dispositions (the reference's outcome wait)
    url = a1.get("url") or (a1.get("urls") or [None])[0]
    if not url:
        raise ValueError("output.amqp_1 needs `url` (or `urls`)")
    return df, amqp1_sink(str(url), str(a1["target_address"]))


def _aws_dynamodb(p, spark, do, df, ck, dynamodb_sink):
    # keyed-document PutItem writer (aws/output_dynamodb.go):
    # string_columns interpolations render JVM-side into S
    # attributes; json_map_columns paths render via to_json into
    # typed attribute trees ('.'/'' = the whole row, the
    # reference's root-path rule); BatchWriteItem in 25-item chunks
    base_cols = list(df.columns)
    string_cols: list[str] = []
    for attr, expr in (do.get("string_columns") or {}).items():
        df = df.withColumn(str(attr), compile_interpolated(str(expr)))
        string_cols.append(str(attr))
    json_cols: dict[str, str] = {}
    for attr, path in (do.get("json_map_columns") or {}).items():
        attr, path = str(attr), str(path or "")
        if path in ("", "."):
            rendered = F.to_json(F.struct(*[F.col(c) for c in base_cols]))
        else:
            src_typ = df.schema[path].dataType.simpleString()
            rendered = F.col(path) if src_typ == "string" else F.to_json(F.col(path))
        df = df.withColumn(f"_ddb_{attr}", rendered)
        json_cols[attr] = f"_ddb_{attr}"
    return df, dynamodb_sink(
        table=str(do["table"]), string_cols=string_cols, json_map_cols=json_cols,
        ttl=do.get("ttl"), ttl_key=do.get("ttl_key"), **aws_conn(do, "dynamodb"),
    )


def _sql_raw(p, spark, so, df, ck, sql_raw_exec_batch):
    # statement-with-binds per batch (output_sql_raw.go): the
    # args_mapping array renders JVM-side; ONE executemany
    # transaction per micro-batch (at-least-once under replay)
    if "args_mapping" not in so:
        raise ValueError("output.sql_raw requires `args_mapping`")
    df = df.withColumn("_sql_args", compile_expr(str(so["args_mapping"])))
    drv, dsn, query = str(so.get("driver", "sqlite")), str(so["dsn"]), str(so["query"])
    return df, lambda batch_df, epoch_id: sql_raw_exec_batch(
        batch_df, drv, dsn, query, "_sql_args")


def _aws_s3(p, spark, s3o, df, ck, s3_sink):
    # one PutObject per message (aws/output_s3.go) — the
    # interpolated object `path` renders JVM-side as a column;
    # the body is the row JSON-serialized (or `value_col` raw)
    if "path" not in s3o:
        # the reference defaults to ${!count(...)}-${!timestamp...}
        # — wall-clock/counter interpolations violate the repo's
        # determinism invariant, so the path must be explicit
        raise ValueError("output.aws_s3 requires an interpolated `path`")
    df = df.withColumn("_s3_path", compile_interpolated(str(s3o["path"])))
    return df, s3_sink(
        bucket=str(s3o["bucket"]), path_col="_s3_path",
        content_type=str(s3o.get("content_type", "application/octet-stream")),
        value_col=(str(s3o["value_col"]) if s3o.get("value_col") else None),
        **aws_conn(s3o, "s3"),
    )


def _nanomsg(p, spark, nn, df, ck, nanomsg_sink):
    # dependency-free SP-over-TCP publisher (nanomsg/output.go:
    # socket_type PUSH|PUB, bind flag) — rows publish as JSON
    return df, nanomsg_sink(
        [str(u) for u in nn.get("urls") or []],
        socket_type=str(nn.get("socket_type", "PUSH")).upper(),
        bind=bool(nn.get("bind", False)),
    )


def _zmq4(p, spark, z, df, ck, zmq_sink):
    # dependency-free ZMTP 3.0 publisher (zeromq/output_zmq4.go:
    # socket_type PUSH|PUB, bind flag) — rows publish as JSON, the
    # PUB topic as a pre-computed COLUMN
    st = str(z.get("socket_type", "PUSH")).upper()
    df, topic_col = opt_col(df, "_zmq_topic", z.get("topic") if st == "PUB" else None)
    return df, zmq_sink(
        [str(u) for u in z.get("urls") or []], socket_type=st,
        bind=bool(z.get("bind", False)), topic_col=topic_col,
    )


def _beanstalkd(p, spark, o, df, ck, beanstalkd_sink):
    # dependency-free beanstalkd producer (beanstalkd/output.go:
    # Put pri 2, no delay, 2s TTR) — rows publish as JSON, each
    # put confirmed by INSERTED
    from bento_spark.streaming.beanstalkd import parse_beanstalkd_addr

    return df, beanstalkd_sink(*parse_beanstalkd_addr(str(o.get("address", "127.0.0.1:11300"))))


def _nsq(p, spark, o, df, ck, nsq_sink):
    # dependency-free NSQ publisher (nsq/output.go:
    # nsqd_tcp_address, topic) — rows publish as JSON, each PUB
    # confirmed by its OK frame
    from bento_spark.streaming.nsq import parse_nsqd_addr

    host, port = parse_nsqd_addr(str(o.get("nsqd_tcp_address", "127.0.0.1:4150")))
    return df, nsq_sink(host, port, str(o["topic"]))


def _mqtt(p, spark, m, df, ck, mqtt_sink):
    # dependency-free publisher (mqtt/output.go: topic, qos,
    # retained) — rows publish as JSON executor-side
    host, port = mqtt_addr(m)
    return df, mqtt_sink(host, port, m["topic"], qos=int(m.get("qos", 1)),
                         retained=bool(m.get("retained", False)))


def _nats_object_store(p, spark, no, df, ck, nats_os_sink):
    # chunked object put per row at the interpolated name
    # (nats/output_os.go)
    df = df.withColumn("_os_name", compile_interpolated(str(no["object_name"])))
    host, port = nats_addr(no)
    return df, nats_os_sink(host, port, str(no["bucket"]), "_os_name",
                            value_col=no.get("value_col"),
                            chunk_size=int(no.get("chunk_size", 128 * 1024)))


def _nats_jetstream(p, spark, nj, df, ck, nats_jetstream_sink):
    # acknowledged JetStream publish per row
    # (nats/output_jetstream.go) — error acks fail/replay the task
    df = df.withColumn("_js_subject", compile_interpolated(str(nj["subject"])))
    host, port = nats_addr(nj)
    return df, nats_jetstream_sink(host, port, "_js_subject", value_col=nj.get("value_col"))


def _nats(p, spark, n, df, ck, nats_sink):
    # dependency-free core-NATS publisher (nats/output.go:
    # interpolated subject) — the per-row subject compiles to a
    # COLUMN (never row-at-a-time Python), rows publish as JSON
    df = df.withColumn("_nats_subject", compile_interpolated(str(n["subject"])))
    host, port = nats_addr(n)
    return df, nats_sink(host, port, "_nats_subject")


def _pulsar(p, spark, o, df, ck, pulsar_sink):
    # dependency-free Pulsar producer (pulsar/output.go: topic +
    # interpolated key / ordering_key, max_in_flight) — the per-row
    # keys compile to COLUMNS, rows publish as JSON with pipelined
    # sends + a receipt drain per partition
    from bento_spark.streaming.pulsar import parse_pulsar_url

    host, port = parse_pulsar_url(str(o.get("url", "pulsar://127.0.0.1:6650")))
    df, key_col = opt_col(df, "_pulsar_key", o.get("key"))
    df, ok_col = opt_col(df, "_pulsar_ordering_key", o.get("ordering_key"))
    auth = (o.get("auth") or {}).get("token") or {}
    token = auth.get("token") if auth.get("enabled") else None
    return df, pulsar_sink(host, port, str(o["topic"]), key_col=key_col,
                           ordering_key_col=ok_col, token=token,
                           max_in_flight=int(o.get("max_in_flight", 64)))


def _amqp_0_9(p, spark, a, df, ck, amqp_sink):
    # AMQP 0.9.1 publisher (amqp09/output.go: interpolated exchange
    # `key`) — the routing key compiles to a COLUMN, rows publish
    # as JSON executor-side
    from bento_spark.streaming.amqp import AmqpClient, parse_amqp_url

    url = (a.get("urls") or [a.get("url", "amqp://127.0.0.1:5672")])[0]
    host, port, vhost = parse_amqp_url(str(url))
    df = df.withColumn("_amqp_key", compile_interpolated(str(a.get("key", ""))))
    ex = a.get("exchange", "")
    exd = a.get("exchange_declare") or {}
    if exd.get("enabled"):
        c = AmqpClient(host, port, vhost=vhost)
        try:
            c.exchange_declare(ex, exd.get("type", "direct"),
                               durable=bool(exd.get("durable", False)))
        finally:
            c.close()
    return df, amqp_sink(host, port, ex, "_amqp_key", vhost=vhost)


# redis outputs (redis/output_list.go, output_pubsub.go,
# output_streams.go:154, output_hash.go:193): the interpolated
# key/channel/stream compiles to a COLUMN, rows write as one
# pipelined round-trip per partition
def _redis_list(p, spark, r, df, ck, redis_list_sink):
    df = df.withColumn("_redis_key", compile_interpolated(str(r["key"])))
    return df, redis_list_sink(*redis_addr(r), "_redis_key")


def _redis_pubsub(p, spark, r, df, ck, redis_pubsub_sink):
    df = df.withColumn("_redis_channel", compile_interpolated(str(r["channel"])))
    return df, redis_pubsub_sink(*redis_addr(r), "_redis_channel")


def _redis_streams(p, spark, r, df, ck, redis_streams_sink):
    df = df.withColumn("_redis_stream", compile_interpolated(str(r["stream"])))
    return df, redis_streams_sink(
        *redis_addr(r), "_redis_stream", body_key=r.get("body_key", "body"),
        meta_cols=r.get("metadata"), max_length=r.get("max_length"),
    )


def _redis_hash(p, spark, r, df, ck, redis_hash_sink):
    df = df.withColumn("_redis_hkey", compile_interpolated(str(r["key"])))
    return df, redis_hash_sink(*redis_addr(r), "_redis_hkey", fields=r.get("fields"))


def _sync_response(p, spark, sr, df, ck, sync_response_writer):
    # reply-to-request output (output_sync_response.go:15): the
    # processed row answers the HTTP request that produced it,
    # routed by the request_id the sync http_server input stamped
    hs = (p.conf.get("input") or {}).get("http_server") or {}
    if not hs.get("sync"):
        raise ValueError(
            "output.sync_response requires input.http_server with "
            "`sync: true` (the input must hold requests open and "
            "stamp request ids)"
        )
    return df, sync_response_writer(sync_dir_of(hs), content_col=sr.get("content"))


def _socket(p, spark, s, df, ck, socket_sink):
    # tcp/udp/unix lines producer (output_socket.go) — one
    # connection per partition, rows rendered JVM-side
    return df, socket_sink(str(s.get("network", "tcp")), str(s["address"]))


def _websocket(p, spark, w, df, ck, websocket_sink):
    # masked text frames over an RFC 6455 client connection
    # (output_websocket.go) — handshake per partition
    tls = w.get("tls") or {}
    return df, websocket_sink(str(w["url"]), tls_insecure=bool(tls.get("skip_cert_verify")))


def _hdfs(p, spark, ho, df, ck, hdfs_sink):
    # one file per message at interpolated directory/path over
    # WebHDFS two-step CREATE (hdfs/output.go)
    df = (df.withColumn("_hdfs_dir", compile_interpolated(str(ho["directory"])))
            .withColumn("_hdfs_path", compile_interpolated(str(ho["path"]))))
    return df, hdfs_sink(
        ho.get("hosts") or [str(ho.get("host", "127.0.0.1:9870"))],
        user=str(ho.get("user", "bento")),
        value_col=ho.get("value_col"),
    )


def _http_server(p, spark, hs, df, ck, http_serve_sink):
    # GET/stream/websocket serving endpoints over a bounded queue
    # (output_http_server.go:147) — driver-side serving bridge;
    # push blocks on a full queue (backpressure)
    from bento_spark.streaming.http_server import HttpServeOutput

    host, port = host_port(hs.get("address"), "127.0.0.1:0")
    p._http_serve = HttpServeOutput(
        host=host, port=port,
        path=str(hs.get("path", "/get")),
        stream_path=str(hs.get("stream_path", "/get/stream")),
        ws_path=str(hs.get("ws_path", "/get/ws")),
        timeout_s=float(hs.get("timeout", 5.0)),
        maxsize=int(hs.get("max_pending", 1024)),
    ).start()
    return df, http_serve_sink(p._http_serve, content_col=hs.get("content_col"))


def _subprocess(p, spark, sp, df, ck, subprocess_sink):
    # stdin lines into a driver-side child process
    # (output_subprocess.go: maxInFlight=1, relaunch on exit)
    return df, subprocess_sink(str(sp["name"]), [str(a) for a in (sp.get("args") or [])])


OUTPUTS: dict[str, Output] = {
    "path": Output("streaming.sink", "IdempotentParquetSink", _path),
    "switch": Output("streaming.sink", "route_outputs", _switch),
    "fan_out": Output("streaming.sink", "route_outputs", _broker("fan_out")),
    "round_robin": Output("streaming.sink", "route_outputs", _broker("round_robin")),
    "dynamic": Output("streaming.sink", "route_outputs", _dynamic),
    "fallback": Output("streaming.sink", "fallback_writer", _fallback),
    "kafka": Output("streaming.kafka", "kafka_sink", _kafka),
    "kafka_franz": Output("streaming.kafka_wire", "kafka_wire_sink", _kafka_franz),
    "http_client": Output("streaming.sink", "http_post_writer", _http_client),
    "questdb": Output("streaming.questdb", "questdb_sink", _questdb),
    "slack_webhook": Output("streaming.sink", "http_post_writer", _slack_webhook),
    "splunk_hec": Output("streaming.sink", "http_post_writer", _splunk_hec),
    "elasticsearch": Output("streaming.elasticsearch", "es_bulk_writer", _elasticsearch),
    "opensearch": Output("streaming.elasticsearch", "es_bulk_writer", _elasticsearch),
    "elasticsearch_v2": Output("streaming.elasticsearch", "es_bulk_writer", _elasticsearch),
    "pusher": Output("streaming.pusher", "pusher_sink", _pusher),
    "cassandra": Output("streaming.cassandra", "cassandra_writer", _cassandra),
    "mongodb": Output("streaming.mongodb", "mongodb_writer", _mongodb),
    "aws_kinesis": Output("streaming.kinesis", "kinesis_sink", _aws_kinesis),
    "gcp_pubsub": Output("streaming.pubsub", "pubsub_sink", _gcp_pubsub),
    "aws_sqs": Output("streaming.sqs", "sqs_sink", _aws_sqs),
    "azure_queue_storage": Output("streaming.azure_queue", "azure_queue_sink",
                                  _azure_queue_storage),
    "aws_sns": Output("streaming.sns", "sns_sink", _aws_sns),
    "aws_kinesis_firehose": Output("streaming.firehose", "firehose_sink",
                                   _aws_kinesis_firehose),
    "azure_blob_storage": Output("streaming.azure_blob", "azure_blob_sink", _azure_blob_storage),
    "cypher": Output("streaming.cypher", "cypher_sink", _cypher),
    "discord": Output("streaming.discord", "discord_sink", _discord),
    "gcp_bigquery": Output("streaming.bigquery", "bigquery_sink", _gcp_bigquery),
    "gcp_cloud_storage": Output("streaming.gcs", "gcs_sink", _gcp_cloud_storage),
    "sftp": Output("streaming.sftp", "sftp_sink", _sftp),
    "snowflake_put": Output("streaming.snowflake", "snowflake_put_sink", _snowflake_put),
    "azure_cosmosdb": Output("streaming.cosmosdb", "cosmos_sink", _azure_cosmosdb),
    "azure_table_storage": Output("streaming.azure_table", "azure_table_sink",
                                  _azure_table_storage),
    "amqp_1": Output("streaming.amqp1", "amqp1_sink", _amqp_1),
    "aws_dynamodb": Output("streaming.dynamodb", "dynamodb_sink", _aws_dynamodb),
    "sql_raw": Output("operators.sql_raw", "sql_raw_exec_batch", _sql_raw),
    "aws_s3": Output("streaming.s3", "s3_sink", _aws_s3),
    "nanomsg": Output("streaming.nanomsg", "nanomsg_sink", _nanomsg),
    "zmq4": Output("streaming.zeromq", "zmq_sink", _zmq4),
    "beanstalkd": Output("streaming.beanstalkd", "beanstalkd_sink", _beanstalkd),
    "nsq": Output("streaming.nsq", "nsq_sink", _nsq),
    "mqtt": Output("streaming.mqtt", "mqtt_sink", _mqtt),
    "nats_object_store": Output("streaming.nats", "nats_os_sink", _nats_object_store),
    "nats_jetstream": Output("streaming.nats", "nats_jetstream_sink", _nats_jetstream),
    "nats": Output("streaming.nats", "nats_sink", _nats),
    "pulsar": Output("streaming.pulsar", "pulsar_sink", _pulsar),
    "amqp_0_9": Output("streaming.amqp", "amqp_sink", _amqp_0_9),
    "redis_list": Output("streaming.redis", "redis_list_sink", _redis_list),
    "redis_pubsub": Output("streaming.redis", "redis_pubsub_sink", _redis_pubsub),
    "redis_streams": Output("streaming.redis", "redis_streams_sink", _redis_streams),
    "redis_hash": Output("streaming.redis", "redis_hash_sink", _redis_hash),
    "sync_response": Output("streaming.sink", "sync_response_writer", _sync_response),
    "socket": Output("streaming.sink", "socket_sink", _socket),
    "websocket": Output("streaming.sink", "websocket_sink", _websocket),
    "hdfs": Output("streaming.hdfs", "hdfs_sink", _hdfs),
    "http_server": Output("streaming.http_server", "http_serve_sink", _http_server),
    "subprocess": Output("streaming.subprocess_io", "subprocess_sink", _subprocess),
}


def select_output(out: dict) -> tuple[str, Any]:
    """(registry name, section) of the one output an output map names.
    Modifier keys and keys that name no output are ignored; two registered
    outputs are an error."""
    out = out or {}
    keys = [k for k in out if ALIASES.get(k, k) in OUTPUTS]
    if len(keys) > 1:
        raise ValueError(
            f"output map names {len(keys)} outputs ({', '.join(keys)}): an output "
            "section holds one output (use fan_out or switch to write several)")
    if not keys:
        raise ValueError(
            f"output.path (or one of {', '.join(sorted(n for n in OUTPUTS if n != 'path'))}) "
            "required for run_stream")
    return ALIASES.get(keys[0], keys[0]), out[keys[0]] or {}
