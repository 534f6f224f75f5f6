"""The input registry (plans/inputs.py), mostly without Spark: every row
resolves, every spool bridge has a starter, the name set is pinned, the mode
and ambiguity errors come from the table, each bridge reads the pinned
schema, and neither importing the compiler nor reading a bridge loads a
connector module."""

from __future__ import annotations

import os
import subprocess
import sys
from importlib import import_module
from typing import get_type_hints

import pytest

from bento_spark.plans import inputs
from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.lint import known_inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the 60 input names the compiler's `_input` chain dispatched on before the
# registry (59 sections plus the zmq4n alias)
INPUT_NAMES = {
    "amqp_0_9", "amqp_1", "aws_kinesis", "aws_s3", "aws_sqs", "azure_blob_storage",
    "azure_cosmosdb", "azure_queue_storage", "azure_service_bus_queue",
    "azure_table_storage", "beanstalkd", "binary_file", "broker", "cassandra",
    "cockroachdb_changefeed", "csv", "cypher", "discord", "dynamic", "etcd",
    "gcp_bigquery_select", "gcp_cloud_storage", "gcp_pubsub", "gcp_spanner_cdc",
    "generate", "generate_clips", "generate_images", "generate_videos", "hdfs",
    "http_client", "http_server", "json", "kafka", "kafka_franz", "lines", "mongodb",
    "mqtt", "nanomsg", "nats", "nats_jetstream", "nats_object_store", "nsq", "parquet",
    "pulsar", "read_until", "redis_list", "redis_pubsub", "redis_scan", "redis_streams",
    "sequence", "sftp", "socket", "socket_server", "sql_raw", "stdin", "subprocess",
    "websocket", "xml", "zmq4", "zmq4n",
}


# how each input read at the parent: these as a table only, these either
# way, every other one as a stream only
BATCH_ONLY = {"generate_clips", "generate_images", "generate_videos", "stdin", "cassandra",
              "mongodb", "sql_raw", "redis_scan", "sequence"}
BOTH = {"generate", "parquet", "csv", "json", "lines", "binary_file", "xml", "broker",
        "dynamic"}


# each spool bridge's stream schema with a default section, as the
# per-connector readers built it before the one spool format
BRIDGE_SCHEMAS = {
    "http_server": "struct<value:string>",
    "http_client": "struct<value:string>",
    "socket_server": "struct<value:string>",
    "websocket": "struct<value:string>",
    "subprocess": "struct<value:string>",
    "mqtt": "struct<value:string,mqtt_topic:string>",
    "kafka_franz": "struct<value:string,kafka_topic:string,kafka_partition:int,kafka_offset:bigint,kafka_ts:timestamp,kafka_key:string>",
    "nats": "struct<value:string,nats_subject:string,nats_reply_subject:string>",
    "nats_jetstream": "struct<value:string,nats_subject:string,nats_sequence:bigint>",
    "nats_object_store": "struct<value:string,nats_object_name:string,nats_object_size:bigint>",
    "pulsar": "struct<value:string,pulsar_topic:string,pulsar_message_id:string,pulsar_key:string,pulsar_ordering_key:string,pulsar_publish_time_unix:bigint,pulsar_redelivery_count:int,pulsar_event_time_unix:bigint,pulsar_producer_name:string,pulsar_properties:map<string,string>>",
    "aws_kinesis": "struct<value:string,kinesis_stream:string,kinesis_shard:string,kinesis_sequence:string,kinesis_partition_key:string>",
    "aws_sqs": "struct<value:string,sqs_message_id:string>",
    "aws_s3": "struct<value:string,s3_bucket:string,s3_key:string,s3_last_modified_unix:bigint>",
    "gcp_spanner_cdc": "struct<value:string,gcp_spanner_commit_timestamp:string,gcp_spanner_cdc_mod_type:string,gcp_spanner_table_name:string,gcp_spanner_cdc_server_transaction_id:string,gcp_spanner_cdc_record_sequence:string>",
    "gcp_pubsub": "struct<value:string,pubsub_message_id:string>",
    "gcp_bigquery_select": "struct<value:string>",
    "gcp_cloud_storage": "struct<value:string,gcs_key:string,gcs_bucket:string,gcs_last_modified:string,gcs_last_modified_unix:bigint,gcs_content_type:string,gcs_content_encoding:string>",
    "azure_queue_storage": "struct<value:string,queue_storage_message_id:string>",
    "azure_table_storage": "struct<value:string,table_storage_name:string,row_num:bigint>",
    "azure_blob_storage": "struct<value:string,blob_storage_container:string,blob_storage_key:string>",
    "azure_service_bus_queue": "struct<value:string,service_bus_message_id:string,service_bus_sequence_number:bigint,service_bus_enqueued_time:bigint,service_bus_delivery_count:int,service_bus_content_type:string,service_bus_correlation_id:string>",
    "azure_cosmosdb": "struct<value:string,cosmosdb_database:string,cosmosdb_container:string,row_num:bigint>",
    "cypher": "struct<value:string>",
    "cockroachdb_changefeed": "struct<value:string>",
    "etcd": "struct<value:string>",
    "discord": "struct<value:string>",
    "sftp": "struct<value:string,sftp_path:string>",
    "amqp_1": "struct<value:string,amqp_delivery_id:bigint>",
    "amqp_0_9": "struct<value:string,amqp_key:string>",
    "hdfs": "struct<value:string,hdfs_path:string,hdfs_modified_ms:bigint>",
    "nanomsg": "struct<value:string>",
    "zmq4": "struct<value:string>",
    "beanstalkd": "struct<value:string,beanstalkd_id:bigint>",
    "nsq": "struct<value:string,nsq_id:string,nsq_attempts:int,nsq_timestamp:bigint>",
    "redis_list": "struct<value:string,redis_key:string>",
    "redis_pubsub": "struct<value:string,redis_channel:string>",
    "redis_streams": "struct<value:string,redis_stream:string,redis_id:string,redis_meta:map<string,string>>",
}


def _attr(module: str, name: str):
    return getattr(import_module(f"bento_spark.streaming.{module}"), name)


def test_known_inputs_is_the_pinned_name_set():
    assert known_inputs() == INPUT_NAMES


@pytest.mark.parametrize("name", sorted(inputs.INPUTS))
def test_row_resolves(name):
    row = inputs.INPUTS[name]
    if isinstance(row.read, inputs._Spool):
        if row.read.post:
            assert callable(_attr(*row.read.post.split(".")))
        # every spool-bridge input has a starter for start_bridge()
        assert isinstance(row.start, inputs._Bridge), name
    else:
        assert callable(row.read)
        assert row.start is None, name
    if row.start is not None:
        # a client loop is made by its connector's function as a Bridge;
        # only the two listeners keep servers of their own
        from bento_spark.streaming.bridge import Bridge
        from bento_spark.streaming.http_server import HttpSpoolServer, TcpSpoolServer

        factory = _attr(row.start.module, row.start.factory)
        assert factory in (HttpSpoolServer, TcpSpoolServer) or (
            get_type_hints(factory)["return"] is Bridge), name


def test_aliases_name_registered_inputs():
    assert all(target in inputs.INPUTS for target in inputs.ALIASES.values())


@pytest.mark.parametrize("name", sorted(inputs.INPUTS))
def test_modes_are_pinned_and_the_wrong_one_names_the_input(name):
    modes = "batch" if name in BATCH_ONLY else "both" if name in BOTH else "streaming"
    assert inputs.INPUTS[name].modes == modes
    if modes != "both":
        # raised from the row's modes, before the reader (or a session) is used
        with pytest.raises(ValueError, match=f"^{name} input is {modes}-only"):
            inputs.read_input(None, {name: {}}, streaming=modes == "batch")


def test_input_map_selection():
    assert inputs.select_input({"parquet": {"path": "/x"}, "junk": 1}) == (
        "parquet", {"path": "/x"})
    assert inputs.select_input({"zmq4n": {"urls": ["a"]}}) == ("zmq4", {"urls": ["a"]})
    for inp in ({"parquet": {}, "csv": {}}, {"zmq4": {}, "zmq4n": {}}):
        with pytest.raises(ValueError, match="names 2 inputs") as e:
            inputs.select_input(inp)
        assert all(k in str(e.value) for k in inp)
    with pytest.raises(ValueError, match="unsupported input config"):
        inputs.select_input({"junk": 1})


def test_start_bridge_names_an_unbridged_input():
    p = compile_yaml("input:\n  parquet: {path: /x}\n")
    assert not p.bridged
    with pytest.raises(ValueError, match="parquet input has no bridge"):
        p.start_bridge()
    assert compile_yaml("input:\n  zmq4n: {spool_dir: /s, urls: [tcp://a:1]}\n").bridged


def test_compiler_import_loads_no_connector_module(tmp_path):
    """Compiling a pipeline, and reading a spool-bridge input's stream,
    import no connector module: a bridge reads through streaming/spool.py
    with the metadata DDL its registry row names."""
    code = (
        "import sys\n"
        "from bento_spark.plans.compiler import compile_yaml\n"
        "from bento_spark.plans.inputs import read_input\n"
        "from bento_spark.session import get_spark\n"
        "def loaded():\n"
        "    print(sorted(m for m in sys.modules if m.startswith('bento_spark.streaming.')))\n"
        "compile_yaml(open('config/examples/clips_window.yaml').read())\n"
        "loaded()\n"
        "spark = get_spark(master='local[1]')\n"
        f"read_input(spark, {{'mqtt': {{'spool_dir': {str(tmp_path)!r}}}}}, True)\n"
        "loaded()\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=300,
                         env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"})
    assert out.returncode == 0, out.stderr[-800:]
    compiled, read = out.stdout.strip().splitlines()[-2:]
    engine = ("checkpoint", "joins", "metrics", "sink", "windows")
    assert compiled == repr([f"bento_spark.streaming.{m}" for m in engine])
    assert read == repr([f"bento_spark.streaming.{m}" for m in sorted(engine + ("spool",))])


def test_bridge_rows_are_the_pinned_set():
    assert {n for n, row in inputs.INPUTS.items()
            if isinstance(row.read, inputs._Spool)} == set(BRIDGE_SCHEMAS)


@pytest.mark.parametrize("name", sorted(BRIDGE_SCHEMAS))
def test_bridge_schema_is_pinned(spark, tmp_path, name):
    df = inputs.read_input(spark, {name: {"spool_dir": str(tmp_path)}}, True)
    assert df.schema.simpleString() == BRIDGE_SCHEMAS[name]
