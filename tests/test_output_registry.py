"""The output registry (plans/outputs.py), without Spark: every row's
connector resolves, the name set is pinned, and the selection, alias and
ambiguity errors come from the table. That compiling a config loads no
connector module, outputs.py included, is pinned by
test_input_registry.py::test_compiler_import_loads_no_connector_module."""

from __future__ import annotations

from importlib import import_module

import pytest

from bento_spark.plans import outputs
from bento_spark.plans.lint import known_outputs

# the 56 output names the compiler's `_run_stream` chain dispatched on
# before the registry, plus `path` (its default branch) and the zmq4n alias
OUTPUT_NAMES = {
    "amqp_0_9", "amqp_1", "aws_dynamodb", "aws_kinesis", "aws_kinesis_firehose", "aws_s3",
    "aws_sns", "aws_sqs", "azure_blob_storage", "azure_cosmosdb", "azure_queue_storage",
    "azure_table_storage", "beanstalkd", "cassandra", "cypher", "discord", "dynamic",
    "elasticsearch", "elasticsearch_v2", "fallback", "fan_out", "gcp_bigquery",
    "gcp_cloud_storage", "gcp_pubsub", "hdfs", "http_client", "http_server", "kafka",
    "kafka_franz", "mongodb", "mqtt", "nanomsg", "nats", "nats_jetstream",
    "nats_object_store", "nsq", "opensearch", "pulsar", "pusher", "questdb", "redis_hash",
    "redis_list", "redis_pubsub", "redis_streams", "round_robin", "sftp", "slack_webhook",
    "snowflake_put", "socket", "splunk_hec", "sql_raw", "subprocess", "switch",
    "sync_response", "websocket", "zmq4",
    "path", "zmq4n",
}


def test_known_outputs_is_the_pinned_name_set():
    assert len(OUTPUT_NAMES) == 58
    assert known_outputs() == OUTPUT_NAMES


@pytest.mark.parametrize("name", sorted(outputs.OUTPUTS))
def test_row_resolves(name):
    row = outputs.OUTPUTS[name]
    assert callable(getattr(import_module(f"bento_spark.{row.module}"), row.factory))
    assert callable(row.build)


def test_aliases_name_registered_outputs():
    assert all(target in outputs.OUTPUTS for target in outputs.ALIASES.values())
    assert not outputs.MODIFIERS & known_outputs()


def test_output_map_selection():
    assert outputs.select_output({"path": "/o", "keys": ["k"], "dlq": "/d", "mode": "append",
                                  "trigger": "1s", "junk": 1}) == ("path", "/o")
    assert outputs.select_output({"switch": [{"check": "true", "path": "/a"}],
                                  "default": "/b"})[0] == "switch"
    assert outputs.select_output({"zmq4n": {"urls": ["a"]}}) == ("zmq4", {"urls": ["a"]})
    assert outputs.select_output({"sync_response": None}) == ("sync_response", {})
    for out in ({"path": "/o", "kafka": {}}, {"fallback": ["/a"], "fan_out": ["/b"]},
                {"zmq4": {}, "zmq4n": {}}):
        with pytest.raises(ValueError, match="^output map names 2 outputs") as e:
            outputs.select_output(out)
        assert all(k in str(e.value) for k in out)


@pytest.mark.parametrize("out", [{}, {"dlq": "/d", "keys": ["k"]}, {"stdout": {}}])
def test_no_output_names_every_registered_one(out):
    with pytest.raises(ValueError, match=r"^output\.path .* required for run_stream") as e:
        outputs.select_output(out)
    assert all(name in str(e.value) for name in outputs.OUTPUTS)

