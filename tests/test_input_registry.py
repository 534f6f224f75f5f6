"""The input registry (plans/inputs.py), without Spark: every row resolves,
every spool bridge has a starter, the name set is pinned, the mode and
ambiguity errors come from the table, and importing the compiler loads no
connector module."""

from __future__ import annotations

import os
import subprocess
import sys
from importlib import import_module

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


def _attr(module: str, name: str):
    return getattr(import_module(f"bento_spark.streaming.{module}"), name)


def test_known_inputs_is_the_pinned_name_set():
    assert known_inputs() == INPUT_NAMES


@pytest.mark.parametrize("name", sorted(inputs.INPUTS))
def test_row_resolves(name):
    row = inputs.INPUTS[name]
    if isinstance(row.read, inputs._Spool):
        assert callable(_attr(row.read.module, row.read.function))
        # every spool-bridge input has a starter for start_bridge()
        assert isinstance(row.start, inputs._Bridge), name
    else:
        assert callable(row.read)
        assert row.start is None, name
    if row.start is not None:
        assert isinstance(_attr(row.start.module, row.start.spooler), type)


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


def test_compiler_import_loads_no_connector_module():
    code = (
        "import sys\n"
        "from bento_spark.plans.compiler import compile_yaml\n"
        "compile_yaml(open('config/examples/clips_window.yaml').read())\n"
        "print(sorted(m for m in sys.modules if m.startswith('bento_spark.streaming.')))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-800:]
    assert out.stdout.strip() == repr([
        f"bento_spark.streaming.{m}"
        for m in ("checkpoint", "joins", "metrics", "sink", "windows")
    ])
