"""The processor registry (plans/processors.py): every row's operator
resolves, the name set is pinned, required fields cover what lint required
before the registry, and lint and the compiler report a missing one. That
compiling a config loads no connector module, processors.py included, is
pinned by test_input_registry.py::test_compiler_import_loads_no_connector_module."""

from __future__ import annotations

from importlib import import_module

import pytest

from bento_spark.plans import processors
from bento_spark.plans.compiler import compile_yaml
from bento_spark.plans.lint import known_processors, lint_yaml

# the 80 processor names the compiler's `_apply_one` chain dispatched on
# before the registry (77 rows plus the mutation, bloblang and log aliases)
PROCESSOR_NAMES = {
    "archive", "audio_decode", "audio_features", "audio_normalize", "avro_decode",
    "avro_encode", "awk", "aws_dynamodb_partiql", "aws_lambda", "aws_s3", "azure_cosmosdb",
    "bloblang", "bounds_check", "branch", "cache", "cached", "catch", "chunker", "command",
    "compress", "couchbase", "decompress", "dedupe", "filter", "frame_sample",
    "gcp_bigquery_select", "grok", "group_by", "group_by_value", "http", "image_features",
    "image_resize", "insert_part", "jmespath", "json_map", "json_schema", "log", "lookup",
    "mapping", "match_sequence", "metric", "mongodb", "msgpack_decode", "msgpack_encode",
    "mutation", "nats_object_store", "nats_request_reply", "noop", "opensnowcat",
    "parquet_decode", "parquet_encode", "parse_log", "protobuf_decode", "protobuf_encode",
    "rate_limit", "re_split", "redis", "redis_script", "repartition",
    "schema_registry_decode", "schema_registry_encode", "select_parts", "sentry_capture",
    "set_error", "skip_bom", "sleep", "spread_skew", "sql_raw", "subprocess", "switch",
    "tar_encode", "try", "unarchive", "unarchive_avro", "unarchive_tar", "video_features",
    "video_meta", "while", "workflow", "xml_extract",
}

# lint's hand-written required fields before the registry; lookup's `keys`
# is not among them any more because lookup also accepts `on`
OLD_REQUIRED = {
    "cache": ("resource", "key"),
    "cached": ("resource", "key_cols", "processors"),
    "lookup": ("right",),
    "match_sequence": ("key", "within", "steps"),
    "dedupe": ("keys",),
    "set_error": ("when",),
    "subprocess": ("name",),
    "command": ("name",),
    "http": ("url",),
    "sql_raw": ("dsn", "query"),
    "msgpack_decode": ("schema",),
    "avro_decode": ("schema",),
    "jmespath": ("query",),
    "redis_script": ("script",),
    "aws_lambda": ("function",),
    "aws_dynamodb_partiql": ("query",),
    "aws_s3": ("bucket", "key"),
    "image_resize": ("width", "height"),
    "frame_sample": ("every",),
    "avro_encode": ("columns", "schema"),
    "protobuf_decode": ("message",),
    "protobuf_encode": ("columns", "message"),
}


def test_known_processors_is_the_pinned_name_set():
    assert len(PROCESSOR_NAMES) == 80
    assert known_processors() == PROCESSOR_NAMES


@pytest.mark.parametrize("name", sorted(processors.PROCESSORS))
def test_row_resolves(name):
    row = processors.PROCESSORS[name]
    assert (row.module is None) == (row.function is None)
    if row.module is not None:
        assert callable(getattr(import_module(f"bento_spark.{row.module}"), row.function))
    assert callable(row.build)


def test_aliases_name_registered_processors():
    assert set(processors.ALIASES.values()) <= set(processors.PROCESSORS)
    assert not set(processors.ALIASES) & set(processors.PROCESSORS)


@pytest.mark.parametrize("name", sorted(OLD_REQUIRED))
def test_required_fields_keep_the_old_lint_list(name):
    assert set(OLD_REQUIRED[name]) <= set(processors.PROCESSORS[name].required)


@pytest.mark.parametrize("proc, field", [
    ("grok: {column: line}", "pattern"),
    ("switch: {default: [{noop: {}}]}", "cases"),
    ("tar_encode: {group_by: [k], payload: p}", "name"),
])
def test_lint_reports_a_missing_required_field(proc, field):
    issues = lint_yaml(f"pipeline:\n  processors:\n    - {proc}\n")
    name = proc.split(":")[0]
    assert issues == [f"pipeline.processors[0] ({name}): missing required field {field!r}"]


def test_missing_required_field_is_a_value_error(spark):
    p = compile_yaml("""
input: {generate: {count: 1, mapping: 'root.line = "a"'}}
pipeline:
  processors:
    - grok: {column: line}
""")
    with pytest.raises(ValueError, match="grok processor: missing required field 'pattern'"):
        p.build_batch(spark)
