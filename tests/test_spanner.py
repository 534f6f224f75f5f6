"""gcp_spanner_cdc input (streaming/spanner.py) — REST v1 typed decode,
PartialResultSet chunkedValue resumption, the recursive partition tree
with token dedup, mod flattening + gcp_spanner_* metadata, OAuth
verification, and the YAML pipeline. Semantics per
internal/impl/gcp/input_spanner_cdc.go + types/spanner.go."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.sink import IdempotentParquetSink
from bento_spark.streaming.spanner import (
    MiniSpannerServer,
    SpannerClient,
    child_partitions_value,
    data_change_value,
    decode_value,
    merge_chunked,
    spanner_cdc_bridge,
)
from bento_spark.streaming.spool import entries

DSN = "projects/p/instances/i/databases/db"


def test_decode_value_typed():
    t = {"code": "STRUCT", "structType": {"fields": [
        {"name": "n", "type": {"code": "INT64"}},
        {"name": "x", "type": {"code": "FLOAT64"}},
        {"name": "ok", "type": {"code": "BOOL"}},
        {"name": "j", "type": {"code": "JSON"}},
        {"name": "tags", "type": {"code": "ARRAY",
                                  "arrayElementType": {"code": "STRING"}}},
    ]}}
    v = ["42", 1.5, True, '{"a": 1}', ["x", None]]
    assert decode_value(v, t) == {"n": 42, "x": 1.5, "ok": True,
                                  "j": {"a": 1}, "tags": ["x", None]}
    assert decode_value(None, t) is None


def test_merge_chunked_rules():
    # documented resumption: strings concatenate; lists concatenate with
    # recursive boundary merge when both ends are strings or lists
    # the PartialResultSet proto doc's own examples, verbatim
    assert merge_chunked("foo", "bar") == "foobar"
    assert merge_chunked([2, 3], [4]) == [2, 3, 4]
    assert merge_chunked(["a", "b"], ["c", "d"]) == ["a", "bc", "d"]
    assert merge_chunked(["a", ["b", "c"]], [["d"], "e"]) == \
        ["a", ["b", "cd"], "e"]
    with pytest.raises(ValueError, match="cannot merge"):
        merge_chunked("a", ["b"])


@pytest.fixture()
def server():
    s = MiniSpannerServer().start()
    yield s
    s.stop()


def _seed_tree(server):
    """Root announces two children (one twice — dedup must hold); children
    carry the data changes."""
    server.add_records(None, child_partitions_value(
        "2026-01-01T00:00:00Z", ["part-a", "part-b"]))
    server.add_records(None, child_partitions_value(
        "2026-01-01T00:00:01Z", ["part-b"]))  # duplicate announcement
    server.add_records("part-a", data_change_value(
        "users", "INSERT",
        [({"id": 1}, {"id": 1, "name": "ada"}, None)],
        "2026-01-01T00:00:02.5Z", seq="00000001", txn="txn-a"))
    server.add_records("part-b", data_change_value(
        "users", "UPDATE",
        [({"id": 2}, {"name": "bob2"}, {"name": "bob"}),
         ({"id": 3}, {"name": "cyd2"}, {"name": "cyd"})],
        "2026-01-01T00:00:03Z", seq="00000002", txn="txn-b"))
    server.add_records("part-b", data_change_value(
        "orders", "DELETE", [({"oid": 9}, None, {"oid": 9, "qty": 1})],
        "2026-01-01T00:00:04Z", seq="00000003", txn="txn-c"))


def test_partition_tree_and_mods(server, tmp_path):
    _seed_tree(server)
    spool = tmp_path / "sp"
    sp = spanner_cdc_bridge(
        dsn=DSN, stream_name="orders_stream", spool_dir=str(spool),
        start_time="2026-01-01T00:00:00Z", endpoint=server.endpoint,
    ).start()
    deadline = time.monotonic() + 15
    while len(entries(spool)) < 4:
        assert time.monotonic() < deadline, sp.error
        time.sleep(0.05)
    sp.stop()
    assert sp.error is None
    by_table = {}
    for meta, mod in entries(spool):
        key = (meta["gcp_spanner_table_name"], meta["gcp_spanner_cdc_mod_type"])
        by_table.setdefault(key, []).append((meta, mod))
    ins = by_table[("users", "INSERT")]
    assert len(ins) == 1
    assert json.loads(ins[0][1]) == {
        "keys": {"id": 1}, "new_values": {"id": 1, "name": "ada"}}
    assert ins[0][0]["gcp_spanner_commit_timestamp"] == "2026-01-01T00:00:02.5Z"
    assert ins[0][0]["gcp_spanner_cdc_server_transaction_id"] == "txn-a"
    assert len(by_table[("users", "UPDATE")]) == 2  # one message per MOD
    dele = by_table[("orders", "DELETE")][0]
    assert json.loads(dele[1]) == {
        "keys": {"oid": 9}, "old_values": {"oid": 9, "qty": 1}}
    # dedup: part-b queried exactly once despite two announcements
    tokens = [(q.get("params") or {}).get("partition_token")
              for q in server.queries]
    assert tokens.count("part-b") == 1 and tokens.count("part-a") == 1
    # the READ_ statement carries all four documented params
    q = server.queries[0]
    assert "READ_orders_stream" in q["sql"]
    assert q["params"]["heartbeat_milliseconds"] == "3000"
    assert q["paramTypes"]["start_timestamp"] == {"code": "TIMESTAMP"}


def test_oauth_required_and_verified(server, tmp_path):
    import shutil
    import subprocess

    if shutil.which("openssl") is None:
        pytest.skip("openssl binary unavailable")
    subprocess.run(["openssl", "genrsa", "-out", "sa.pem", "2048"],
                   capture_output=True, cwd=tmp_path, check=True)
    subprocess.run(["openssl", "rsa", "-in", "sa.pem", "-pubout", "-out",
                    "sa_pub.pem"], capture_output=True, cwd=tmp_path,
                   check=True)
    server.service_accounts["svc@p.iam.gserviceaccount.com"] = (
        tmp_path / "sa_pub.pem").read_text()
    with pytest.raises(ConnectionError, match="401"):
        SpannerClient(DSN, endpoint=server.endpoint).create_session()
    creds = {"client_email": "svc@p.iam.gserviceaccount.com",
             "private_key": (tmp_path / "sa.pem").read_text(),
             "token_uri": server.token_uri}
    c = SpannerClient(DSN, endpoint=server.endpoint, credentials=creds)
    session = c.create_session()
    assert c.execute_sql(session, "SELECT 1") == [[1]]


def test_yaml_spanner_cdc_input(spark, server, tmp_path):
    _seed_tree(server)
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  gcp_spanner_cdc:
    spanner_dsn: {DSN}
    stream_name: orders_stream
    start_time: "2026-01-01T00:00:00Z"
    heartbeat_interval: 1s
    endpoint: {server.endpoint}
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.mod = this.value
        root.table = this.gcp_spanner_table_name
        root.mod_type = this.gcp_spanner_cdc_mod_type
        root.commit_ts = this.gcp_spanner_commit_timestamp
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        deadline = time.monotonic() + 15
        while len(entries(spool)) < 4:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    rows = IdempotentParquetSink(str(tmp_path / "out")).read(spark).collect()
    assert len(rows) == 4
    kinds = sorted((r.table, r.mod_type) for r in rows)
    assert kinds == [("orders", "DELETE"), ("users", "INSERT"),
                     ("users", "UPDATE"), ("users", "UPDATE")]
    ins = next(r for r in rows if r.mod_type == "INSERT")
    assert json.loads(ins.mod)["new_values"] == {"id": 1, "name": "ada"}
    assert ins.commit_ts == "2026-01-01T00:00:02.5Z"


def test_lint_knows_spanner():
    from bento_spark.plans.lint import known_inputs

    assert "gcp_spanner_cdc" in known_inputs()
