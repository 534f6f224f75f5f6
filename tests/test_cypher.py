"""Cypher/Bolt connector (streaming/cypher.py) against MiniBoltServer —
PackStream v2 round trips, handshake/auth, RUN/PULL record streaming,
FAILURE surfacing, and the YAML input/output pipelines."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.cypher import (
    BoltClient,
    MiniBoltServer,
    Structure,
    cypher_bridge,
    parse_bolt_uri,
    ps_pack,
    ps_unpack,
)
from bento_spark.streaming.spool import entries


@pytest.fixture()
def server():
    s = MiniBoltServer(users={"neo4j": "pw"}).start()
    yield s
    s.stop()


def test_packstream_roundtrip():
    cases = [
        None, True, False, 0, 1, -1, 42, -17, 127, -128, 1000, -70000,
        (1 << 40), -(1 << 40), 3.5, "", "hi", "x" * 20, "y" * 300,
        b"\x00\x01", [1, "a", None], list(range(20)),
        {"k": "v", "n": 7}, {"nested": {"a": [1, 2]}},
        Structure(0x10, ["RETURN 1", {}, {}]),
    ]
    for v in cases:
        assert ps_unpack(ps_pack(v)) == v
    # marker spot checks from the published table
    assert ps_pack(None) == b"\xc0"
    assert ps_pack(7) == b"\x07"
    assert ps_pack(-1) == b"\xff"
    assert ps_pack("abc") == b"\x83abc"
    assert ps_pack([])[0] == 0x90
    assert ps_pack({})[0] == 0xA0


def test_parse_bolt_uri():
    assert parse_bolt_uri("bolt://h:7687") == ("h", 7687)
    assert parse_bolt_uri("neo4j://h2") == ("h2", 7687)


def test_auth_and_run(server):
    server.datasets["RETURN 1 AS n, 'x' AS s"] = (["n", "s"], [[1, "x"]])
    c = BoltClient(server.uri, user="neo4j", password="pw")
    fields, rows = c.run("RETURN 1 AS n, 'x' AS s")
    assert fields == ["n", "s"] and rows == [[1, "x"]]
    c.close()
    with pytest.raises(ConnectionError, match="HELLO failed"):
        BoltClient(server.uri, user="neo4j", password="wrong")
    with pytest.raises(ConnectionError, match="HELLO failed"):
        BoltClient(server.uri)  # scheme none vs configured users


def test_params_recorded(server):
    c = BoltClient(server.uri, user="neo4j", password="pw")
    c.run("CREATE (n:Person {name: $name, age: $age})",
          {"name": "ada", "age": 36})
    c.close()
    q, params = server.executed[-1]
    assert q.startswith("CREATE") and params == {"name": "ada", "age": 36}


def test_spooler(server, tmp_path):
    server.datasets["MATCH (p:Person) RETURN p.name AS name, p.age AS age"] = (
        ["name", "age"], [["ada", 36], ["bob", 41]])
    spool = tmp_path / "spool"
    sp = cypher_bridge(
        uri=server.uri,
        query="MATCH (p:Person) RETURN p.name AS name, p.age AS age",
        spool_dir=str(spool), user="neo4j", password="pw").start()
    assert sp.wait_finished(30)
    sp.stop()
    rows = sorted(json.loads(body)["name"] for _, body in entries(spool))
    assert rows == ["ada", "bob"]


def test_yaml_cypher_input_and_output(spark, server, tmp_path):
    query_in = "MATCH (c:City) RETURN c.name AS name, c.pop AS pop"
    server.datasets[query_in] = (["name", "pop"],
                                 [["oslo", 700000], ["bergen", 280000]])
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  cypher:
    uri: {server.uri}
    basic_auth:
      user: neo4j
      password: pw
    query: "{query_in}"
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.city = this.value.parse_json("name string, pop string").name.uppercase()
        root.pop = this.value.parse_json("name string, pop string").pop.number()
output:
  cypher:
    uri: {server.uri}
    basic_auth:
      user: neo4j
      password: pw
    query: "CREATE (c:BigCity {{name: $city, pop: $pop}})"
    values:
      city: ${{! this.city }}
      pop: ${{! this.pop }}
""")
    sp = p.start_bridge()
    try:
        assert sp.wait_finished(30)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    deadline = time.monotonic() + 10
    while sum(1 for q2, _ in server.executed if q2.startswith("CREATE")) < 2:
        assert time.monotonic() < deadline
        time.sleep(0.05)
    created = sorted(params["city"] for q2, params in server.executed
                     if q2.startswith("CREATE"))
    assert created == ["BERGEN", "OSLO"]
    pops = {params["city"]: params["pop"] for q2, params in server.executed
            if q2.startswith("CREATE")}
    assert pops == {"OSLO": "700000.0", "BERGEN": "280000.0"}


def test_lint_knows_cypher():
    from bento_spark.plans.lint import known_inputs

    assert "cypher" in known_inputs()
