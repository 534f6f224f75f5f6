"""etcd watch connector (streaming/etcd.py) over the dependency-free
gRPC/HTTP/2 wire layer (streaming/grpc_wire.py) — HPACK pinned to the
RFC 7541 Appendix C examples, h2 flow control across >64KiB messages,
grpc-status surfacing, watch create/filter/range/prefix semantics,
start-horizon guarantees, auth tokens, and the YAML input pipeline."""

from __future__ import annotations

import json
import time

import pytest

from bento_spark.plans.compiler import compile_yaml
from bento_spark.streaming.etcd import (
    EtcdWatcher,
    MiniEtcdServer,
    build_create_request,
    etcd_watch_bridge,
    events_to_maps,
    parse_etcd_endpoint,
    prefix_range_end,
)
from bento_spark.streaming.grpc_wire import (
    GrpcChannel,
    HpackDecoder,
    HpackEncoder,
    MiniGrpcServer,
    huffman_decode,
    huffman_encode,
)
from bento_spark.streaming.spool import entries

# ---------------------------------------------------------------------------
# HPACK — RFC 7541 Appendix C, pinned verbatim
# ---------------------------------------------------------------------------


def test_huffman_rfc7541_vectors():
    cases = {
        b"www.example.com": "f1e3c2e5f23a6ba0ab90f4ff",
        b"no-cache": "a8eb10649cbf",
        b"custom-key": "25a849e95ba97d7f",
        b"custom-value": "25a849e95bb8e8b4bf",
        b"302": "6402",
        b"private": "aec3771a4b",
        b"Mon, 21 Oct 2013 20:13:21 GMT":
            "d07abe941054d444a8200595040b8166e082a62d1bff",
        b"https://www.example.com": "9d29ad171863c78f0b97c8e9ae82ae43d3",
        b"307": "640eff",
    }
    for raw, hexenc in cases.items():
        assert huffman_encode(raw).hex() == hexenc, raw
        assert huffman_decode(bytes.fromhex(hexenc)) == raw
    with pytest.raises(ValueError, match="non-ASCII"):
        huffman_encode(b"\x00")


def test_hpack_decode_rfc7541_c4_requests():
    d = HpackDecoder()
    assert d.decode(bytes.fromhex(
        "828684418cf1e3c2e5f23a6ba0ab90f4ff")) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com")]
    assert d.decode(bytes.fromhex("828684be5886a8eb10649cbf")) == [
        (":method", "GET"), (":scheme", "http"), (":path", "/"),
        (":authority", "www.example.com"), ("cache-control", "no-cache")]
    assert d.decode(bytes.fromhex(
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf")) == [
        (":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
        (":authority", "www.example.com"), ("custom-key", "custom-value")]


def test_hpack_decode_rfc7541_c6_responses_with_eviction():
    d = HpackDecoder(max_size=256)
    r1 = d.decode(bytes.fromhex(
        "488264025885aec3771a4b6196d07abe941054d444a8200595040b8166e082a6"
        "2d1bff6e919d29ad171863c78f0b97c8e9ae82ae43d3"))
    assert r1 == [(":status", "302"), ("cache-control", "private"),
                  ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
                  ("location", "https://www.example.com")]
    # C.6.2: adding :status 307 at max_size 256 evicts :status 302
    r2 = d.decode(bytes.fromhex("4883640effc1c0bf"))
    assert r2 == [(":status", "307"), ("cache-control", "private"),
                  ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
                  ("location", "https://www.example.com")]
    assert [p[0] for p in d.dynamic] == [":status", "location", "date",
                                         "cache-control"]


def test_hpack_encoder_roundtrip():
    enc = HpackEncoder()
    assert enc.encode([(":method", "POST")]) == b"\x83"  # static index 3
    hdrs = [(":method", "POST"), (":path", "/etcdserverpb.Watch/Watch"),
            (":authority", "h:1"), ("content-type", "application/grpc"),
            ("te", "trailers"), ("token", "tok.root"), ("x" * 200, "y" * 300)]
    assert HpackDecoder().decode(enc.encode(hdrs)) == hdrs
    huff = HpackEncoder(huffman=True)
    assert HpackDecoder().decode(huff.encode(hdrs)) == hdrs


# ---------------------------------------------------------------------------
# gRPC layer
# ---------------------------------------------------------------------------


@pytest.fixture()
def grpc_server():
    s = MiniGrpcServer()

    def echo(st):
        while True:
            m = st.recv(timeout=15)
            if m is None:
                break
            st.send(b"echo:" + m)
        st.close()

    s.handle("/t.Echo/Echo", echo)
    s.start()
    yield s
    s.stop()


def test_grpc_unary_and_flow_control(grpc_server):
    ch = GrpcChannel("127.0.0.1", grpc_server.port)
    assert ch.unary("/t.Echo/Echo", b"hi") == b"echo:hi"
    # 256 KiB crosses the 64 KiB initial window AND the 16 KiB max frame
    big = bytes(range(256)) * 1024
    assert ch.unary("/t.Echo/Echo", big) == b"echo:" + big
    with pytest.raises(ConnectionError, match="12"):
        ch.unary("/t.Nope/Nope", b"x")  # UNIMPLEMENTED trailers-only
    ch.close()


def test_grpc_bidi_stream(grpc_server):
    ch = GrpcChannel("127.0.0.1", grpc_server.port)
    st = ch.open_stream("/t.Echo/Echo")
    for i in range(5):
        st.send(f"m{i}".encode())
        assert st.recv(5) == f"echo:m{i}".encode()
    st.half_close()
    assert st.recv(5) is None  # grpc-status 0 verified
    ch.close()


# ---------------------------------------------------------------------------
# etcd semantics
# ---------------------------------------------------------------------------


def test_prefix_range_end():
    # clientv3.GetPrefixRangeEnd
    assert prefix_range_end(b"foo") == b"fop"
    assert prefix_range_end(b"a\xff\xff") == b"b"
    assert prefix_range_end(b"\xff\xff") == b"\x00"
    assert parse_etcd_endpoint("etcd://h:2380") == ("h", 2380)
    assert parse_etcd_endpoint("localhost") == ("localhost", 2379)


def test_build_create_request():
    r = build_create_request("app/", with_prefix=True, filter_put=True,
                             filter_delete=True, progress_notify=True)
    assert r == {"key": b"app/", "range_end": b"app0",
                 "progress_notify": True, "filters": ["NOPUT", "NODELETE"]}
    assert build_create_request("a", with_range="c") == {
        "key": b"a", "range_end": b"c"}
    with pytest.raises(ValueError, match="exclusive"):
        build_create_request("a", with_prefix=True, with_range="c")


def test_events_to_maps_utf8_and_binary():
    maps = events_to_maps([
        {"type": "PUT", "kv": {"key": b"k1", "value": b"\xff\xfe",
                               "version": 2, "mod_revision": 9,
                               "create_revision": 3, "lease": 7}},
        {"type": "DELETE", "kv": {"key": b"k1", "mod_revision": 10}},
    ])
    # util.go: strings when valid UTF-8, else Go's []byte JSON (base64)
    assert maps[0] == {"key": "k1", "value": "//4=", "type": "PUT",
                       "version": 2, "mod_revision": 9,
                       "create_revision": 3, "lease": 7}
    assert maps[1]["type"] == "DELETE" and maps[1]["version"] == 0


@pytest.fixture()
def server():
    s = MiniEtcdServer(users={"root": "pw"}).start()
    yield s
    s.stop()


def test_auth_required_and_verified(server):
    with pytest.raises(ConnectionError, match="16|authentication"):
        EtcdWatcher([server.endpoint], username="root", password="no",
                    auth_enabled=True)
    # valid credentials issue a token the Watch handler accepts
    w = EtcdWatcher([server.endpoint], username="root", password="pw",
                    auth_enabled=True)
    assert w.metadata["token"] == "tok.root"
    w.watch(build_create_request("k"))
    first = next(w.responses())
    assert first["created"] is True
    w.close()


def test_watch_horizon_filters_and_delete(server, tmp_path):
    server.put("app/a", "1")  # pre-watch history must NOT replay
    spool = tmp_path / "sp"
    sp = etcd_watch_bridge(endpoints=[server.endpoint], key="app/",
                          spool_dir=str(spool), with_prefix=True,
                          username="root", password="pw",
                          auth_enabled=True).start()
    # start() returned => the horizon is established: these are observed
    server.put("app/c", "3")
    server.put("other", "x")   # outside the prefix
    server.delete("app/c")
    deadline = time.monotonic() + 10

    def events():
        return [e for _, body in entries(spool) for e in json.loads(body)]

    while len(events()) < 2:
        assert time.monotonic() < deadline, sp.error
        time.sleep(0.05)
    time.sleep(0.3)  # would pick up `other` / replay `app/a` if broken
    sp.stop()
    evs = events()
    assert [(e["key"], e["type"], e["value"]) for e in evs] == [
        ("app/c", "PUT", "3"), ("app/c", "DELETE", "")]
    assert evs[0]["version"] == 1 and evs[0]["create_revision"] == 2
    assert evs[1]["mod_revision"] == 4


def test_watch_filter_put(server, tmp_path):
    spool = tmp_path / "sp"
    sp = etcd_watch_bridge(endpoints=[server.endpoint], key="k",
                          spool_dir=str(spool), filter_put=True,
                          username="root", password="pw",
                          auth_enabled=True).start()
    server.put("k", "v1")
    server.delete("k")
    deadline = time.monotonic() + 10
    while not entries(spool):
        assert time.monotonic() < deadline, sp.error
        time.sleep(0.05)
    time.sleep(0.3)
    sp.stop()
    evs = [e for _, body in entries(spool) for e in json.loads(body)]
    assert [(e["key"], e["type"]) for e in evs] == [("k", "DELETE")]


def test_watch_resumes_after_the_server_restarts(tmp_path):
    """The server goes away and comes back on the same port with its
    store: the bridge reconnects and resumes after the last spooled
    revision, so a write made while it was down is spooled too."""
    old = MiniEtcdServer().start()
    spool = tmp_path / "sp"
    sp = etcd_watch_bridge(endpoints=[old.endpoint], key="k",
                          spool_dir=str(spool)).start()

    def values():
        return [e["value"] for _, body in entries(spool) for e in json.loads(body)]

    def wait_for(pred):
        deadline = time.monotonic() + 15
        while not pred():
            assert time.monotonic() < deadline, (sp.state, sp.cause, values())
            time.sleep(0.05)

    new = None
    try:
        old.put("k", "before")
        wait_for(lambda: values() == ["before"])
        old.stop()
        wait_for(lambda: sp.state == "reconnecting")
        new = MiniEtcdServer(port=old.port)  # a restart keeps the store
        new.history, new.revision = old.history, old.revision
        new._versions, new._creates = old._versions, old._creates
        new.put("k", "during")  # written while no server listens
        new.start()
        wait_for(lambda: sp.state == "running" and sp.restarts >= 1)
        new.put("k", "after")
        wait_for(lambda: len(values()) >= 3)
        time.sleep(0.3)  # a replay from the start would add "before" again
        assert values() == ["before", "during", "after"]
    finally:
        sp.stop()
        if new is not None:
            new.stop()


def test_yaml_etcd_input(spark, server, tmp_path):
    spool = tmp_path / "spool_in"
    p = compile_yaml(f"""
input:
  etcd:
    endpoints: [{server.endpoint}]
    key: sensors/
    options:
      with_prefix: true
    auth:
      enabled: true
      username: root
      password: pw
    spool_dir: {spool}
pipeline:
  processors:
    - mapping: |
        root.raw = this.value
output:
  path: {tmp_path}/out
""")
    sp = p.start_bridge()
    try:
        server.put("sensors/t1", "20.5")
        server.put("sensors/t2", "21.0")
        deadline = time.monotonic() + 10
        # both puts may coalesce into ONE WatchResponse -> count events
        while sum(len(json.loads(body)) for _, body in entries(spool)) < 2:
            assert time.monotonic() < deadline, sp.error
            time.sleep(0.05)
        q = p.run_stream(spark, checkpoint=str(tmp_path / "ckpt"))
        q.awaitTermination(90)
    finally:
        sp.stop()
    from bento_spark.streaming.sink import IdempotentParquetSink

    rows = [json.loads(r.raw) for r in
            IdempotentParquetSink(str(tmp_path / "out"))
            .read(spark).collect()]
    evs = sorted(((e["key"], e["type"], e["value"])
                  for m in rows for e in m))
    assert evs == [("sensors/t1", "PUT", "20.5"),
                   ("sensors/t2", "PUT", "21.0")]


def test_lint_knows_etcd():
    from bento_spark.plans.lint import known_inputs

    assert "etcd" in known_inputs()
