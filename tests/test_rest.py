"""streaming/rest.py: the one retry rule every cloud connector client uses,
driven against a scripted in-process HTTP server. Spark-free."""

from __future__ import annotations

import json
import socket
import struct
import threading

import pytest

from bento_spark.streaming import rest
from bento_spark.streaming.kinesis import KinesisClient
from bento_spark.streaming.spanner import SpannerClient


class ScriptedServer:
    """Answers the i-th request with script[i]: a status, a (status, body)
    pair, "close" (close the connection without a reply) or "reset" (abort
    it with a TCP RST). Past the script it answers 200. `requests` holds
    (method, target, headers) of every request received."""

    def __init__(self, script):
        self.script = list(script)
        self.requests: list[tuple[str, str, dict[str, str]]] = []
        self._srv = socket.create_server(("127.0.0.1", 0))
        self.url = f"http://127.0.0.1:{self._srv.getsockname()[1]}"
        threading.Thread(target=self._serve, daemon=True).start()

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            with conn, conn.makefile("rb") as f:
                method, target, _ = f.readline().decode().split(" ", 2)
                headers = {}
                while (line := f.readline()) not in (b"\r\n", b""):
                    k, _, v = line.decode().partition(":")
                    headers[k.strip().lower()] = v.strip()
                f.read(int(headers.get("content-length", 0)))
                self.requests.append((method, target, headers))
                action = self.script.pop(0) if self.script else 200
                if action == "close":
                    continue
                if action == "reset":
                    conn.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER,
                                    struct.pack("ii", 1, 0))
                    continue
                status, body = action if isinstance(action, tuple) else (action, b"{}")
                conn.sendall(f"HTTP/1.1 {status} X\r\nContent-Length: {len(body)}\r\n"
                             "Connection: close\r\n\r\n".encode() + body)

    def close(self) -> None:
        self._srv.close()


@pytest.fixture()
def scripted():
    servers = []

    def make(*script) -> ScriptedServer:
        servers.append(ScriptedServer(script))
        return servers[-1]

    yield make
    for s in servers:
        s.close()


def _call(srv: ScriptedServer, headers=lambda: {}, **kw):
    return rest.call(rest.Endpoint(srv.url, 5.0), "POST", "/x", b"{}", headers,
                     name="svc", backoff_s=0.001, **kw)


@pytest.mark.parametrize("first", [503, 429, "close", "reset"])
def test_transient_heals(scripted, first):
    srv = scripted(first, (200, b"ok"))
    status, body, _ = _call(srv)
    assert (status, body) == (200, b"ok")
    assert len(srv.requests) == 2


def test_permanent_4xx_raises_at_once(scripted):
    srv = scripted((400, b"bad request"))
    with pytest.raises(ConnectionError, match=r"svc: POST /x -> 400 b'bad request'"):
        _call(srv)
    assert len(srv.requests) == 1


def test_ok_status_returns(scripted):
    srv = scripted((404, b"nope"))
    status, body, _ = _call(srv, ok=(404,))
    assert (status, body) == (404, b"nope")
    assert len(srv.requests) == 1


def test_retries_run_out(scripted):
    srv = scripted(503, 503, 503, 503, 200)
    with pytest.raises(ConnectionError, match="svc: POST /x -> 503"):
        _call(srv)
    assert len(srv.requests) == 4


def test_retries_run_out_chained_from_fault(scripted):
    srv = scripted("close", "close", "close", "close")
    with pytest.raises(ConnectionError, match="svc: POST /x") as ei:
        _call(srv)
    assert ei.value.__cause__ is not None
    assert len(srv.requests) == 4


def test_headers_run_once_per_attempt(scripted):
    srv = scripted(503, 503, 200)
    calls = []

    def headers():
        calls.append(1)
        return {"X-Attempt": str(len(calls))}

    _call(srv, headers)
    assert len(calls) == 3
    assert [h["x-attempt"] for _, _, h in srv.requests] == ["1", "2", "3"]


def test_throttled_hook_retries_a_4xx(scripted):
    srv = scripted((400, b"slow down"), 200)
    waits = []

    def throttled(status, body, wait):
        waits.append(wait)
        return 0.0 if body == b"slow down" else None

    assert _call(srv, throttled=throttled)[0] == 200
    assert waits == [0.001] and len(srv.requests) == 2


def test_kinesis_list_shards_heals_503(scripted):
    srv = scripted(503, (200, json.dumps({"Shards": [{"ShardId": "shardId-0"}]}).encode()))
    assert KinesisClient(srv.url, "ak", "sk").list_shards("s") == ["shardId-0"]
    assert len(srv.requests) == 2


def test_spanner_create_session_heals_503(scripted):
    name = "projects/p/instances/i/databases/d/sessions/s1"
    srv = scripted(503, (200, json.dumps({"name": name}).encode()))
    client = SpannerClient("projects/p/instances/i/databases/d", endpoint=srv.url)
    assert client.create_session() == name
    assert len(srv.requests) == 2
