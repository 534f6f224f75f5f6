"""The bridge loop (streaming/bridge.py) and the socket reader
(streaming/reader.py) with scripted connectors and socket pairs: no
broker, no Spark, a few seconds."""

from __future__ import annotations

import socket
import threading
import time

import pytest

from bento_spark.streaming.bridge import Bridge, BridgeFailed, FanIn, batch
from bento_spark.streaming.reader import SocketReader
from bento_spark.streaming.spool import entries


class _Client:
    def __init__(self):
        self.closed = False

    def close(self):
        self.closed = True


class _RecordingStop(threading.Event):
    """A stop event whose timed waits return at once and are recorded."""

    def __init__(self):
        super().__init__()
        self.waits: list[float] = []

    def wait(self, timeout=None):
        if timeout is None or self.is_set():
            return super().wait(timeout)
        self.waits.append(timeout)
        return False


def _until(pred, timeout=5.0):
    deadline = time.monotonic() + timeout
    while not pred():
        assert time.monotonic() < deadline
        time.sleep(0.01)


def test_ack_runs_after_its_put(tmp_path):
    seen_at_ack = []

    def messages(client, stop):
        for i in range(3):
            yield f"m{i}".encode(), {"i": i}, lambda: seen_at_ack.append(len(entries(tmp_path)))

    b = Bridge("scripted", str(tmp_path), _Client, messages).start()
    assert b.wait_finished(5)
    assert seen_at_ack == [1, 2, 3]
    assert [(m["i"], body) for m, body in entries(tmp_path)] == [
        (0, b"m0"), (1, b"m1"), (2, b"m2")]
    assert b.state == "finished" and b.error is None


def test_a_batch_ack_runs_after_the_last_put(tmp_path):
    acks = []

    def messages(client, stop):
        yield from batch([(b"a", {}), (b"b", {}), (b"c", {})],
                         lambda: acks.append(len(entries(tmp_path))))

    assert Bridge("scripted", str(tmp_path), _Client, messages).start().wait_finished(5)
    assert acks == [3]


def test_put_that_raises_acks_nothing_and_fails(tmp_path):
    acked = []

    def messages(client, stop):
        yield b"ok", {}, lambda: acked.append("ok")
        yield 12345, {}, lambda: acked.append("bad")  # not bytes: put raises
        yield b"after", {}, lambda: acked.append("after")

    b = Bridge("scripted", str(tmp_path), _Client, messages).start()
    with pytest.raises(BridgeFailed, match="scripted input: .*int"):
        b.wait_finished(5)
    assert acked == ["ok"]
    assert b.state == "failed" and "int" in b.cause
    assert [body for _, body in entries(tmp_path)] == [b"ok"]


def test_decode_fault_fails_with_its_cause(tmp_path):
    def messages(client, stop):
        raise ValueError("bad frame type 9")
        yield  # pragma: no cover

    clients = []

    def connect():
        clients.append(_Client())
        return clients[-1]

    b = Bridge("scripted", str(tmp_path), connect, messages).start()
    with pytest.raises(BridgeFailed, match="bad frame type 9"):
        b.wait_finished(5)
    assert b.error == "scripted input: bad frame type 9"
    # no reconnect; the client is kept until stop()
    assert len(clients) == 1 and not clients[0].closed
    b.stop()
    assert clients[0].closed and b.state == "failed"


def test_transport_fault_reconnects_with_doubling_capped_waits(tmp_path):
    attempts = []

    def connect():
        attempts.append(time.monotonic())
        if len(attempts) == 1 or len(attempts) > 9:
            return _Client()
        raise ConnectionError(f"refused #{len(attempts)}")

    def messages(client, stop):
        if len(attempts) == 1:
            raise ConnectionError("broker went away")
        yield b"back", {}, None

    b = Bridge("scripted", str(tmp_path), connect, messages)
    stop = b._stop = _RecordingStop()
    b.start()
    assert b.wait_finished(5)
    assert stop.waits == [0.25, 0.5, 1.0, 2.0, 4.0, 5.0, 5.0, 5.0, 5.0]
    assert [body for _, body in entries(tmp_path)] == [b"back"]


def test_backoff_resets_after_a_message(tmp_path):
    rounds = []

    def messages(client, stop):
        rounds.append(1)
        if len(rounds) <= 2:
            raise ConnectionError("drop")
        if len(rounds) == 3:
            yield b"one", {}, None
            raise ConnectionError("drop again")
        yield b"two", {}, None

    b = Bridge("scripted", str(tmp_path), _Client, messages)
    stop = b._stop = _RecordingStop()
    b.start()
    assert b.wait_finished(5)
    assert stop.waits == [0.25, 0.5, 0.25]


def test_reconnecting_state_names_the_cause(tmp_path):
    def connect():
        if getattr(connect, "called", False):
            raise ConnectionError("403 forbidden")
        connect.called = True
        return _Client()

    def messages(client, stop):
        raise ConnectionError("reset by peer")
        yield  # pragma: no cover

    b = Bridge("scripted", str(tmp_path), connect, messages).start()
    try:
        _until(lambda: b.cause == "403 forbidden")
        assert b.state == "reconnecting" and b.error is None
        assert not b.wait_finished(0.05)
    finally:
        b.stop()
    assert b.state == "stopped"


def test_stop_during_backoff_returns_within_a_second(tmp_path):
    def connect():
        if getattr(connect, "called", False):
            raise ConnectionError("down")
        connect.called = True
        return _Client()

    def messages(client, stop):
        raise ConnectionError("down")
        yield  # pragma: no cover

    b = Bridge("scripted", str(tmp_path), connect, messages).start()
    _until(lambda: b.state == "reconnecting")
    time.sleep(1.5)  # the wait is 1 s or more by now
    t0 = time.monotonic()
    b.stop()
    assert time.monotonic() - t0 < 1.0
    assert b.state == "stopped"


def test_stop_during_a_blocked_recv_returns_within_a_second(tmp_path):
    pairs = []

    def connect():
        a, c = socket.socketpair()
        pairs.append(c)
        return a

    def messages(sock, stop):
        while True:
            data = sock.recv(10)  # blocks: the peer never writes
            if not data:
                raise ConnectionError("closed")
            yield data, {}, None

    b = Bridge("scripted", str(tmp_path), connect, messages).start()
    time.sleep(0.2)
    t0 = time.monotonic()
    b.stop()
    assert time.monotonic() - t0 < 1.0
    assert b.state == "stopped"
    for c in pairs:
        c.close()


def test_first_connect_raises_to_the_caller(tmp_path):
    def connect():
        raise ConnectionRefusedError("no broker")

    b = Bridge("scripted", str(tmp_path), connect, lambda c, s: iter(()))
    with pytest.raises(ConnectionRefusedError):
        b.start()


def test_fan_in_merges_and_raises_the_first_fault():
    stop = threading.Event()
    fan = FanIn(stop)
    fan.add(iter([1, 2]))
    fan.add(iter([3]))
    assert sorted(fan) == [1, 2, 3]

    def boom():
        yield 1
        raise ConnectionError("one stream died")

    fan = FanIn(stop)
    fan.add(boom())
    with pytest.raises(ConnectionError, match="one stream died"):
        list(fan)


def test_a_reconnect_ends_the_old_fan_in_threads(tmp_path):
    """One stream of a connection fills the FanIn's queue while another
    drops the connection: after the bridge reconnects, the dropped
    connection's stream threads end instead of waiting on the full queue
    for the life of the bridge."""
    flooders: list[threading.Thread] = []

    def flood():
        flooders.append(threading.current_thread())
        while True:
            yield b"x", {}, None

    def drop():
        raise ConnectionError("dropped")
        yield

    def messages(client, stop):
        if client == 1:
            fan = FanIn(stop)
            fan.add(flood())
            fan.add(drop())
            return fan
        return iter(lambda: stop.wait(), True)  # blocks until stop

    connects = iter(range(1, 100))
    b = Bridge("scripted", str(tmp_path), lambda: next(connects), messages,
               close=lambda c: None).start()
    try:
        _until(lambda: b.restarts >= 1 and b.state == "running")
        _until(lambda: not flooders[0].is_alive(), timeout=2.0)
    finally:
        b.stop()


# ------------------------------------------------------------------ reader
def test_reader_exact_spans_several_recvs():
    a, b = socket.socketpair()
    try:
        r = SocketReader(a, "t")

        def feed():
            for piece in (b"he", b"llo", b" wor", b"ld!"):
                b.sendall(piece)
                time.sleep(0.02)

        t = threading.Thread(target=feed)
        t.start()
        assert r.exact(5) == b"hello"
        assert r.exact(7) == b" world!"
        t.join()
    finally:
        a.close()
        b.close()


def test_reader_exact_reads_no_further_than_it_needs():
    a, b = socket.socketpair()
    try:
        b.sendall(b"\x00\x03abc\x00\x01z")
        r = SocketReader(a, "t")
        assert [r.exact(2), r.exact(3)] == [b"\x00\x03", b"abc"]
        assert r.buf == b""
        assert a.recv(10) == b"\x00\x01z"  # still in the socket
    finally:
        a.close()
        b.close()


def test_reader_eof_mid_read_names_the_protocol():
    a, b = socket.socketpair()
    try:
        b.sendall(b"abc")
        b.close()
        r = SocketReader(a, "mqtt")
        with pytest.raises(ConnectionError, match="^mqtt: connection closed$"):
            r.exact(5)
    finally:
        a.close()


def test_reader_lines():
    a, b = socket.socketpair()
    try:
        r = SocketReader(a, "t", data=b"first\r")
        b.sendall(b"\nsecond\r\nthird\nrest")
        assert r.line(b"\r\n") == b"first"
        assert r.line(b"\r\n") == b"second"
        assert r.line() == b"third"
        assert r.exact(4) == b"rest"
        b.close()
        with pytest.raises(ConnectionError, match="t: connection closed"):
            r.line()
    finally:
        a.close()
