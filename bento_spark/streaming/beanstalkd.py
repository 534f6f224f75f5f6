"""Beanstalkd input/output — dependency-free client for the public
beanstalkd text protocol (github.com/beanstalkd/beanstalkd/blob/master/
doc/protocol.txt: put/reserve-with-timeout/delete/release, CRLF-framed),
plus an in-process test server.

Reference: internal/impl/beanstalkd/input.go (address; Reserve(200ms)
poll, ack = Delete, nack = Release) and output.go (Put with priority 2,
no delay, 2s TTR). The reference uses go-beanstalk; no wheel ships in
this sandbox, so the text protocol is implemented from the published
spec — the connector is REAL and e2e-testable in-process instead of
availability-gated.

Spark-first mapping (same spool-bridge rationale as every pull source):
- input  -> beanstalkd_bridge reserves jobs and persists each as a
  durable spool file BEFORE sending `delete` (ack-after-durability =
  at-least-once: a crash between rename and delete re-delivers after the
  job's TTR, the protocol's contract). The job id rides the spool
  file's header and surfaces as a `beanstalkd_id` column parsed JVM-side.
- output -> rows publish as JSON serialized JVM-side; each `put` waits
  for its INSERTED reply so a rejected job fails the micro-batch
  (checkpoint-replay at-least-once, like the reference's
  error-propagating Put).
"""

from __future__ import annotations

import functools
import socket
import threading
import time

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.reader import SocketReader, hang_up

_CRLF = b"\r\n"
# input.go's Reserve(200ms) poll
POLL_TIMEOUT_S = 0.2


class BeanstalkdClient:
    """Minimal synchronous client on the default tube: put /
    reserve-with-timeout / delete / release."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "beanstalkd")

    def put(self, body: bytes, priority: int = 2, delay_s: int = 0,
            ttr_s: int = 2) -> int:
        """-> inserted job id (output.go:90 uses pri 2, no delay, 2s TTR)."""
        self.sock.sendall(
            f"put {priority} {delay_s} {ttr_s} {len(body)}".encode()
            + _CRLF + body + _CRLF
        )
        resp = self.reader.line(_CRLF).decode()
        if resp.startswith("INSERTED "):
            return int(resp.split(" ")[1])
        raise ConnectionError(f"beanstalkd: put -> {resp[:60]!r}")

    def reserve(self, timeout_s: float = 0.2) -> tuple[int, bytes] | None:
        """-> (job_id, body) or None on TIMED_OUT (input.go:88's
        Reserve(200ms) poll)."""
        # the protocol takes whole seconds; 0 = return immediately if empty
        self.sock.sendall(f"reserve-with-timeout {int(-(-timeout_s // 1))}".encode() + _CRLF)
        resp = self.reader.line(_CRLF).decode()
        if resp == "TIMED_OUT":
            return None
        if resp.startswith("RESERVED "):
            _, job_id, nbytes = resp.split(" ")
            body = self.reader.exact(int(nbytes))
            self.reader.exact(2)
            return int(job_id), body
        raise ConnectionError(f"beanstalkd: reserve -> {resp[:60]!r}")

    def delete(self, job_id: int) -> bool:
        self.sock.sendall(f"delete {job_id}".encode() + _CRLF)
        return self.reader.line(_CRLF) == b"DELETED"

    def release(self, job_id: int, priority: int = 2, delay_s: int = 0) -> bool:
        self.sock.sendall(f"release {job_id} {priority} {delay_s}".encode() + _CRLF)
        return self.reader.line(_CRLF) == b"RELEASED"

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_beanstalkd_addr(addr: str) -> tuple[str, int]:
    hp = str(addr).removeprefix("tcp://").removeprefix("beanstalkd://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 11300)


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def beanstalkd_bridge(host: str, port: int, spool_dir: str) -> Bridge:
    """`beanstalkd` input (input.go): reserve-poll the default tube and
    spool each job as one durable file; `delete` fires only AFTER the
    spool put: at-least-once (an un-deleted job re-delivers after TTR)."""

    def messages(client: BeanstalkdClient, stop):
        while not stop.is_set():
            got = client.reserve(POLL_TIMEOUT_S)
            if got is not None:
                job_id, body = got
                yield body, {"beanstalkd_id": job_id}, functools.partial(client.delete, job_id)

    return Bridge("beanstalkd", spool_dir,
                  functools.partial(BeanstalkdClient, host, port), messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def beanstalkd_sink(host: str, port: int, priority: int = 2, ttr_s: int = 2):
    """`beanstalkd` output (output.go): rows publish as JSON serialized
    JVM-side; each put waits for INSERTED."""
    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        for row in rows:
            client.put(row.v.encode("utf-8"), priority=priority, ttr_s=ttr_s)

    def write_batch(batch_df, epoch_id: int) -> None:
        write_partitions(batch_df.select(json_body(batch_df).alias("v")),
                         functools.partial(BeanstalkdClient, host, port), send)

    return write_batch


# --------------------------------------------------------------------------
# in-process server (test-grade)
# --------------------------------------------------------------------------


class MiniBeanstalkdServer:
    """Single-tube beanstalkd subset for e2e tests: put (priority-ordered,
    optional delay), reserve-with-timeout (blocking with wake-on-put),
    delete, release, TTR re-release on expiry or consumer drop. Not a
    production daemon — the deliverable is the CLIENT; this exists so the
    connector can be driven end-to-end without external services."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._seq = 0
        # ready: [(priority, seq, id, body)] kept sorted
        self._ready: list[tuple[int, int, int, bytes]] = []
        # id -> (priority, seq, body, ttr_deadline, owner_conn)
        self._reserved: dict[int, tuple] = {}
        self._lock = threading.Lock()
        self._wake = threading.Condition(self._lock)
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []
        self._conns: set[socket.socket] = set()

    def start(self) -> "MiniBeanstalkdServer":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self.host, self.port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        """Die like a daemon: the port is free for a new server at once
        and every client sees its connection drop."""
        self._stop.set()
        if self._server is not None:
            hang_up(self._server)
        with self._lock:
            conns, self._conns = list(self._conns), set()
            self._wake.notify_all()
        for c in conns:
            hang_up(c)
        for t in self._threads:
            t.join(timeout=2)

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except OSError:
                return
            with self._lock:
                self._conns.add(conn)
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _requeue_expired(self) -> None:
        """TTR enforcement; caller holds the lock."""
        now = time.monotonic()
        for job_id, (pri, seq, body, deadline, _owner) in list(self._reserved.items()):
            if now >= deadline:
                del self._reserved[job_id]
                self._ready.append((pri, seq, job_id, body))
        self._ready.sort()

    def _drop_conn(self, conn: socket.socket) -> None:
        with self._lock:
            for job_id, (pri, seq, body, _dl, owner) in list(self._reserved.items()):
                if owner is conn:
                    del self._reserved[job_id]
                    self._ready.append((pri, seq, job_id, body))
            self._ready.sort()
            self._wake.notify_all()

    def _serve(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "beanstalkd")
        try:
            while not self._stop.is_set():
                parts = reader.line(_CRLF).decode("utf-8", "replace").split(" ")
                verb = parts[0]
                if verb == "put":
                    pri, _delay, ttr, nbytes = (int(parts[1]), int(parts[2]),
                                                int(parts[3]), int(parts[4]))
                    body = reader.exact(nbytes)
                    reader.exact(2)
                    with self._lock:
                        self._seq += 1
                        self._ready.append((pri, self._seq, self._seq, body))
                        self._ready.sort()
                        self._wake.notify_all()
                        job_id = self._seq
                    conn.sendall(f"INSERTED {job_id}".encode() + _CRLF)
                elif verb == "reserve-with-timeout":
                    deadline = time.monotonic() + int(parts[1])
                    ttr_s = 2.0
                    with self._lock:
                        while not self._stop.is_set():
                            self._requeue_expired()
                            if self._ready:
                                pri, seq, job_id, body = self._ready.pop(0)
                                self._reserved[job_id] = (
                                    pri, seq, body,
                                    time.monotonic() + ttr_s, conn)
                                conn.sendall(
                                    f"RESERVED {job_id} {len(body)}".encode()
                                    + _CRLF + body + _CRLF)
                                break
                            remaining = deadline - time.monotonic()
                            if remaining <= 0:
                                conn.sendall(b"TIMED_OUT" + _CRLF)
                                break
                            self._wake.wait(min(remaining, 0.2))
                elif verb == "delete":
                    with self._lock:
                        existed = self._reserved.pop(int(parts[1]), None) is not None
                    conn.sendall((b"DELETED" if existed else b"NOT_FOUND") + _CRLF)
                elif verb == "release":
                    job_id = int(parts[1])
                    with self._lock:
                        ent = self._reserved.pop(job_id, None)
                        if ent is not None:
                            pri, seq, body, _dl, _owner = ent
                            self._ready.append((int(parts[2]), seq, job_id, body))
                            self._ready.sort()
                            self._wake.notify_all()
                    conn.sendall((b"RELEASED" if ent else b"NOT_FOUND") + _CRLF)
                elif verb == "quit":
                    return
                else:
                    conn.sendall(b"UNKNOWN_COMMAND" + _CRLF)
        except (ConnectionError, OSError, ValueError, IndexError):
            pass
        finally:
            self._drop_conn(conn)
            with self._lock:
                self._conns.discard(conn)
            hang_up(conn)
