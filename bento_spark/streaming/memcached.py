"""Memcached cache backend — dependency-free client for the public
memcached text protocol (github.com/memcached/memcached/blob/master/doc/
protocol.txt: set/add/get/delete, CRLF-framed, exptime in seconds), plus
an in-process test server.

Reference: internal/impl/memcached/cache.go — addresses, optional key
`prefix`, `default_ttl` (300s default), Set/Add/Get/Delete mapping to the
protocol verbs (add's NOT_STORED -> ErrKeyAlreadyExists). The reference
uses gomemcache; no memcached wheel ships in this sandbox, so the text
protocol is implemented from the published spec, making the backend REAL
and e2e-testable in-process instead of availability-gated.

The Spark side is the shared remote-cache operator (operators/cache.py).
TTLs are enforced by the server clock in whole SECONDS (the protocol's
exptime granularity — ms TTLs round UP so a 100ms request never expires
early as 0s/never). `now_ms` pins are not honored (same documented
divergence as the redis backend: deterministic-oracle queries use the
parquet/file backends; this backend's tests use real short TTLs).
"""

from __future__ import annotations

import socket
import threading
import time
from dataclasses import dataclass, replace

from bento_spark.operators.cache import RemoteCache, _exptime_s, _ttl_ms
from bento_spark.streaming.reader import SocketReader

_CRLF = b"\r\n"


class MemcachedClient:
    """Minimal synchronous text-protocol client: set/add (exptime
    seconds), multi-key get, delete."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "memcached")

    def _store(self, verb: str, key: str, value: bytes, exptime_s: int) -> bool:
        if " " in key or "\r" in key or "\n" in key:
            raise ValueError(f"memcached: invalid key {key!r}")
        self.sock.sendall(
            f"{verb} {key} 0 {exptime_s} {len(value)}".encode() + _CRLF + value + _CRLF
        )
        resp = self.reader.line(_CRLF)
        if resp == b"STORED":
            return True
        if resp == b"NOT_STORED":
            return False
        raise ConnectionError(f"memcached: {verb} -> {resp[:60]!r}")

    def set(self, key: str, value: bytes, exptime_s: int = 0) -> None:
        self._store("set", key, value, exptime_s)

    def add(self, key: str, value: bytes, exptime_s: int = 0) -> bool:
        """True if stored, False if the key already exists (the
        reference's ErrKeyAlreadyExists)."""
        return self._store("add", key, value, exptime_s)

    def get_many(self, keys: list[str]) -> dict[str, bytes]:
        if not keys:
            return {}
        self.sock.sendall(("get " + " ".join(keys)).encode() + _CRLF)
        out: dict[str, bytes] = {}
        while True:
            line = self.reader.line(_CRLF)
            if line == b"END":
                return out
            # VALUE <key> <flags> <bytes>
            parts = line.decode().split(" ")
            if parts[0] != "VALUE":
                raise ConnectionError(f"memcached: get -> {line[:60]!r}")
            n = int(parts[3])
            out[parts[1]] = self.reader.exact(n)
            self.reader.exact(2)  # trailing CRLF

    def delete(self, key: str) -> bool:
        self.sock.sendall(f"delete {key}".encode() + _CRLF)
        return self.reader.line(_CRLF) == b"DELETED"

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_memcached_addr(addr: str) -> tuple[str, int]:
    hp = str(addr).removeprefix("tcp://").removeprefix("memcached://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 11211)


@dataclass(frozen=True)
class MemcachedStore:
    """set / add / multi-key get / delete under a key prefix; a TTL is the
    protocol's exptime in whole seconds (0 = never)."""

    host: str
    port: int
    prefix: str = ""
    exptime: int = 0

    def open(self) -> MemcachedClient:
        return MemcachedClient(self.host, self.port)

    def expiring(self, ttl) -> MemcachedStore:
        return self if ttl is None else replace(self, exptime=_exptime_s(_ttl_ms(ttl)))

    def fetch(self, client, keys) -> dict:
        # one multi-key get (gomemcache's GetMulti; the reference calls it per key)
        got = client.get_many([self.prefix + k for k in keys])
        return {k: got.get(self.prefix + k) for k in keys}

    def insert(self, client, pairs) -> list[bool]:
        # cache.go maps NOT_STORED to ErrKeyAlreadyExists
        return [client.add(self.prefix + k, (v or "").encode("utf-8"), self.exptime)
                for k, v in pairs]

    def put(self, client, pairs) -> None:
        for k, v in pairs:
            client.set(self.prefix + k, (v or "").encode("utf-8"), self.exptime)

    def remove(self, client, keys) -> None:
        for k in keys:
            client.delete(self.prefix + k)


class MemcachedCache(RemoteCache):
    """`memcached` cache backend (cache.go): addresses, optional key
    `prefix`, `default_ttl` (300s, as the reference)."""

    def __init__(self, spark, address: str, key_col: str = "key",
                 value_col: str = "value", prefix: str = "",
                 default_ttl: int | float | str | None = "300s"):
        host, port = parse_memcached_addr(address)
        super().__init__(spark, MemcachedStore(host, port, prefix or "").expiring(default_ttl),
                         key_col, value_col)


# --------------------------------------------------------------------------
# in-process server (test-grade)
# --------------------------------------------------------------------------


class MiniMemcachedServer:
    """Single-host memcached text-protocol subset for e2e tests: set/add/
    get (multi-key)/delete with second-granularity expiry. Not a
    production store — the deliverable is the CLIENT and the cache
    backend; this exists so they can be driven end-to-end without
    external services."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._data: dict[str, bytes] = {}
        self._expiry: dict[str, float] = {}  # key -> monotonic deadline
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    def start(self) -> "MiniMemcachedServer":
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
        self._stop.set()
        if self._server is not None:
            try:
                self._server.close()
            except OSError:
                pass
        for t in self._threads:
            t.join(timeout=2)

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def _alive(self, key: str) -> bool:
        dl = self._expiry.get(key)
        if dl is not None and time.monotonic() >= dl:
            self._data.pop(key, None)
            self._expiry.pop(key, None)
            return False
        return key in self._data

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _serve(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "memcached")

        def read_line() -> bytes:
            return reader.line(_CRLF)

        read_exact = reader.exact

        try:
            while not self._stop.is_set():
                line = read_line().decode("utf-8", "replace")
                if not line:
                    continue
                parts = line.split(" ")
                verb = parts[0]
                if verb in ("set", "add"):
                    key, _flags, exptime, nbytes = parts[1], parts[2], int(parts[3]), int(parts[4])
                    value = read_exact(nbytes)
                    read_exact(2)
                    with self._lock:
                        if verb == "add" and self._alive(key):
                            conn.sendall(b"NOT_STORED" + _CRLF)
                            continue
                        self._data[key] = value
                        if exptime > 0:
                            # relative seconds (<=30 days) per the protocol;
                            # absolute epochs don't arise from our client
                            self._expiry[key] = time.monotonic() + exptime
                        else:
                            self._expiry.pop(key, None)
                    conn.sendall(b"STORED" + _CRLF)
                elif verb == "get" or verb == "gets":
                    out = bytearray()
                    with self._lock:
                        for key in parts[1:]:
                            if self._alive(key):
                                v = self._data[key]
                                out += f"VALUE {key} 0 {len(v)}".encode() + _CRLF
                                out += v + _CRLF
                    out += b"END" + _CRLF
                    conn.sendall(bytes(out))
                elif verb == "delete":
                    with self._lock:
                        existed = self._alive(parts[1])
                        self._data.pop(parts[1], None)
                        self._expiry.pop(parts[1], None)
                    conn.sendall((b"DELETED" if existed else b"NOT_FOUND") + _CRLF)
                elif verb == "quit":
                    return
                else:
                    conn.sendall(b"ERROR" + _CRLF)
        except (ConnectionError, OSError, ValueError, IndexError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
