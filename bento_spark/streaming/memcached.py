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

Spark-first mapping (same contract as RedisCache — streaming/redis.py):
- `get` fetches only the batch's DISTINCT keys, one multi-key `get` per
  partition, then broadcast-joins the fetched slice back; the full
  keyspace never crosses the wire.
- `set`/`delete` run executor-side.
- `add` attempts per key executor-side and returns the REJECTED rows for
  the error-column routing; the verdict split is localCheckpoint-ed
  eagerly (re-evaluating a lazy plan would re-run the adds against state
  the first run just created — the FileCache.add trap).

TTLs are enforced by the server clock in whole SECONDS (the protocol's
exptime granularity — ms TTLs round UP so a 100ms request never expires
early as 0s/never). `now_ms` pins are not honored (same documented
divergence as the redis backend: deterministic-oracle queries use the
parquet/file backends; this backend's tests use real short TTLs).
"""

from __future__ import annotations

import functools
import socket
import threading
import time

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


def _exptime_s(ttl_ms: int | None) -> int:
    """Protocol exptime: 0 = never; ms TTLs round UP to whole seconds so
    short TTLs never become 0/never-expire."""
    if ttl_ms is None:
        return 0
    return max(1, -(-int(ttl_ms) // 1000))


def parse_memcached_addr(addr: str) -> tuple[str, int]:
    hp = str(addr).removeprefix("tcp://").removeprefix("memcached://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 11211)


class MemcachedCache:
    """`memcached` cache backend (cache.go): operator contract shared with
    KeyValueCache/FileCache/RedisCache so the YAML `cache:` processor and
    `cache_resources:` wiring work unchanged. Values are strings (single
    value column)."""

    single_value = True

    def __init__(self, spark, address: str, key_col: str = "key",
                 value_col: str = "value", prefix: str = "",
                 default_ttl: int | float | str | None = "300s"):
        from bento_spark.operators.cache import _ttl_ms

        self.spark = spark
        self.host, self.port = parse_memcached_addr(address)
        self.key_col, self.value_col = key_col, value_col
        self.prefix = prefix or ""
        self.default_ttl_ms = None if default_ttl is None else _ttl_ms(default_ttl)

    def _exptime_of(self, ttl) -> int:
        if ttl is None:
            return _exptime_s(self.default_ttl_ms)
        from bento_spark.operators.cache import _ttl_ms

        return _exptime_s(_ttl_ms(ttl))

    # -- operators (cache.go Get/Set/Add/Delete) -----------------------------
    def set(self, df, ttl=None, now_ms=None) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import write_partitions

        exptime, prefix = self._exptime_of(ttl), self.prefix
        rows = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"),
        )

        def send(client, rows) -> None:
            for row in rows:
                client.set(prefix + row.k,
                           ("" if row.v is None else row.v).encode("utf-8"), exptime)

        write_partitions(rows, functools.partial(MemcachedClient, self.host, self.port),
                         send)

    def add(self, df, ttl=None, now_ms=None):
        """Insert-if-absent; returns the rejected rows (cache.go maps
        NOT_STORED to ErrKeyAlreadyExists)."""
        from pyspark.sql import functions as F

        exptime, prefix = self._exptime_of(ttl), self.prefix
        host, port = self.host, self.port
        key_col, value_col = self.key_col, self.value_col
        fresh = df.dropDuplicates([key_col])

        def attempt(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.memcached import MemcachedClient as _C

            client = _C(host, port)
            try:
                for pdf in iter_pdf:
                    accepted = [
                        client.add(prefix + str(k),
                                   ("" if v is None else str(v)).encode("utf-8"),
                                   exptime)
                        for k, v in zip(pdf[key_col], pdf[value_col])
                    ]
                    yield pd.DataFrame({
                        key_col: [str(k) for k in pdf[key_col]],
                        "_accepted": accepted,
                    })
            finally:
                client.close()

        verdicts = (
            fresh.select(F.col(key_col).cast("string").alias(key_col), value_col)
            .mapInPandas(attempt, f"{key_col} string, _accepted boolean")
            .localCheckpoint(eager=True)  # exactly-once add attempt
        )
        rejected_keys = verdicts.filter(~F.col("_accepted")).select(key_col)
        return fresh.join(F.broadcast(rejected_keys), key_col, "left_semi")

    def delete(self, keys) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import write_partitions

        prefix = self.prefix

        def send(client, rows) -> None:
            for row in rows:
                client.delete(prefix + row.k)

        write_partitions(keys.select(F.col(self.key_col).cast("string").alias("k")),
                         functools.partial(MemcachedClient, self.host, self.port), send)

    def get(self, df, on: str | None = None, broadcast: bool = True, now_ms=None):
        """Enrich df with the cached value by key (miss = NULL value
        column). Fetches only the batch's distinct keys — one multi-key
        `get` per partition (gomemcache's GetMulti, which the reference
        calls per key; batching amortizes the round-trip)."""
        from pyspark.sql import functions as F

        key = on or self.key_col
        host, port, prefix = self.host, self.port, self.prefix
        key_col, value_col = self.key_col, self.value_col
        distinct = df.select(F.col(key).cast("string").alias(key_col)).distinct()

        def fetch(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.memcached import MemcachedClient as _C

            client = _C(host, port)
            try:
                for pdf in iter_pdf:
                    ks = [str(k) for k in pdf[key_col]]
                    got = client.get_many([prefix + k for k in ks]) if ks else {}
                    yield pd.DataFrame({
                        key_col: ks,
                        value_col: [
                            got[prefix + k].decode("utf-8", "replace")
                            if prefix + k in got else None
                            for k in ks
                        ],
                    })
            finally:
                client.close()

        side = distinct.mapInPandas(fetch, f"{key_col} string, {value_col} string")
        side = side.filter(F.col(value_col).isNotNull())
        if key != key_col:
            side = side.withColumnRenamed(key_col, key)
        if broadcast:
            side = F.broadcast(side)
        return df.join(side, key, "left")


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
