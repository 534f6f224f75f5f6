"""Couchbase processor/cache — dependency-free client for the KV data
path, which speaks the public memcached BINARY protocol (24-byte
headers, GET/SET/ADD/REPLACE/DELETE opcodes, status codes) plus
Couchbase's SASL PLAIN auth (0x21) and SELECT_BUCKET (0x89) extensions,
with an in-process test server.

Reference: internal/impl/couchbase/processor.go (interpolated `id`,
Bloblang `content`, operation get|insert|remove|replace|upsert) and
cache.go. The reference uses gocb; no wheel ships in this sandbox, so
the wire protocol is implemented from the published spec — the connector
is REAL and e2e-testable in-process instead of availability-gated.

Spark-first mapping:
- processor: the interpolated id and rendered content compile JVM-side;
  executors run one connection per partition. `get` lands the document
  in a `couchbase` column (NULL + error column on a miss, the repo's
  error protocol — the reference errors the message part);
  insert/replace rejections flag the error column the same way.
- cache backend: a store for the shared remote-cache operator
  (operators/cache.py).
"""

from __future__ import annotations

import socket
import struct
import threading
from dataclasses import dataclass, replace

from bento_spark.operators.cache import RemoteCache, _exptime_s, _ttl_ms
from bento_spark.streaming.reader import SocketReader

_OP_GET, _OP_SET, _OP_ADD, _OP_REPLACE, _OP_DELETE = 0x00, 0x01, 0x02, 0x03, 0x04
_OP_SASL_AUTH, _OP_SELECT_BUCKET = 0x21, 0x89
_ST_OK, _ST_NOT_FOUND, _ST_EXISTS = 0x0000, 0x0001, 0x0002
_ST_NO_BUCKET = 0x0008

_HDR = struct.Struct(">BBHBBHIIQ")


class CouchbaseClient:
    """Minimal synchronous KV client: optional SASL PLAIN + bucket
    selection, then GET/SET/ADD/REPLACE/DELETE."""

    def __init__(self, host: str, port: int, bucket: str | None = None,
                 username: str | None = None, password: str | None = None,
                 timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "couchbase")
        if username is not None:
            token = b"\x00" + username.encode() + b"\x00" + (password or "").encode()
            st, _ = self._call(_OP_SASL_AUTH, b"PLAIN", token)
            if st != _ST_OK:
                raise ConnectionError(f"couchbase: SASL auth failed (0x{st:04x})")
        if bucket is not None:
            st, _ = self._call(_OP_SELECT_BUCKET, bucket.encode(), b"")
            if st != _ST_OK:
                raise ConnectionError(
                    f"couchbase: select bucket {bucket!r} failed (0x{st:04x})")

    def _call(self, opcode: int, key: bytes, value: bytes,
              extras: bytes = b"") -> tuple[int, bytes]:
        body = extras + key + value
        # key -> vbucket per the public mapping ((crc32 >> 16) & 0x7fff mod
        # 1024): correct against a single-node cluster, where all 1024
        # vbuckets are local. Multi-node routing needs the CCCP config map
        # (which node owns which vbucket) — out of scope, documented.
        import zlib

        vb = ((zlib.crc32(key) >> 16) & 0x7FFF) % 1024 if key and opcode <= 0x04 else 0
        self.sock.sendall(_HDR.pack(0x80, opcode, len(key), len(extras), 0, vb,
                                    len(body), 0, 0) + body)
        hdr = self.reader.exact(24)
        magic, _op, klen, elen, _dt, status, blen, _opq, _cas = _HDR.unpack(hdr)
        if magic != 0x81:
            raise ConnectionError(f"couchbase: bad response magic 0x{magic:02x}")
        payload = self.reader.exact(blen)
        return status, payload[elen + klen :]

    def get(self, key: str) -> bytes | None:
        st, val = self._call(_OP_GET, key.encode("utf-8"), b"")
        if st == _ST_NOT_FOUND:
            return None
        if st != _ST_OK:
            raise ConnectionError(f"couchbase: GET -> status 0x{st:04x}")
        return val

    def _store(self, opcode: int, key: str, value: bytes, expiry_s: int) -> int:
        extras = struct.pack(">II", 0, expiry_s)  # flags, expiry
        st, _ = self._call(opcode, key.encode("utf-8"), value, extras)
        return st

    def upsert(self, key: str, value: bytes, expiry_s: int = 0) -> None:
        st = self._store(_OP_SET, key, value, expiry_s)
        if st != _ST_OK:
            raise ConnectionError(f"couchbase: SET -> status 0x{st:04x}")

    def insert(self, key: str, value: bytes, expiry_s: int = 0) -> bool:
        """False when the key already exists (the ADD rejection)."""
        st = self._store(_OP_ADD, key, value, expiry_s)
        if st == _ST_EXISTS:
            return False
        if st != _ST_OK:
            raise ConnectionError(f"couchbase: ADD -> status 0x{st:04x}")
        return True

    def replace(self, key: str, value: bytes, expiry_s: int = 0) -> bool:
        """False when the key does not exist (REPLACE contract)."""
        st = self._store(_OP_REPLACE, key, value, expiry_s)
        if st == _ST_NOT_FOUND:
            return False
        if st != _ST_OK:
            raise ConnectionError(f"couchbase: REPLACE -> status 0x{st:04x}")
        return True

    def remove(self, key: str) -> bool:
        st, _ = self._call(_OP_DELETE, key.encode("utf-8"), b"")
        if st == _ST_NOT_FOUND:
            return False
        if st != _ST_OK:
            raise ConnectionError(f"couchbase: DELETE -> status 0x{st:04x}")
        return True

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def _connect(url: str, bucket: str, username: str | None,
             password: str | None) -> "CouchbaseClient":
    host, port = parse_couchbase_url(url)
    return CouchbaseClient(host, port, bucket=bucket, username=username,
                           password=password)


def parse_couchbase_url(url: str) -> tuple[str, int]:
    hp = str(url).removeprefix("couchbase://").removeprefix("tcp://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 11210)


# --------------------------------------------------------------------------
# processor
# --------------------------------------------------------------------------

OPERATIONS = ("get", "insert", "remove", "replace", "upsert")


def couchbase_map(df, url: str, id_col: str, operation: str = "get",
                  content_col: str | None = None, bucket: str | None = None,
                  username: str | None = None, password: str | None = None,
                  out_col: str = "couchbase"):
    """`couchbase` processor (processor.go): one KV op per row over one
    connection per partition. `get` fills `out_col` (+NULLs with the
    error column set on a miss); write rejections (insert on existing /
    replace on missing) flag the error column the same way."""
    import pandas as pd

    if operation not in OPERATIONS:
        raise ValueError(
            f"couchbase: invalid operation {operation!r} (one of {OPERATIONS})")
    if operation in ("insert", "replace", "upsert") and content_col is None:
        raise ValueError(
            "content must be set for insert, replace and upsert operations.")
    host, port = parse_couchbase_url(url)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    has_error = "error" in fields
    # the rendered id/content columns never echo back through Arrow
    # (the repo's keep_payload rule — the JVM side doesn't need them)
    keep = [c for c in df.columns
            if c not in (out_col, "error", id_col, content_col)]
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep] + [f"{out_col} string", "error string"])

    def run(batches):
        from bento_spark.streaming.couchbase import CouchbaseClient

        state = {"client": None}

        def connected():
            if state["client"] is None:
                state["client"] = CouchbaseClient(
                    host, port, bucket=bucket,
                    username=username, password=password)
            return state["client"]

        def one_op(key: str, body: bytes | None):
            client = connected()
            if operation == "get":
                got = client.get(key)
                return (None if got is None else got.decode("utf-8", "replace"),
                        None if got is not None
                        else f"couchbase: key {key!r} not found")
            if operation == "upsert":
                client.upsert(key, body or b"")
                return None, None
            if operation == "insert":
                ok = client.insert(key, body or b"")
                return None, (None if ok
                              else f"couchbase: key {key!r} already exists")
            if operation == "replace":
                ok = client.replace(key, body or b"")
                return None, (None if ok
                              else f"couchbase: key {key!r} not found")
            client.remove(key)
            return None, None

        try:
            for pdf in batches:
                outs, errs = [], []
                for i in range(len(pdf)):
                    prior = pdf["error"].iloc[i] if has_error else None
                    if prior is not None:
                        outs.append(None)
                        errs.append(prior)  # errored rows short-circuit
                        continue
                    key = str(pdf[id_col].iloc[i])
                    content = (None if content_col is None
                               else pdf[content_col].iloc[i])
                    body = (None if content is None
                            else str(content).encode("utf-8"))
                    try:
                        out_val, err = one_op(key, body)
                    except (ConnectionError, OSError):
                        # transport loss poisons the socket: drop it and
                        # retry ONCE on a fresh connection so one blip
                        # doesn't error the rest of the partition
                        if state["client"] is not None:
                            state["client"].close()
                            state["client"] = None
                        try:
                            out_val, err = one_op(key, body)
                        except (ConnectionError, OSError) as e2:
                            if state["client"] is not None:
                                state["client"].close()
                                state["client"] = None
                            out_val, err = None, str(e2)
                    outs.append(out_val)
                    errs.append(err)
                out = pdf[keep].copy()
                out[out_col] = outs
                out["error"] = errs
                yield out
        finally:
            if state["client"] is not None:
                state["client"].close()

    return df.mapInPandas(run, schema=out_schema)


# --------------------------------------------------------------------------
# cache backend
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class CouchbaseStore:
    """GET / SET / ADD / DELETE over the KV binary protocol; a TTL is the
    protocol's expiry in whole server-clock seconds (0 = never)."""

    url: str
    bucket: str | None = None
    username: str | None = None
    password: str | None = None
    expiry: int = 0

    def open(self) -> CouchbaseClient:
        return _connect(self.url, self.bucket, self.username, self.password)

    def expiring(self, ttl) -> CouchbaseStore:
        return self if ttl is None else replace(self, expiry=_exptime_s(_ttl_ms(ttl)))

    def fetch(self, client, keys) -> dict:
        return {k: client.get(k) for k in keys}

    def insert(self, client, pairs) -> list[bool]:
        # ADD: status 0x02 KEY_EXISTS is the rejection
        return [client.insert(k, (v or "").encode(), self.expiry) for k, v in pairs]

    def put(self, client, pairs) -> None:
        for k, v in pairs:
            client.upsert(k, (v or "").encode(), self.expiry)

    def remove(self, client, keys) -> None:
        for k in keys:
            client.remove(k)


class CouchbaseCache(RemoteCache):
    """`couchbase` cache backend (cache.go)."""

    def __init__(self, spark, url: str, bucket: str | None = None,
                 username: str | None = None, password: str | None = None,
                 key_col: str = "key", value_col: str = "value",
                 default_ttl=None):
        store = CouchbaseStore(url, bucket, username, password).expiring(default_ttl)
        super().__init__(spark, store, key_col, value_col)


# --------------------------------------------------------------------------
# in-process server (test-grade)
# --------------------------------------------------------------------------


class MiniCouchbaseServer:
    """KV binary-protocol subset for e2e tests: SASL PLAIN, SELECT_BUCKET,
    GET/SET/ADD/REPLACE/DELETE with second-granularity expiry. Not a
    production store — the deliverable is the CLIENT."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 username: str | None = None, password: str | None = None,
                 buckets: tuple[str, ...] = ("default",)):
        self.host, self.port = host, port
        self.username, self.password = username, password
        self._data: dict[str, dict[str, bytes]] = {b: {} for b in buckets}
        self._expiry: dict[tuple[str, str], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def start(self) -> "MiniCouchbaseServer":
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

    def _alive(self, bucket: str, key: str) -> bool:
        import time as _time

        dl = self._expiry.get((bucket, key))
        if dl is not None and _time.monotonic() >= dl:
            self._data[bucket].pop(key, None)
            self._expiry.pop((bucket, key), None)
            return False
        return key in self._data[bucket]

    def _serve(self, conn: socket.socket) -> None:
        import time as _time

        reader = SocketReader(conn, "couchbase")
        bucket = "default" if self.username is None else None
        authed = self.username is None

        read_exact = reader.exact

        def reply(opcode: int, status: int, value: bytes = b"") -> None:
            conn.sendall(_HDR.pack(0x81, opcode, 0, 0, 0, status,
                                   len(value), 0, 0) + value)

        try:
            while not self._stop.is_set():
                magic, op, klen, elen, _dt, _vb, blen, _opq, _cas = _HDR.unpack(
                    read_exact(24))
                if magic != 0x80:
                    return
                body = read_exact(blen)
                extras = body[:elen]
                key = body[elen : elen + klen].decode("utf-8")
                value = body[elen + klen :]
                if op == _OP_SASL_AUTH:
                    parts = value.split(b"\x00")
                    ok = (key == "PLAIN" and len(parts) == 3
                          and parts[1].decode() == (self.username or "")
                          and parts[2].decode() == (self.password or ""))
                    authed = authed or ok
                    reply(op, _ST_OK if ok else 0x0020)
                    continue
                if not authed:
                    reply(op, 0x0020)  # auth error
                    continue
                if op == _OP_SELECT_BUCKET:
                    if key in self._data:
                        bucket = key
                        reply(op, _ST_OK)
                    else:
                        reply(op, _ST_NO_BUCKET)
                    continue
                if bucket is None:
                    reply(op, _ST_NO_BUCKET)
                    continue
                with self._lock:
                    if op == _OP_GET:
                        if self._alive(bucket, key):
                            # 4B flags extras precede the value in GET responses;
                            # the client slices them off via elen... simplified:
                            # reply without extras (elen=0), value only
                            reply(op, _ST_OK, self._data[bucket][key])
                        else:
                            reply(op, _ST_NOT_FOUND)
                    elif op in (_OP_SET, _OP_ADD, _OP_REPLACE):
                        expiry = struct.unpack(">I", extras[4:8])[0] if elen >= 8 else 0
                        exists = self._alive(bucket, key)
                        if op == _OP_ADD and exists:
                            reply(op, _ST_EXISTS)
                            continue
                        if op == _OP_REPLACE and not exists:
                            reply(op, _ST_NOT_FOUND)
                            continue
                        self._data[bucket][key] = value
                        if expiry > 0:
                            self._expiry[(bucket, key)] = _time.monotonic() + expiry
                        else:
                            self._expiry.pop((bucket, key), None)
                        reply(op, _ST_OK)
                    elif op == _OP_DELETE:
                        existed = self._alive(bucket, key)
                        self._data[bucket].pop(key, None)
                        self._expiry.pop((bucket, key), None)
                        reply(op, _ST_OK if existed else _ST_NOT_FOUND)
                    else:
                        reply(op, 0x0081)  # unknown command
        except (ConnectionError, OSError, struct.error):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
