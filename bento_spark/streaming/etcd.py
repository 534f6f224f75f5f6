"""etcd v3 watch input — the etcdserverpb.Watch gRPC stream over the
dependency-free wire layer (streaming/grpc_wire.py), message bodies
encoded/decoded with the repo's own protobuf codec against the published
rpc.proto / kv.proto field numbers.

Reference: internal/impl/etcd/input.go — one watch per input on a key or
prefix, watch options WithPrefix / WithProgressNotify / WithCreatedNotify
/ WithFilterPut / WithFilterDelete / WithRange (input.go:110-157), each
WatchResponse's events flattened to an array of
{key, value, type, version, mod_revision, create_revision, lease}
objects where key/value are strings when valid UTF-8 (util.go:10-36,
Go json marshals []byte as base64 — mirrored here), password auth via
the Auth/Authenticate RPC with the resulting token attached as gRPC
metadata (client.go's auth fields).

Spark-first mapping:
- input -> etcd_watch_bridge holds ONE driver-side watch stream
  (control-plane, like the repo's other push bridges) and spools each
  WatchResponse's flattened event array as one message; the bulk-data
  route into Spark stays the spool file stream.
- clientv3.WithPrefix() == range_end = key with its last byte
  incremented (prefix_range_end below), per the etcd API docs.

MiniEtcdServer implements the server side of Watch and Authenticate on
MiniGrpcServer: token-verified metadata, key/range matching, NOPUT /
NODELETE filters, start_revision replay from history, created / progress
notifications, and live event fan-out — protocol-verifying, not a
database.
"""

from __future__ import annotations

import base64
import json
import threading
import urllib.parse

from bento_spark.operators.protobuf_codec import (
    decode_message,
    encode_message,
    parse_proto,
)
from bento_spark.streaming.bridge import Bridge, close_client
from bento_spark.streaming.grpc_wire import GrpcChannel, MiniGrpcServer

# Published field numbers: etcd api/etcdserverpb/rpc.proto and
# api/mvccpb/kv.proto (the subset the watch input needs).
_ETCD_PROTO = """
syntax = "proto3";
package mvccpb;

message KeyValue {
  bytes key = 1;
  int64 create_revision = 2;
  int64 mod_revision = 3;
  int64 version = 4;
  bytes value = 5;
  int64 lease = 6;
}

message Event {
  enum EventType {
    PUT = 0;
    DELETE = 1;
  }
  EventType type = 1;
  KeyValue kv = 2;
  KeyValue prev_kv = 3;
}
"""

_RPC_PROTO = """
syntax = "proto3";
package etcdserverpb;

message ResponseHeader {
  uint64 cluster_id = 1;
  uint64 member_id = 2;
  int64 revision = 3;
  uint64 raft_term = 4;
}

message WatchRequest {
  WatchCreateRequest create_request = 1;
  WatchCancelRequest cancel_request = 2;
  WatchProgressRequest progress_request = 3;
}

message WatchCreateRequest {
  enum FilterType {
    NOPUT = 0;
    NODELETE = 1;
  }
  bytes key = 1;
  bytes range_end = 2;
  int64 start_revision = 3;
  bool progress_notify = 4;
  repeated FilterType filters = 5;
  bool prev_kv = 6;
  int64 watch_id = 7;
  bool fragment = 8;
}

message WatchCancelRequest {
  int64 watch_id = 1;
}

message WatchProgressRequest {
}

message WatchResponse {
  ResponseHeader header = 1;
  int64 watch_id = 2;
  bool created = 3;
  bool canceled = 4;
  int64 compact_revision = 5;
  string cancel_reason = 6;
  bool fragment = 7;
  repeated mvccpb.Event events = 11;
}

message AuthenticateRequest {
  string name = 1;
  string password = 2;
}

message AuthenticateResponse {
  ResponseHeader header = 1;
  string token = 2;
}
"""

_REG = parse_proto(_ETCD_PROTO)
parse_proto(_RPC_PROTO, _REG)

WATCH_PATH = "/etcdserverpb.Watch/Watch"
AUTH_PATH = "/etcdserverpb.Auth/Authenticate"


def parse_etcd_endpoint(url: str) -> tuple[str, int]:
    """etcd://host:port (the reference's URL list scheme), also accepts
    http:// or a bare host:port; port defaults to 2379."""
    if "//" not in url:
        url = "etcd://" + url
    u = urllib.parse.urlparse(url)
    return u.hostname or "127.0.0.1", u.port or 2379


def prefix_range_end(key: bytes) -> bytes:
    """clientv3.GetPrefixRangeEnd: the key with its last non-0xff byte
    incremented (trailing 0xff bytes dropped); all-0xff -> \\x00 ("end of
    keyspace")."""
    b = bytearray(key)
    for i in range(len(b) - 1, -1, -1):
        if b[i] < 0xFF:
            b[i] += 1
            return bytes(b[: i + 1])
    return b"\x00"


def _key_str(raw: bytes | None):
    """util.go:25-31 — strings when valid UTF-8, else the Go json []byte
    rendering (base64)."""
    raw = raw or b""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return base64.b64encode(raw).decode("ascii")


def events_to_maps(events: list[dict]) -> list[dict]:
    """util.go's etcdEventsToMap flattening; `type` arrives as the enum
    name string ('PUT'/'DELETE') straight from the codec."""
    out = []
    for e in events:
        kv = e.get("kv") or {}
        out.append({
            "key": _key_str(kv.get("key")),
            "value": _key_str(kv.get("value")),
            "type": e.get("type") or "PUT",
            "version": kv.get("version", 0),
            "mod_revision": kv.get("mod_revision", 0),
            "create_revision": kv.get("create_revision", 0),
            "lease": kv.get("lease", 0),
        })
    return out


def build_create_request(key: str, *, with_prefix: bool = False,
                         with_range: str = "",
                         progress_notify: bool = False,
                         filter_put: bool = False,
                         filter_delete: bool = False,
                         start_revision: int = 0) -> dict:
    """Mirror of getWatchOptionsFromConfig (input.go:110-157): prefix and
    range are mutually exclusive range_end spellings."""
    if with_prefix and with_range:
        raise ValueError("etcd: with_prefix and with_range are exclusive")
    kb = key.encode("utf-8")
    req: dict = {"key": kb}
    if with_prefix:
        req["range_end"] = prefix_range_end(kb)
    elif with_range:
        req["range_end"] = with_range.encode("utf-8")
    if progress_notify:
        req["progress_notify"] = True
    filters = []
    if filter_put:
        filters.append("NOPUT")
    if filter_delete:
        filters.append("NODELETE")
    if filters:
        req["filters"] = filters
    if start_revision:
        req["start_revision"] = start_revision
    return req


class EtcdWatcher:
    """One watch stream: authenticate (optional), send the create
    request, iterate WatchResponses as decoded dicts."""

    def __init__(self, endpoints: list[str], *, username: str = "",
                 password: str = "", auth_enabled: bool = False,
                 timeout: float = 15.0):
        last_err: Exception | None = None
        self.channel = None
        for ep in endpoints:  # reference: try each endpoint in turn
            host, port = parse_etcd_endpoint(str(ep))
            try:
                self.channel = GrpcChannel(host, port, timeout=timeout)
                break
            except (ConnectionError, OSError) as e:
                last_err = e
        if self.channel is None:
            raise ConnectionError(f"etcd: no reachable endpoint: {last_err}")
        self.metadata: dict[str, str] = {}
        if auth_enabled:
            resp = self.channel.unary(AUTH_PATH, encode_message(
                {"name": username, "password": password},
                "etcdserverpb.AuthenticateRequest", _REG))
            token = decode_message(
                resp, "etcdserverpb.AuthenticateResponse", _REG)["token"]
            self.metadata["token"] = token
        self.stream = None

    def watch(self, create_request: dict) -> None:
        self.stream = self.channel.open_stream(WATCH_PATH, self.metadata)
        self.stream.send(encode_message(
            {"create_request": create_request},
            "etcdserverpb.WatchRequest", _REG))

    def responses(self):
        """Yields decoded WatchResponse dicts until cancel/close."""
        while True:
            raw = self.stream.recv()
            if raw is None:
                return
            resp = decode_message(raw, "etcdserverpb.WatchResponse", _REG)
            yield resp
            if resp.get("canceled"):
                return

    def close(self) -> None:
        self.channel.close()


def etcd_watch_bridge(endpoints: list[str], key: str, spool_dir: str,
                      with_prefix: bool = False, with_range: str = "",
                      progress_notify: bool = False, filter_put: bool = False,
                      filter_delete: bool = False, created_notify: bool = False,
                      username: str = "", password: str = "",
                      auth_enabled: bool = False) -> Bridge:
    """`etcd` input: watch a key/prefix/range, one spool file per
    WatchResponse carrying the flattened events array (the reference
    emits ONE message per response with the array as its structured
    payload, input.go:195-216). Created/progress notifications with no
    events surface as empty arrays only when the reference would deliver
    them (created notify is opt-in; progress responses always flow).

    A reconnect resumes the watch after the last revision it spooled, as
    clientv3 resumes a watch after a dropped stream (watch.go's nextRev):
    the first watch starts at the server's current revision, and a
    resumed one at the revision after the newest spooled event (or the
    created response's header revision, before any event)."""
    seen = {"rev": 0}  # the newest revision whose events are spooled

    def connect():
        watcher = EtcdWatcher(endpoints, username=username, password=password,
                              auth_enabled=auth_enabled)
        try:
            watcher.channel.conn.sock.settimeout(None)  # long-lived watch
            watcher.watch(build_create_request(
                key, with_prefix=with_prefix, with_range=with_range,
                progress_notify=progress_notify, filter_put=filter_put,
                filter_delete=filter_delete,
                start_revision=seen["rev"] + 1 if seen["rev"] else 0))
            # Block until the server confirms creation: connect returning
            # means the watch horizon is ESTABLISHED, so every mutation
            # after it is observed (the async-create race would otherwise
            # silently drop writes landing before the server snapshot).
            responses = watcher.responses()
            first = next(responses, None) or {}
            if not first.get("created"):
                raise ConnectionError(
                    f"etcd: watch not created: {first.get('cancel_reason', '')}")
        except BaseException:
            close(watcher)
            raise
        if not seen["rev"]:
            seen["rev"] = (first.get("header") or {}).get("revision", 0)
        return watcher, responses, first

    def close(watcher: EtcdWatcher) -> None:
        close_client(watcher.channel.conn.sock)
        watcher.close()

    def messages(conn, stop):
        _watcher, responses, first = conn
        if created_notify:  # clientv3 WithCreatedNotify delivers it
            yield json.dumps(events_to_maps(first.get("events") or [])), {}, None
        for resp in responses:
            raw = resp.get("events") or []
            events = events_to_maps(raw)
            if events or progress_notify:
                rev = raw[-1]["kv"].get("mod_revision", 0) if raw else 0
                yield json.dumps(events), {}, (
                    (lambda rev=rev: seen.update(rev=rev)) if rev else None)
        raise ConnectionError("etcd: the watch stream ended")

    return Bridge("etcd", spool_dir, connect, messages, close=lambda conn: close(conn[0]))


# ---------------------------------------------------------------------------
# in-process server (test-grade)
# ---------------------------------------------------------------------------


class MiniEtcdServer:
    """etcdserverpb.Watch + Auth.Authenticate on MiniGrpcServer: token
    metadata VERIFIED per stream when users are configured, key/range
    matching, NOPUT/NODELETE filters, start_revision replay, created /
    progress / cancel responses, live fan-out to every open watch.
    `put`/`delete` drive the revision history; not a database."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 users: dict[str, str] | None = None):
        self.users = dict(users or {})
        self.revision = 0
        # history: list of event dicts (mvccpb.Event shape)
        self.history: list[dict] = []
        self._versions: dict[bytes, int] = {}
        self._creates: dict[bytes, int] = {}
        self._cond = threading.Condition()
        self._stop = threading.Event()
        self.grpc = MiniGrpcServer(host, port)
        self.grpc.handle(WATCH_PATH, self._watch)
        self.grpc.handle(AUTH_PATH, self._authenticate)

    @property
    def host(self) -> str:
        return self.grpc.host

    @property
    def port(self) -> int:
        return self.grpc.port

    @property
    def endpoint(self) -> str:
        return f"etcd://{self.host}:{self.port}"

    def start(self) -> "MiniEtcdServer":
        self.grpc.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        with self._cond:
            self._cond.notify_all()
        self.grpc.stop()

    # -- data plane ---------------------------------------------------------

    def put(self, key: str | bytes, value: str | bytes,
            lease: int = 0) -> int:
        kb = key.encode() if isinstance(key, str) else bytes(key)
        vb = value.encode() if isinstance(value, str) else bytes(value)
        with self._cond:
            self.revision += 1
            if kb not in self._creates:
                self._creates[kb] = self.revision
            self._versions[kb] = self._versions.get(kb, 0) + 1
            self.history.append({"type": "PUT", "kv": {
                "key": kb, "value": vb, "lease": lease,
                "version": self._versions[kb],
                "create_revision": self._creates[kb],
                "mod_revision": self.revision}})
            self._cond.notify_all()
            return self.revision

    def delete(self, key: str | bytes) -> int:
        kb = key.encode() if isinstance(key, str) else bytes(key)
        with self._cond:
            self.revision += 1
            self._versions.pop(kb, None)
            self._creates.pop(kb, None)
            # etcd DELETE event kv carries key + mod_revision only
            self.history.append({"type": "DELETE", "kv": {
                "key": kb, "mod_revision": self.revision}})
            self._cond.notify_all()
            return self.revision

    # -- rpc handlers -------------------------------------------------------

    def _authenticate(self, st) -> None:
        raw = st.recv(timeout=15)
        if raw is None:
            st.close(status=3, message="missing request")
            return
        req = decode_message(raw, "etcdserverpb.AuthenticateRequest", _REG)
        if self.users.get(req.get("name", "")) != req.get("password", ""):
            st.close(status=16,
                     message="etcdserver: authentication failed, invalid "
                             "user ID or password")
            return
        st.send(encode_message(
            {"header": {"revision": self.revision},
             "token": f"tok.{req['name']}"},
            "etcdserverpb.AuthenticateResponse", _REG))
        st.close()

    def _check_token(self, st) -> bool:
        if not self.users:
            return True
        token = st.headers.get("token", "")
        ok = token.startswith("tok.") and token[4:] in self.users
        if not ok:
            st.close(status=16, message="etcdserver: invalid auth token")
        return ok

    @staticmethod
    def _matches(kb: bytes, key: bytes, range_end: bytes) -> bool:
        if not range_end:
            return kb == key
        if range_end == b"\x00":
            return kb >= key
        return key <= kb < range_end

    def _watch(self, st) -> None:
        if not self._check_token(st):
            return
        raw = st.recv(timeout=15)
        if raw is None:
            st.close()
            return
        req = decode_message(raw, "etcdserverpb.WatchRequest", _REG)
        create = req.get("create_request")
        if not create:
            st.close(status=3, message="expected create_request first")
            return
        key = create.get("key") or b""
        range_end = create.get("range_end") or b""
        filters = set(create.get("filters") or [])
        start_rev = create.get("start_revision", 0)
        watch_id = create.get("watch_id") or 1

        def respond(extra: dict, revision: int | None = None) -> None:
            st.send(encode_message(
                {"header": {"revision": self.revision if revision is None else revision},
                 "watch_id": watch_id, **extra},
                "etcdserverpb.WatchResponse", _REG))

        # snapshot the horizon BEFORE confirming creation: everything the
        # client mutates after seeing `created` must be observed, and the
        # created header names the horizon a client resumes after
        with self._cond:
            sent = 0 if start_rev else len(self.history)
            horizon = self.revision
        respond({"created": True}, horizon)
        if create.get("progress_notify"):
            respond({})  # 10-minute timer in real etcd; immediate for tests

        # a cancel request may arrive concurrently with event fan-out
        cancelled = threading.Event()

        def read_client() -> None:
            try:
                while True:
                    msg = st.recv()
                    if msg is None:
                        break
                    r = decode_message(msg, "etcdserverpb.WatchRequest", _REG)
                    if r.get("cancel_request"):
                        break
                    if r.get("progress_request"):
                        respond({})
            except (ConnectionError, OSError):
                pass
            finally:
                cancelled.set()
                with self._cond:
                    self._cond.notify_all()

        threading.Thread(target=read_client, daemon=True).start()

        def visible(ev: dict) -> bool:
            if not self._matches(ev["kv"]["key"], key, range_end):
                return False
            if ev["type"] == "PUT" and "NOPUT" in filters:
                return False
            if ev["type"] == "DELETE" and "NODELETE" in filters:
                return False
            return True

        try:
            while not self._stop.is_set() and not cancelled.is_set():
                with self._cond:
                    pending = [e for e in self.history[sent:]
                               if visible(e) and (
                                   not start_rev
                                   or e["kv"]["mod_revision"] >= start_rev)]
                    sent = len(self.history)
                    if not pending:
                        self._cond.wait(timeout=0.2)
                        continue
                respond({"events": pending})
        finally:
            try:
                respond({"canceled": True})
                st.close()
            except (ConnectionError, OSError):
                pass
