"""Cloud Spanner change-stream (CDC) input.

Reference: internal/impl/gcp/input_spanner_cdc.go — one root change-stream
query `SELECT ChangeRecord FROM READ_<stream>(@start_timestamp,
@end_timestamp, @partition_token, @heartbeat_milliseconds)`
(input_spanner_cdc.go:356-370), recursive readers for every child
partition with token-dedup (:342-420), one message per MOD carrying
{keys, new_values, old_values} (types/spanner.go Mod.ToMap:78-94) with the
gcp_spanner_* metadata fields (:33-37).

Transport: the published Spanner REST v1 surface — sessions.create,
sessions:executeSql, and sessions:executeStreamingSql whose response is a
stream of google.spanner.v1.PartialResultSet objects: a flat `values`
list cut into chunks, `chunkedValue: true` marking a value split across
chunks (strings concatenate; lists concatenate with a recursive merge of
the boundary elements — the documented resumption rule). Typed decode
follows ResultSetMetadata.rowType (INT64 as decimal strings, STRUCT as
field-ordered lists, JSON as encoded strings). Auth is the Pub/Sub
connector's RS256 service-account JWT-bearer flow (streaming/pubsub.py).

Spark-first mapping: the partition tree is a driver-side watcher (control
plane — the reference is also a goroutine tree in one process); each mod
spools as one durable message and the replayable file stream is the bulk
route into Spark.
"""

from __future__ import annotations

import json
import threading
import time

from bento_spark.streaming import rest
from bento_spark.streaming.bridge import Bridge, FanIn
from bento_spark.streaming.pubsub import ServiceAccountToken, bearer_headers
from bento_spark.streaming.reader import hang_up

_JSONDecoder = json.JSONDecoder()


# ---------------------------------------------------------------------------
# typed decode — ResultSetMetadata.rowType driven
# ---------------------------------------------------------------------------


def decode_value(v, t: dict):
    """One REST-encoded value -> python, per its google.spanner.v1.Type."""
    if v is None:
        return None
    code = t.get("code")
    if code == "INT64":
        return int(v)
    if code == "FLOAT64":
        return float(v)  # also accepts the "NaN"/"Infinity" strings
    if code == "BOOL":
        return bool(v)
    if code == "JSON":
        return json.loads(v) if isinstance(v, str) else v
    if code == "ARRAY":
        return [decode_value(x, t["arrayElementType"]) for x in v]
    if code == "STRUCT":
        fields = t["structType"]["fields"]
        return {f["name"]: decode_value(x, f["type"])
                for f, x in zip(fields, v)}
    return v  # STRING / TIMESTAMP / DATE / BYTES(base64) stay as sent


def merge_chunked(a, b):
    """PartialResultSet chunkedValue resumption: strings concatenate;
    lists concatenate, recursively merging the boundary elements when
    both are strings or both are lists (the documented rule)."""
    if isinstance(a, str) and isinstance(b, str):
        return a + b
    if isinstance(a, list) and isinstance(b, list):
        if a and b and (
            (isinstance(a[-1], str) and isinstance(b[0], str))
            or (isinstance(a[-1], list) and isinstance(b[0], list))
        ):
            return a[:-1] + [merge_chunked(a[-1], b[0])] + b[1:]
        return a + b
    raise ValueError(
        f"spanner: cannot merge chunked {type(a).__name__}/{type(b).__name__}")


# ---------------------------------------------------------------------------
# REST client
# ---------------------------------------------------------------------------


class SpannerClient:
    """Minimal synchronous Spanner REST v1 client: create sessions,
    executeSql, and executeStreamingSql with incremental parsing of the
    chunked-JSON PartialResultSet array. `credentials` = service-account
    dict (client_email / private_key / token_uri) -> JWT-bearer flow;
    None = unauthenticated (the emulator contract)."""

    def __init__(self, dsn: str, endpoint: str = "https://spanner.googleapis.com",
                 credentials: dict | None = None, timeout: float = 60.0):
        self.dsn = dsn.strip("/")  # projects/p/instances/i/databases/d
        self._ep = rest.Endpoint(endpoint, timeout)
        self._token = (None if credentials is None
                       else ServiceAccountToken(credentials, "spanner", timeout))
        self._open_conns: list = []  # live streaming conns, closed by close()
        self._lock = threading.Lock()
        self.closed = False

    def _headers(self) -> dict[str, str]:
        return bearer_headers(self._token, {"Content-Type": "application/json"})

    def _call(self, path: str, body: dict) -> dict:
        _, data, _ = rest.call(self._ep, "POST", path,
                          json.dumps(body).encode("utf-8"), self._headers,
                          name="spanner")
        return json.loads(data) if data else {}

    # -- sessions & queries --------------------------------------------------
    def create_session(self) -> str:
        resp = self._call(f"/v1/{self.dsn}/sessions", {})
        return resp["name"]

    def execute_sql(self, session: str, sql: str, params: dict | None = None,
                    param_types: dict | None = None) -> list[list]:
        body: dict = {"sql": sql}
        if params:
            body["params"] = params
            body["paramTypes"] = param_types or {}
        resp = self._call(f"/v1/{session}:executeSql", body)
        fields = (resp.get("metadata", {}).get("rowType", {})
                  .get("fields") or [])
        return [[decode_value(v, f["type"]) for v, f in zip(row, fields)]
                for row in resp.get("rows") or []]

    def execute_streaming_sql(self, session: str, sql: str,
                              params: dict | None = None,
                              param_types: dict | None = None):
        """POST :executeStreamingSql and yield each decoded row as it
        arrives: incremental parse of the streamed JSON array of
        PartialResultSet objects, with chunkedValue resumption and row
        re-assembly from the flat values stream."""
        body: dict = {"sql": sql}
        if params:
            body["params"] = params
            body["paramTypes"] = param_types or {}
        headers = self._headers()
        conn = self._ep.connect()
        with self._lock:
            if self.closed:
                conn.close()
                raise ConnectionError("spanner: client closed")
            self._open_conns.append(conn)
        try:
            conn.request("POST", f"/v1/{session}:executeStreamingSql",
                         body=json.dumps(body).encode("utf-8"),
                         headers=headers)
            resp = conn.getresponse()
            if resp.status // 100 != 2:
                raise ConnectionError(
                    f"spanner: executeStreamingSql -> {resp.status} "
                    f"{resp.read()[:200]!r}")

            fields: list | None = None
            values: list = []  # flat column-value buffer
            pending = None  # trailing chunk awaiting resumption
            buf = ""
            opened = done = False

            def feed(prs: dict) -> list[list]:
                nonlocal fields, pending
                if fields is None and "metadata" in prs:
                    fields = (prs["metadata"].get("rowType", {})
                              .get("fields") or [])
                vals = list(prs.get("values") or [])
                if pending is not None:
                    if not vals:
                        return []
                    vals[0] = merge_chunked(pending, vals[0])
                    pending = None
                if prs.get("chunkedValue"):
                    if not vals:
                        raise ConnectionError(
                            "spanner: chunkedValue with no values")
                    pending = vals.pop()
                values.extend(vals)
                width = len(fields or [])
                rows = []
                while width and len(values) >= width:
                    raw = values[:width]
                    del values[:width]
                    rows.append([decode_value(v, f["type"])
                                 for v, f in zip(raw, fields)])
                return rows

            while not done:
                chunk = resp.read(65536)
                if not chunk:
                    break
                buf += chunk.decode("utf-8")
                while True:
                    buf = buf.lstrip()
                    if not buf:
                        break
                    if not opened:
                        if buf[0] != "[":
                            raise ConnectionError(
                                f"spanner: expected stream array, got "
                                f"{buf[:20]!r}")
                        buf = buf[1:]
                        opened = True
                        continue
                    if buf[0] == ",":
                        buf = buf[1:]
                        continue
                    if buf[0] == "]":
                        done = True
                        break
                    try:
                        obj, end = _JSONDecoder.raw_decode(buf)
                    except json.JSONDecodeError:
                        break  # need more bytes
                    buf = buf[end:]
                    yield from feed(obj)
            if pending is not None:
                raise ConnectionError("spanner: stream ended mid-chunk")
            if values:
                raise ConnectionError("spanner: stream ended mid-row")
        finally:
            with self._lock:
                if conn in self._open_conns:
                    self._open_conns.remove(conn)
            conn.close()

    def close(self) -> None:
        with self._lock:
            self.closed = True
            conns = list(self._open_conns)
            self._open_conns.clear()
        for c in conns:
            if c.sock is not None:
                hang_up(c.sock)  # wakes a reader blocked on the stream
            try:
                c.close()
            except OSError:
                pass


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def spanner_cdc_bridge(dsn: str, stream_name: str, spool_dir: str,
                       start_time: str | None = None, end_time: str | None = None,
                       heartbeat_ms: int = 3000,
                       endpoint: str = "https://spanner.googleapis.com",
                       credentials: dict | None = None) -> Bridge:
    """`gcp_spanner_cdc` input: the reference's partition tree. The root
    query (partition_token NULL) yields data changes and child-partition
    records; every child is read as its own stream, with token dedup so a
    partition announced by two parents reads once (input_spanner_cdc.go
    trackPartition). One spool file per mod: the body is the Mod.ToMap
    JSON, the header the reference's gcp_spanner_* metadata
    (input_spanner_cdc.go:33-37). The bridge finishes when every
    partition has ended (an `end_time` was given). `start_time` None is
    the time the bridge is made (the reference's default)."""
    start_time = start_time or time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    sql = (f"SELECT ChangeRecord FROM READ_{stream_name} ("
           "@start_timestamp, @end_timestamp, @partition_token, "
           "@heartbeat_milliseconds)")
    types = {
        "start_timestamp": {"code": "TIMESTAMP"},
        "end_timestamp": {"code": "TIMESTAMP"},
        "partition_token": {"code": "STRING"},
        "heartbeat_milliseconds": {"code": "INT64"},
    }

    def connect():
        client = SpannerClient(dsn, endpoint=endpoint, credentials=credentials)
        session = client.create_session()
        # Connect()'s health probe (input_spanner_cdc.go:222-226)
        if client.execute_sql(session, "SELECT 1") != [[1]]:
            raise ConnectionError("spanner: health check did not return 1")
        return client, session

    def mod_message(dc: dict, mod: dict):
        out = {k: mod[k] for k in ("keys", "new_values", "old_values")
               if mod.get(k) is not None}  # Mod.ToMap: only valid fields
        return json.dumps(out), {
            "gcp_spanner_commit_timestamp": dc.get("commit_timestamp"),
            "gcp_spanner_cdc_mod_type": dc.get("mod_type"),
            "gcp_spanner_table_name": dc.get("table_name"),
            "gcp_spanner_cdc_server_transaction_id": dc.get("server_transaction_id"),
            "gcp_spanner_cdc_record_sequence": dc.get("record_sequence")}, None

    def messages(conn, stop):
        client, session = conn
        fan, tokens, lock = FanIn(stop), set(), threading.Lock()

        def partition(token: str | None, start_ts: str):
            params = {"start_timestamp": start_ts, "end_timestamp": end_time,
                      "partition_token": token,
                      "heartbeat_milliseconds": str(heartbeat_ms)}
            for row in client.execute_streaming_sql(session, sql, params=params,
                                                    param_types=types):
                for rec in row[0] or []:
                    for dc in rec.get("data_change_record") or []:
                        for mod in dc.get("mods") or []:
                            yield mod_message(dc, mod)
                    for cp in rec.get("child_partitions_record") or []:
                        for child in cp.get("child_partitions") or []:
                            with lock:
                                if child["token"] in tokens:
                                    continue
                                tokens.add(child["token"])
                            fan.add(partition(child["token"], cp["start_timestamp"]))

        fan.add(partition(None, start_time))
        return fan

    return Bridge("gcp_spanner_cdc", spool_dir, connect, messages,
                  close=lambda conn: conn[0].close())


# ---------------------------------------------------------------------------
# in-process server (test-grade)
# ---------------------------------------------------------------------------

# ChangeRecord's google.spanner.v1.Type tree (the subset the input reads)
_MOD_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "keys", "type": {"code": "JSON"}},
    {"name": "new_values", "type": {"code": "JSON"}},
    {"name": "old_values", "type": {"code": "JSON"}},
]}}
_DCR_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "commit_timestamp", "type": {"code": "TIMESTAMP"}},
    {"name": "record_sequence", "type": {"code": "STRING"}},
    {"name": "server_transaction_id", "type": {"code": "STRING"}},
    {"name": "table_name", "type": {"code": "STRING"}},
    {"name": "mod_type", "type": {"code": "STRING"}},
    {"name": "mods", "type": {"code": "ARRAY", "arrayElementType": _MOD_T}},
]}}
_CHILD_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "token", "type": {"code": "STRING"}},
    {"name": "parent_partition_tokens",
     "type": {"code": "ARRAY", "arrayElementType": {"code": "STRING"}}},
]}}
_CPR_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "start_timestamp", "type": {"code": "TIMESTAMP"}},
    {"name": "record_sequence", "type": {"code": "STRING"}},
    {"name": "child_partitions",
     "type": {"code": "ARRAY", "arrayElementType": _CHILD_T}},
]}}
_HB_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "timestamp", "type": {"code": "TIMESTAMP"}},
]}}
_RECORD_T = {"code": "STRUCT", "structType": {"fields": [
    {"name": "data_change_record",
     "type": {"code": "ARRAY", "arrayElementType": _DCR_T}},
    {"name": "heartbeat_record",
     "type": {"code": "ARRAY", "arrayElementType": _HB_T}},
    {"name": "child_partitions_record",
     "type": {"code": "ARRAY", "arrayElementType": _CPR_T}},
]}}
CHANGE_RECORD_METADATA = {"rowType": {"fields": [
    {"name": "ChangeRecord",
     "type": {"code": "ARRAY", "arrayElementType": _RECORD_T}},
]}}


def _enc_mod(keys: dict | None, new: dict | None, old: dict | None) -> list:
    return [None if v is None else json.dumps(v) for v in (keys, new, old)]


def data_change_value(table: str, mod_type: str, mods: list[tuple],
                      commit_ts: str, seq: str = "00000001",
                      txn: str = "txn-1") -> list:
    """One ChangeRecord COLUMN value (ARRAY of one record struct, REST
    field-ordered lists) holding a single data_change_record."""
    return [[[[commit_ts, seq, txn, table, mod_type,
               [_enc_mod(*m) for m in mods]]], [], []]]


def child_partitions_value(start_ts: str, tokens: list[str],
                           parents: list[str] | None = None,
                           seq: str = "00000000") -> list:
    return [[[], [], [[start_ts, seq,
                       [[t, parents or []] for t in tokens]]]]]


class MiniSpannerServer:
    """Spanner REST v1 subset for e2e tests: the Pub/Sub-style
    assertion-VERIFYING OAuth token endpoint, sessions.create,
    executeSql (the SELECT 1 health probe), and executeStreamingSql for
    READ_<stream> queries — streamed as a chunked JSON array of
    PartialResultSets, deliberately splitting one value across chunks
    with chunkedValue to exercise the documented resumption rule.
    Partition contents are scripted via `partitions`: token (None=root)
    -> list of ChangeRecord values."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 service_accounts: dict[str, str] | None = None):
        self.host, self.port = host, port
        self.service_accounts = dict(service_accounts or {})
        self.partitions: dict[str | None, list] = {None: []}
        self.queries: list[dict] = []  # recorded executeStreamingSql bodies
        self._tokens: set[str] = set()
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    @property
    def token_uri(self) -> str:
        return f"{self.endpoint}/token"

    def add_records(self, token: str | None, value: list) -> None:
        with self._lock:
            self.partitions.setdefault(token, []).append(value)

    def start(self) -> "MiniSpannerServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if not svc.service_accounts:
                    return True
                auth = self.headers.get("Authorization", "")
                return auth.removeprefix("Bearer ") in svc._tokens

            def _handle_token(self, payload: bytes) -> None:
                import base64
                import urllib.parse as up

                from bento_spark.functions.crypto_prims import (
                    parse_rsa_public,
                    rsa_verify,
                )

                form = up.parse_qs(payload.decode("ascii"))
                assertion = (form.get("assertion") or [""])[0]
                try:
                    h, c, s = assertion.split(".")
                    pad = lambda x: x + "=" * (-len(x) % 4)  # noqa: E731
                    claims = json.loads(base64.urlsafe_b64decode(pad(c)))
                    pub = svc.service_accounts.get(claims.get("iss", ""))
                    if pub is None:
                        return self._reply(401, {"error": "unknown client"})
                    if not rsa_verify(parse_rsa_public(pub),
                                      f"{h}.{c}".encode("ascii"),
                                      base64.urlsafe_b64decode(pad(s)), 256):
                        return self._reply(401, {"error": "invalid_grant"})
                except (ValueError, KeyError):
                    return self._reply(400, {"error": "malformed assertion"})
                with svc._lock:
                    svc._seq += 1
                    tok = f"ya29.mini-{svc._seq}"
                    svc._tokens.add(tok)
                return self._reply(200, {"access_token": tok,
                                         "token_type": "Bearer",
                                         "expires_in": 3600})

            @staticmethod
            def _split_value(v):
                """(a, b) with merge_chunked(a, b) == v, splitting at the
                deepest trailing string — the shape a real server's chunk
                boundary produces; (None, None) when nothing splittable."""
                if isinstance(v, str) and len(v) >= 2:
                    return v[:1], v[1:]
                if isinstance(v, list) and v:
                    la, lb = Handler._split_value(v[-1])
                    if la is not None:
                        return v[:-1] + [la], [lb]
                return None, None

            def _stream_partition(self, body: dict) -> None:
                with svc._lock:
                    svc.queries.append(body)
                token = (body.get("params") or {}).get("partition_token")
                with svc._lock:
                    records = list(svc.partitions.get(token) or [])
                chunks: list[dict] = []
                first = {"metadata": CHANGE_RECORD_METADATA, "values": []}
                chunks.append(first)
                for i, value in enumerate(records):
                    if i == 0:
                        # split the first value across two PartialResultSets
                        # via chunkedValue (deep string-boundary merge rule)
                        a, b = self._split_value(value)
                        if a is not None:
                            chunks.append({"values": [a],
                                           "chunkedValue": True})
                            chunks.append({"values": [b]})
                            continue
                    chunks.append({"values": [value]})
                payload = "[" + ",".join(
                    json.dumps(c) for c in chunks) + "]"
                data = payload.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                # dribble the body so the client's incremental parser is
                # genuinely exercised
                for i in range(0, len(data), 53):
                    self.wfile.write(data[i: i + 53])
                    self.wfile.flush()

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                if self.path == "/token":
                    return self._handle_token(payload)
                if not self._authed():
                    return self._reply(401, {"error": "unauthorized"})
                if self.path.endswith("/sessions"):
                    with svc._lock:
                        svc._seq += 1
                        name = (self.path[4:-len("/sessions")]
                                + f"/sessions/s{svc._seq}")
                    return self._reply(200, {"name": name})
                body = json.loads(payload) if payload else {}
                if self.path.endswith(":executeSql"):
                    if body.get("sql", "").strip() == "SELECT 1":
                        return self._reply(200, {
                            "metadata": {"rowType": {"fields": [
                                {"name": "", "type": {"code": "INT64"}}]}},
                            "rows": [["1"]],
                        })
                    return self._reply(400, {"error": "unsupported sql"})
                if self.path.endswith(":executeStreamingSql"):
                    return self._stream_partition(body)
                return self._reply(404, {"error": f"no route {self.path}"})

        srv = http.server.ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = srv.server_address[1]
        self._srv = srv
        self._thread = threading.Thread(target=srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv = None
