"""`hdfs` connector over the WebHDFS REST API (public Hadoop spec),
dependency-free.

Reference (/root/reference/internal/impl/hdfs/input.go, output.go): the
input consumes each file of a directory as one message (one listing pass,
then done); the output writes each message as a file at the interpolated
`directory`/`path`, creating the directory. The reference speaks the
native protobuf RPC through colinmarc/hdfs; this implementation uses
WebHDFS — the SAME contract over the cluster's public REST surface
(hadoop.apache.org WebHDFS spec): LISTSTATUS, OPEN and two-step CREATE
(namenode answers 307 with the datanode Location, data goes to that URL),
MKDIRS, with `user.name` simple auth — exactly the reference's user
field.

Spark-first split, same as the other object-store connectors: the spool
bridge makes the input a replayable file source (exactly-once
downstream); the sink writes executor-side, one pooled client per
partition. On a real cluster the BULK path is Spark's native hdfs://
reader (gated in gating.require_object_store); this connector is the
message-level semantics (file == message) the reference provides.
"""

from __future__ import annotations

import functools
import json
import threading

from bento_spark.streaming.bridge import Bridge


class RemoteError(ConnectionError):
    """The namenode's or datanode's answer to a request: an HTTP 4xx
    carrying a RemoteException (a missing file, a denied user)."""


class WebHdfsClient:
    """LISTSTATUS / OPEN / CREATE / MKDIRS against a namenode list with
    in-order host failover (input.go hosts field). Bounded retry on
    transport errors / 5xx; one redirect hop followed per the spec."""

    def __init__(self, hosts: list[str] | str, user: str = "bento",
                 timeout: float = 30.0):
        if isinstance(hosts, str):
            hosts = [hosts]
        self.hosts = [h if "://" in h else f"http://{h}" for h in hosts]
        self.user = user
        self.timeout = timeout

    # -- plumbing -----------------------------------------------------------
    def _one(self, base: str, method: str, path: str, op: str,
             params: dict[str, str], body: bytes | None
             ) -> tuple[int, bytes, dict[str, str]]:
        import http.client
        import urllib.parse

        u = urllib.parse.urlsplit(base)
        cls = (http.client.HTTPSConnection if u.scheme == "https"
               else http.client.HTTPConnection)
        q = urllib.parse.urlencode({"op": op, "user.name": self.user, **params})
        target = "/webhdfs/v1" + urllib.parse.quote(path) + "?" + q
        conn = cls(u.hostname, u.port or (443 if u.scheme == "https" else 80),
                   timeout=self.timeout)
        try:
            headers = {"Content-Type": "application/octet-stream"} if body is not None else {}
            conn.request(method, target, body=body, headers=headers)
            resp = conn.getresponse()
            data = resp.read()
            return resp.status, data, {k.lower(): v for k, v in resp.getheaders()}
        finally:
            conn.close()

    def _raw(self, method: str, url: str, body: bytes | None
             ) -> tuple[int, bytes]:
        import http.client
        import urllib.parse

        u = urllib.parse.urlsplit(url)
        cls = (http.client.HTTPSConnection if u.scheme == "https"
               else http.client.HTTPConnection)
        conn = cls(u.hostname, u.port or (443 if u.scheme == "https" else 80),
                   timeout=self.timeout)
        try:
            target = u.path + (f"?{u.query}" if u.query else "")
            headers = {"Content-Type": "application/octet-stream"} if body is not None else {}
            conn.request(method, target, body=body, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _call(self, method: str, path: str, op: str,
              params: dict[str, str] | None = None, body: bytes | None = None,
              retries: int = 2) -> tuple[int, bytes, dict[str, str]]:
        last: Exception | None = None
        for _attempt in range(retries + 1):
            for base in self.hosts:
                try:
                    # spec two-step: data-carrying ops send NO body to the
                    # namenode; it answers 307 with the datanode Location
                    # and the data goes there
                    status, data, hdrs = self._one(
                        base, method, path, op, params or {}, None)
                    if status == 307 and hdrs.get("location"):
                        status, data = self._raw(method, hdrs["location"], body)
                        hdrs = {}
                    elif body is not None and status < 300:
                        last = ConnectionError(
                            f"webhdfs {op}: expected 307 redirect for the "
                            f"data step, got HTTP {status}")
                        continue
                    if status >= 500:
                        last = ConnectionError(f"webhdfs {op}: HTTP {status}")
                        continue
                    return status, data, hdrs
                except OSError as e:
                    last = e
                    continue
        raise ConnectionError(f"webhdfs {op} {path}: all hosts failed: {last}")

    @staticmethod
    def _check(status: int, data: bytes, op: str, path: str) -> None:
        if status >= 400:
            try:
                msg = json.loads(data)["RemoteException"]["message"]
            except (ValueError, KeyError):
                msg = data[:200].decode("utf-8", "replace")
            raise RemoteError(f"webhdfs {op} {path}: HTTP {status}: {msg}")

    # -- operations ----------------------------------------------------------
    def list_status(self, directory: str) -> list[dict]:
        status, data, _ = self._call("GET", directory, "LISTSTATUS")
        self._check(status, data, "LISTSTATUS", directory)
        return json.loads(data)["FileStatuses"]["FileStatus"]

    def open(self, path: str) -> bytes:
        status, data, _ = self._call("GET", path, "OPEN")
        self._check(status, data, "OPEN", path)
        return data

    def create(self, path: str, data: bytes, overwrite: bool = True) -> None:
        status, body, _ = self._call(
            "PUT", path, "CREATE",
            params={"overwrite": "true" if overwrite else "false"}, body=data)
        self._check(status, body, "CREATE", path)

    def mkdirs(self, path: str) -> None:
        status, data, _ = self._call("PUT", path, "MKDIRS")
        self._check(status, data, "MKDIRS", path)


def hdfs_sink(hosts: list[str] | str, user: str,
              dir_col: str = "_hdfs_dir", path_col: str = "_hdfs_path",
              value_col: str | None = None):
    """`hdfs` output (output.go): one CREATE per row at
    `directory`/`path`, both interpolated COLUMNS (repo connector-sink
    convention); the directory is MKDIRS'd once per distinct value per
    partition. Body = value_col raw when named, else the row as JSON."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        made = set()
        for row in rows:
            if row.d not in made:
                client.mkdirs(row.d)
                made.add(row.d)
            client.create(row.d.rstrip("/") + "/" + row.p, (row.v or "").encode("utf-8"))

    def write_batch(batch_df, epoch_id: int) -> None:
        body = (F.col(value_col).cast("string") if value_col
                else json_body(batch_df, dir_col, path_col))
        payloads = batch_df.select(
            F.col(dir_col).alias("d"), F.col(path_col).alias("p"), body.alias("v"))
        write_partitions(payloads, functools.partial(WebHdfsClient, hosts, user=user),
                         send)

    return write_batch


def hdfs_bridge(hosts: list[str] | str, user: str, directory: str, spool_dir: str) -> Bridge:
    """`hdfs` input (input.go): one LISTSTATUS pass over `directory`,
    each FILE fetched and spooled as one durable message file, then the
    bridge finishes; the reference consumes the listing and stops too.
    At-least-once: the spool put is the ack. The namenode's answer to the
    listing (a missing directory, a denied user) fails the bridge: a
    retry would get the same answer."""

    def messages(client: WebHdfsClient, stop):
        try:
            statuses = client.list_status(directory)
        except RemoteError as e:
            raise RuntimeError(str(e)) from e
        for st in statuses:
            if stop.is_set():
                return
            if st.get("type") != "FILE":
                continue
            name_part = st["pathSuffix"]
            body = client.open(directory.rstrip("/") + "/" + name_part)
            yield body, {"hdfs_path": name_part,
                         "hdfs_modified_ms": int(st.get("modificationTime", 0))}, None

    return Bridge("hdfs", spool_dir, functools.partial(WebHdfsClient, hosts, user=user),
                  messages)


class MiniWebHdfsServer:
    """WebHDFS REST subset for e2e tests: LISTSTATUS / OPEN / two-step
    CREATE (namenode answers 307 with a datanode Location on THIS server;
    the data PUT must carry the body) / MKDIRS. Requests without
    `user.name` are rejected 401 — pinning the simple-auth contract."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.files: dict[str, bytes] = {}
        self.dirs: set[str] = {"/"}
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "MiniWebHdfsServer":
        import http.server
        import urllib.parse

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj=None, raw: bytes | None = None,
                       extra: dict | None = None) -> None:
                body = (raw if raw is not None
                        else (json.dumps(obj).encode() if obj is not None else b""))
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _parse(self):
                u = urllib.parse.urlsplit(self.path)
                if not u.path.startswith("/webhdfs/v1"):
                    return None
                q = dict(urllib.parse.parse_qsl(u.query))
                return urllib.parse.unquote(u.path[len("/webhdfs/v1"):]) or "/", q

            def do_GET(self):  # noqa: N802
                parsed = self._parse()
                if parsed is None:
                    return self._reply(404, {"RemoteException": {"message": "bad path"}})
                path, q = parsed
                if "user.name" not in q:
                    return self._reply(401, {"RemoteException": {"message": "no user"}})
                op = q.get("op", "").upper()
                with svc._lock:
                    if op == "LISTSTATUS":
                        if path not in svc.dirs:
                            return self._reply(404, {"RemoteException": {
                                "message": f"{path} not found"}})
                        prefix = path.rstrip("/") + "/"
                        out = []
                        for f, body in sorted(svc.files.items()):
                            if f.startswith(prefix) and "/" not in f[len(prefix):]:
                                out.append({"pathSuffix": f[len(prefix):],
                                            "type": "FILE",
                                            "length": len(body),
                                            "modificationTime": 1704067200000})
                        for d in sorted(svc.dirs):
                            if d.startswith(prefix) and d != path and "/" not in d[len(prefix):].rstrip("/"):
                                out.append({"pathSuffix": d[len(prefix):].rstrip("/"),
                                            "type": "DIRECTORY", "length": 0,
                                            "modificationTime": 1704067200000})
                        return self._reply(200, {"FileStatuses": {"FileStatus": out}})
                    if op == "OPEN":
                        if path not in svc.files:
                            return self._reply(404, {"RemoteException": {
                                "message": f"{path} not found"}})
                        return self._reply(200, raw=svc.files[path],
                                           extra={"Content-Type":
                                                  "application/octet-stream"})
                return self._reply(400, {"RemoteException": {"message": f"bad op {op}"}})

            def do_PUT(self):  # noqa: N802
                parsed = self._parse()
                if parsed is None:
                    return self._reply(404, {"RemoteException": {"message": "bad path"}})
                path, q = parsed
                if "user.name" not in q:
                    return self._reply(401, {"RemoteException": {"message": "no user"}})
                op = q.get("op", "").upper()
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n) if n else b""
                with svc._lock:
                    if op == "MKDIRS":
                        parts = [p for p in path.split("/") if p]
                        for i in range(1, len(parts) + 1):
                            svc.dirs.add("/" + "/".join(parts[:i]))
                        return self._reply(200, {"boolean": True})
                    if op == "CREATE":
                        if (q.get("overwrite", "true") == "false"
                                and path in svc.files):
                            # the real namenode rejects at step 1
                            return self._reply(403, {"RemoteException": {
                                "message": f"{path} already exists"}})
                        if q.get("redirected") != "true":
                            # spec: namenode 307s to the datanode URL; the
                            # client must re-send the data there
                            loc = (f"{svc.endpoint}/webhdfs/v1"
                                   f"{urllib.parse.quote(path)}?op=CREATE"
                                   f"&user.name={q.get('user.name')}"
                                   f"&redirected=true")
                            return self._reply(307, raw=b"", extra={"Location": loc})
                        if q.get("overwrite", "true") == "false" and path in svc.files:
                            return self._reply(403, {"RemoteException": {
                                "message": f"{path} already exists"}})
                        svc.files[path] = body
                        return self._reply(201, raw=b"")
                return self._reply(400, {"RemoteException": {"message": f"bad op {op}"}})

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv = None
