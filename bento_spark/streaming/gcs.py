"""GCP Cloud Storage input/output/cache — dependency-free client over the
public GCS JSON API (storage/v1 objects list/get/insert/delete with
`alt=media` downloads and `uploadType=media` uploads), authenticated via
the same RS256 service-account JWT-bearer OAuth flow the Pub/Sub
connector implements (streaming/pubsub.py `build_assertion`), plus an
in-process bucket service whose token endpoint VERIFIES the assertion.

Reference: internal/impl/gcp/input_cloud_storage.go (bucket, prefix,
delete_objects; gcs_* metadata at input_cloud_storage.go:312-317),
output_cloud_storage.go (interpolated path/content_type, collision_mode
overwrite|append|error-if-exists|ignore), cache_cloud_storage.go (one
object per key). The reference uses cloud.google.com/go/storage; no GCP
wheel ships here, so the REST protocol + the documented OAuth
service-account flow are implemented from their public specifications.
Against real GCS, leave `endpoint` unset (https://storage.googleapis.com)
and supply the service-account JSON fields.

Spark-first mapping (identical topology to the S3/Azure listing inputs):
- input  -> GcsSpooler makes ONE pass over the bucket listing, spooling
  each object as one file (the reference's gcs_* metadata in its
  header), deleting objects only AFTER the durable spool put when
  delete_objects is set.
- output -> one upload per row, interpolated path as a COLUMN; the four
  collision modes map to ifGenerationMatch / read-concat / existence
  checks exactly as the reference's gcsTargetWriter does.
- cache  -> one object per key (the S3Cache contract verbatim)."""

from __future__ import annotations

import base64
import json
import threading
import urllib.parse
import uuid
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.pubsub import ServiceAccountToken, bearer_headers
from bento_spark.streaming.spool import Spool

_SCOPE = "https://www.googleapis.com/auth/devstorage.read_write"

COLLISION_MODES = ("overwrite", "append", "error-if-exists", "ignore")


class ObjectExistsError(KeyError):
    """collision_mode=error-if-exists hit an existing object."""


class GcsClient:
    """Minimal GCS JSON-API client: list (prefix + pageToken), metadata
    get, media download, media upload (with ifGenerationMatch=0 for
    create-only), delete. Bearer tokens minted via the service-account
    assertion flow; `credentials=None` = unauthenticated (emulator)."""

    def __init__(self, endpoint: str, credentials: dict | None = None,
                 timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self._token = (None if credentials is None else ServiceAccountToken(
            credentials, "gcs", timeout, scope=_SCOPE))

    def _call(self, method: str, path: str, body: bytes = b"",
              content_type: str | None = None) -> tuple[int, bytes, dict]:
        headers = {"Content-Length": str(len(body))}
        if content_type:
            headers["Content-Type"] = content_type
        return rest.call(self._ep, method, path, body,
                         lambda: bearer_headers(self._token, headers),
                         name="gcs", ok=(404, 412))

    # -- objects --------------------------------------------------------------

    def list_objects(self, bucket: str, prefix: str = "") -> list[dict]:
        out: list[dict] = []
        token = None
        while True:
            q = [("prefix", prefix)] if prefix else []
            if token:
                q.append(("pageToken", token))
            qs = ("?" + urllib.parse.urlencode(q)) if q else ""
            status, data, _ = self._call(
                "GET", f"/storage/v1/b/{urllib.parse.quote(bucket)}/o{qs}")
            if status == 404:
                raise ConnectionError(f"gcs: bucket {bucket!r} not found")
            page = json.loads(data or b"{}")
            out.extend(page.get("items", []))
            token = page.get("nextPageToken")
            if not token:
                return out

    def _obj_path(self, bucket: str, name: str) -> str:
        return (f"/storage/v1/b/{urllib.parse.quote(bucket)}"
                f"/o/{urllib.parse.quote(name, safe='')}")

    def get_object(self, bucket: str, name: str) -> bytes | None:
        status, data, _ = self._call(
            "GET", self._obj_path(bucket, name) + "?alt=media")
        return None if status == 404 else data

    def stat_object(self, bucket: str, name: str) -> dict | None:
        status, data, _ = self._call("GET", self._obj_path(bucket, name))
        return None if status == 404 else json.loads(data)

    def upload(self, bucket: str, name: str, body: bytes,
               content_type: str = "application/octet-stream",
               if_absent: bool = False) -> bool:
        """-> False when if_absent and the object already exists
        (ifGenerationMatch=0 -> 412, the create-only precondition)."""
        q = [("uploadType", "media"), ("name", name)]
        if if_absent:
            q.append(("ifGenerationMatch", "0"))
        status, _data, _ = self._call(
            "POST",
            f"/upload/storage/v1/b/{urllib.parse.quote(bucket)}/o?"
            + urllib.parse.urlencode(q),
            body=body, content_type=content_type)
        if status == 412:
            return False
        if status // 100 != 2:
            raise ConnectionError(f"gcs: upload {name!r} -> {status}")
        return True

    def delete_object(self, bucket: str, name: str) -> None:
        self._call("DELETE", self._obj_path(bucket, name))

    def write_with_collision_mode(self, bucket: str, name: str, body: bytes,
                                  mode: str, content_type: str) -> None:
        """output_cloud_storage.go's collision_mode enum."""
        if mode == "overwrite":
            self.upload(bucket, name, body, content_type)
        elif mode == "error-if-exists":
            if not self.upload(bucket, name, body, content_type,
                               if_absent=True):
                raise ObjectExistsError(f"gcs: object {name!r} exists")
        elif mode == "ignore":
            self.upload(bucket, name, body, content_type, if_absent=True)
        elif mode == "append":
            cur = self.get_object(bucket, name) or b""
            self.upload(bucket, name, cur + body, content_type)
        else:
            raise ValueError(
                f"gcs: collision_mode {mode!r} not one of {COLLISION_MODES}")


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


@dataclass
class GcsSpooler:
    """`gcp_cloud_storage` input: one pass over the bucket listing
    (prefix-filtered), one spool file per object; objects
    delete only AFTER the durable spool put when delete_objects is set."""

    endpoint: str
    bucket: str
    spool_dir: str
    prefix: str = ""
    delete_objects: bool = False
    credentials: dict | None = None
    _thread: threading.Thread | None = field(default=None, repr=False)
    _done: threading.Event = field(default_factory=threading.Event, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)
    error: Exception | None = None

    def start(self) -> "GcsSpooler":
        spool = Spool(self.spool_dir)
        client = GcsClient(self.endpoint, self.credentials)

        def run() -> None:
            try:
                for item in client.list_objects(self.bucket, self.prefix):
                    if self._stop.is_set():
                        return
                    name = item["name"]
                    body = client.get_object(self.bucket, name)
                    if body is None:
                        continue  # raced a delete
                    # the reference's gcs_* metadata (input_cloud_storage.go:312-317)
                    spool.put(body, gcs_key=name, gcs_bucket=self.bucket,
                              gcs_last_modified=item.get("updated"),
                              gcs_content_type=item.get("contentType"),
                              gcs_content_encoding=item.get("contentEncoding"))
                    if self.delete_objects:
                        client.delete_object(self.bucket, name)
            except Exception as e:
                self.error = e
            finally:
                self._done.set()

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def wait_finished(self, timeout: float = 30.0) -> bool:
        ok = self._done.wait(timeout)
        if self.error is not None:
            raise self.error
        return ok

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


def gcs_columns(df):
    """A GcsSpooler spool's computed column: `gcs_last_modified_unix`
    from the RFC 3339 `gcs_last_modified`."""
    from pyspark.sql import functions as F

    return df.select(
        "value", "gcs_key", "gcs_bucket", "gcs_last_modified",
        F.unix_timestamp(F.to_timestamp("gcs_last_modified")).alias("gcs_last_modified_unix"),
        "gcs_content_type", "gcs_content_encoding")


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def gcs_sink(endpoint: str, bucket: str, path_col: str, *,
             credentials: dict | None = None,
             content_type: str = "application/octet-stream",
             collision_mode: str = "overwrite",
             value_col: str | None = None):
    """`gcp_cloud_storage` output (output_cloud_storage.go): one upload
    per row at the interpolated path COLUMN; body = the named value
    column or the row rendered as JSON (JVM-side); the four collision
    modes handled by the client."""
    if collision_mode not in COLLISION_MODES:
        raise ValueError(
            f"gcs: collision_mode {collision_mode!r} not one of "
            f"{COLLISION_MODES}")

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        if value_col:
            body_col = F.col(value_col).cast("string")
        else:
            data_cols = [c for c in batch_df.columns if c != path_col]
            body_col = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
        payloads = batch_df.select(F.col(path_col).alias("p"),
                                   body_col.alias("v"))

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.gcs import GcsClient

            client = None
            for row in rows:
                if client is None:
                    client = GcsClient(endpoint, credentials)
                client.write_with_collision_mode(
                    bucket, row.p, (row.v or "").encode("utf-8"),
                    collision_mode, content_type)

        payloads.foreachPartition(send)

    return write_batch


# ---------------------------------------------------------------------------
# cache backend
# ---------------------------------------------------------------------------


class GcsCache:
    """`gcp_cloud_storage` cache backend (cache_cloud_storage.go): one
    object per key, content is the value. Shared cache-operator contract
    (see S3Cache); add = create-only upload (ifGenerationMatch=0), which
    is ATOMIC on real GCS — stronger than the S3 backend's
    check-then-put."""

    single_value = True

    def __init__(self, spark, endpoint: str, bucket: str,
                 credentials: dict | None = None,
                 content_type: str = "application/octet-stream",
                 key_col: str = "key", value_col: str = "value"):
        self.spark = spark
        self.args = (endpoint, credentials)
        self.bucket = bucket
        self.content_type = content_type
        self.key_col, self.value_col = key_col, value_col

    def set(self, df, ttl=None, now_ms=None) -> None:
        from pyspark.sql import functions as F

        args, bucket, ctype = self.args, self.bucket, self.content_type
        rows = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"))

        def send(it) -> None:
            from bento_spark.streaming.gcs import GcsClient

            client = None
            for row in it:
                if client is None:
                    client = GcsClient(*args)
                client.upload(bucket, row.k,
                              ("" if row.v is None else row.v).encode("utf-8"),
                              content_type=ctype)

        rows.foreachPartition(send)

    def add(self, df, ttl=None, now_ms=None):
        """Insert-if-absent via the create-only precondition. Returns the
        REJECTED rows (shared cache contract, operators/cache.py)."""
        from pyspark.sql import functions as F

        args, bucket, ctype = self.args, self.bucket, self.content_type
        key_col, value_col = self.key_col, self.value_col
        fresh = df.dropDuplicates([key_col])

        def attempt(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.gcs import GcsClient

            client = GcsClient(*args)
            for pdf in iter_pdf:
                accepted = [
                    client.upload(
                        bucket, str(k),
                        ("" if v is None else str(v)).encode("utf-8"),
                        content_type=ctype, if_absent=True)
                    for k, v in zip(pdf[key_col], pdf[value_col])]
                yield pd.DataFrame({
                    key_col: [str(k) for k in pdf[key_col]],
                    "_accepted": accepted})

        verdicts = (
            fresh.select(F.col(key_col).cast("string").alias(key_col), value_col)
            .mapInPandas(attempt, f"{key_col} string, _accepted boolean")
            .localCheckpoint(eager=True)  # exactly-once add attempt
        )
        rejected = verdicts.filter(~F.col("_accepted")).select(key_col)
        return fresh.join(F.broadcast(rejected), key_col, "left_semi")

    def delete(self, keys) -> None:
        from pyspark.sql import functions as F

        args, bucket = self.args, self.bucket
        rows = keys.select(F.col(self.key_col).cast("string").alias("k"))

        def send(it) -> None:
            from bento_spark.streaming.gcs import GcsClient

            client = None
            for row in it:
                if client is None:
                    client = GcsClient(*args)
                client.delete_object(bucket, row.k)

        rows.foreachPartition(send)

    def get(self, df, on: str | None = None, broadcast: bool = True,
            now_ms=None):
        """Enrich df with the cached value by key (miss = NULL): media
        GET over the batch's DISTINCT keys only."""
        from pyspark.sql import functions as F

        args, bucket = self.args, self.bucket
        on = on or self.key_col
        value_col = self.value_col
        distinct = df.select(F.col(on).cast("string").alias(on)).distinct()

        def fetch(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.gcs import GcsClient

            client = GcsClient(*args)
            for pdf in iter_pdf:
                vals = []
                for k in pdf[on]:
                    got = client.get_object(bucket, str(k))
                    vals.append(None if got is None
                                else got.decode("utf-8", "replace"))
                yield pd.DataFrame({on: pdf[on],
                                    value_col: pd.Series(vals, dtype="object")})

        fetched = distinct.mapInPandas(fetch, f"{on} string, {value_col} string")
        if broadcast:
            fetched = F.broadcast(fetched)
        return df.join(fetched, on, "left")


# ---------------------------------------------------------------------------
# in-process service (test-grade)
# ---------------------------------------------------------------------------


class MiniGcsServer:
    """GCS JSON-API subset for e2e tests: list/get/upload/delete with
    prefix + pageToken paging and the ifGenerationMatch=0 create-only
    precondition, plus an OAuth token endpoint that VERIFIES the RS256
    service-account assertion against the registered public key before
    minting a bearer (the MiniPubSubServer auth chain). Unauthenticated
    when no service_accounts are configured (emulator contract)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 service_accounts: dict[str, str] | None = None,
                 page_size: int = 1000):
        self.host, self.port = host, port
        self.service_accounts = dict(service_accounts or {})
        self.page_size = page_size
        # bucket -> {name -> (bytes, content_type, updated_iso)}
        self.buckets: dict[str, dict[str, tuple[bytes, str, str]]] = {}
        self._tokens: set[str] = set()
        self._lock = threading.Lock()
        self._httpd = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    @property
    def token_uri(self) -> str:
        return f"{self.endpoint}/token"

    def create_bucket(self, name: str) -> None:
        with self._lock:
            self.buckets.setdefault(name, {})

    def put(self, bucket: str, name: str, body: bytes,
            content_type: str = "text/plain") -> None:
        with self._lock:
            self.buckets.setdefault(bucket, {})[name] = (
                body, content_type, "2024-01-01T00:00:00Z")

    def start(self) -> "MiniGcsServer":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _reply(self, status: int, body: bytes = b"",
                       ctype: str = "application/json") -> None:
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if not outer.service_accounts:
                    return True
                tok = self.headers.get("Authorization", "").removeprefix(
                    "Bearer ")
                if tok in outer._tokens:
                    return True
                self._reply(401, json.dumps({"error": "unauthorized"}).encode())
                return False

            def _token_endpoint(self) -> None:
                n = int(self.headers.get("Content-Length") or 0)
                form = dict(urllib.parse.parse_qsl(
                    self.rfile.read(n).decode("ascii", "replace")))
                assertion = form.get("assertion", "")
                try:
                    h, c, s = assertion.split(".")
                    pad = lambda x: x + "=" * (-len(x) % 4)  # noqa: E731
                    claims = json.loads(base64.urlsafe_b64decode(pad(c)))
                    sig = base64.urlsafe_b64decode(pad(s))
                    pub_pem = outer.service_accounts.get(claims.get("iss", ""))
                    if pub_pem is None:
                        raise ValueError("unknown issuer")
                    from bento_spark.functions.crypto_prims import (
                        parse_rsa_public,
                        rsa_verify,
                    )

                    key = parse_rsa_public(pub_pem)
                    if not rsa_verify(key, f"{h}.{c}".encode("ascii"),
                                      sig, 256):
                        raise ValueError("bad signature")
                except (ValueError, json.JSONDecodeError) as e:
                    self._reply(401, json.dumps({"error": str(e)}).encode())
                    return
                tok = uuid.uuid4().hex
                outer._tokens.add(tok)
                self._reply(200, json.dumps(
                    {"access_token": tok, "expires_in": 3600}).encode())

            def do_POST(self) -> None:
                u = urllib.parse.urlsplit(self.path)
                if u.path == "/token":
                    self._token_endpoint()
                    return
                if not self._authed():
                    return
                m = u.path
                if m.startswith("/upload/storage/v1/b/"):
                    bucket = urllib.parse.unquote(
                        m.removeprefix("/upload/storage/v1/b/")
                        .removesuffix("/o"))
                    q = dict(urllib.parse.parse_qsl(u.query))
                    name = q.get("name", "")
                    n = int(self.headers.get("Content-Length") or 0)
                    body = self.rfile.read(n) if n else b""
                    ctype = self.headers.get("Content-Type",
                                             "application/octet-stream")
                    with outer._lock:
                        store = outer.buckets.setdefault(bucket, {})
                        if q.get("ifGenerationMatch") == "0" and name in store:
                            self._reply(412, json.dumps(
                                {"error": "conditionNotMet"}).encode())
                            return
                        store[name] = (body, ctype, "2024-01-01T00:00:00Z")
                    self._reply(200, json.dumps(
                        {"name": name, "bucket": bucket,
                         "size": str(len(body))}).encode())
                    return
                self._reply(404, b"{}")

            def _parse_object(self):
                u = urllib.parse.urlsplit(self.path)
                m = u.path
                if not m.startswith("/storage/v1/b/"):
                    return None
                rest = m.removeprefix("/storage/v1/b/")
                if "/o/" in rest:
                    bucket, name = rest.split("/o/", 1)
                    return (urllib.parse.unquote(bucket),
                            urllib.parse.unquote(name),
                            dict(urllib.parse.parse_qsl(u.query)))
                if rest.endswith("/o"):
                    return (urllib.parse.unquote(rest.removesuffix("/o")),
                            None, dict(urllib.parse.parse_qsl(u.query)))
                return None

            def do_GET(self) -> None:
                if not self._authed():
                    return
                parsed = self._parse_object()
                if parsed is None:
                    self._reply(404, b"{}")
                    return
                bucket, name, q = parsed
                with outer._lock:
                    store = outer.buckets.get(bucket)
                    if store is None:
                        self._reply(404, json.dumps(
                            {"error": "bucket not found"}).encode())
                        return
                    if name is None:
                        prefix = q.get("prefix", "")
                        names = sorted(n for n in store if
                                       n.startswith(prefix))
                        start = int(q.get("pageToken") or 0)
                        page = names[start : start + outer.page_size]
                        items = [{
                            "name": n, "bucket": bucket,
                            "size": str(len(store[n][0])),
                            "contentType": store[n][1],
                            "updated": store[n][2],
                        } for n in page]
                        out = {"items": items}
                        if start + outer.page_size < len(names):
                            out["nextPageToken"] = str(
                                start + outer.page_size)
                        self._reply(200, json.dumps(out).encode())
                        return
                    got = store.get(name)
                if got is None:
                    self._reply(404, json.dumps(
                        {"error": "object not found"}).encode())
                    return
                if q.get("alt") == "media":
                    self._reply(200, got[0], ctype=got[1])
                else:
                    self._reply(200, json.dumps({
                        "name": name, "bucket": bucket,
                        "size": str(len(got[0])), "contentType": got[1],
                        "updated": got[2]}).encode())

            def do_DELETE(self) -> None:
                if not self._authed():
                    return
                parsed = self._parse_object()
                if parsed is None or parsed[1] is None:
                    self._reply(404, b"{}")
                    return
                bucket, name, _q = parsed
                with outer._lock:
                    store = outer.buckets.setdefault(bucket, {})
                    if name in store:
                        del store[name]
                        self._reply(204)
                    else:
                        self._reply(404, json.dumps(
                            {"error": "object not found"}).encode())

        class Server(http.server.ThreadingHTTPServer):
            daemon_threads = True

        self._httpd = Server((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
