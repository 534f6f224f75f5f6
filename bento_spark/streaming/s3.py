"""AWS S3 message-level input/output/cache — dependency-free client over
the public S3 REST API (path-style requests, ListObjectsV2 XML, standard
GET/PUT/DELETE object calls) signed with AWS Signature Version 4 in its
REST form (canonical URI + canonical query string + x-amz-content-sha256,
the published recipe), plus an in-process bucket service that VERIFIES
every signature by recomputing it from the raw request.

Reference: internal/impl/aws/input_s3.go (bucket, prefix, delete_objects,
optional `sqs:` block consuming S3 event notifications with
key_path/bucket_path defaults `Records.*.s3.object.key` /
`Records.*.s3.bucket.name`, metadata s3_key/s3_bucket/
s3_last_modified_unix), output_s3.go (interpolated per-message object
`path`, content_type), cache_s3.go (Get/Set/Add/Delete on objects; Add =
existence check then put — non-atomic there too). The reference uses
aws-sdk-go-v2; no boto3 ships here, so the protocol + signing come from
their public specifications. The SigV4 derived-key chain is the one
already vector-pinned in streaming/sqs.py tests; the REST-shape
canonicalization added here (URI/query encoding, payload hash header) is
verified end-to-end by the recomputing MiniS3Server.

Spark-first mapping:
- input  -> S3Spooler either (a) makes ONE pass over the bucket listing
  (the reference's plain mode: consume the listing, then stop) spooling
  each object as a durable file, or (b) long-polls an SQS queue for S3
  event notifications and fetches exactly the notified objects —
  DeleteMessage/DeleteObject fire only AFTER the atomic spool rename
  (at-least-once). Object key/bucket/mtime ride the spool file's header
  and surface as s3_key/s3_bucket/s3_last_modified_unix columns JVM-side.
- output -> one PutObject per row; the interpolated object path arrives
  as a pre-computed COLUMN (Catalyst-rendered, the repo's interpolation
  contract) and the body is serialized JVM-side; executors only stream
  pre-rendered (path, body) pairs. One client per partition.
- cache  -> shared cache-operator contract (see DynamoCache): set =
  PutObject, get = mapInPandas GetObject over the batch's distinct keys,
  add = head-then-put (the reference's non-atomic semantics, documented),
  delete = DeleteObject.

x-amz-date / Last-Modified are transport metadata (SigV4 requires a
wall-clock date header), never row content — the determinism invariant
governs data paths, which carry only key/body here."""

from __future__ import annotations

import hashlib
import json
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.spool import Spool
from bento_spark.streaming.sqs import sigv4_signature

_SAFE = "-_.~"  # RFC 3986 unreserved minus alnum (quote() keeps alnum)


def _uri_encode(s: str, encode_slash: bool = True) -> str:
    """SigV4 UriEncode: every byte percent-encoded except unreserved
    characters; '/' kept literal in object paths (encode_slash=False)."""
    return urllib.parse.quote(s, safe=_SAFE + ("" if encode_slash else "/"))


def canonical_query(pairs: list[tuple[str, str]]) -> str:
    """Canonical query string: UriEncode(k)=UriEncode(v), sorted."""
    enc = sorted((_uri_encode(k), _uri_encode(v)) for k, v in pairs)
    return "&".join(f"{k}={v}" for k, v in enc)


def sigv4_rest_headers(method: str, host: str, path: str, query: str,
                       payload: bytes, access_key: str, secret_key: str,
                       region: str, service: str = "s3",
                       extra_headers: dict[str, str] | None = None,
                       amz_date: str | None = None) -> dict[str, str]:
    """REST-form SigV4 (S3 and friends): the payload hash is BOTH part of
    the canonical request and sent as x-amz-content-sha256. `path` and
    `query` must already be in canonical (encoded) form — the client
    sends them verbatim so the wire form IS the signed form."""
    if amz_date is None:
        amz_date = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    payload_hash = hashlib.sha256(payload).hexdigest()
    headers = {
        "host": host,
        "x-amz-content-sha256": payload_hash,
        "x-amz-date": amz_date,
    }
    for k, v in (extra_headers or {}).items():
        headers[k.lower()] = v
    signed, sig = sigv4_signature(method, path, query, headers, payload,
                                  secret_key, region, service, amz_date)
    scope = f"{amz_date[:8]}/{region}/{service}/aws4_request"
    out = {k.title() if k != "x-amz-content-sha256" else "x-amz-content-sha256": v
           for k, v in headers.items() if k != "host"}
    out["Authorization"] = (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed}, Signature={sig}")
    return out


def sigv4_verify_request(method: str, raw_path: str, raw_query: str,
                         headers: dict[str, str], payload: bytes,
                         secret_key: str) -> bool:
    """Recompute a REST request's SigV4 signature with the shared secret
    and compare — catches payload/path/query/header tampering. The
    canonical query is rebuilt by sorting the received (already-encoded)
    pairs, so parameter order on the wire doesn't matter."""
    import hmac as _hmac

    auth = headers.get("Authorization") or headers.get("authorization") or ""
    try:
        parts = dict(
            p.strip().split("=", 1) for p in
            auth.removeprefix("AWS4-HMAC-SHA256 ").split(",")
        )
        cred = parts["Credential"].split("/")
        _ak, _date, region, service, _ = cred
        signed_names = parts["SignedHeaders"].split(";")
        got_sig = parts["Signature"]
    except (KeyError, ValueError):
        return False
    lower = {k.lower(): v for k, v in headers.items()}
    sign_headers = {n: lower.get(n, "") for n in signed_names}
    amz_date = lower.get("x-amz-date", "")
    pairs = []
    if raw_query:
        for frag in raw_query.split("&"):
            k, _, v = frag.partition("=")
            pairs.append((k, v))
    # received pairs are already UriEncoded; canonical form = sorted
    query = "&".join(f"{k}={v}" for k, v in sorted(pairs))
    _signed, want_sig = sigv4_signature(
        method, raw_path, query, sign_headers, payload,
        secret_key, region, service, amz_date)
    return _hmac.compare_digest(want_sig, got_sig)


class NoSuchKeyError(KeyError):
    """GET/HEAD on an absent object (the S3 NoSuchKey fault)."""


class S3Client:
    """Minimal path-style S3 REST client: ListObjectsV2 / GetObject /
    PutObject / DeleteObject / HeadObject, SigV4-signed."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def _request(self, method: str, path: str,
                 query_pairs: list[tuple[str, str]] | None = None,
                 body: bytes = b"", content_type: str | None = None,
                 ) -> tuple[int, bytes, dict[str, str]]:
        query = canonical_query(query_pairs or [])
        extra = {"content-type": content_type} if content_type else None
        return rest.call(
            self._ep, method, path + (f"?{query}" if query else ""), body,
            lambda: sigv4_rest_headers(
                method, self._ep.host_hdr, path, query, body,
                self.access_key, self.secret_key, self.region,
                extra_headers=extra),
            name="s3", ok=(404,))

    @staticmethod
    def _obj_path(bucket: str, key: str) -> str:
        return f"/{_uri_encode(bucket)}/{_uri_encode(key, encode_slash=False)}"

    def list_objects(self, bucket: str, prefix: str = "",
                     page_size: int = 1000) -> list[dict]:
        """ListObjectsV2 with continuation-token pagination ->
        [{'key', 'size', 'last_modified_unix'}] in listing (lexicographic)
        order."""
        import re
        from email.utils import parsedate_to_datetime

        out: list[dict] = []
        token: str | None = None
        while True:
            pairs = [("list-type", "2"), ("max-keys", str(page_size))]
            if prefix:
                pairs.append(("prefix", prefix))
            if token:
                pairs.append(("continuation-token", token))
            status, data, _ = self._request("GET", f"/{_uri_encode(bucket)}", pairs)
            if status == 404:
                raise ConnectionError(f"s3: bucket {bucket!r} not found")
            text = data.decode("utf-8")
            for m in re.finditer(
                    r"<Contents>\s*<Key>(.*?)</Key>\s*<LastModified>(.*?)"
                    r"</LastModified>\s*<Size>(\d+)</Size>", text, re.S):
                key, lm, size = m.group(1), m.group(2), int(m.group(3))
                try:
                    lm_unix = int(parsedate_to_datetime(lm).timestamp())
                except (TypeError, ValueError):
                    # ISO 8601 (real S3) rather than HTTP-date
                    import datetime as _dt

                    lm_unix = int(_dt.datetime.fromisoformat(
                        lm.replace("Z", "+00:00")).timestamp())
                out.append({"key": _xml_unescape(key), "size": size,
                            "last_modified_unix": lm_unix})
            tok = re.search(r"<NextContinuationToken>(.*?)</NextContinuationToken>",
                            text)
            if tok and "<IsTruncated>true</IsTruncated>" in text:
                token = _xml_unescape(tok.group(1))
            else:
                return out

    def get_object(self, bucket: str, key: str) -> tuple[bytes, dict[str, str]]:
        status, data, headers = self._request("GET", self._obj_path(bucket, key))
        if status == 404:
            raise NoSuchKeyError(key)
        return data, headers

    def head_object(self, bucket: str, key: str) -> bool:
        status, _, _ = self._request("HEAD", self._obj_path(bucket, key))
        return status != 404

    def put_object(self, bucket: str, key: str, body: bytes,
                   content_type: str = "application/octet-stream") -> None:
        status, data, _ = self._request("PUT", self._obj_path(bucket, key),
                                        body=body, content_type=content_type)
        if status == 404:
            raise ConnectionError(f"s3: PUT {bucket}/{key} -> 404 {data[:160]!r}")

    def delete_object(self, bucket: str, key: str) -> None:
        self._request("DELETE", self._obj_path(bucket, key))

    def close(self) -> None:  # connections are per-request
        pass


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))


def _xml_unescape(s: str) -> str:
    return (s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&"))


def _extract_paths(obj, path: str) -> list:
    """Dotted-path extraction with `*` fanning out over lists — the shape
    of the reference's gabs-based key_path/bucket_path resolution
    (input_s3.go:202-205, defaults Records.*.s3.object.key)."""
    nodes = [obj]
    for seg in path.split("."):
        nxt = []
        for n in nodes:
            if seg == "*":
                if isinstance(n, list):
                    nxt.extend(n)
            elif isinstance(n, dict) and seg in n:
                nxt.append(n[seg])
        nodes = nxt
    return nodes


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


@dataclass
class S3Spooler:
    """`aws_s3` input (input_s3.go): either one pass over the bucket
    listing (plain mode — the reference consumes the listing then stops;
    `finished` flips True) or an SQS-notification loop (`sqs_queue_url`
    set): each notified object is fetched and spooled as one durable
    file; DeleteObject (delete_objects: true) / DeleteMessage fire only
    AFTER the atomic rename — at-least-once."""

    endpoint: str
    bucket: str
    access_key: str
    secret_key: str
    spool_dir: str
    prefix: str = ""
    region: str = "us-east-1"
    delete_objects: bool = False
    # SQS-notification mode (input_s3.go `sqs:` block)
    sqs_queue_url: str | None = None
    sqs_endpoint: str | None = None
    sqs_key_path: str = "Records.*.s3.object.key"
    sqs_bucket_path: str = "Records.*.s3.bucket.name"
    sqs_wait_time_s: int = 1
    sqs_max_messages: int = 10
    finished: bool = field(default=False, repr=False)
    error: str | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)

    def _spool_object(self, spool: Spool, client: S3Client,
                      bucket: str, key: str, lm_unix: int) -> None:
        body, _ = client.get_object(bucket, key)
        # the reference's metadata surface, input_s3.go:735-739
        spool.put(body, s3_bucket=bucket, s3_key=key, s3_last_modified_unix=lm_unix)
        if self.delete_objects:
            try:
                client.delete_object(bucket, key)
            except (ConnectionError, OSError):
                pass  # object re-lists / notification re-delivers

    def start(self) -> "S3Spooler":
        spool = Spool(self.spool_dir)
        client = S3Client(self.endpoint, self.access_key, self.secret_key,
                          region=self.region)

        def run_listing() -> None:
            import sys

            try:
                for obj in client.list_objects(self.bucket, prefix=self.prefix):
                    if self._stop.is_set():
                        return
                    self._spool_object(spool, client, self.bucket,
                                       obj["key"], obj["last_modified_unix"])
            except Exception as e:  # surface, don't vanish
                self.error = f"aws_s3: {e}"
                print(self.error, file=sys.stderr)
            finally:
                self.finished = True

        def run_sqs() -> None:
            import sys

            from bento_spark.streaming.sqs import SqsClient

            sqs = SqsClient(self.sqs_endpoint or self.endpoint,
                            self.access_key, self.secret_key,
                            region=self.region)
            while not self._stop.is_set():
                try:
                    msgs = sqs.receive_message(
                        self.sqs_queue_url, max_messages=self.sqs_max_messages,
                        wait_time_s=self.sqs_wait_time_s)
                except (ConnectionError, OSError):
                    if self._stop.wait(0.5):
                        return
                    continue
                if not msgs:
                    self._stop.wait(0.05)
                    continue
                try:
                    for m in msgs:
                        body = json.loads(m.get("Body", "{}"))
                        keys = [str(k) for k in
                                _extract_paths(body, self.sqs_key_path)]
                        buckets = [str(b) for b in
                                   _extract_paths(body, self.sqs_bucket_path)]
                        for i, key in enumerate(keys):
                            bkt = buckets[i] if i < len(buckets) else self.bucket
                            # notification keys are percent-encoded
                            # (input_s3.go:500 url.QueryUnescape)
                            key = urllib.parse.unquote_plus(key)
                            try:
                                self._spool_object(spool, client, bkt, key, 0)
                            except NoSuchKeyError:
                                continue  # deleted before we fetched it
                        try:
                            sqs.delete_message(self.sqs_queue_url,
                                               m["ReceiptHandle"])
                        except (ConnectionError, OSError, KeyError):
                            pass  # visibility timeout re-delivers
                except Exception as e:
                    self.error = f"aws_s3: {e}"
                    print(self.error, file=sys.stderr)
                    return

        target = run_sqs if self.sqs_queue_url else run_listing
        self._thread = threading.Thread(target=target, daemon=True)
        self._thread.start()
        return self

    def wait_finished(self, timeout: float = 30.0) -> bool:
        """Plain-listing mode helper: block until the single listing pass
        completes (the reference's consume-then-stop contract)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline and not self.finished:
            time.sleep(0.02)
        return self.finished

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def s3_sink(endpoint: str, bucket: str, access_key: str, secret_key: str,
            path_col: str = "_s3_path", region: str = "us-east-1",
            content_type: str = "application/octet-stream",
            value_col: str | None = None):
    """`aws_s3` output (output_s3.go): one PutObject per row. The
    interpolated object path (the reference's `path` field) arrives as a
    pre-computed COLUMN; the body is `value_col` raw if named, else the
    row JSON-serialized JVM-side (the repo's connector-sink convention)."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        if value_col:
            body = F.col(value_col).cast("string")
        else:
            data_cols = [c for c in batch_df.columns if c != path_col]
            body = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
        payloads = batch_df.select(F.col(path_col).alias("p"), body.alias("v"))

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.s3 import S3Client

            client = None
            for row in rows:
                if client is None:
                    client = S3Client(endpoint, access_key, secret_key,
                                      region=region)
                client.put_object(bucket, row.p,
                                  (row.v or "").encode("utf-8"),
                                  content_type=content_type)

        payloads.foreachPartition(send)

    return write_batch


# --------------------------------------------------------------------------
# cache backend
# --------------------------------------------------------------------------


class S3Cache:
    """`aws_s3` cache backend (cache_s3.go): one object per key, content
    is the value. Shared cache-operator contract (see DynamoCache), so
    `cache_resources:` wiring works unchanged. No TTL — S3 expiry is a
    bucket lifecycle rule, not a per-object write option (the reference
    ignores the TTL argument too). Add is existence-check-then-put,
    exactly the reference's (non-atomic) semantics."""

    single_value = True

    def __init__(self, spark, endpoint: str, bucket: str,
                 access_key: str, secret_key: str, region: str = "us-east-1",
                 content_type: str = "application/octet-stream",
                 key_col: str = "key", value_col: str = "value"):
        self.spark = spark
        self.args = (endpoint, access_key, secret_key, region)
        self.bucket = bucket
        self.content_type = content_type
        self.key_col, self.value_col = key_col, value_col

    def set(self, df, ttl=None, now_ms=None) -> None:
        from pyspark.sql import functions as F

        args, bucket, ctype = self.args, self.bucket, self.content_type
        rows = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"),
        )

        def send(it) -> None:
            from bento_spark.streaming.s3 import S3Client

            client = None
            for row in it:
                if client is None:
                    client = S3Client(*args)
                client.put_object(bucket, row.k,
                                  ("" if row.v is None else row.v).encode("utf-8"),
                                  content_type=ctype)

        rows.foreachPartition(send)

    def add(self, df, ttl=None, now_ms=None):
        """Insert-if-absent. Returns the rows that were REJECTED (key
        already present) for the error-column routing — the shared cache
        contract (operators/cache.py)."""
        from pyspark.sql import functions as F

        args, bucket, ctype = self.args, self.bucket, self.content_type
        key_col, value_col = self.key_col, self.value_col
        fresh = df.dropDuplicates([key_col])

        def attempt(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.s3 import S3Client

            client = S3Client(*args)
            for pdf in iter_pdf:
                accepted = []
                for k, v in zip(pdf[key_col], pdf[value_col]):
                    if client.head_object(bucket, str(k)):
                        accepted.append(False)  # ErrKeyAlreadyExists
                    else:
                        client.put_object(
                            bucket, str(k),
                            ("" if v is None else str(v)).encode("utf-8"),
                            content_type=ctype)
                        accepted.append(True)
                yield pd.DataFrame({
                    key_col: [str(k) for k in pdf[key_col]],
                    "_accepted": accepted,
                })

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
            from bento_spark.streaming.s3 import S3Client

            client = None
            for row in it:
                if client is None:
                    client = S3Client(*args)
                client.delete_object(bucket, row.k)

        rows.foreachPartition(send)

    def get(self, df, on: str | None = None, broadcast: bool = True, now_ms=None):
        """Enrich df with the cached value by key (miss = NULL): GetObject
        over the batch's DISTINCT keys only."""
        from pyspark.sql import functions as F

        key = on or self.key_col
        args, bucket = self.args, self.bucket
        key_col, value_col = self.key_col, self.value_col
        distinct = df.select(F.col(key).cast("string").alias(key_col)).distinct()

        def fetch(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.s3 import NoSuchKeyError, S3Client

            client = S3Client(*args)
            for pdf in iter_pdf:
                vals = []
                for k in pdf[key_col]:
                    try:
                        body, _ = client.get_object(bucket, str(k))
                        vals.append(body.decode("utf-8"))
                    except NoSuchKeyError:
                        vals.append(None)
                yield pd.DataFrame({
                    key_col: [str(k) for k in pdf[key_col]],
                    value_col: vals,
                })

        side = distinct.mapInPandas(fetch, f"{key_col} string, {value_col} string")
        side = side.filter(F.col(value_col).isNotNull())
        if key != key_col:
            side = side.withColumnRenamed(key_col, key)
        if broadcast:
            side = F.broadcast(side)
        return df.join(side, key, "left")


# --------------------------------------------------------------------------
# in-process bucket service (test-grade, signature-VERIFYING)
# --------------------------------------------------------------------------


class MiniS3Server:
    """Path-style S3 REST subset for e2e tests: PUT/GET/HEAD/DELETE
    object + ListObjectsV2 with prefix and continuation-token pagination.
    Every request's SigV4 signature is RECOMPUTED from the raw request
    line (method, encoded path, query pairs, signed headers, payload
    hash) with the shared secret and rejected on mismatch — validating
    the REST canonicalization end-to-end, not just the HMAC chain (which
    AWS's published vector pins in test_sqs)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1"):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        # bucket -> key -> (body, content_type, last_modified_unix)
        self._buckets: dict[str, dict[str, tuple]] = {}
        self._lock = threading.Lock()
        self._srv = None
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def create_bucket(self, name: str) -> None:
        with self._lock:
            self._buckets.setdefault(name, {})

    def object(self, bucket: str, key: str) -> bytes | None:
        with self._lock:
            item = self._buckets.get(bucket, {}).get(key)
            return None if item is None else item[0]

    def keys(self, bucket: str) -> list[str]:
        with self._lock:
            return sorted(self._buckets.get(bucket, {}))

    def start(self) -> "MiniS3Server":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, body: bytes = b"",
                       content_type: str = "application/xml",
                       extra: dict | None = None) -> None:
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(body)

            def _route(self):
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                split = urllib.parse.urlsplit(self.path)
                raw_path, raw_query = split.path, split.query
                if not sigv4_verify_request(
                        self.command, raw_path, raw_query,
                        dict(self.headers), payload, svc.secret_key):
                    return self._reply(403, b"<Error><Code>SignatureDoesNotMatch"
                                            b"</Code></Error>")
                q = dict(urllib.parse.parse_qsl(raw_query, keep_blank_values=True))
                segs = urllib.parse.unquote(raw_path).lstrip("/").split("/", 1)
                bucket = segs[0]
                key = segs[1] if len(segs) > 1 else ""
                with svc._lock:
                    objs = svc._buckets.setdefault(bucket, {})
                    if self.command == "PUT":
                        objs[key] = (payload,
                                     self.headers.get("Content-Type",
                                                      "application/octet-stream"),
                                     int(time.time()))
                        return self._reply(200)
                    if self.command == "DELETE":
                        objs.pop(key, None)
                        return self._reply(204)
                    if self.command in ("GET", "HEAD") and key:
                        item = objs.get(key)
                        if item is None:
                            return self._reply(
                                404, b"<Error><Code>NoSuchKey</Code></Error>")
                        body, ctype, _lm = item
                        return self._reply(200, body, content_type=ctype)
                    if self.command == "GET" and q.get("list-type") == "2":
                        prefix = q.get("prefix", "")
                        start_after = q.get("continuation-token", "")
                        max_keys = int(q.get("max-keys", "1000"))
                        matches = sorted(k for k in objs
                                         if k.startswith(prefix) and k > start_after)
                        page, rest = matches[:max_keys], matches[max_keys:]
                        frags = ["<?xml version=\"1.0\"?><ListBucketResult>"]
                        for k in page:
                            _b, _c, lm = objs[k]
                            lm_s = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                                 time.gmtime(lm))
                            frags.append(
                                f"<Contents><Key>{_xml_escape(k)}</Key>"
                                f"<LastModified>{lm_s}</LastModified>"
                                f"<Size>{len(_b)}</Size></Contents>")
                        if rest:
                            frags.append("<IsTruncated>true</IsTruncated>")
                            frags.append("<NextContinuationToken>"
                                         f"{_xml_escape(page[-1])}"
                                         "</NextContinuationToken>")
                        else:
                            frags.append("<IsTruncated>false</IsTruncated>")
                        frags.append("</ListBucketResult>")
                        return self._reply(200, "".join(frags).encode())
                return self._reply(400, b"<Error><Code>BadRequest</Code></Error>")

            do_GET = do_PUT = do_DELETE = do_HEAD = _route  # noqa: N815

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


def s3_get_map(df, endpoint: str, access_key: str, secret_key: str,
               bucket_col: str, key_col: str, region: str = "us-east-1",
               out_col: str = "s3_object", delete_objects: bool = False):
    """`aws_s3` processor (aws/processor_s3.go:26): GetObject per row
    using interpolated bucket/key columns; the object body lands in
    `out_col` (the reference replaces the message parts — bind out_col to
    the content column to match). Missing objects / request failures
    follow the error-column protocol with the row's content unchanged;
    `delete_objects` removes each successfully fetched object, and only
    those (:108).

    One pooled client per partition, Arrow-batched. A per-row GET is
    inherent to the operator; bulk object consumption belongs on
    input.aws_s3 (list+get) or the s3a:// Spark reader path."""
    from bento_spark.operators.errors import ERROR_COL, ensure_error_col

    if out_col in df.columns:
        raise ValueError(f"aws_s3 processor: {out_col!r} collides with an input column")
    df = ensure_error_col(df)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = list(df.columns)
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in cols] + [f"{out_col} binary"]
    )

    def run(batches):
        import pandas as _pd

        from bento_spark.streaming.s3 import NoSuchKeyError as _NoKey
        from bento_spark.streaming.s3 import S3Client as _C

        client = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bodies, errs = [], list(pdf[ERROR_COL])
            for i, (bkt, key) in enumerate(zip(pdf[bucket_col], pdf[key_col])):
                if client is None:
                    client = _C(endpoint, access_key, secret_key, region=region)
                try:
                    body, _hdrs = client.get_object(str(bkt), str(key))
                    bodies.append(body)
                    if delete_objects:
                        client.delete_object(str(bkt), str(key))
                except _NoKey as e:
                    bodies.append(None)
                    errs[i] = errs[i] or f"aws_s3: NoSuchKey {e}"
                except (ConnectionError, OSError) as e:
                    bodies.append(None)
                    errs[i] = errs[i] or f"aws_s3: {e}"
            pdf = pdf[cols].copy()
            pdf[ERROR_COL] = errs
            pdf[out_col] = bodies
            yield _pd.DataFrame(pdf)

    return df.mapInPandas(run, schema=out_schema)
