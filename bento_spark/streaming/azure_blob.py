"""Azure Blob Storage input/output/cache — dependency-free client over
the public Blob Storage REST API with SharedKey authorization (the
published recipe: StringToSign from standard headers + CanonicalizedHeaders
of x-ms-* + CanonicalizedResource, HMAC-SHA256 with the base64 account
key), plus an in-process container service that VERIFIES every signature.

Reference: internal/impl/azure/input_blob_storage.go (container, prefix,
metadata blob_storage_key/container), output_blob_storage.go (interpolated
container + blob `path`). The reference uses azure-sdk-for-go; no azure
wheel ships here, so the REST protocol + SharedKey signing are implemented
from their public specifications — the same dependency-free posture as the
SigV4/S3 connector, and the mini service recomputes every signature so the
signer is validated end-to-end, not assumed. Against real Azure, point
`endpoint` at https://<account>.blob.core.windows.net (or Azurite).

Spark-first mapping (identical topology to streaming/s3.py):
- input  -> AzureBlobSpooler makes ONE pass over the container listing
  (the reference consumes the listing then stops) spooling each blob as
  a durable file; blob name/container ride the spool file's header and
  surface as columns JVM-side.
- output -> one Put Blob per row, the interpolated blob path arriving as
  a pre-computed COLUMN, body rendered JVM-side.

x-ms-date is transport metadata SharedKey requires — never row content."""

from __future__ import annotations

import base64
import hashlib
import hmac
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.spool import Spool

_API_VERSION = "2021-08-06"


def shared_key_string_to_sign(method: str, path: str,
                              query_pairs: list[tuple[str, str]],
                              headers: dict[str, str], account: str) -> str:
    """The published SharedKey StringToSign: standard headers in fixed
    order, then CanonicalizedHeaders (sorted x-ms-*), then
    CanonicalizedResource (/account/path + sorted query params)."""
    lower = {k.lower(): v.strip() for k, v in headers.items()}
    length = lower.get("content-length", "")
    if length == "0":
        length = ""  # the 2015-02-21+ rule: zero length signs as empty
    std = [
        method.upper(),
        lower.get("content-encoding", ""),
        lower.get("content-language", ""),
        length,
        lower.get("content-md5", ""),
        lower.get("content-type", ""),
        "" if "x-ms-date" in lower else lower.get("date", ""),
        lower.get("if-modified-since", ""),
        lower.get("if-match", ""),
        lower.get("if-none-match", ""),
        lower.get("if-unmodified-since", ""),
        lower.get("range", ""),
    ]
    canon_headers = "".join(
        f"{k}:{lower[k]}\n" for k in sorted(lower) if k.startswith("x-ms-"))
    canon_resource = f"/{account}{path}"
    for k, v in sorted(query_pairs):
        canon_resource += f"\n{k.lower()}:{v}"
    return "\n".join(std) + "\n" + canon_headers + canon_resource


def shared_key_signature(string_to_sign: str, account_key_b64: str) -> str:
    key = base64.b64decode(account_key_b64)
    mac = hmac.new(key, string_to_sign.encode("utf-8"), hashlib.sha256)
    return base64.b64encode(mac.digest()).decode("ascii")


class BlobNotFoundError(KeyError):
    """GET/HEAD on an absent blob (the BlobNotFound fault)."""


class AzureBlobClient:
    """Minimal Blob REST client: Put Blob (BlockBlob) / Get Blob /
    Delete Blob / List Blobs (flat, with prefix + marker pagination),
    SharedKey-signed."""

    def __init__(self, endpoint: str, account: str, account_key: str,
                 timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.account, self.account_key = account, account_key

    def _request(self, method: str, path: str,
                 query_pairs: list[tuple[str, str]] | None = None,
                 body: bytes = b"", extra_headers: dict | None = None,
                 ) -> tuple[int, bytes, dict[str, str]]:
        pairs = list(query_pairs or [])

        def headers() -> dict[str, str]:
            h = {
                "x-ms-date": time.strftime("%a, %d %b %Y %H:%M:%S GMT",
                                           time.gmtime()),
                "x-ms-version": _API_VERSION,
                "Content-Length": str(len(body)),
                "Host": self._ep.host_hdr,
                **(extra_headers or {}),
            }
            sts = shared_key_string_to_sign(method, path, pairs, h,
                                            self.account)
            sig = shared_key_signature(sts, self.account_key)
            h["Authorization"] = f"SharedKey {self.account}:{sig}"
            return h

        qs = urllib.parse.urlencode(pairs)
        return rest.call(self._ep, method, path + (f"?{qs}" if qs else ""),
                         body, headers, name="azure_blob", ok=(404,))

    @staticmethod
    def _blob_path(container: str, blob: str) -> str:
        return (f"/{urllib.parse.quote(container)}"
                f"/{urllib.parse.quote(blob, safe='/')}")

    def put_blob(self, container: str, blob: str, body: bytes,
                 content_type: str = "application/octet-stream") -> None:
        status, data, _ = self._request(
            "PUT", self._blob_path(container, blob), body=body,
            extra_headers={"x-ms-blob-type": "BlockBlob",
                           "Content-Type": content_type})
        if status == 404:
            raise ConnectionError(
                f"azure_blob: PUT {container}/{blob} -> 404 {data[:160]!r}")

    def get_blob(self, container: str, blob: str) -> tuple[bytes, dict]:
        status, data, headers = self._request(
            "GET", self._blob_path(container, blob))
        if status == 404:
            raise BlobNotFoundError(blob)
        return data, headers

    def delete_blob(self, container: str, blob: str) -> None:
        self._request("DELETE", self._blob_path(container, blob))

    def exists(self, container: str, blob: str) -> bool:
        status, _, _ = self._request("HEAD", self._blob_path(container, blob))
        return status != 404

    def list_blobs(self, container: str, prefix: str = "",
                   page_size: int = 5000) -> list[str]:
        """List Blobs (comp=list) with NextMarker pagination -> names in
        listing order."""
        import re

        out: list[str] = []
        marker = ""
        while True:
            pairs = [("restype", "container"), ("comp", "list"),
                     ("maxresults", str(page_size))]
            if prefix:
                pairs.append(("prefix", prefix))
            if marker:
                pairs.append(("marker", marker))
            status, data, _ = self._request(
                "GET", f"/{urllib.parse.quote(container)}", pairs)
            if status == 404:
                raise ConnectionError(f"azure_blob: container {container!r} "
                                      "not found")
            text = data.decode("utf-8")
            out.extend(_xml_unescape(m)
                       for m in re.findall(r"<Name>(.*?)</Name>", text))
            nm = re.search(r"<NextMarker>(.*?)</NextMarker>", text)
            if nm and nm.group(1):
                marker = _xml_unescape(nm.group(1))
            else:
                return out

    def close(self) -> None:  # connections are per-request
        pass


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _xml_unescape(s: str) -> str:
    return s.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


@dataclass
class AzureBlobSpooler:
    """`azure_blob_storage` input (input_blob_storage.go): one pass over
    the container listing, each blob spooled as one durable file;
    `finished` flips True when the listing is consumed (the reference's
    consume-then-stop contract)."""

    endpoint: str
    account: str
    account_key: str
    container: str
    spool_dir: str
    prefix: str = ""
    delete_blobs: bool = False
    finished: bool = field(default=False, repr=False)
    error: str | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)

    def start(self) -> "AzureBlobSpooler":
        spool = Spool(self.spool_dir)
        client = AzureBlobClient(self.endpoint, self.account, self.account_key)

        def run() -> None:
            import sys

            try:
                for name in client.list_blobs(self.container, prefix=self.prefix):
                    if self._stop.is_set():
                        return
                    body, _ = client.get_blob(self.container, name)
                    # the reference's metadata surface
                    spool.put(body, blob_storage_container=self.container,
                              blob_storage_key=name)
                    if self.delete_blobs:
                        try:
                            client.delete_blob(self.container, name)
                        except (ConnectionError, OSError):
                            pass  # re-lists on the next run
            except Exception as e:
                self.error = f"azure_blob_storage: {e}"
                print(self.error, file=sys.stderr)
            finally:
                self.finished = True

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def wait_finished(self, timeout: float = 30.0) -> bool:
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


def azure_blob_sink(endpoint: str, account: str, account_key: str,
                    container: str, path_col: str = "_blob_path",
                    content_type: str = "application/octet-stream",
                    value_col: str | None = None):
    """`azure_blob_storage` output (output_blob_storage.go): one Put Blob
    per row; the interpolated blob path arrives as a pre-computed COLUMN,
    the body is `value_col` raw if named, else the row JSON-serialized."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        if value_col:
            body = F.col(value_col).cast("string")
        else:
            data_cols = [c for c in batch_df.columns if c != path_col]
            body = F.to_json(F.struct(*[F.col(c) for c in data_cols]))
        payloads = batch_df.select(F.col(path_col).alias("p"), body.alias("v"))

        def send(rows) -> None:
            from bento_spark.streaming.azure_blob import AzureBlobClient

            client = None
            for row in rows:
                if client is None:
                    client = AzureBlobClient(endpoint, account, account_key)
                client.put_blob(container, row.p,
                                (row.v or "").encode("utf-8"),
                                content_type=content_type)

        payloads.foreachPartition(send)

    return write_batch


# --------------------------------------------------------------------------
# in-process container service (test-grade, signature-VERIFYING)
# --------------------------------------------------------------------------


class MiniAzureBlobServer:
    """Blob REST subset for e2e tests: Put/Get/Delete/Head Blob + List
    Blobs with prefix and NextMarker pagination. Every request's
    SharedKey signature is RECOMPUTED from the raw request (standard
    headers, x-ms-* canonicalization, canonicalized resource with sorted
    query params) and rejected on mismatch."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 account: str = "testaccount",
                 account_key: str | None = None):
        self.host, self.port = host, port
        self.account = account
        self.account_key = account_key or base64.b64encode(
            b"mini-azure-blob-test-key").decode("ascii")
        # container -> blob name -> (body, content_type)
        self._containers: dict[str, dict[str, tuple]] = {}
        self._lock = threading.Lock()
        self._srv = None
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def create_container(self, name: str) -> None:
        with self._lock:
            self._containers.setdefault(name, {})

    def blob(self, container: str, name: str) -> bytes | None:
        with self._lock:
            item = self._containers.get(container, {}).get(name)
            return None if item is None else item[0]

    def names(self, container: str) -> list[str]:
        with self._lock:
            return sorted(self._containers.get(container, {}))

    def start(self) -> "MiniAzureBlobServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, body: bytes = b"",
                       content_type: str = "application/xml") -> None:
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(body)

            def _route(self):
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                split = urllib.parse.urlsplit(self.path)
                raw_path = split.path
                pairs = urllib.parse.parse_qsl(split.query,
                                               keep_blank_values=True)
                sts = shared_key_string_to_sign(
                    self.command, raw_path, pairs, dict(self.headers),
                    svc.account)
                want = shared_key_signature(sts, svc.account_key)
                auth = self.headers.get("Authorization", "")
                if auth != f"SharedKey {svc.account}:{want}":
                    return self._reply(
                        403, b"<Error><Code>AuthenticationFailed</Code></Error>")
                q = dict(pairs)
                segs = urllib.parse.unquote(raw_path).lstrip("/").split("/", 1)
                container = segs[0]
                blob = segs[1] if len(segs) > 1 else ""
                with svc._lock:
                    blobs = svc._containers.setdefault(container, {})
                    if self.command == "PUT":
                        if self.headers.get("x-ms-blob-type") != "BlockBlob":
                            return self._reply(
                                400, b"<Error><Code>UnsupportedBlobType"
                                     b"</Code></Error>")
                        blobs[blob] = (payload,
                                       self.headers.get("Content-Type",
                                                        "application/octet-stream"))
                        return self._reply(201)
                    if self.command == "DELETE":
                        blobs.pop(blob, None)
                        return self._reply(202)
                    if self.command in ("GET", "HEAD") and blob:
                        item = blobs.get(blob)
                        if item is None:
                            return self._reply(
                                404, b"<Error><Code>BlobNotFound</Code></Error>")
                        return self._reply(200, item[0], content_type=item[1])
                    if self.command == "GET" and q.get("comp") == "list":
                        prefix = q.get("prefix", "")
                        marker = q.get("marker", "")
                        max_n = int(q.get("maxresults", "5000"))
                        matches = sorted(b for b in blobs
                                         if b.startswith(prefix) and b > marker)
                        page, rest = matches[:max_n], matches[max_n:]
                        frags = ["<?xml version=\"1.0\"?><EnumerationResults>"
                                 "<Blobs>"]
                        frags.extend(f"<Blob><Name>{_xml_escape(b)}</Name></Blob>"
                                     for b in page)
                        frags.append("</Blobs>")
                        if rest:
                            frags.append(f"<NextMarker>{_xml_escape(page[-1])}"
                                         "</NextMarker>")
                        frags.append("</EnumerationResults>")
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
