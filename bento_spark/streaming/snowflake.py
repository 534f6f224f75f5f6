"""Snowflake `snowflake_put` output — stage-file writer + Snowpipe
`insertFiles` REST client with key-pair JWT auth, dependency-free.

Reference: internal/impl/snowflake/output_snowflake_put.go — messages
batch into stage files (interpolated `stage` + `path`, compression
NONE/AUTO/GZIP/DEFLATE/RAW_DEFLATE), then an optional Snowpipe
`insertFiles` call per uploaded file; auth is Snowflake key-pair JWT
(docs: "Using Key Pair Authentication & Key Rotation"): RS256, iss =
`ACCOUNT.USER.SHA256:<b64 fingerprint of the public key's DER>`, sub =
`ACCOUNT.USER`. The JWT recipe and the Snowpipe REST endpoints
(/v1/data/pipes/{db}.{schema}.{pipe}/insertFiles?requestId=... and
insertReport) are public specifications, implemented from the docs; the
fingerprint derives from the private key's own (n, e) so no separate
public-key file is needed.

One leg is NOT a public spec: the reference's `PUT file://` stage upload
goes through the gosnowflake driver, which obtains pre-signed cloud
storage credentials from Snowflake's internal GS API and uploads to the
backing S3/Azure/GCS bucket. That private protocol cannot be
reimplemented faithfully, so the upload leg here is MODELED as an
authenticated HTTP PUT of the rendered file to
`{endpoint}/stages/{stage}/{path}` — the same file bytes, names, and
compression the reference produces, with the transport substituted and
documented. Tests drive it against MiniSnowflakeServer, which VERIFIES
the RS256 JWT (recomputing the fingerprint from the registered public
key and checking signature + expiry) on every request.

Spark-first mapping: foreachBatch groups rows per partition into one
file per (stage, path) — payload rendered JVM-side (to_json), the
interpolated stage/path arriving as COLUMNS; file names carry
(epoch, partition, seq) so replays overwrite instead of duplicating."""

from __future__ import annotations

import base64
import functools
import gzip
import hashlib
import json
import time
import urllib.parse
import uuid
import zlib

from bento_spark.streaming import rest

COMPRESSIONS = ("NONE", "AUTO", "GZIP", "DEFLATE", "RAW_DEFLATE")


# ---------------------------------------------------------------------------
# key-pair JWT
# ---------------------------------------------------------------------------


def _der_len(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    b = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(b)]) + b


def _der_int(v: int) -> bytes:
    b = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
    if b[0] & 0x80:
        b = b"\x00" + b
    return b"\x02" + _der_len(len(b)) + b


def _der_seq(*parts: bytes) -> bytes:
    body = b"".join(parts)
    return b"\x30" + _der_len(len(body)) + body


def rsa_spki_der(n: int, e: int) -> bytes:
    """SubjectPublicKeyInfo DER for an RSA public key — the bytes
    Snowflake fingerprints (sha256 over the DER, base64)."""
    rsa_pub = _der_seq(_der_int(n), _der_int(e))
    alg = _der_seq(
        b"\x06\x09\x2a\x86\x48\x86\xf7\x0d\x01\x01\x01",  # rsaEncryption OID
        b"\x05\x00")
    bits = b"\x03" + _der_len(len(rsa_pub) + 1) + b"\x00" + rsa_pub
    return _der_seq(alg, bits)


def public_key_fingerprint(n: int, e: int) -> str:
    """Snowflake's fingerprint format: SHA256:<base64 of sha256(SPKI DER)>."""
    digest = hashlib.sha256(rsa_spki_der(n, e)).digest()
    return "SHA256:" + base64.b64encode(digest).decode("ascii")


def _b64url(b: bytes) -> str:
    return base64.urlsafe_b64encode(b).rstrip(b"=").decode("ascii")


def snowflake_jwt(account: str, user: str, private_key_pem: str,
                  issued_at: int, lifetime_s: int = 3600) -> str:
    """The documented key-pair JWT: RS256 with
    iss = ACCOUNT.USER.<fingerprint>, sub = ACCOUNT.USER (both upper)."""
    from bento_spark.functions.crypto_prims import parse_rsa_private, rsa_sign

    key = parse_rsa_private(private_key_pem)
    fp = public_key_fingerprint(key["n"], key["e"])
    qualified = f"{account.upper()}.{user.upper()}"
    header = _b64url(json.dumps({"alg": "RS256", "typ": "JWT"},
                                separators=(",", ":")).encode())
    claims = _b64url(json.dumps({
        "iss": f"{qualified}.{fp}", "sub": qualified,
        "iat": issued_at, "exp": issued_at + lifetime_s,
    }, separators=(",", ":")).encode())
    signing_input = f"{header}.{claims}"
    sig = rsa_sign(key, signing_input.encode("ascii"), 256)
    return f"{signing_input}.{_b64url(sig)}"


def compress_payload(body: bytes, compression: str) -> tuple[bytes, str]:
    """-> (bytes, filename suffix). AUTO behaves like the driver's
    default: gzip (output_snowflake_put.go CompressionTypeAuto)."""
    c = compression.upper()
    if c == "NONE":
        return body, ""
    if c in ("AUTO", "GZIP"):
        return gzip.compress(body, mtime=0), ".gz"
    if c == "DEFLATE":
        return zlib.compress(body), ".deflate"
    if c == "RAW_DEFLATE":
        co = zlib.compressobj(wbits=-zlib.MAX_WBITS)
        return co.compress(body) + co.flush(), ".raw_deflate"
    raise ValueError(
        f"snowflake_put: compression {compression!r} not one of {COMPRESSIONS}")


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class SnowflakeClient:
    """Stage PUT (modeled transport, see module docstring) + the public
    Snowpipe REST calls, every request carrying a fresh key-pair JWT."""

    def __init__(self, endpoint: str, account: str, user: str,
                 private_key_pem: str, timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.account, self.user = account, user
        self.private_key_pem = private_key_pem

    def _request(self, method: str, path: str, body: bytes = b"",
                 content_type: str = "application/json") -> bytes:
        def headers() -> dict[str, str]:
            jwt = snowflake_jwt(self.account, self.user,
                                self.private_key_pem, int(time.time()))
            return {
                "Authorization": f"Bearer {jwt}",
                # the documented Snowpipe REST token-type marker
                "X-Snowflake-Authorization-Token-Type": "KEYPAIR_JWT",
                "Content-Type": content_type,
                "Content-Length": str(len(body)),
                "Accept": "application/json",
            }

        return rest.call(self._ep, method, path, body, headers,
                         name="snowflake")[1]

    def put_stage_file(self, stage: str, path: str, body: bytes) -> str:
        """Upload one rendered file to the stage (modeled transport).
        Returns the stage-relative path insertFiles expects."""
        rel = f"{path.strip('/')}"
        target = (f"/stages/{urllib.parse.quote(stage.strip('@').strip('/'))}"
                  f"/{urllib.parse.quote(rel, safe='/')}")
        self._request("PUT", target, body=body,
                      content_type="application/octet-stream")
        return rel

    def insert_files(self, pipe: str, files: list[str],
                     request_id: str | None = None) -> dict:
        """The public Snowpipe REST call: POST /v1/data/pipes/{pipe}/
        insertFiles?requestId=... with {"files":[{"path": ...}]}."""
        rid = request_id or str(uuid.uuid4())
        body = json.dumps(
            {"files": [{"path": p} for p in files]}).encode()
        data = self._request(
            "POST",
            f"/v1/data/pipes/{urllib.parse.quote(pipe)}/insertFiles"
            f"?requestId={urllib.parse.quote(rid)}",
            body=body)
        return json.loads(data or b"{}")

    def insert_report(self, pipe: str) -> dict:
        data = self._request(
            "GET", f"/v1/data/pipes/{urllib.parse.quote(pipe)}/insertReport")
        return json.loads(data or b"{}")


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def snowflake_put_sink(endpoint: str, account: str, user: str,
                       private_key_pem: str, *, stage_col: str,
                       path_col: str, pipe: str | None = None,
                       compression: str = "AUTO"):
    """`snowflake_put` output: per partition, rows group by their
    interpolated (stage, path); each group renders ONE newline-delimited
    JSON file (the reference's batch-to-file contract), compressed per
    `compression`, uploaded, then announced to the Snowpipe via
    insertFiles (one call per file, output_snowflake_put.go doc). File
    names carry (epoch, partition, seq) so an at-least-once replay
    overwrites the same object instead of duplicating rows."""
    compress_payload(b"", compression)  # validate eagerly

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import json_body, write_partitions

        payloads = batch_df.select(
            F.col(stage_col).alias("stage"), F.col(path_col).alias("path"),
            json_body(batch_df, stage_col, path_col).alias("v"),
            F.spark_partition_id().alias("pid"))

        def send(client, rows) -> None:
            groups: dict[tuple[str, str], list[str]] = {}
            for row in rows:
                pid = row.pid
                groups.setdefault((row.stage, row.path), []).append(row.v)
            for seq, ((stage, path), lines) in enumerate(sorted(groups.items())):
                body, suffix = compress_payload(
                    ("\n".join(lines) + "\n").encode("utf-8"), compression)
                fname = f"{path.strip('/')}/{epoch_id}_{pid}_{seq}.json{suffix}"
                rel = client.put_stage_file(stage, fname, body)
                if pipe:
                    client.insert_files(pipe, [rel])

        write_partitions(payloads, functools.partial(
            SnowflakeClient, endpoint, account, user, private_key_pem), send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process service (test-grade)
# ---------------------------------------------------------------------------


class MiniSnowflakeServer:
    """Stage + Snowpipe service subset for e2e tests: VERIFIES the
    key-pair JWT on every request — RS256 signature against the
    registered public key, fingerprint-qualified issuer, expiry — then
    stores staged files and records insertFiles announcements per pipe.
    Not a production service — the deliverable is the CLIENT."""

    def __init__(self, account: str, user: str, public_key_pem: str,
                 host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.account, self.user = account.upper(), user.upper()
        self.public_key_pem = public_key_pem
        self.staged: dict[str, bytes] = {}    # "stage/rel" -> bytes
        self.pipe_files: dict[str, list[str]] = {}
        self._httpd = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def _check_jwt(self, auth: str) -> str | None:
        """-> error string or None."""
        from bento_spark.functions.crypto_prims import (
            parse_rsa_public,
            rsa_verify,
        )

        if not auth.startswith("Bearer "):
            return "missing bearer"
        tok = auth.removeprefix("Bearer ")
        try:
            h_b64, c_b64, s_b64 = tok.split(".")
            pad = lambda s: s + "=" * (-len(s) % 4)  # noqa: E731
            claims = json.loads(base64.urlsafe_b64decode(pad(c_b64)))
            sig = base64.urlsafe_b64decode(pad(s_b64))
        except (ValueError, json.JSONDecodeError):
            return "malformed token"
        key = parse_rsa_public(self.public_key_pem)
        if not rsa_verify(key, f"{h_b64}.{c_b64}".encode("ascii"), sig, 256):
            return "bad signature"
        fp = public_key_fingerprint(key["n"], key["e"])
        if claims.get("iss") != f"{self.account}.{self.user}.{fp}":
            return "issuer mismatch"
        if claims.get("sub") != f"{self.account}.{self.user}":
            return "subject mismatch"
        if int(claims.get("exp", 0)) < time.time():
            return "expired"
        return None

    def start(self) -> "MiniSnowflakeServer":
        import http.server
        import threading

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _reply(self, status: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                err = outer._check_jwt(self.headers.get("Authorization", ""))
                if err:
                    self._reply(401, {"message": err})
                    return False
                return True

            def do_PUT(self) -> None:
                if not self._authed():
                    return
                path = urllib.parse.unquote(
                    urllib.parse.urlsplit(self.path).path)
                if not path.startswith("/stages/"):
                    self._reply(404, {"message": "unknown path"})
                    return
                n = int(self.headers.get("Content-Length") or 0)
                outer.staged[path.removeprefix("/stages/")] = (
                    self.rfile.read(n) if n else b"")
                self._reply(200, {"status": "UPLOADED"})

            def do_POST(self) -> None:
                if not self._authed():
                    return
                u = urllib.parse.urlsplit(self.path)
                m = u.path
                if not (m.startswith("/v1/data/pipes/")
                        and m.endswith("/insertFiles")):
                    self._reply(404, {"message": "unknown path"})
                    return
                if "requestId" not in dict(urllib.parse.parse_qsl(u.query)):
                    self._reply(400, {"message": "requestId required"})
                    return
                pipe = urllib.parse.unquote(
                    m.removeprefix("/v1/data/pipes/")
                    .removesuffix("/insertFiles"))
                n = int(self.headers.get("Content-Length") or 0)
                files = json.loads(self.rfile.read(n) or b"{}").get("files", [])
                outer.pipe_files.setdefault(pipe, []).extend(
                    f["path"] for f in files)
                self._reply(200, {"responseCode": "SUCCESS"})

            def do_GET(self) -> None:
                if not self._authed():
                    return
                m = urllib.parse.urlsplit(self.path).path
                if m.startswith("/v1/data/pipes/") and m.endswith("/insertReport"):
                    pipe = urllib.parse.unquote(
                        m.removeprefix("/v1/data/pipes/")
                        .removesuffix("/insertReport"))
                    files = outer.pipe_files.get(pipe, [])
                    self._reply(200, {"pipe": pipe, "files": [
                        {"path": p, "status": "LOADED"} for p in files]})
                    return
                self._reply(404, {"message": "unknown path"})

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
