"""AWS SQS input/output — dependency-free client over the public SQS
JSON protocol (POST / with `X-Amz-Target: AmazonSQS.<Op>`,
application/x-amz-json-1.0 bodies — the wire format AWS SDKs speak) and
a full AWS Signature Version 4 implementation (the published SigV4
recipe: canonical request -> string-to-sign -> derived-key HMAC chain),
plus an in-process queue service that VERIFIES signatures.

Reference: internal/impl/aws/input_sqs.go (url, wait_time_seconds,
delete_message, max_number_of_messages; ack = DeleteMessage after the
message is handled) and output_sqs.go. The reference uses aws-sdk-go-v2;
no boto3 ships in this sandbox, so protocol + signing are implemented
from their public specifications — the connector is REAL and
e2e-testable in-process (the mini service recomputes and checks every
signature with the shared secret, so the signer is validated, not
assumed). Against real AWS, point `endpoint` at the regional URL — the
same override contract as localstack/elasticmq.

Spark-first mapping (same spool-bridge rationale as every pull source):
- input  -> sqs_bridge long-polls ReceiveMessage and persists each
  message as a durable spool file BEFORE DeleteMessage (ack-after-
  durability = at-least-once: an un-deleted message re-appears after its
  visibility timeout, the SQS contract). MessageId rides the spool
  file's header and surfaces as `sqs_message_id`.
- output -> foreachBatch SendMessageBatch in <=10-entry chunks (the API
  cap), bodies serialized JVM-side.

The x-amz-date header is request-time wall clock — transport metadata
SigV4 requires, never row content (the determinism invariant governs
data paths)."""

from __future__ import annotations

import functools
import hashlib
import hmac
import json
import threading
import time

from bento_spark.streaming import rest
from bento_spark.streaming.bridge import EMPTY_POLL_S, Bridge


# --------------------------------------------------------------------------
# SigV4 (public recipe)
# --------------------------------------------------------------------------


def sigv4_signature(method: str, path: str, query: str,
                    headers: dict[str, str], payload: bytes,
                    secret_key: str, region: str, service: str,
                    amz_date: str,
                    payload_hash: str | None = None) -> tuple[str, str]:
    """-> (signed_headers, signature) for arbitrary requests — the
    published recipe verbatim (canonical request -> string-to-sign ->
    derived-key HMAC chain). Pinned by AWS's own documented example
    vector in the tests. `payload_hash` overrides the computed hash for
    presigned-query flows whose canonical form carries the literal
    UNSIGNED-PAYLOAD (botocore SigV4QueryAuth — the MSK IAM signer)."""
    date = amz_date[:8]
    lower = {k.lower(): v.strip() for k, v in headers.items()}
    signed = ";".join(sorted(lower))
    canonical = "\n".join([
        method, path, query,
        "".join(f"{k}:{lower[k]}\n" for k in sorted(lower)),
        signed, payload_hash or hashlib.sha256(payload).hexdigest(),
    ])
    scope = f"{date}/{region}/{service}/aws4_request"
    to_sign = "\n".join([
        "AWS4-HMAC-SHA256", amz_date, scope,
        hashlib.sha256(canonical.encode()).hexdigest(),
    ])

    def hm(key: bytes, msg: str) -> bytes:
        return hmac.new(key, msg.encode(), hashlib.sha256).digest()

    k = hm(hm(hm(hm(b"AWS4" + secret_key.encode(), date), region), service),
           "aws4_request")
    return signed, hmac.new(k, to_sign.encode(), hashlib.sha256).hexdigest()


def sigv4_headers(method: str, host: str, path: str, payload: bytes,
                  access_key: str, secret_key: str, region: str,
                  service: str, amz_target: str,
                  amz_date: str | None = None,
                  content_type: str = "application/x-amz-json-1.0",
                  ) -> dict[str, str]:
    """-> headers incl. Authorization for an x-amz-json / Query-protocol
    request (content_type selects the wire dialect; the Query protocol's
    form-encoded services pass no X-Amz-Target — give amz_target ''
    to omit the header from signing and the wire)."""
    if amz_date is None:
        amz_date = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    headers = {
        "content-type": content_type,
        "host": host,
        "x-amz-date": amz_date,
    }
    if amz_target:
        headers["x-amz-target"] = amz_target
    signed, sig = sigv4_signature(method, path, "", headers, payload,
                                  secret_key, region, service, amz_date)
    scope = f"{amz_date[:8]}/{region}/{service}/aws4_request"
    out = {
        "Content-Type": content_type,
        "X-Amz-Date": amz_date,
        "Authorization": (
            f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
            f"SignedHeaders={signed}, Signature={sig}"),
    }
    if amz_target:
        out["X-Amz-Target"] = amz_target
    return out


class SqsClient:
    """Minimal SQS JSON-protocol client: SendMessage / ReceiveMessage /
    DeleteMessage, SigV4-signed."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 35.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def _call(self, op: str, body: dict) -> dict:
        payload = json.dumps(body).encode("utf-8")
        _, data, _ = rest.call(
            self._ep, "POST", "/", payload,
            lambda: sigv4_headers(
                "POST", self._ep.host_hdr, "/", payload, self.access_key,
                self.secret_key, self.region, "sqs", f"AmazonSQS.{op}"),
            name=f"sqs {op}")
        return json.loads(data) if data else {}

    def send_message(self, queue_url: str, body: str,
                     group_id: str | None = None) -> str:
        req: dict = {"QueueUrl": queue_url, "MessageBody": body}
        if group_id is not None:
            req["MessageGroupId"] = group_id
        return self._call("SendMessage", req).get("MessageId", "")

    def send_message_batch(self, queue_url: str,
                           entries: list[tuple[str, str | None]]) -> None:
        """entries: [(body, group_id)] — SendMessageBatch, <=10 per request
        (the API cap); per-entry failures raise naming the entries."""
        for i in range(0, len(entries), 10):
            chunk = entries[i : i + 10]
            req_entries = []
            for j, (body, gid) in enumerate(chunk):
                e: dict = {"Id": str(j), "MessageBody": body}
                if gid is not None:
                    e["MessageGroupId"] = gid
                req_entries.append(e)
            out = self._call("SendMessageBatch",
                             {"QueueUrl": queue_url, "Entries": req_entries})
            failed = out.get("Failed") or []
            if failed:
                raise ConnectionError(
                    f"sqs: SendMessageBatch rejected {len(failed)} entries: "
                    f"{failed[:3]!r}")

    def receive_message(self, queue_url: str, max_messages: int = 10,
                        wait_time_s: int = 0) -> list[dict]:
        out = self._call("ReceiveMessage", {
            "QueueUrl": queue_url,
            "MaxNumberOfMessages": max_messages,
            "WaitTimeSeconds": wait_time_s,
        })
        return out.get("Messages") or []

    def delete_message(self, queue_url: str, receipt_handle: str) -> None:
        self._call("DeleteMessage", {"QueueUrl": queue_url,
                                     "ReceiptHandle": receipt_handle})

    def close(self) -> None:  # connections are per-request
        pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def sqs_bridge(endpoint: str, queue_url: str, access_key: str, secret_key: str,
               spool_dir: str, region: str = "us-east-1", wait_time_s: int = 1,
               max_messages: int = 10, delete_message: bool = True) -> Bridge:
    """`aws_sqs` input (input_sqs.go): long-poll ReceiveMessage and spool
    each message as one durable file; DeleteMessage fires only AFTER the
    atomic rename: at-least-once (un-deleted messages re-appear after
    the visibility timeout). `delete_message: false` (the reference's
    leave-in-queue mode) skips the ack."""
    # leave-in-queue mode only: remember spooled ids so re-visible
    # messages don't duplicate; delete_message mode never consults it
    # (tracking there would be an unbounded leak for zero benefit)
    seen: set[str] | None = None if delete_message else set()

    def delete(client: SqsClient, receipt: str) -> None:
        try:
            client.delete_message(queue_url, receipt)
        except (ConnectionError, OSError):
            pass  # the visibility timeout re-delivers

    def messages(client: SqsClient, stop):
        while not stop.is_set():
            msgs = client.receive_message(queue_url, max_messages=max_messages,
                                          wait_time_s=wait_time_s)
            if not msgs:
                stop.wait(EMPTY_POLL_S)
            for m in msgs:
                mid = m.get("MessageId", "")
                if seen is not None:
                    if mid in seen:
                        continue
                    seen.add(mid)
                ack = (functools.partial(delete, client, m["ReceiptHandle"])
                       if delete_message and "ReceiptHandle" in m else None)
                yield m.get("Body", ""), {"sqs_message_id": mid or None}, ack

    return Bridge("aws_sqs", spool_dir,
                  functools.partial(SqsClient, endpoint, access_key, secret_key, region=region),
                  messages)


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def sqs_sink(endpoint: str, queue_url: str, access_key: str, secret_key: str,
             region: str = "us-east-1", group_id_col: str | None = None):
    """`aws_sqs` output (output_sqs.go): one SendMessage per row, body
    serialized JVM-side; the optional FIFO MessageGroupId arrives as a
    pre-computed COLUMN."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        client.send_message_batch(queue_url, [(row.v, row.g) for row in rows])

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            (F.col(group_id_col) if group_id_col else F.lit(None).cast("string")).alias("g"),
            json_body(batch_df, group_id_col).alias("v"))
        write_partitions(payloads, functools.partial(
            SqsClient, endpoint, access_key, secret_key, region=region),
            send, chunk=10)  # SendMessageBatch API cap

    return write_batch


# --------------------------------------------------------------------------
# in-process queue service (test-grade, signature-VERIFYING)
# --------------------------------------------------------------------------


class MiniSqsServer:
    """SQS JSON-protocol subset for e2e tests: SendMessage /
    ReceiveMessage (visibility timeout re-delivery) / DeleteMessage.
    Every request's SigV4 signature is RECOMPUTED with the shared secret
    and rejected on mismatch — this catches payload/header tampering and
    credential mismatches (same-recipe recompute); the recipe ITSELF is
    pinned by AWS's published example vector in the tests, so the check
    is not merely self-consistent."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1", visibility_timeout_s: float = 2.0):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self.visibility_timeout_s = visibility_timeout_s
        # queue_url -> [(message_id, body, visible_after_monotonic)]
        self._queues: dict[str, list[list]] = {}
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def queue_size(self, queue_url: str) -> int:
        with self._lock:
            return len(self._queues.get(queue_url, []))

    def start(self) -> "MiniSqsServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/x-amz-json-1.0")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                target = self.headers.get("X-Amz-Target", "")
                # independent SigV4 verification with the shared secret
                expect = sigv4_headers(
                    "POST", self.headers.get("Host", ""), "/", payload,
                    svc.access_key, svc.secret_key, svc.region, "sqs",
                    target, amz_date=self.headers.get("X-Amz-Date", ""),
                )["Authorization"]
                if self.headers.get("Authorization") != expect:
                    return self._reply(403, {"__type": "InvalidSignatureException"})
                req = json.loads(payload) if payload else {}
                op = target.split(".")[-1]
                if op == "SendMessage":
                    with svc._lock:
                        svc._seq += 1
                        mid = f"m-{svc._seq:08d}"
                        svc._queues.setdefault(req["QueueUrl"], []).append(
                            [mid, req["MessageBody"], 0.0])
                    return self._reply(200, {"MessageId": mid})
                if op == "SendMessageBatch":
                    ok = []
                    with svc._lock:
                        q = svc._queues.setdefault(req["QueueUrl"], [])
                        for e in req.get("Entries", []):
                            svc._seq += 1
                            mid = f"m-{svc._seq:08d}"
                            q.append([mid, e["MessageBody"], 0.0])
                            ok.append({"Id": e["Id"], "MessageId": mid})
                    return self._reply(200, {"Successful": ok, "Failed": []})
                if op == "ReceiveMessage":
                    deadline = time.monotonic() + float(req.get("WaitTimeSeconds", 0))
                    while True:
                        now = time.monotonic()
                        with svc._lock:
                            q = svc._queues.setdefault(req["QueueUrl"], [])
                            visible = [m for m in q if m[2] <= now]
                            picked = visible[: int(req.get("MaxNumberOfMessages", 1))]
                            for m in picked:
                                m[2] = now + svc.visibility_timeout_s
                        if picked or time.monotonic() >= deadline:
                            break
                        time.sleep(0.02)
                    return self._reply(200, {"Messages": [
                        {"MessageId": m[0], "Body": m[1],
                         # receipt handle encodes id + claim epoch
                         "ReceiptHandle": f"{m[0]}|{m[2]}"}
                        for m in picked
                    ] or None})
                if op == "DeleteMessage":
                    rid = req["ReceiptHandle"].split("|")[0]
                    with svc._lock:
                        q = svc._queues.setdefault(req["QueueUrl"], [])
                        svc._queues[req["QueueUrl"]] = [m for m in q if m[0] != rid]
                    return self._reply(200, {})
                return self._reply(400, {"__type": "UnknownOperationException"})

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
