"""Azure Queue Storage input/output — dependency-free client over the
public Queue Storage REST API (XML <QueueMessage> bodies, base64 message
text — the storage-SDK convention, pop receipts, visibility timeout)
with the SharedKey signing layer from streaming/azure_blob.py, plus an
in-process signature-verifying queue service.

Reference: internal/impl/azure/input_queue_storage.go (queue_name,
max_in_flight dequeue count, dequeue_visibility_timeout; delete only
after the message is handled) and output_queue_storage.go (interpolated
queue_name, ttl). The reference uses azure-sdk-for-go; the REST protocol
is public, so no SDK is needed.

Spark-first mapping (same spool-bridge rationale as aws_sqs):
- input  -> AzureQueueSpooler long-polls Get Messages and spools each
  message durably BEFORE Delete Message (pop receipt) — un-deleted
  messages re-appear after the visibility timeout (at-least-once).
- output -> rows serialize as JSON JVM-side and Put Message per row,
  one client per partition."""

from __future__ import annotations

import base64
import threading
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.azure_blob import (
    _xml_escape,
    _xml_unescape,
    shared_key_signature,
    shared_key_string_to_sign,
)
from bento_spark.streaming.spool import Spool

_API_VERSION = "2021-08-06"


class AzureQueueClient:
    """Minimal Queue REST client: Put Message / Get Messages / Delete
    Message, SharedKey-signed."""

    def __init__(self, endpoint: str, account: str, account_key: str,
                 timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.account, self.account_key = account, account_key

    def _request(self, method: str, path: str,
                 query_pairs: list[tuple[str, str]] | None = None,
                 body: bytes = b"") -> bytes:
        pairs = list(query_pairs or [])

        def headers() -> dict[str, str]:
            h = {
                "x-ms-date": time.strftime("%a, %d %b %Y %H:%M:%S GMT",
                                           time.gmtime()),
                "x-ms-version": _API_VERSION,
                "Content-Length": str(len(body)),
                "Host": self._ep.host_hdr,
            }
            if body:
                h["Content-Type"] = "application/xml"
            sts = shared_key_string_to_sign(method, path, pairs, h,
                                            self.account)
            h["Authorization"] = (
                f"SharedKey {self.account}:"
                f"{shared_key_signature(sts, self.account_key)}")
            return h

        qs = urllib.parse.urlencode(pairs)
        return rest.call(self._ep, method, path + (f"?{qs}" if qs else ""),
                         body, headers, name="azure_queue")[1]

    def put_message(self, queue: str, text: str, ttl_s: int | None = None) -> None:
        """Put Message: base64 message text (the storage-SDK convention)."""
        pairs = [] if ttl_s is None else [("messagettl", str(ttl_s))]
        b64 = base64.b64encode(text.encode("utf-8")).decode("ascii")
        body = f"<QueueMessage><MessageText>{_xml_escape(b64)}" \
               f"</MessageText></QueueMessage>".encode()
        self._request("POST", f"/{urllib.parse.quote(queue)}/messages",
                      pairs, body=body)

    def get_messages(self, queue: str, num: int = 16,
                     visibility_timeout_s: int = 30) -> list[dict]:
        """Get Messages -> [{'id', 'pop_receipt', 'text'}]."""
        import re

        data = self._request(
            "GET", f"/{urllib.parse.quote(queue)}/messages",
            [("numofmessages", str(num)),
             ("visibilitytimeout", str(visibility_timeout_s))])
        out = []
        for m in re.finditer(
                r"<QueueMessage>.*?<MessageId>(.*?)</MessageId>.*?"
                r"<PopReceipt>(.*?)</PopReceipt>.*?"
                r"<MessageText>(.*?)</MessageText>.*?</QueueMessage>",
                data.decode("utf-8"), re.S):
            out.append({
                "id": _xml_unescape(m.group(1)),
                "pop_receipt": _xml_unescape(m.group(2)),
                "text": base64.b64decode(
                    _xml_unescape(m.group(3))).decode("utf-8"),
            })
        return out

    def delete_message(self, queue: str, message_id: str,
                       pop_receipt: str) -> None:
        self._request(
            "DELETE",
            f"/{urllib.parse.quote(queue)}/messages/"
            f"{urllib.parse.quote(message_id)}",
            [("popreceipt", pop_receipt)])

    def close(self) -> None:  # connections are per-request
        pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


@dataclass
class AzureQueueSpooler:
    """`azure_queue_storage` input (input_queue_storage.go): poll Get
    Messages; Delete Message (pop receipt) fires only AFTER the atomic
    spool rename — at-least-once via the visibility timeout."""

    endpoint: str
    account: str
    account_key: str
    queue: str
    spool_dir: str
    max_messages: int = 16
    visibility_timeout_s: int = 30
    error: str | None = field(default=None, repr=False)
    _thread: threading.Thread | None = field(default=None, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)

    def start(self) -> "AzureQueueSpooler":
        spool = Spool(self.spool_dir)
        client = AzureQueueClient(self.endpoint, self.account, self.account_key)

        def run() -> None:
            import sys

            while not self._stop.is_set():
                try:
                    msgs = client.get_messages(
                        self.queue, num=self.max_messages,
                        visibility_timeout_s=self.visibility_timeout_s)
                except (ConnectionError, OSError):
                    if self._stop.wait(0.5):
                        return
                    continue
                if not msgs:
                    self._stop.wait(0.05)
                    continue
                try:
                    for m in msgs:
                        spool.put(m["text"], queue_storage_message_id=m["id"])
                        try:
                            client.delete_message(self.queue, m["id"],
                                                  m["pop_receipt"])
                        except (ConnectionError, OSError):
                            pass  # visibility timeout re-delivers
                except Exception as e:
                    self.error = f"azure_queue_storage: {e}"
                    print(self.error, file=sys.stderr)
                    return

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def azure_queue_sink(endpoint: str, account: str, account_key: str,
                     queue: str, ttl_s: int | None = None):
    """`azure_queue_storage` output (output_queue_storage.go): rows
    serialize as JSON JVM-side, one Put Message per row."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            F.to_json(F.struct(*[F.col(c) for c in batch_df.columns])).alias("v"))

        def send(rows) -> None:
            from bento_spark.streaming.azure_queue import AzureQueueClient

            client = None
            for row in rows:
                if client is None:
                    client = AzureQueueClient(endpoint, account, account_key)
                client.put_message(queue, row.v, ttl_s=ttl_s)

        payloads.foreachPartition(send)

    return write_batch


# --------------------------------------------------------------------------
# in-process queue service (test-grade, signature-VERIFYING)
# --------------------------------------------------------------------------


class MiniAzureQueueServer:
    """Queue REST subset for e2e tests: Put/Get/Delete Messages with pop
    receipts and visibility-timeout re-delivery; SharedKey recomputed and
    rejected on mismatch."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 account: str = "testaccount",
                 account_key: str | None = None):
        self.host, self.port = host, port
        self.account = account
        self.account_key = account_key or base64.b64encode(
            b"mini-azure-queue-test-key").decode("ascii")
        # queue -> [[id, b64text, visible_after_monotonic, pop_receipt]]
        self._queues: dict[str, list[list]] = {}
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def queue_size(self, queue: str) -> int:
        with self._lock:
            return len(self._queues.get(queue, []))

    def start(self) -> "MiniAzureQueueServer":
        import http.server
        import re

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, body: bytes = b"") -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/xml")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _route(self):
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                split = urllib.parse.urlsplit(self.path)
                pairs = urllib.parse.parse_qsl(split.query,
                                               keep_blank_values=True)
                sts = shared_key_string_to_sign(
                    self.command, split.path, pairs, dict(self.headers),
                    svc.account)
                want = shared_key_signature(sts, svc.account_key)
                if self.headers.get("Authorization") != \
                        f"SharedKey {svc.account}:{want}":
                    return self._reply(
                        403, b"<Error><Code>AuthenticationFailed</Code></Error>")
                q = dict(pairs)
                segs = urllib.parse.unquote(split.path).lstrip("/").split("/")
                queue = segs[0]
                with svc._lock:
                    msgs = svc._queues.setdefault(queue, [])
                    if self.command == "POST" and segs[1:] == ["messages"]:
                        m = re.search(rb"<MessageText>(.*?)</MessageText>",
                                      payload, re.S)
                        svc._seq += 1
                        msgs.append([f"m-{svc._seq:08d}",
                                     m.group(1).decode("utf-8"), 0.0, ""])
                        return self._reply(201)
                    if self.command == "GET" and segs[1:] == ["messages"]:
                        now = time.monotonic()
                        vis = float(q.get("visibilitytimeout", "30"))
                        num = int(q.get("numofmessages", "1"))
                        picked = [m for m in msgs if m[2] <= now][:num]
                        frags = ["<QueueMessagesList>"]
                        for m in picked:
                            m[2] = now + vis
                            m[3] = uuid.uuid4().hex
                            frags.append(
                                f"<QueueMessage><MessageId>{m[0]}</MessageId>"
                                f"<PopReceipt>{m[3]}</PopReceipt>"
                                f"<MessageText>{m[1]}</MessageText>"
                                "</QueueMessage>")
                        frags.append("</QueueMessagesList>")
                        return self._reply(200, "".join(frags).encode())
                    if self.command == "DELETE" and len(segs) == 3:
                        mid, receipt = segs[2], q.get("popreceipt", "")
                        before = len(msgs)
                        svc._queues[queue] = [
                            m for m in msgs
                            if not (m[0] == mid and m[3] == receipt)]
                        if len(svc._queues[queue]) == before:
                            return self._reply(
                                404, b"<Error><Code>MessageNotFound"
                                     b"</Code></Error>")
                        return self._reply(204)
                return self._reply(400, b"<Error><Code>BadRequest</Code></Error>")

            do_GET = do_POST = do_DELETE = _route  # noqa: N815

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
