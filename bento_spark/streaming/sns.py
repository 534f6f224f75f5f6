"""AWS SNS output — dependency-free client over the public SNS Query
protocol (form-encoded Action=Publish/PublishBatch bodies, XML responses)
signed with the repo's vector-pinned SigV4 (streaming/sqs.py), plus an
in-process signature-verifying topic service.

Reference: internal/impl/aws/output_sns.go — topic_arn, interpolated
message_group_id / message_deduplication_id (FIFO topics). The reference
uses aws-sdk-go-v2; the Query protocol is public, so no SDK is needed.

Spark-first mapping: rows serialize as JSON JVM-side; the optional FIFO
group/dedupe ids arrive as pre-computed COLUMNS; executors publish in
PublishBatch chunks of <=10 entries (the API cap), one client per
partition — at-least-once under checkpoint replay."""

from __future__ import annotations

import threading
import urllib.parse

from bento_spark.streaming import rest
from bento_spark.streaming.sqs import sigv4_headers

_VERSION = "2010-03-31"
_FORM = "application/x-www-form-urlencoded; charset=utf-8"


class SnsClient:
    """Minimal SNS Query-protocol client: Publish / PublishBatch."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 10.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def _call(self, params: dict[str, str]) -> str:
        """One signed Query-protocol request -> response XML text."""
        payload = urllib.parse.urlencode(
            dict(sorted(params.items()))).encode("utf-8")
        _, data, _ = rest.call(
            self._ep, "POST", "/", payload,
            lambda: sigv4_headers(
                "POST", self._ep.host_hdr, "/", payload, self.access_key,
                self.secret_key, self.region, "sns", "", content_type=_FORM),
            name=f"sns {params['Action']}")
        return data.decode("utf-8")

    def publish(self, topic_arn: str, message: str,
                group_id: str | None = None,
                dedupe_id: str | None = None) -> str:
        import re

        params = {"Action": "Publish", "Version": _VERSION,
                  "TopicArn": topic_arn, "Message": message}
        if group_id is not None:
            params["MessageGroupId"] = group_id
        if dedupe_id is not None:
            params["MessageDeduplicationId"] = dedupe_id
        xml = self._call(params)
        m = re.search(r"<MessageId>(.*?)</MessageId>", xml)
        return m.group(1) if m else ""

    def publish_batch(self, topic_arn: str,
                      entries: list[tuple[str, str | None, str | None]]) -> None:
        """entries: [(message, group_id, dedupe_id)] — PublishBatch in
        <=10-entry chunks (the API cap); per-entry failures raise."""
        for i in range(0, len(entries), 10):
            chunk = entries[i : i + 10]
            params = {"Action": "PublishBatch", "Version": _VERSION,
                      "TopicArn": topic_arn}
            for j, (msg, gid, did) in enumerate(chunk, start=1):
                pfx = f"PublishBatchRequestEntries.member.{j}"
                params[f"{pfx}.Id"] = str(j)
                params[f"{pfx}.Message"] = msg
                if gid is not None:
                    params[f"{pfx}.MessageGroupId"] = gid
                if did is not None:
                    params[f"{pfx}.MessageDeduplicationId"] = did
            xml = self._call(params)
            if "<BatchResultErrorEntry>" in xml:
                raise ConnectionError(f"sns: PublishBatch rejected entries: "
                                      f"{xml[:300]!r}")

    def close(self) -> None:  # connections are per-request
        pass


def sns_sink(endpoint: str, topic_arn: str, access_key: str, secret_key: str,
             region: str = "us-east-1", group_id_col: str | None = None,
             dedupe_id_col: str | None = None):
    """`aws_sns` output (output_sns.go): rows serialize as JSON JVM-side,
    FIFO group/dedupe ids as pre-computed columns, PublishBatch chunks."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        meta_cols = {c for c in (group_id_col, dedupe_id_col) if c}
        data_cols = [c for c in batch_df.columns if c not in meta_cols]
        payloads = batch_df.select(
            F.to_json(F.struct(*[F.col(c) for c in data_cols])).alias("v"),
            (F.col(group_id_col) if group_id_col
             else F.lit(None).cast("string")).alias("g"),
            (F.col(dedupe_id_col) if dedupe_id_col
             else F.lit(None).cast("string")).alias("d"),
        )

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.sns import SnsClient

            client = SnsClient(endpoint, access_key, secret_key, region=region)
            pending: list[tuple[str, str | None, str | None]] = []
            for row in rows:
                pending.append((row.v, row.g, row.d))
                if len(pending) >= 10:
                    client.publish_batch(topic_arn, pending)
                    pending = []
            if pending:
                client.publish_batch(topic_arn, pending)

        payloads.foreachPartition(send)

    return write_batch


class MiniSnsServer:
    """SNS Query-protocol subset for e2e tests: Publish / PublishBatch,
    SigV4 recomputed over the form payload and rejected on mismatch."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1"):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        # topic_arn -> [(message, group_id, dedupe_id)]
        self.topics: dict[str, list[tuple]] = {}
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def messages(self, topic_arn: str) -> list[tuple]:
        with self._lock:
            return list(self.topics.get(topic_arn, []))

    def start(self) -> "MiniSnsServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, body: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "text/xml")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                expect = sigv4_headers(
                    "POST", self.headers.get("Host", ""), "/", payload,
                    svc.access_key, svc.secret_key, svc.region, "sns", "",
                    amz_date=self.headers.get("X-Amz-Date", ""),
                    content_type=self.headers.get("Content-Type", ""),
                )["Authorization"]
                if self.headers.get("Authorization") != expect:
                    return self._reply(
                        403, b"<ErrorResponse><Error><Code>SignatureDoesNotMatch"
                             b"</Code></Error></ErrorResponse>")
                params = dict(urllib.parse.parse_qsl(
                    payload.decode("utf-8"), keep_blank_values=True))
                action = params.get("Action")
                if action == "Publish":
                    with svc._lock:
                        svc._seq += 1
                        svc.topics.setdefault(params["TopicArn"], []).append(
                            (params["Message"],
                             params.get("MessageGroupId"),
                             params.get("MessageDeduplicationId")))
                        mid = f"sns-{svc._seq:08d}"
                    return self._reply(200, (
                        f"<PublishResponse><PublishResult><MessageId>{mid}"
                        "</MessageId></PublishResult></PublishResponse>"
                    ).encode())
                if action == "PublishBatch":
                    with svc._lock:
                        q = svc.topics.setdefault(params["TopicArn"], [])
                        j = 1
                        while f"PublishBatchRequestEntries.member.{j}.Id" in params:
                            pfx = f"PublishBatchRequestEntries.member.{j}"
                            q.append((params[f"{pfx}.Message"],
                                      params.get(f"{pfx}.MessageGroupId"),
                                      params.get(f"{pfx}.MessageDeduplicationId")))
                            j += 1
                    return self._reply(200, b"<PublishBatchResponse>"
                                            b"<PublishBatchResult><Successful/>"
                                            b"<Failed/></PublishBatchResult>"
                                            b"</PublishBatchResponse>")
                return self._reply(400, b"<ErrorResponse><Error><Code>"
                                        b"InvalidAction</Code></Error>"
                                        b"</ErrorResponse>")

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
