"""AWS Kinesis Firehose output — dependency-free client over the public
Firehose JSON protocol (X-Amz-Target: Firehose_20150804.<Op>,
application/x-amz-json-1.1, base64 record Data) signed with the repo's
vector-pinned SigV4, plus an in-process signature-verifying delivery
stream service.

Reference: internal/impl/aws/output_kinesis_firehose.go — `stream`
(delivery stream name), connect-time DescribeDeliveryStream probe,
PutRecordBatch writes with per-record failure retry (the SDK surfaces
FailedPutCount + per-record ErrorCode; dropping failed records would lose
data silently).

Spark-first mapping: rows serialize as JSON JVM-side (newline-terminated,
the Firehose-to-S3 convention); executors send PutRecordBatch chunks of
<=500 records (the API cap), re-sending only the failed records with
backoff — at-least-once under checkpoint replay."""

from __future__ import annotations

import base64
import json
import threading
import time

from bento_spark.streaming import rest
from bento_spark.streaming.sqs import sigv4_headers

_TARGET = "Firehose_20150804"
_JSON11 = "application/x-amz-json-1.1"


class FirehoseClient:
    """Minimal Firehose JSON-protocol client: DescribeDeliveryStream /
    PutRecordBatch (with per-record failure retry)."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 10.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def _call(self, op: str, body: dict) -> dict:
        payload = json.dumps(body).encode("utf-8")
        _, data, _ = rest.call(
            self._ep, "POST", "/", payload,
            lambda: sigv4_headers(
                "POST", self._ep.host_hdr, "/", payload, self.access_key,
                self.secret_key, self.region, "firehose", f"{_TARGET}.{op}",
                content_type=_JSON11),
            name=f"firehose {op}")
        return json.loads(data) if data else {}

    def describe(self, stream: str) -> dict:
        return self._call("DescribeDeliveryStream",
                          {"DeliveryStreamName": stream})

    def put_record_batch(self, stream: str, records: list[bytes],
                         max_attempts: int = 5) -> None:
        """PutRecordBatch in <=500-record chunks; partially-failed
        batches re-send ONLY the failed records (FailedPutCount +
        per-record ErrorCode, the reference's retry contract)."""
        for i in range(0, len(records), 500):
            todo = records[i : i + 500]
            backoff = 0.1
            for attempt in range(max_attempts):
                out = self._call("PutRecordBatch", {
                    "DeliveryStreamName": stream,
                    "Records": [
                        {"Data": base64.b64encode(r).decode("ascii")}
                        for r in todo
                    ],
                })
                if not out.get("FailedPutCount"):
                    todo = []
                    break
                responses = out.get("RequestResponses") or []
                todo = [r for r, resp in zip(todo, responses)
                        if resp.get("ErrorCode")]
                time.sleep(backoff)
                backoff = min(backoff * 2, 2.0)
            if todo:
                raise ConnectionError(
                    f"firehose: {len(todo)} records still failing after "
                    f"{max_attempts} attempts")

    def close(self) -> None:  # connections are per-request
        pass


def firehose_sink(endpoint: str, stream: str, access_key: str,
                  secret_key: str, region: str = "us-east-1"):
    """`aws_kinesis_firehose` output (output_kinesis_firehose.go): rows
    serialize as newline-terminated JSON JVM-side; executors send
    PutRecordBatch chunks with per-record failure retry."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            F.concat(
                F.to_json(F.struct(*[F.col(c) for c in batch_df.columns])),
                F.lit("\n"),
            ).alias("v"))

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.firehose import FirehoseClient

            client = FirehoseClient(endpoint, access_key, secret_key,
                                    region=region)
            pending: list[bytes] = []
            for row in rows:
                pending.append(row.v.encode("utf-8"))
                if len(pending) >= 500:  # PutRecordBatch API cap
                    client.put_record_batch(stream, pending)
                    pending = []
            if pending:
                client.put_record_batch(stream, pending)

        payloads.foreachPartition(send)

    return write_batch


class MiniFirehoseServer:
    """Firehose JSON-protocol subset for e2e tests: SigV4 recomputed and
    rejected on mismatch; `fail_first` injects per-record failures once
    so the partial-retry path is exercised, exactly how real throttling
    surfaces (FailedPutCount + ErrorCode, not an HTTP error)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1", fail_first: int = 0):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self.fail_first = fail_first
        self.records: dict[str, list[bytes]] = {}
        self.batch_calls = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def data(self, stream: str) -> list[bytes]:
        with self._lock:
            return list(self.records.get(stream, []))

    def start(self) -> "MiniFirehoseServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", _JSON11)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                target = self.headers.get("X-Amz-Target", "")
                expect = sigv4_headers(
                    "POST", self.headers.get("Host", ""), "/", payload,
                    svc.access_key, svc.secret_key, svc.region, "firehose",
                    target, amz_date=self.headers.get("X-Amz-Date", ""),
                    content_type=self.headers.get("Content-Type", ""),
                )["Authorization"]
                if self.headers.get("Authorization") != expect:
                    return self._reply(403, {"__type": "InvalidSignatureException"})
                req = json.loads(payload)
                op = target.split(".")[-1]
                if op == "DescribeDeliveryStream":
                    return self._reply(200, {"DeliveryStreamDescription": {
                        "DeliveryStreamName": req["DeliveryStreamName"],
                        "DeliveryStreamStatus": "ACTIVE"}})
                if op == "PutRecordBatch":
                    with svc._lock:
                        svc.batch_calls += 1
                        inject_fail = svc.fail_first > 0
                        if inject_fail:
                            svc.fail_first -= 1
                        stream = req["DeliveryStreamName"]
                        out = []
                        failed = 0
                        for i, rec in enumerate(req.get("Records", [])):
                            # odd-index records fail when injecting
                            if inject_fail and i % 2 == 1:
                                failed += 1
                                out.append({"ErrorCode":
                                            "ServiceUnavailableException"})
                                continue
                            svc.records.setdefault(stream, []).append(
                                base64.b64decode(rec["Data"]))
                            out.append({"RecordId": f"r{len(svc.records[stream])}"})
                    return self._reply(200, {"FailedPutCount": failed,
                                             "RequestResponses": out})
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
