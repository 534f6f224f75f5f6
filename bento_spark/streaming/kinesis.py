"""AWS Kinesis input/output — dependency-free client over the public
Kinesis JSON protocol (`X-Amz-Target: Kinesis_20131202.<Op>`:
ListShards / GetShardIterator / GetRecords / PutRecords with base64
data) signed with the repo's SigV4 (streaming/sqs.py, pinned against
AWS's published vector), plus an in-process signature-verifying stream
service that routes PutRecords by MD5(partition key) across shard hash
ranges exactly like the real service.

Reference: internal/impl/aws/input_kinesis.go (`streams`,
`checkpoint_limit`; the reference checkpoints shard sequence numbers to
DynamoDB for consumer-group balancing) and output_kinesis.go
(interpolated partition key). Balancing across MULTIPLE bridge
instances (the DynamoDB lease table) is out of scope — one bridge owns
all shards of its streams, checkpointing sequence numbers to the spool
dir the same way the kafka_franz bridge checkpoints offsets.

Spark-first mapping (same spool-bridge rationale as kafka_franz):
- input  -> kinesis_bridge iterates every shard from TRIM_HORIZON (or
  the checkpointed sequence), spools each record BEFORE advancing the
  sequence file (files-then-checkpoint = at-least-once). shard id +
  sequence number + partition key ride the spool file's header and surface as
  `kinesis_shard`/`kinesis_sequence`/`kinesis_partition_key` columns.
- output -> foreachBatch PutRecords (<=500/request, the API cap), data
  serialized JVM-side, the interpolated partition key as a COLUMN.
"""

from __future__ import annotations

import base64
import functools
import hashlib
import json
import threading
from pathlib import Path

from bento_spark.streaming import rest
from bento_spark.streaming.bridge import EMPTY_POLL_S, Bridge, batch, close_client
from bento_spark.streaming.sqs import sigv4_headers

_TARGET = "Kinesis_20131202"


class KinesisClient:
    """Minimal Kinesis JSON-protocol client."""

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
                self.secret_key, self.region, "kinesis", f"{_TARGET}.{op}"),
            name=f"kinesis {op}")
        return json.loads(data) if data else {}

    def list_shards(self, stream: str) -> list[str]:
        out = self._call("ListShards", {"StreamName": stream})
        return [s["ShardId"] for s in out.get("Shards", [])]

    def get_shard_iterator(self, stream: str, shard_id: str,
                           after_sequence: str | None = None) -> str:
        body: dict = {"StreamName": stream, "ShardId": shard_id}
        if after_sequence is None:
            body["ShardIteratorType"] = "TRIM_HORIZON"
        else:
            body["ShardIteratorType"] = "AFTER_SEQUENCE_NUMBER"
            body["StartingSequenceNumber"] = after_sequence
        return self._call("GetShardIterator", body)["ShardIterator"]

    def get_records(self, iterator: str, limit: int = 1000
                    ) -> tuple[list[dict], str]:
        out = self._call("GetRecords", {"ShardIterator": iterator,
                                        "Limit": limit})
        return out.get("Records", []), out.get("NextShardIterator", "")

    def put_records(self, stream: str, records: list[tuple[bytes, str]],
                    retries: int = 5, backoff_s: float = 0.2) -> None:
        """records: [(data, partition_key)] — <=500 per request (API cap).
        Per-record failures (routine throttling returns FailedRecordCount>0
        with ErrorCode on the failed entries) retry ONLY the failed subset
        with backoff, like every real producer."""
        import time as _time

        for i in range(0, len(records), 500):
            chunk = list(records[i : i + 500])
            for attempt in range(retries + 1):
                out = self._call("PutRecords", {"StreamName": stream, "Records": [
                    {"Data": base64.b64encode(d).decode("ascii"), "PartitionKey": pk}
                    for d, pk in chunk
                ]})
                if not out.get("FailedRecordCount"):
                    break
                results = out.get("Records", [])
                chunk = [rec for rec, res in zip(chunk, results)
                         if res.get("ErrorCode")] or chunk
                if attempt == retries:
                    raise ConnectionError(
                        f"kinesis: PutRecords still failing {len(chunk)} "
                        f"records after {retries} retries")
                _time.sleep(backoff_s * (2 ** attempt))

    def close(self) -> None:  # connections are per-request
        pass


# --------------------------------------------------------------------------
# input bridge
# --------------------------------------------------------------------------


def kinesis_bridge(endpoint: str, streams: list[str], access_key: str, secret_key: str,
                   spool_dir: str, region: str = "us-east-1",
                   checkpoint_limit: int = 1000) -> Bridge:
    """`aws_kinesis` input (input_kinesis.go): iterate every shard of the
    subscribed streams, spool each record, checkpoint sequence numbers to
    `<spool>/.sequences.json` AFTER the covered records are durable
    (files-then-checkpoint = at-least-once; the reference's DynamoDB
    checkpointer plays this role across balanced consumers). Every
    (re)connect re-acquires each shard's iterator after its checkpointed
    sequence: an expired iterator or a lost connection resumes there."""
    ckpt_path = Path(spool_dir) / ".sequences.json"

    def connect():
        client = KinesisClient(endpoint, access_key, secret_key, region=region)
        sequences = json.loads(ckpt_path.read_text()) if ckpt_path.exists() else {}
        iterators = {(stream, shard): client.get_shard_iterator(
                         stream, shard, after_sequence=sequences.get(f"{stream}/{shard}"))
                     for stream in streams for shard in client.list_shards(stream)}
        return client, iterators, sequences

    def commit(sequences: dict, key: str, sn: str) -> None:
        sequences[key] = sn
        tmp = ckpt_path.with_name(".sequences.json.tmp")
        tmp.write_text(json.dumps(sequences))
        tmp.rename(ckpt_path)

    def messages(conn, stop):
        client, iterators, sequences = conn
        while not stop.is_set():
            progressed = False
            for (stream, shard), it in list(iterators.items()):
                records, nxt = client.get_records(it, limit=checkpoint_limit)
                if nxt:
                    iterators[(stream, shard)] = nxt
                else:
                    # closed shard (resharding): a null iterator means the
                    # shard is drained once these records are spooled
                    del iterators[(stream, shard)]
                if records:
                    progressed = True
                    # the reference's record metadata; the checkpoint
                    # rides the batch's last record
                    yield from batch([(base64.b64decode(rec.get("Data", "")), {
                        "kinesis_stream": stream, "kinesis_shard": shard,
                        "kinesis_sequence": rec.get("SequenceNumber", ""),
                        "kinesis_partition_key": rec.get("PartitionKey", "")})
                        for rec in records], functools.partial(
                            commit, sequences, f"{stream}/{shard}",
                            records[-1].get("SequenceNumber", "")))
            if not progressed:
                stop.wait(EMPTY_POLL_S)

    return Bridge("aws_kinesis", spool_dir, connect, messages,
                  close=lambda conn: close_client(conn[0]))


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def kinesis_sink(endpoint: str, stream: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", partition_key_col: str | None = None):
    """`aws_kinesis` output (output_kinesis.go: interpolated partition
    key): rows serialize JVM-side, executors batch PutRecords (<=500 per
    request). Keyless rows get a per-row uuid partition key (the
    reference's default spreads the same way)."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    def send(client, rows) -> None:
        client.put_records(stream, [(row.v.encode("utf-8"), row.pk) for row in rows])

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(
            (F.col(partition_key_col) if partition_key_col else F.expr("uuid()")).alias("pk"),
            json_body(batch_df, partition_key_col).alias("v"))
        write_partitions(payloads, functools.partial(
            KinesisClient, endpoint, access_key, secret_key, region=region),
            send, chunk=500)  # PutRecords API cap

    return write_batch


# --------------------------------------------------------------------------
# in-process stream service (test-grade, signature-verifying)
# --------------------------------------------------------------------------


class MiniKinesisServer:
    """Kinesis JSON-protocol subset for e2e tests: ListShards /
    GetShardIterator (TRIM_HORIZON + AFTER_SEQUENCE_NUMBER) / GetRecords
    / PutRecords with REAL partition-key routing — MD5(partition key)
    against evenly-split shard hash ranges, the documented algorithm.
    SigV4 recomputed and rejected on mismatch."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1", num_shards: int = 2):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self.num_shards = num_shards
        # stream -> shard_id -> [(sequence, data_b64, partition_key)]
        self._streams: dict[str, dict[str, list]] = {}
        self._seq = 0
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def _shard_for(self, key: str) -> str:
        h = int.from_bytes(hashlib.md5(key.encode("utf-8")).digest(), "big")
        span = (1 << 128) // self.num_shards
        idx = min(h // span, self.num_shards - 1)
        return f"shardId-{idx:012d}"

    def _ensure(self, stream: str) -> dict:
        return self._streams.setdefault(stream, {
            f"shardId-{i:012d}": [] for i in range(self.num_shards)
        })

    def shard_sizes(self, stream: str) -> dict[str, int]:
        with self._lock:
            return {k: len(v) for k, v in self._ensure(stream).items()}

    def start(self) -> "MiniKinesisServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/x-amz-json-1.1")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                target = self.headers.get("X-Amz-Target", "")
                expect = sigv4_headers(
                    "POST", self.headers.get("Host", ""), "/", payload,
                    svc.access_key, svc.secret_key, svc.region, "kinesis",
                    target, amz_date=self.headers.get("X-Amz-Date", ""),
                )["Authorization"]
                if self.headers.get("Authorization") != expect:
                    return self._reply(403, {"__type": "InvalidSignatureException"})
                req = json.loads(payload)
                op = target.split(".")[-1]
                with svc._lock:
                    if op == "ListShards":
                        shards = svc._ensure(req["StreamName"])
                        return self._reply(200, {"Shards": [
                            {"ShardId": sid} for sid in sorted(shards)]})
                    if op == "PutRecords":
                        shards = svc._ensure(req["StreamName"])
                        for rec in req.get("Records", []):
                            svc._seq += 1
                            sid = svc._shard_for(rec["PartitionKey"])
                            shards[sid].append((f"{svc._seq:020d}",
                                                rec["Data"],
                                                rec["PartitionKey"]))
                        return self._reply(200, {"FailedRecordCount": 0})
                    if op == "GetShardIterator":
                        # iterator token = stream|shard|start_sequence(exclusive)
                        start = ""
                        if req.get("ShardIteratorType") == "AFTER_SEQUENCE_NUMBER":
                            start = req["StartingSequenceNumber"]
                        tok = f"{req['StreamName']}|{req['ShardId']}|{start}"
                        return self._reply(200, {"ShardIterator": tok})
                    if op == "GetRecords":
                        stream, shard, start = req["ShardIterator"].split("|")
                        q = svc._ensure(stream).get(shard, [])
                        picked = [r for r in q if r[0] > start][: int(
                            req.get("Limit", 1000))]
                        last = picked[-1][0] if picked else start
                        return self._reply(200, {
                            "Records": [
                                {"SequenceNumber": sn, "Data": d,
                                 "PartitionKey": pk}
                                for sn, d, pk in picked
                            ],
                            "NextShardIterator": f"{stream}|{shard}|{last}",
                            "MillisBehindLatest": 0,
                        })
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
