"""Pusher Channels output — the public Pusher HTTP API
(pusher.com/docs/channels/library_auth_reference/rest-api: POST
/apps/{app_id}/events with md5 body digest + HMAC-SHA256 request
signature over the canonical string "POST\\n{path}\\n{sorted query}").

Reference: internal/impl/pusher/output_pusher.go — channel (interpolated),
event, appId, key, secret. The reference uses pusher-http-go; the API is
plain signed HTTP, so no client library is needed.

Spark-first mapping: the payload JSON and the interpolated channel
compile JVM-side; executors sign and POST with one pooled connection per
partition. The auth timestamp is request-time wall clock — transport
metadata the API requires, never part of row data (the determinism
invariant governs data paths)."""

from __future__ import annotations

import functools
import http.client
import json
import time


def pusher_auth_query(key: str, secret: str, path: str, body: bytes,
                      timestamp: int) -> str:
    """-> signed query string for a POST to `path` (the documented
    auth_key/auth_timestamp/auth_version/body_md5/auth_signature recipe,
    params sorted lexically before signing)."""
    import hashlib
    import hmac

    params = {
        "auth_key": key,
        "auth_timestamp": str(timestamp),
        "auth_version": "1.0",
        "body_md5": hashlib.md5(body).hexdigest(),
    }
    qs = "&".join(f"{k}={params[k]}" for k in sorted(params))
    to_sign = f"POST\n{path}\n{qs}"
    sig = hmac.new(secret.encode(), to_sign.encode(), hashlib.sha256).hexdigest()
    return f"{qs}&auth_signature={sig}"


def pusher_sink(host: str, port: int, app_id: str, key: str, secret: str,
                event: str, channel_col: str, https: bool = False):
    """`pusher` output: one POST /apps/{app_id}/events per row (name =
    `event`, channels = [interpolated channel], data = the row as JSON),
    signed per request. Non-2xx raises and fails the micro-batch for
    checkpoint-replay at-least-once."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import json_body, write_partitions

    path = f"/apps/{app_id}/events"
    cls = http.client.HTTPSConnection if https else http.client.HTTPConnection

    def send(conn, rows) -> None:
        for row in rows:
            body = json.dumps({"name": event, "channels": [row.ch],
                               "data": row.v}).encode("utf-8")
            qs = pusher_auth_query(key, secret, path, body, int(time.time()))
            conn.request("POST", f"{path}?{qs}", body=body,
                         headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
            if resp.status // 100 != 2:
                raise ConnectionError(f"pusher: {resp.status} {data[:120]!r}")

    def write_batch(batch_df, epoch_id: int) -> None:
        payloads = batch_df.select(F.col(channel_col).alias("ch"),
                                   json_body(batch_df, channel_col).alias("v"))
        write_partitions(payloads, functools.partial(cls, host, port, timeout=10), send)

    return write_batch
