"""One REST call: the connection, retry rule and backoff that every cloud
connector client (S3, SQS, SNS, Kinesis, Firehose, DynamoDB, Lambda, Azure
Blob/Queue/Table, CosmosDB, GCS, BigQuery, Pub/Sub, Spanner, Snowflake,
Discord) shares. A client keeps only its signer and its API.

A client runs inside a Spark task, a foreachBatch or a driver-side input bridge.
A raise inside a task fails the task, and a raise inside foreachBatch kills
the whole streaming query (foreachBatch has no in-run retry). So a
transient fault heals inside the call, and only a permanent one raises:

- a 2xx reply, or one whose status the caller lists in `ok` (a 404 a
  lookup reads as "absent", a 412 a precondition reads as "exists"),
  returns;
- a transport fault (`OSError`, `http.client.HTTPException`), a 5xx or a
  429 is retried up to `retries` times, waiting `backoff_s * 2**(k-1)`
  before retry k;
- any other status (a 400, 401, 403, ...) raises `ConnectionError` at
  once, naming the client, the request and the status. When the retries
  run out the same error is raised, chained from the fault if there was
  one.

Every attempt opens a new connection and calls `headers()` again, so a
signature that covers a timestamp (SigV4, SharedKey, a JWT, a bearer token
near expiry) is fresh on each attempt.
"""

from __future__ import annotations

import http.client
import time
import urllib.parse
from collections.abc import Callable


class Endpoint:
    """A service's base URL, parsed once: `host`, `port` (the scheme's
    default when absent), `host_hdr` (the `Host` header a signer covers)
    and a per-connection `timeout`."""

    def __init__(self, url: str, timeout: float):
        u = urllib.parse.urlsplit(url)
        self.https = u.scheme == "https"
        self.host = u.hostname
        self.port = u.port or (443 if self.https else 80)
        self.host_hdr = u.netloc
        self.timeout = timeout

    def connect(self) -> http.client.HTTPConnection:
        """A new, not yet opened connection to the endpoint."""
        cls = http.client.HTTPSConnection if self.https else http.client.HTTPConnection
        return cls(self.host, self.port, timeout=self.timeout)


def call(endpoint: Endpoint, method: str, target: str, body: bytes | None,
         headers: Callable[[], dict[str, str]], *, name: str,
         ok: tuple[int, ...] = (), retries: int = 3, backoff_s: float = 0.25,
         throttled: Callable[[int, bytes, float], float | None] | None = None,
         ) -> tuple[int, bytes, dict[str, str]]:
    """One request under the module's retry rule -> (status, body,
    response headers with lower-case names). `throttled(status, body,
    wait)` sees each 4xx reply not in `ok`, with the wait the rule would
    use; a number it returns marks the reply throttled and is the wait
    before retrying it, None leaves the rule to decide."""
    attempt = 0
    while True:
        # outside the try: a signer's or token exchange's own error is
        # not a transport fault of this request
        request_headers = headers()
        conn = endpoint.connect()
        status, data, resp_headers, fault = None, b"", {}, None
        try:
            conn.request(method, target, body=body, headers=request_headers)
            resp = conn.getresponse()
            status, data = resp.status, resp.read()
            resp_headers = {k.lower(): v for k, v in resp.getheaders()}
        except (OSError, http.client.HTTPException) as e:
            fault = e
        finally:
            conn.close()
        if status is not None and (status // 100 == 2 or status in ok):
            return status, data, resp_headers
        wait = backoff_s * 2 ** attempt
        transient = fault is not None or status >= 500 or status == 429
        if throttled is not None and status is not None and status // 100 == 4:
            hook_wait = throttled(status, data, wait)
            if hook_wait is not None:
                transient, wait = True, hook_wait
        if not transient or attempt >= retries:
            what = fault if fault is not None else f"{status} {data[:200]!r}"
            raise ConnectionError(f"{name}: {method} {target} -> {what}") from fault
        attempt += 1
        time.sleep(wait)
