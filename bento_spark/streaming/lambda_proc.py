"""`aws_lambda` processor: invoke a Lambda function per message over the
public REST Invoke API, SigV4-signed.

Reference (/root/reference/internal/impl/aws/processor_lambda.go): the
message content is the request payload and the invocation result becomes
the new content (:20). Transport/endpoint failures retry up to `retries`
and then flag the message errored with contents UNCHANGED (:27); a
successful invocation whose FUNCTION raised replaces the content with the
error JSON and sets the `lambda_function_error` metadata field so a
`branch` can route it (:29-39).

Wire contract (public AWS API): POST
/2015-03-31/functions/{name}/invocations with the payload as the body,
service name "lambda" in the SigV4 scope; a function error is signaled by
the `X-Amz-Function-Error` response header on an HTTP 200.

Spark-first: rows fan out across partitions (the reference's `parallel`
flag maps to partition parallelism — repartition upstream to widen); one
client per partition, Arrow-batched via mapInPandas. A
per-row round trip is inherent to the operator, same family as the `http`
enrichment processor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bento_spark.operators.errors import ERROR_COL, ensure_error_col
from bento_spark.streaming import rest

FUNC_ERROR_COL = "lambda_function_error"


class LambdaClient:
    """Minimal Invoke-API client: one signed POST per call."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def invoke(self, function: str, payload: bytes, retries: int = 3,
               backoff_s: float = 0.25) -> tuple[bytes, str | None]:
        """Returns (response payload, function_error or None); raises
        ConnectionError under rest.call's rule."""
        import urllib.parse

        from bento_spark.streaming.s3 import sigv4_rest_headers

        path = f"/2015-03-31/functions/{urllib.parse.quote(function)}/invocations"
        _, data, headers = rest.call(
            self._ep, "POST", path, payload,
            lambda: sigv4_rest_headers(
                "POST", self._ep.host_hdr, path, "", payload,
                self.access_key, self.secret_key, self.region,
                service="lambda",
                extra_headers={"content-type": "application/json"}),
            name=f"lambda Invoke {function}", retries=retries,
            backoff_s=backoff_s)
        return data, headers.get("x-amz-function-error")


def lambda_map(df: DataFrame, endpoint: str, access_key: str, secret_key: str,
               function: str, payload_col: str = "value",
               region: str = "us-east-1", retries: int = 3,
               timeout: float = 30.0) -> DataFrame:
    """Invoke `function` with each row's `payload_col` as the payload; the
    result replaces the column. Adds `lambda_function_error` (NULL when
    the function succeeded). Transport failures after retries follow the
    error-column protocol with content unchanged."""
    if FUNC_ERROR_COL in df.columns:
        raise ValueError(f"aws_lambda: {FUNC_ERROR_COL} collides with an input column")
    df = ensure_error_col(df)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = list(df.columns)
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in cols] + [f"{FUNC_ERROR_COL} string"]
    )

    def run(batches):
        import pandas as pd

        from bento_spark.streaming.lambda_proc import LambdaClient as _C

        client = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs, funcerrs, errs = [], [], []
            for payload, prev_err in zip(pdf[payload_col], pdf[ERROR_COL]):
                if client is None:
                    client = _C(endpoint, access_key, secret_key,
                                region=region, timeout=timeout)
                if payload is None:
                    outs.append(None)
                    funcerrs.append(None)
                    errs.append(prev_err)
                    continue
                raw = payload.encode() if isinstance(payload, str) else bytes(payload)
                try:
                    data, func_err = client.invoke(function, raw, retries=retries)
                except ConnectionError as e:
                    outs.append(payload)  # unchanged (:27)
                    funcerrs.append(None)
                    errs.append(prev_err or f"aws_lambda: {e}")
                    continue
                body = data.decode("utf-8", "replace") if isinstance(payload, str) else data
                outs.append(body)
                funcerrs.append(func_err)
                errs.append(prev_err)
            pdf = pdf[cols].copy()
            pdf[payload_col] = outs
            pdf[ERROR_COL] = errs
            pdf[FUNC_ERROR_COL] = funcerrs
            yield pd.DataFrame(pdf)

    return df.mapInPandas(run, schema=out_schema)


class MiniLambdaServer:
    """Invoke-API subset for e2e tests: POST
    /2015-03-31/functions/{name}/invocations, SigV4 recomputed and
    rejected on mismatch. Registered functions are callables
    bytes->bytes; a callable that raises answers HTTP 200 with the
    error JSON and X-Amz-Function-Error (the real service's unhandled-
    function-error shape); unknown functions answer 404."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1"):
        import threading

        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self.functions: dict = {}
        self.invocations: list[tuple[str, bytes]] = []
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None
        self.fail_next = 0  # answer N 500s before succeeding (retry test)

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "MiniLambdaServer":
        import http.server
        import json as _json
        import re as _re
        import threading
        import urllib.parse

        from bento_spark.streaming.s3 import sigv4_verify_request

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, body: bytes,
                       extra: dict | None = None) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                for k, v in (extra or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                path, _, query = self.path.partition("?")
                if not sigv4_verify_request("POST", path, query,
                                            dict(self.headers), payload,
                                            svc.secret_key):
                    return self._reply(403, b'{"Message":"bad signature"}')
                with svc._lock:
                    if svc.fail_next > 0:
                        svc.fail_next -= 1
                        return self._reply(500, b'{"Message":"transient"}')
                m = _re.match(r"^/2015-03-31/functions/([^/]+)/invocations$", path)
                if not m:
                    return self._reply(404, b'{"Message":"bad path"}')
                fname = urllib.parse.unquote(m.group(1))
                fn = svc.functions.get(fname)
                if fn is None:
                    return self._reply(
                        404, _json.dumps({"Message": f"Function not found: {fname}"}).encode())
                with svc._lock:
                    svc.invocations.append((fname, payload))
                try:
                    out = fn(payload)
                except Exception as e:  # the function's own failure
                    body = _json.dumps({"errorMessage": str(e),
                                        "errorType": type(e).__name__}).encode()
                    return self._reply(200, body,
                                       {"X-Amz-Function-Error": "Unhandled"})
                return self._reply(200, out)

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
