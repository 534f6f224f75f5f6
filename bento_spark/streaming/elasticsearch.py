"""`elasticsearch` output: bulk-index rows into an Elasticsearch cluster.

Reference semantics (/root/reference/internal/impl/elasticsearch/output.go):
messages append to an in-flight bulk request; `index`, `action`, `id`,
`routing` and `pipeline` are interpolated per message (:353-363); the
action must resolve to one of index/create/update/upsert/delete (:476-499,
upsert = update with doc_as_upsert); per-item failures are retried with
backoff while the transport-level bulk POST uses the client's retrier.

Spark-first mapping: the interpolations compile to COLUMNS (the compiler
stamps `_es_*` columns with compile_interpolated), and BOTH bulk NDJSON
lines — the action line and the source line — are built JVM-side with
to_json/concat inside whole-stage codegen. The executor partition loop
only concatenates prebuilt bytes into size-bounded chunks and POSTs them
over one pooled keep-alive connection per partition: no per-row Python
serialization anywhere. Per-item 429/503 responses re-enqueue just those
items (exponential backoff); any other >=300 item status is permanent and
raises with the offending items named. At-least-once like the reference —
set `id` to a deterministic interpolation so replays overwrite instead of
duplicating.

`MiniEsServer` is the sandbox twin of a real cluster: an in-process HTTP
server speaking the `/_bulk` + `/{index}/_doc/{id}` subset the writer and
tests need, with per-item fault injection to exercise the retry path.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.parse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bento_spark.streaming.sink import KeepAlive, write_partitions

ACTIONS = ("index", "create", "update", "upsert", "delete")

# columns the compiler stamps; everything else is document payload
META_COLS = ("_es_index", "_es_action", "_es_id", "_es_routing", "_es_pipeline")


def build_bulk_lines(df: DataFrame) -> DataFrame:
    """Project (action_line, source_line) — the two NDJSON lines of each
    bulk item — entirely JVM-side. Returns a 2-column DataFrame."""
    doc_cols = [c for c in df.columns if c not in META_COLS]
    doc = F.to_json(F.struct(*[F.col(c) for c in doc_cols]))
    blank_as_null = lambda c: F.when(F.length(F.col(c)) > 0, F.col(c))  # noqa: E731
    # `update`/`upsert` both emit an "update" action type (output.go:482-491)
    action_type = F.when(F.col("_es_action") == "upsert", F.lit("update")).otherwise(
        F.col("_es_action")
    )
    meta = F.to_json(
        F.struct(
            F.col("_es_index").alias("_index"),
            blank_as_null("_es_id").alias("_id"),
            blank_as_null("_es_routing").alias("routing"),
            blank_as_null("_es_pipeline").alias("pipeline"),
        )
    )
    action_line = F.concat(F.lit('{"'), action_type, F.lit('":'), meta, F.lit("}"))
    source_line = (
        F.when(F.col("_es_action") == "delete", F.lit(None).cast("string"))
        .when(F.col("_es_action") == "update", F.concat(F.lit('{"doc":'), doc, F.lit("}")))
        .when(
            F.col("_es_action") == "upsert",
            F.concat(F.lit('{"doc":'), doc, F.lit(',"doc_as_upsert":true}')),
        )
        .otherwise(doc)
    )
    return df.select(action_line.alias("action_line"), source_line.alias("source_line"))


def _with_es_port(url: str) -> str:
    """`url` with Elasticsearch's port 9200 filled in when a plain-http URL
    names none; an https URL keeps the scheme's 443."""
    u = urllib.parse.urlsplit(url)
    if u.scheme == "https" or u.port is not None:
        return url
    return u._replace(netloc=f"{u.netloc}:9200").geturl()


def es_bulk_writer(
    url: str,
    max_batch_bytes: int = 4 * 2**20,
    timeout: float = 10.0,
    retries: int = 3,
    backoff_s: float = 0.25,
    headers: dict | None = None,
):
    """foreachBatch writer: POST size-bounded `/_bulk` chunks per
    partition. Input DataFrame must carry the `_es_*` meta columns."""
    hdrs = {"Content-Type": "application/x-ndjson", **(headers or {})}

    def post_items(pool: KeepAlive, items: list[tuple[str, str | None]]) -> None:
        """One bulk POST + per-item retry of transient failures."""
        pending = items
        for attempt in range(retries + 1):
            body = "".join(
                a + "\n" + (s + "\n" if s is not None else "")
                for a, s in pending
            ).encode("utf-8")
            try:
                conn = pool.get()
                conn.request("POST", "/_bulk", body=body, headers=hdrs)
                resp = conn.getresponse()
                payload = resp.read()
                if resp.status >= 300:
                    raise ConnectionError(f"bulk http status {resp.status}")
            except (ConnectionError, OSError):
                # transport failure: drop the pooled conn, retry whole chunk
                pool.close()
                if attempt >= retries:
                    raise
                time.sleep(backoff_s * (2**attempt))
                continue
            result = json.loads(payload)
            if not result.get("errors"):
                return
            transient, permanent = [], []
            for item, sent in zip(result["items"], pending):
                st = next(iter(item.values())).get("status", 500)
                if st >= 300:
                    # ES overload / shard unavailable retry codes
                    (transient if st in (429, 503) else permanent).append((st, sent))
            if permanent:
                detail = "; ".join(
                    f"status {st}: {a[:200]}" for st, (a, _) in permanent[:5]
                )
                raise ValueError(
                    f"elasticsearch bulk: {len(permanent)} item(s) "
                    f"permanently rejected — {detail}"
                )
            if not transient:
                return
            if attempt >= retries:
                raise ConnectionError(
                    f"elasticsearch bulk: {len(transient)} item(s) still "
                    f"failing transiently after {retries} retries"
                )
            pending = [sent for _, sent in transient]
            time.sleep(backoff_s * (2**attempt))

    def send(pool: KeepAlive, rows) -> None:
        chunk: list[tuple[str, str | None]] = []
        size = 0
        for r in rows:
            item_sz = len(r.action_line) + (len(r.source_line or "")) + 2
            if chunk and size + item_sz > max_batch_bytes:
                post_items(pool, chunk)
                chunk, size = [], 0
            chunk.append((r.action_line, r.source_line))
            size += item_sz
        if chunk:
            post_items(pool, chunk)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitions(build_bulk_lines(batch_df),
                         functools.partial(KeepAlive, _with_es_port(url), timeout),
                         send)

    return write_batch


class MiniEsServer:
    """In-process Elasticsearch stand-in for tests: `/_bulk` with full
    index/create/update/upsert/delete item semantics and status codes
    (201 create, 200 index/update, 404 missing update/delete target,
    409 create conflict), `GET /{index}/_doc/{id}`, and per-item fault
    injection (`fail_next`) for the writer's transient-retry path."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.indices: dict[str, dict[str, dict]] = {}
        self.bulk_requests = 0
        self._faults: list[int] = []  # statuses to hand to the next items
        self._lock = threading.Lock()
        self._httpd = None

    def fail_next(self, n: int, status: int = 429) -> None:
        with self._lock:
            self._faults.extend([status] * n)

    # -- bulk core (shared with the handler) --------------------------------
    def _apply_item(self, action: str, meta: dict, body: dict | None) -> tuple[str, int]:
        idx = meta.get("_index", "")
        doc_id = meta.get("_id") or f"_auto_{sum(len(v) for v in self.indices.values())}"
        store = self.indices.setdefault(idx, {})
        if action == "delete":
            if doc_id not in store:
                return doc_id, 404
            del store[doc_id]
            return doc_id, 200
        if action == "create":
            if doc_id in store:
                return doc_id, 409
            store[doc_id] = body or {}
            return doc_id, 201
        if action == "update":
            doc = (body or {}).get("doc", {})
            if doc_id not in store:
                if not (body or {}).get("doc_as_upsert"):
                    return doc_id, 404
                store[doc_id] = dict(doc)
                return doc_id, 201
            store[doc_id].update(doc)
            return doc_id, 200
        # plain index: upsert-overwrite
        created = doc_id not in store
        store[doc_id] = body or {}
        return doc_id, 201 if created else 200

    def handle_bulk(self, ndjson: bytes) -> dict:
        lines = [ln for ln in ndjson.decode("utf-8").split("\n") if ln.strip()]
        items, i = [], 0
        with self._lock:
            self.bulk_requests += 1
            while i < len(lines):
                head = json.loads(lines[i])
                action, meta = next(iter(head.items()))
                body = None
                if action != "delete":
                    i += 1
                    body = json.loads(lines[i])
                i += 1
                if self._faults:
                    st = self._faults.pop(0)
                    items.append({action: {"_index": meta.get("_index", ""),
                                           "_id": meta.get("_id", ""), "status": st,
                                           "error": {"type": "injected_fault"}}})
                    continue
                doc_id, st = self._apply_item(action, meta, body)
                item = {"_index": meta.get("_index", ""), "_id": doc_id, "status": st}
                if st >= 300:
                    item["error"] = {"type": "mini_es_error"}
                items.append({action: item})
        return {"errors": any(next(iter(x.values()))["status"] >= 300 for x in items),
                "items": items}

    def get_doc(self, index: str, doc_id: str) -> dict | None:
        with self._lock:
            return self.indices.get(index, {}).get(doc_id)

    # -- http plumbing -------------------------------------------------------
    def start(self) -> "MiniEsServer":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, status: int, obj: dict) -> None:
                data = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def do_POST(self):
                if self.path.rstrip("/").endswith("_bulk"):
                    n = int(self.headers.get("Content-Length", 0))
                    self._reply(200, outer.handle_bulk(self.rfile.read(n)))
                else:
                    self._reply(404, {"error": "unknown endpoint"})

            do_PUT = do_POST

            def do_GET(self):
                parts = [p for p in self.path.split("/") if p]
                if len(parts) == 3 and parts[1] == "_doc":
                    doc = outer.get_doc(parts[0], parts[2])
                    if doc is None:
                        self._reply(404, {"found": False})
                    else:
                        self._reply(200, {"found": True, "_source": doc})
                else:
                    self._reply(200, {"tagline": "mini-es"})

        self._httpd = http.server.ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"
