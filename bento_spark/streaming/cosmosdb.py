"""Azure CosmosDB input/processor/output — dependency-free client over
the public CosmosDB REST API with master-key authorization (the published
recipe: token = HMAC-SHA256 over "verb\\nresourceType\\nresourceLink\\n
date\\n\\n" with the base64-decoded account key, URL-encoded as
type=master&ver=1.0&sig=...), plus an in-process document service that
VERIFIES every token.

Reference: internal/impl/azure/input_cosmosdb.go (parametrized SQL query
against one container + partition key, paged into batches),
processor_cosmosdb.go and output_cosmosdb.go over the shared
cosmosdb/docs.go CRUD surface: operation Create|Delete|Replace|Upsert|
Read|Patch, `partition_keys_map` Bloblang, `item_id` interpolation,
`auto_id`, and Patch with Add/Increment/Remove/Replace/Set operations +
optional condition (cosmosdb/executor.go:88-141). The reference uses
azcosmos; no azure wheel ships here, so the REST protocol + master-key
signing are implemented from their public specifications — the same
dependency-free posture as the SigV4 / SharedKey connectors. Against
real CosmosDB (or its local emulator) point `endpoint` at the account
URI.

Spark-first mapping:
- input  -> cosmos_bridge runs ONE parametrized query (the reference's
  pager consumes the query then stops) spooling each item as one file;
  the row `value` is the item's own JSON.
- processor -> cosmos_map: one REST op per row over one client per
  partition (mapInPandas, Arrow-batched); Read fills the out column,
  write ops flag the error column on conflict/miss — the same
  out/error contract as the couchbase processor.
- output -> per-row operation; partition key + item id arrive as
  pre-computed COLUMNS, the document rendered JVM-side (to_json).

Partition-key typing: the reference accepts string/int/bool partition
keys. In this engine the per-row `partition_keys_map` compiles to a
string COLUMN (Catalyst cast), so the engine-level contract is STRING
partition keys end-to-end; a typed key supplied to the input literal is
coerced to match. (Typed keys only matter for routing parity with an
existing container layout — value fidelity inside documents is
unaffected.)

auto_id note (docs.go fieldAutoID): the reference assigns a random UUID
v4 when `id` is missing. Random ids are NOT replay-stable — under
at-least-once a retried batch creates new ids. Matching the reference
exactly; pipelines needing exactly-once identity should set `id` from
row content instead (the docstring-level contract the reference shares).
"""

from __future__ import annotations

import base64
import functools
import hashlib
import hmac
import json
import re
import threading
import time
import urllib.parse
import uuid

from bento_spark.streaming import rest
from bento_spark.streaming.bridge import Bridge

_API_VERSION = "2018-12-31"

OPERATIONS = ("Create", "Delete", "Replace", "Upsert", "Read", "Patch")
PATCH_OPERATIONS = ("Add", "Increment", "Remove", "Replace", "Set")


def master_key_token(verb: str, resource_type: str, resource_link: str,
                     date_str: str, account_key_b64: str) -> str:
    """The published master-key auth token: the string-to-sign is
    lowercase verb/resourceType + the resource link + the LOWERCASED
    x-ms-date, each newline-terminated (trailing blank line included)."""
    payload = (f"{verb.lower()}\n{resource_type.lower()}\n{resource_link}\n"
               f"{date_str.lower()}\n\n")
    key = base64.b64decode(account_key_b64)
    sig = base64.b64encode(
        hmac.new(key, payload.encode("utf-8"), hashlib.sha256).digest()
    ).decode("ascii")
    return urllib.parse.quote(f"type=master&ver=1.0&sig={sig}", safe="")


class DocumentConflictError(KeyError):
    """Create of an existing id within the partition (HTTP 409)."""


class DocumentNotFoundError(KeyError):
    """Read/Replace/Delete/Patch of an absent document (HTTP 404)."""


def parse_connection_string(cs: str) -> tuple[str, str]:
    """AccountEndpoint=...;AccountKey=...; -> (endpoint, key)."""
    parts = dict(p.split("=", 1) for p in cs.strip().strip(";").split(";"))
    return parts["AccountEndpoint"].rstrip("/"), parts["AccountKey"]


class CosmosClient:
    """Minimal CosmosDB document client: Create/Upsert/Read/Replace/
    Delete/Patch item + parametrized Query Documents with continuation,
    master-key signed."""

    def __init__(self, endpoint: str, account_key: str, timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.account_key = account_key

    def _request(self, verb: str, resource_type: str, resource_link: str,
                 path: str, body: bytes = b"",
                 extra_headers: dict | None = None,
                 ) -> tuple[int, bytes, dict[str, str]]:
        def headers() -> dict[str, str]:
            date = time.strftime("%a, %d %b %Y %H:%M:%S GMT", time.gmtime())
            h = {
                "x-ms-date": date,
                "x-ms-version": _API_VERSION,
                "Authorization": master_key_token(
                    verb, resource_type, resource_link, date, self.account_key),
                "Content-Length": str(len(body)),
                "Accept": "application/json",
            }
            if body and "Content-Type" not in (extra_headers or {}):
                h["Content-Type"] = "application/json"
            h.update(extra_headers or {})
            return h

        return rest.call(self._ep, verb, path, body, headers, name="cosmosdb",
                         ok=(404, 409, 412))

    @staticmethod
    def _pk_header(pk_value) -> str:
        return json.dumps([pk_value])

    def _docs_link(self, db: str, container: str) -> str:
        return f"dbs/{db}/colls/{container}"

    def write(self, op: str, db: str, container: str, pk_value,
              doc: dict | None = None, item_id: str | None = None,
              patch_operations: list[dict] | None = None,
              patch_condition: str | None = None) -> dict | None:
        """One CRUD operation (docs.go's enum). Returns the response
        document for Read (and for writes when the service echoes one)."""
        if op not in OPERATIONS:
            raise ValueError(
                f"cosmosdb: operation {op!r} not one of {OPERATIONS}")
        coll = self._docs_link(db, container)
        pk_hdr = {"x-ms-documentdb-partitionkey": self._pk_header(pk_value)}
        if op in ("Create", "Upsert"):
            body = json.dumps(doc or {}).encode()
            hdrs = dict(pk_hdr)
            if op == "Upsert":
                hdrs["x-ms-documentdb-is-upsert"] = "true"
            status, data, _ = self._request(
                "POST", "docs", coll, f"/{coll}/docs", body=body,
                extra_headers=hdrs)
            if status == 409:
                raise DocumentConflictError(
                    f"cosmosdb: id {doc.get('id')!r} exists")
            if status not in (200, 201):
                raise ConnectionError(f"cosmosdb: {op} -> {status}")
            return json.loads(data) if data else None
        if item_id is None:
            raise ValueError(f"cosmosdb: {op} requires item_id")
        link = f"{coll}/docs/{item_id}"
        path = f"/{link}"
        if op == "Read":
            status, data, _ = self._request("GET", "docs", link, path,
                                            extra_headers=pk_hdr)
        elif op == "Replace":
            status, data, _ = self._request(
                "PUT", "docs", link, path, body=json.dumps(doc or {}).encode(),
                extra_headers=pk_hdr)
        elif op == "Delete":
            status, data, _ = self._request("DELETE", "docs", link, path,
                                            extra_headers=pk_hdr)
        elif op == "Patch":
            payload: dict = {"operations": [
                {"op": p["operation"].lower(), "path": p["path"],
                 **({"value": p["value"]} if "value" in p else {})}
                for p in (patch_operations or [])]}
            if patch_condition:
                payload["condition"] = patch_condition
            status, data, _ = self._request(
                "PATCH", "docs", link, path,
                body=json.dumps(payload).encode(),
                extra_headers={**pk_hdr,
                               "Content-Type": "application/json_patch+json"})
        else:
            raise ValueError(
                f"cosmosdb: operation {op!r} not one of {OPERATIONS}")
        if status == 404:
            raise DocumentNotFoundError(f"cosmosdb: id {item_id!r} absent")
        if status == 412:
            raise DocumentConflictError(
                f"cosmosdb: patch condition failed for {item_id!r}")
        if status // 100 != 2:
            raise ConnectionError(f"cosmosdb: {op} -> {status}")
        return json.loads(data) if data else None

    def query(self, db: str, container: str, pk_value, query: str,
              parameters: list[dict] | None = None, page_size: int = 100):
        """Query Documents pager: yields item dicts across continuation
        pages (x-ms-continuation). Single-partition, like the reference
        (input_cosmosdb.go's cross-partition caveat)."""
        coll = self._docs_link(db, container)
        body = json.dumps({"query": query,
                           "parameters": parameters or []}).encode()
        continuation = None
        while True:
            hdrs = {
                "x-ms-documentdb-partitionkey": self._pk_header(pk_value),
                "x-ms-documentdb-isquery": "true",
                "x-ms-max-item-count": str(page_size),
                "Content-Type": "application/query+json",
            }
            if continuation:
                hdrs["x-ms-continuation"] = continuation
            status, data, resp = self._request(
                "POST", "docs", coll, f"/{coll}/docs", body=body,
                extra_headers=hdrs)
            if status == 404:
                raise DocumentNotFoundError(
                    f"cosmosdb: container {container!r} absent")
            if status != 200:
                raise ConnectionError(f"cosmosdb: query -> {status}")
            yield from json.loads(data or b"{}").get("Documents", [])
            continuation = resp.get("x-ms-continuation")
            if not continuation:
                return


def parse_pk_mapping(src: str):
    """The reference's `partition_keys_map` is a Bloblang mapping
    evaluated once with NO input (input_cosmosdb.go:96 `Query(nil)`), so
    only literal results make sense for the input; parse `root = <json
    literal>` directly. Returns the literal (str/int/float/bool/None)."""
    m = re.fullmatch(r"\s*root\s*=\s*(.+?)\s*", src, re.S)
    if not m:
        raise ValueError(
            f"cosmosdb partition_keys_map: expected `root = <literal>`, "
            f"got {src!r}")
    lit = m.group(1)
    try:
        return json.loads(lit)
    except json.JSONDecodeError:
        if re.fullmatch(r"'(?:[^'\\]|\\.)*'", lit):
            return lit[1:-1]
        raise ValueError(
            f"cosmosdb partition_keys_map: literal required for the "
            f"input (evaluated with no document), got {lit!r}")


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def cosmos_bridge(endpoint: str, account_key: str, database: str, container: str,
                  partition_key: object, query: str, spool_dir: str,
                  parameters: list[dict] | None = None, page_size: int = 100) -> Bridge:
    """`azure_cosmosdb` input: one pass over a parametrized SQL query
    against (database, container, partition key), one spool file per
    item; the bridge finishes with the result."""

    def messages(client: CosmosClient, stop):
        items = client.query(database, container, partition_key, query, parameters, page_size)
        for n, item in enumerate(items, 1):
            if stop.is_set():
                return
            yield json.dumps(item, separators=(",", ":"), ensure_ascii=False), {
                "cosmosdb_database": database, "cosmosdb_container": container,
                "row_num": n}, None

    return Bridge("azure_cosmosdb", spool_dir,
                  functools.partial(CosmosClient, endpoint, account_key), messages)


# ---------------------------------------------------------------------------
# processor
# ---------------------------------------------------------------------------


def cosmos_map(df, endpoint: str, account_key: str, database: str,
               container: str, pk_col: str, *, operation: str = "Create",
               doc_col: str | None = None, id_col: str | None = None,
               auto_id: bool = True,
               patch_operations: list[dict] | None = None,
               patch_condition: str | None = None,
               out_col: str = "cosmosdb"):
    """`azure_cosmosdb` processor (processor_cosmosdb.go over
    cosmosdb/docs.go): one document op per row, one client per partition
    (mapInPandas, Arrow-batched). Read fills `out_col`; Create conflicts /
    Replace-Delete-Patch misses flag the `error` column — the same
    contract as the couchbase processor. Patch value mappings are
    rendered per row into the doc column by the compiler."""
    if operation not in OPERATIONS:
        raise ValueError(
            f"cosmosdb: invalid operation {operation!r} (one of {OPERATIONS})")
    if operation in ("Create", "Upsert", "Replace") and doc_col is None:
        raise ValueError(f"cosmosdb: {operation} requires document content")
    if operation in ("Read", "Replace", "Delete", "Patch") and id_col is None:
        raise ValueError(f"cosmosdb: {operation} requires item_id")
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    has_error = "error" in fields
    keep = [c for c in df.columns
            if c not in (out_col, "error", pk_col, doc_col, id_col)]
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep]
        + [f"{out_col} string", "error string"])

    def run(batches):
        import pandas as pd

        from bento_spark.streaming.cosmosdb import (
            CosmosClient,
            DocumentConflictError,
            DocumentNotFoundError,
        )

        state = {"client": None}

        def connected():
            if state["client"] is None:
                state["client"] = CosmosClient(endpoint, account_key)
            return state["client"]

        def one_op(pk, doc_json, item_id):
            doc = json.loads(doc_json) if doc_json else None
            if doc is not None and operation in ("Create", "Upsert") \
                    and auto_id and not doc.get("id"):
                doc["id"] = str(uuid.uuid4())
            try:
                got = connected().write(
                    operation, database, container, pk, doc=doc,
                    item_id=item_id, patch_operations=patch_operations,
                    patch_condition=patch_condition)
            except (DocumentConflictError, DocumentNotFoundError) as e:
                return None, str(e)
            return (json.dumps(got) if got is not None else None), None

        for pdf in batches:
            outs, errs = [], []
            for i in range(len(pdf)):
                prior = (pdf["error"].iloc[i]
                         if has_error and pd.notna(pdf["error"].iloc[i])
                         else None)
                if prior is not None:
                    outs.append(None)
                    errs.append(prior)
                    continue
                pk = pdf[pk_col].iloc[i] if pk_col in pdf else None
                doc_json = (pdf[doc_col].iloc[i]
                            if doc_col and doc_col in pdf else None)
                item_id = (pdf[id_col].iloc[i]
                           if id_col and id_col in pdf else None)
                try:
                    got, err = one_op(pk, doc_json, item_id)
                except ConnectionError as e:
                    got, err = None, str(e)
                outs.append(got)
                errs.append(err)
            res = pdf[[c for c in keep if c in pdf.columns]].copy()
            res[out_col] = pd.Series(outs, dtype="object")
            res["error"] = pd.Series(errs, dtype="object")
            yield res

    return df.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def cosmos_sink(endpoint: str, account_key: str, database: str,
                container: str, *, pk_col: str, doc_col: str,
                id_col: str | None = None, operation: str = "Create",
                auto_id: bool = True):
    """`azure_cosmosdb` output (output_cosmosdb.go): per-row document
    operation; partition key / document / item id arrive as pre-computed
    COLUMNS."""
    if operation not in OPERATIONS:
        raise ValueError(
            f"cosmosdb: invalid operation {operation!r} (one of {OPERATIONS})")

    def send(client, rows) -> None:
        for row in rows:
            doc = json.loads(row.doc) if row.doc else None
            if doc is not None and operation in ("Create", "Upsert") \
                    and auto_id and not doc.get("id"):
                doc["id"] = str(uuid.uuid4())
            client.write(operation, database, container, row.pk,
                         doc=doc, item_id=row.iid)

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import write_partitions

        payloads = batch_df.select(
            F.col(pk_col).alias("pk"), F.col(doc_col).alias("doc"),
            (F.col(id_col) if id_col else F.lit(None).cast("string")).alias("iid"))
        write_partitions(payloads, functools.partial(CosmosClient, endpoint, account_key),
                         send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process service (test-grade)
# ---------------------------------------------------------------------------

_QUERY_RE = re.compile(
    r"SELECT\s+\*\s+FROM\s+(\w+)(?:\s+AS\s+(\w+))?"
    r"(?:\s+WHERE\s+(.+))?\s*", re.I | re.S)


def _eval_where(expr: str | None, alias: str, doc: dict,
                params: dict) -> bool:
    """The mini service's SQL subset: `alias.field op literal-or-@param`
    clauses joined by AND (op: =, !=, <, <=, >, >=)."""
    if not expr:
        return True
    for clause in re.split(r"\s+AND\s+", expr.strip(), flags=re.I):
        m = re.fullmatch(
            rf"{re.escape(alias)}\.(\w+)\s*(=|!=|<>|<=|>=|<|>)\s*"
            r"(@\w+|'(?:[^']|'')*'|\"[^\"]*\"|-?\d+(?:\.\d+)?|true|false)",
            clause.strip())
        if not m:
            raise ValueError(f"mini cosmosdb: unsupported clause {clause!r}")
        fld, op, lit = m.groups()
        if lit.startswith("@"):
            want = params.get(lit)
        elif lit.startswith("'"):
            want = lit[1:-1].replace("''", "'")
        elif lit.startswith('"'):
            want = lit[1:-1]
        elif lit in ("true", "false"):
            want = lit == "true"
        else:
            want = float(lit) if "." in lit else int(lit)
        got = doc.get(fld)
        if isinstance(want, (int, float)) and not isinstance(want, bool):
            try:
                got = float(got)
                want = float(want)
            except (TypeError, ValueError):
                return False
        ok = {"=": got == want, "!=": got != want, "<>": got != want,
              "<": got < want, "<=": got <= want, ">": got > want,
              ">=": got >= want}[op]
        if not ok:
            return False
    return True


class MiniCosmosServer:
    """Single-host CosmosDB document-service subset for e2e tests:
    VERIFIES the master-key token on every request (recomputing it from
    the raw verb/resourceType/resourceLink/x-ms-date), then implements
    Create (409), Upsert, Read/Replace/Delete (404), Patch
    (add/set/replace/increment/remove + a naive `not is_defined`
    condition), and Query Documents over the documented single-partition
    subset with x-ms-max-item-count / x-ms-continuation pagination.
    Not a production service — the deliverable is the CLIENT."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 account_key: str | None = None):
        self.host, self.port = host, port
        self.account_key = account_key or base64.b64encode(
            b"mini-cosmos-test-master-key").decode()
        # (db, container) -> {(pk_json, id) -> doc}
        self.containers: dict[tuple[str, str], dict[tuple[str, str], dict]] = {}
        self._httpd = None
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def docs(self, db: str, container: str) -> list[dict]:
        with self._lock:
            return [dict(d) for d in
                    self.containers.get((db, container), {}).values()]

    def start(self) -> "MiniCosmosServer":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _reply(self, status: int, body: bytes = b"",
                       headers: dict | None = None) -> None:
                self.send_response(status)
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _fail(self, status: int, code: str) -> None:
                self._reply(status, json.dumps({"code": code}).encode())

            def _parse(self):
                """-> (resource_type, resource_link, db, container, doc_id)"""
                path = urllib.parse.urlsplit(self.path).path
                m = re.fullmatch(r"/dbs/(\w+)/colls/(\w+)/docs(?:/([^/]+))?",
                                 path)
                if not m:
                    return None
                db, coll, doc_id = m.groups()
                link = (f"dbs/{db}/colls/{coll}" if doc_id is None
                        else f"dbs/{db}/colls/{coll}/docs/{doc_id}")
                return "docs", link, db, coll, doc_id

            def _verify(self, resource_type: str, resource_link: str) -> bool:
                date = self.headers.get("x-ms-date", "")
                want = master_key_token(self.command, resource_type,
                                        resource_link, date,
                                        outer.account_key)
                if self.headers.get("Authorization") != want:
                    self._fail(401, "Unauthorized")
                    return False
                return True

            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def _pk(self) -> str:
                return self.headers.get("x-ms-documentdb-partitionkey", "[null]")

            def do_POST(self) -> None:
                parsed = self._parse()
                if parsed is None:
                    self._fail(400, "BadRequest")
                    return
                rt, rl, db, coll, _ = parsed
                if not self._verify(rt, rl):
                    return
                body = self._body()
                pk = self._pk()
                if (self.headers.get("x-ms-documentdb-isquery", "")
                        .lower() == "true"):
                    self._query(db, coll, pk, body)
                    return
                doc = json.loads(body or b"{}")
                did = str(doc.get("id", ""))
                upsert = (self.headers.get("x-ms-documentdb-is-upsert", "")
                          .lower() == "true")
                with outer._lock:
                    store = outer.containers.setdefault((db, coll), {})
                    if not upsert and (pk, did) in store:
                        self._fail(409, "Conflict")
                        return
                    store[(pk, did)] = doc
                self._reply(201, json.dumps(doc).encode())

            def _query(self, db: str, coll: str, pk: str, body: bytes) -> None:
                q = json.loads(body or b"{}")
                m = _QUERY_RE.fullmatch(q.get("query", "").strip())
                if not m:
                    self._fail(400, "BadRequest")
                    return
                _, alias, where = m.groups()
                alias = alias or m.group(1)
                params = {p["name"]: p["value"]
                          for p in q.get("parameters", [])}
                with outer._lock:
                    docs = [dict(d) for (dpk, _), d in sorted(
                        outer.containers.get((db, coll), {}).items())
                        if dpk == pk]
                docs = [d for d in docs if _eval_where(where, alias, d, params)]
                top = int(self.headers.get("x-ms-max-item-count") or 100)
                skip = int(self.headers.get("x-ms-continuation") or 0)
                page = docs[skip : skip + top]
                hdrs = {}
                if skip + top < len(docs):
                    hdrs["x-ms-continuation"] = str(skip + top)
                self._reply(200, json.dumps(
                    {"Documents": page, "_count": len(page)}).encode(), hdrs)

            def _locate(self):
                parsed = self._parse()
                if parsed is None or parsed[4] is None:
                    self._fail(400, "BadRequest")
                    return None
                rt, rl, db, coll, did = parsed
                if not self._verify(rt, rl):
                    return None
                return db, coll, did, self._pk()

            def do_GET(self) -> None:
                loc = self._locate()
                if loc is None:
                    return
                db, coll, did, pk = loc
                with outer._lock:
                    doc = outer.containers.get((db, coll), {}).get((pk, did))
                if doc is None:
                    self._fail(404, "NotFound")
                    return
                self._reply(200, json.dumps(doc).encode())

            def do_PUT(self) -> None:
                loc = self._locate()
                if loc is None:
                    return
                db, coll, did, pk = loc
                doc = json.loads(self._body() or b"{}")
                doc.setdefault("id", did)
                with outer._lock:
                    store = outer.containers.setdefault((db, coll), {})
                    if (pk, did) not in store:
                        self._fail(404, "NotFound")
                        return
                    store[(pk, did)] = doc
                self._reply(200, json.dumps(doc).encode())

            def do_DELETE(self) -> None:
                loc = self._locate()
                if loc is None:
                    return
                db, coll, did, pk = loc
                with outer._lock:
                    store = outer.containers.setdefault((db, coll), {})
                    if (pk, did) not in store:
                        self._fail(404, "NotFound")
                        return
                    del store[(pk, did)]
                self._reply(204)

            def do_PATCH(self) -> None:
                loc = self._locate()
                if loc is None:
                    return
                db, coll, did, pk = loc
                payload = json.loads(self._body() or b"{}")
                with outer._lock:
                    store = outer.containers.setdefault((db, coll), {})
                    doc = store.get((pk, did))
                    if doc is None:
                        self._fail(404, "NotFound")
                        return
                    cond = payload.get("condition", "")
                    m = re.search(r"not\s+is_defined\(\w+\.(\w+)\)", cond)
                    if m and m.group(1) in doc:
                        self._fail(412, "PreconditionFailed")
                        return
                    for op in payload.get("operations", []):
                        fld = op["path"].lstrip("/")
                        kind = op["op"]
                        if kind in ("add", "set", "replace"):
                            doc[fld] = op.get("value")
                        elif kind == "increment":
                            doc[fld] = doc.get(fld, 0) + op.get("value", 0)
                        elif kind == "remove":
                            doc.pop(fld, None)
                    out = dict(doc)
                self._reply(200, json.dumps(out).encode())

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
