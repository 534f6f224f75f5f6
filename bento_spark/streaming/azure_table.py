"""Azure Table Storage input/output — dependency-free client over the
public Table service REST API with SharedKey authorization (the published
Table-flavor recipe: StringToSign = VERB, Content-MD5, Content-Type, Date,
CanonicalizedResource — four lines + resource, DISTINCT from the Blob
recipe's canonicalized x-ms-* header block), plus an in-process table
service that VERIFIES every signature.

Reference: internal/impl/azure/input_table_storage.go (table_name, OData
`filter`/`select`, page_size; metadata table_storage_name/row_num at
input_table_storage.go:162-163) and output_table_storage.go (interpolated
table_name/partition_key/row_key, `properties` map, transaction_type
INSERT/INSERT_MERGE/INSERT_REPLACE/UPDATE_MERGE/UPDATE_REPLACE/DELETE;
when properties are unset all JSON fields are stored stringified —
objects/arrays marshal as JSON strings, output_table_storage.go docs).
The reference uses aztables; no azure wheel ships here, so the REST
protocol + SharedKey signing are implemented from their public
specifications — same posture as the Blob/Queue connectors, and the mini
service recomputes every signature so the signer is validated end-to-end.
Against real Azure, point `endpoint` at
https://<account>.table.core.windows.net (or Azurite).

Spark-first mapping:
- input  -> AzureTableSpooler makes ONE pass over the entity query (the
  reference is a pager that consumes the listing then stops), spooling
  each entity as one file; the row payload is the entity's own JSON.
- output -> per-row REST operation; table/partition_key/row_key/
  transaction_type interpolations arrive as pre-computed COLUMNS, the
  property payload rendered JVM-side (to_json) and stringified
  executor-side per the reference's marshalling contract.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import re
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

from bento_spark.streaming import rest
from bento_spark.streaming.spool import Spool

_API_VERSION = "2019-02-02"
_ODATA_HDRS = {
    "Accept": "application/json;odata=nometadata",
    "DataServiceVersion": "3.0;NetFx",
    "MaxDataServiceVersion": "3.0;NetFx",
}

TRANSACTION_TYPES = ("INSERT", "INSERT_MERGE", "INSERT_REPLACE",
                     "UPDATE_MERGE", "UPDATE_REPLACE", "DELETE")


def table_string_to_sign(method: str, path: str,
                         headers: dict[str, str], account: str) -> str:
    """The published SharedKey (Table service) StringToSign:
    VERB \\n Content-MD5 \\n Content-Type \\n Date \\n
    CanonicalizedResource, where Date is x-ms-date when present and the
    canonicalized resource is /account/path with query params EXCLUDED
    (only a `comp=` would be kept; entity queries never carry one)."""
    lower = {k.lower(): v.strip() for k, v in headers.items()}
    date = lower.get("x-ms-date") or lower.get("date", "")
    return "\n".join([
        method.upper(),
        lower.get("content-md5", ""),
        lower.get("content-type", ""),
        date,
        f"/{account}{path}",
    ])


def table_signature(string_to_sign: str, account_key_b64: str) -> str:
    key = base64.b64decode(account_key_b64)
    mac = hmac.new(key, string_to_sign.encode("utf-8"), hashlib.sha256)
    return base64.b64encode(mac.digest()).decode("ascii")


class EntityConflictError(KeyError):
    """INSERT of an existing (PartitionKey, RowKey) — the
    EntityAlreadyExists fault."""


class EntityNotFoundError(KeyError):
    """UPDATE_*/DELETE of an absent entity — the ResourceNotFound fault."""


def _entity_path(table: str, pk: str, rk: str) -> str:
    """Entity addressing: /Table(PartitionKey='p',RowKey='r') with
    embedded single quotes doubled (the OData literal escape)."""
    p = pk.replace("'", "''")
    r = rk.replace("'", "''")
    return (f"/{urllib.parse.quote(table)}"
            f"(PartitionKey='{urllib.parse.quote(p)}'"
            f",RowKey='{urllib.parse.quote(r)}')")


class AzureTableClient:
    """Minimal Table REST client: Create Table, Insert / InsertOrMerge /
    InsertOrReplace / Update / Merge / Delete Entity, Query Entities with
    $filter/$select/$top + continuation-token pagination. SharedKey
    (Table flavor) signed."""

    def __init__(self, endpoint: str, account: str, account_key: str,
                 timeout: float = 30.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.account, self.account_key = account, account_key

    def _request(self, method: str, path: str,
                 query_pairs: list[tuple[str, str]] | None = None,
                 body: bytes = b"", extra_headers: dict | None = None,
                 ) -> tuple[int, bytes, dict[str, str]]:
        def headers() -> dict[str, str]:
            h = {
                "x-ms-date": time.strftime("%a, %d %b %Y %H:%M:%S GMT",
                                           time.gmtime()),
                "x-ms-version": _API_VERSION,
                "Content-Length": str(len(body)),
                "Host": self._ep.host_hdr,
                **_ODATA_HDRS,
            }
            if body:
                h["Content-Type"] = "application/json"
            h.update(extra_headers or {})
            sts = table_string_to_sign(method, path, h, self.account)
            sig = table_signature(sts, self.account_key)
            h["Authorization"] = f"SharedKey {self.account}:{sig}"
            return h

        qs = urllib.parse.urlencode(list(query_pairs or []))
        return rest.call(self._ep, method, path + (f"?{qs}" if qs else ""),
                         body, headers, name="azure_table",
                         ok=(404, 409, 412))

    def create_table(self, table: str) -> None:
        """Create Table; an existing table (409) is fine — the reference
        writer auto-creates on first use."""
        body = json.dumps({"TableName": table}).encode()
        status, data, _ = self._request("POST", "/Tables", body=body)
        if status not in (201, 204, 409):
            raise ConnectionError(f"azure_table: create {table} -> {status}")

    def apply(self, op: str, table: str, entity: dict[str, str]) -> None:
        """One transaction_type operation (output_table_storage.go's enum)
        against an entity carrying PartitionKey/RowKey."""
        pk, rk = str(entity["PartitionKey"]), str(entity["RowKey"])
        epath = _entity_path(table, pk, rk)
        body = json.dumps(entity).encode()
        if op == "INSERT":
            status, data, _ = self._request(
                "POST", f"/{urllib.parse.quote(table)}", body=body)
            if status == 409:
                raise EntityConflictError(f"{table}({pk},{rk}) exists")
            ok = status in (201, 204)
        elif op == "INSERT_MERGE":
            status, _, _ = self._request("MERGE", epath, body=body)
            ok = status == 204
        elif op == "INSERT_REPLACE":
            status, _, _ = self._request("PUT", epath, body=body)
            ok = status == 204
        elif op in ("UPDATE_MERGE", "UPDATE_REPLACE"):
            verb = "MERGE" if op == "UPDATE_MERGE" else "PUT"
            status, _, _ = self._request(verb, epath, body=body,
                                         extra_headers={"If-Match": "*"})
            if status == 404:
                raise EntityNotFoundError(f"{table}({pk},{rk}) absent")
            ok = status == 204
        elif op == "DELETE":
            status, _, _ = self._request("DELETE", epath,
                                         extra_headers={"If-Match": "*"})
            if status == 404:
                raise EntityNotFoundError(f"{table}({pk},{rk}) absent")
            ok = status == 204
        else:
            raise ValueError(
                f"azure_table: transaction_type {op!r} not one of "
                f"{TRANSACTION_TYPES}")
        if not ok:
            raise ConnectionError(f"azure_table: {op} {table} -> {status}")

    def query(self, table: str, filter: str = "", select: str = "",
              page_size: int = 1000):
        """Query Entities pager: yields entity dicts across continuation
        pages (x-ms-continuation-NextPartitionKey / NextRowKey)."""
        next_pk = next_rk = None
        while True:
            pairs: list[tuple[str, str]] = [("$top", str(page_size))]
            if filter:
                pairs.append(("$filter", filter))
            if select:
                pairs.append(("$select", select))
            if next_pk is not None:
                pairs.append(("NextPartitionKey", next_pk))
            if next_rk is not None:
                pairs.append(("NextRowKey", next_rk))
            status, data, hdrs = self._request(
                "GET", f"/{urllib.parse.quote(table)}()", query_pairs=pairs)
            if status == 404:
                raise EntityNotFoundError(f"table {table!r} absent")
            yield from json.loads(data or b"{}").get("value", [])
            next_pk = hdrs.get("x-ms-continuation-nextpartitionkey")
            next_rk = hdrs.get("x-ms-continuation-nextrowkey")
            if not next_pk and not next_rk:
                return


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


@dataclass
class AzureTableSpooler:
    """`azure_table_storage` input: one pass over the entity query
    (filter/select/page_size — input_table_storage.go's pager), one spool
    file per entity. `wait_finished()` mirrors the blob spooler — the
    reference consumes the listing then stops."""

    endpoint: str
    account: str
    account_key: str
    table: str
    spool_dir: str
    filter: str = ""
    select: str = ""
    page_size: int = 1000
    _thread: threading.Thread | None = field(default=None, repr=False)
    _done: threading.Event = field(default_factory=threading.Event, repr=False)
    _stop: threading.Event = field(default_factory=threading.Event, repr=False)
    error: Exception | None = None

    def start(self) -> "AzureTableSpooler":
        spool = Spool(self.spool_dir)
        client = AzureTableClient(self.endpoint, self.account, self.account_key)

        def run() -> None:
            try:
                n = 0
                for entity in client.query(self.table, self.filter,
                                           self.select, self.page_size):
                    if self._stop.is_set():
                        return
                    n += 1
                    # the reference's metadata (input_table_storage.go:162-163)
                    spool.put(json.dumps(entity, separators=(",", ":"), ensure_ascii=False),
                              table_storage_name=self.table, row_num=n)
            except Exception as e:  # surfaced via wait_finished/error
                self.error = e
            finally:
                self._done.set()

        self._thread = threading.Thread(target=run, daemon=True)
        self._thread.start()
        return self

    def wait_finished(self, timeout: float = 30.0) -> bool:
        ok = self._done.wait(timeout)
        if self.error is not None:
            raise self.error
        return ok

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def stringify_properties(props: dict) -> dict[str, str]:
    """The reference's marshalling contract: every property stores as a
    string; objects/arrays as their JSON text (output_table_storage.go
    docs: foo: '55', bar: '{...}', diz: '[...]')."""
    out = {}
    for k, v in props.items():
        if isinstance(v, str):
            out[k] = v
        elif isinstance(v, bool):
            out[k] = "true" if v else "false"
        elif isinstance(v, (dict, list)):
            out[k] = json.dumps(v, separators=(", ", ": "))
        elif v is None:
            out[k] = ""
        else:
            out[k] = str(v)
    return out


def azure_table_sink(endpoint: str, account: str, account_key: str, *,
                     table_col: str, pk_col: str, rk_col: str, op_col: str,
                     props_col: str):
    """`azure_table_storage` output: per-row operation against the
    interpolated (table, PartitionKey, RowKey) with transaction_type
    semantics; all five per-row values arrive as pre-computed COLUMNS
    (props as a JVM-rendered JSON string), one client per partition.
    Tables auto-create on first use, like the reference writer."""

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        payloads = batch_df.select(
            F.col(table_col).alias("t"), F.col(pk_col).alias("pk"),
            F.col(rk_col).alias("rk"), F.col(op_col).alias("op"),
            F.col(props_col).alias("props"))

        def send(rows) -> None:
            # imported here: worker closures must re-resolve submodules
            from bento_spark.streaming.azure_table import (
                AzureTableClient,
                stringify_properties,
            )

            client = None
            created: set[str] = set()
            for row in rows:
                if client is None:
                    client = AzureTableClient(endpoint, account, account_key)
                if row.t not in created:
                    client.create_table(row.t)
                    created.add(row.t)
                entity = stringify_properties(json.loads(row.props))
                entity["PartitionKey"] = row.pk or ""
                entity["RowKey"] = row.rk or ""
                client.apply((row.op or "INSERT").upper(), row.t, entity)

        payloads.foreachPartition(send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process service (test-grade)
# ---------------------------------------------------------------------------

_FILTER_RE = re.compile(
    r"(\w+)\s+(eq|ne|gt|lt|ge|le)\s+('(?:[^']|'')*'|-?\d+(?:\.\d+)?)")


def eval_odata_filter(expr: str, entity: dict) -> bool:
    """Evaluate the input's documented OData subset: `Prop op literal`
    clauses joined by `and` (input_table_storage.go's filter doc names
    exactly eq/ne/gt/lt/ge/le)."""
    if not expr.strip():
        return True
    for clause in re.split(r"\s+and\s+", expr.strip()):
        m = _FILTER_RE.fullmatch(clause.strip())
        if not m:
            raise ValueError(f"azure_table filter: bad clause {clause!r}")
        prop, op, lit = m.groups()
        if lit.startswith("'"):
            want = lit[1:-1].replace("''", "'")
            got = entity.get(prop)
            if got is None:
                return False
            got = str(got)
        else:
            want = float(lit)
            try:
                got = float(entity.get(prop))
            except (TypeError, ValueError):
                return False
        ok = {"eq": got == want, "ne": got != want, "gt": got > want,
              "lt": got < want, "ge": got >= want, "le": got <= want}[op]
        if not ok:
            return False
    return True


class MiniAzureTableServer:
    """Single-host Table service subset for e2e tests: VERIFIES the
    SharedKey (Table flavor) signature on every request, then implements
    Create Table, Insert (409 on duplicate), InsertOrMerge/InsertOrReplace,
    Update/Merge/Delete with If-Match, and Query Entities with the
    documented $filter subset, $select, $top and continuation headers.
    Not a production service — the deliverable is the CLIENT."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 account: str = "devacct", account_key: str | None = None):
        self.host, self.port = host, port
        self.account = account
        self.account_key = account_key or base64.b64encode(
            b"mini-azure-table-test-key").decode()
        # table -> {(pk, rk) -> entity}
        self.tables: dict[str, dict[tuple[str, str], dict]] = {}
        self._httpd = None
        self._thread: threading.Thread | None = None
        self._lock = threading.Lock()

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "MiniAzureTableServer":
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet
                pass

            def _fail(self, status: int, code: str) -> None:
                body = json.dumps(
                    {"odata.error": {"code": code}}).encode()
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _ok(self, status: int, body: bytes = b"",
                    headers: dict | None = None) -> None:
                self.send_response(status)
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _verify(self) -> bool:
                # the canonicalized resource is the path AS SENT
                # (percent-encoded) — do not decode before signing
                u = urllib.parse.urlsplit(self.path)
                sts = table_string_to_sign(
                    self.command, u.path, dict(self.headers), outer.account)
                want = f"SharedKey {outer.account}:" + table_signature(
                    sts, outer.account_key)
                if self.headers.get("Authorization") != want:
                    self._fail(403, "AuthenticationFailed")
                    return False
                return True

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b""
                return json.loads(raw or b"{}")

            def _entity_target(self) -> tuple[str, str, str] | None:
                u = urllib.parse.urlsplit(self.path)
                path = urllib.parse.unquote(u.path)
                m = re.fullmatch(
                    r"/(\w+)\(PartitionKey='((?:[^']|'')*)'"
                    r",RowKey='((?:[^']|'')*)'\)", path)
                if not m:
                    return None
                t, p, r = m.groups()
                return t, p.replace("''", "'"), r.replace("''", "'")

            def do_POST(self) -> None:
                if not self._verify():
                    return
                u = urllib.parse.urlsplit(self.path)
                path = urllib.parse.unquote(u.path)
                if path == "/Tables":
                    name = str(self._body().get("TableName", ""))
                    with outer._lock:
                        if name in outer.tables:
                            self._fail(409, "TableAlreadyExists")
                            return
                        outer.tables[name] = {}
                    self._ok(201, json.dumps({"TableName": name}).encode())
                    return
                table = path.strip("/")
                entity = self._body()
                key = (str(entity.get("PartitionKey", "")),
                       str(entity.get("RowKey", "")))
                with outer._lock:
                    store = outer.tables.setdefault(table, {})
                    if key in store:
                        self._fail(409, "EntityAlreadyExists")
                        return
                    store[key] = entity
                self._ok(204)

            def _upsert(self, merge: bool) -> None:
                if not self._verify():
                    return
                tgt = self._entity_target()
                if tgt is None:
                    self._fail(400, "InvalidUri")
                    return
                table, pk, rk = tgt
                entity = self._body()
                entity["PartitionKey"], entity["RowKey"] = pk, rk
                must_exist = self.headers.get("If-Match") == "*"
                with outer._lock:
                    store = outer.tables.setdefault(table, {})
                    cur = store.get((pk, rk))
                    if must_exist and cur is None:
                        self._fail(404, "ResourceNotFound")
                        return
                    if merge and cur is not None:
                        cur.update(entity)
                    else:
                        store[(pk, rk)] = entity
                self._ok(204)

            def do_PUT(self) -> None:
                self._upsert(merge=False)

            def do_MERGE(self) -> None:
                self._upsert(merge=True)

            def do_DELETE(self) -> None:
                if not self._verify():
                    return
                tgt = self._entity_target()
                if tgt is None:
                    self._fail(400, "InvalidUri")
                    return
                table, pk, rk = tgt
                with outer._lock:
                    store = outer.tables.setdefault(table, {})
                    if (pk, rk) not in store:
                        self._fail(404, "ResourceNotFound")
                        return
                    del store[(pk, rk)]
                self._ok(204)

            def do_GET(self) -> None:
                if not self._verify():
                    return
                u = urllib.parse.urlsplit(self.path)
                path = urllib.parse.unquote(u.path)
                m = re.fullmatch(r"/(\w+)\(\)", path)
                if not m:
                    self._fail(400, "InvalidUri")
                    return
                table = m.group(1)
                q = dict(urllib.parse.parse_qsl(u.query))
                with outer._lock:
                    if table not in outer.tables:
                        self._fail(404, "TableNotFound")
                        return
                    entities = [dict(e) for _, e in
                                sorted(outer.tables[table].items())]
                flt = q.get("$filter", "")
                entities = [e for e in entities if eval_odata_filter(flt, e)]
                # continuation: resume strictly after the marker key
                marker = (q.get("NextPartitionKey"), q.get("NextRowKey"))
                if marker[0] is not None:
                    entities = [e for e in entities
                                if (str(e.get("PartitionKey", "")),
                                    str(e.get("RowKey", ""))) > marker]
                top = int(q.get("$top", "1000"))
                page, rest = entities[:top], entities[top:]
                sel = [s.strip() for s in q.get("$select", "").split(",")
                       if s.strip()]
                if sel:
                    keep = set(sel)
                    page = [{k: v for k, v in e.items() if k in keep}
                            for e in page]
                hdrs = {"Content-Type": "application/json;odata=nometadata"}
                if rest:
                    nxt = page[-1] if not sel else entities[:top][-1]
                    hdrs["x-ms-continuation-NextPartitionKey"] = str(
                        nxt.get("PartitionKey", ""))
                    hdrs["x-ms-continuation-NextRowKey"] = str(
                        nxt.get("RowKey", ""))
                self._ok(200, json.dumps({"value": page}).encode(), hdrs)

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
