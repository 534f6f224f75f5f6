"""GCP BigQuery input/processor/output — dependency-free client over the
public BigQuery REST API v2, authenticated via the same RS256
service-account OAuth flow as the GCS/Pub/Sub connectors.

Reference: internal/impl/gcp/input_bigquery_select.go (project, table,
columns, where + positional `?` args_mapping, prefix/suffix — the query
builder), processor_bigquery_select.go (same shape per message), and
output_bigquery.go (dataset/table load jobs with sourceFormat
NEWLINE_DELIMITED_JSON or CSV + csv.header). The reference uses
cloud.google.com/go/bigquery; here the documented REST endpoints are
implemented directly:
- `jobs.query` (POST /bigquery/v2/projects/{p}/queries) with
  useLegacySql=false and POSITIONAL queryParameters, paged via
  `getQueryResults` pageTokens; values arrive in the API's {"f":[{"v"}]}
  string form.
- load jobs via the multipart/related upload endpoint
  (POST /upload/bigquery/v2/projects/{p}/jobs) carrying the job
  configuration.load JSON + the rendered NDJSON/CSV media — the same
  inline-data load the reference's managed writer performs.

The in-process MiniBigQueryServer executes received queries against an
embedded DuckDB database (the sandbox's stand-in for the BigQuery
engine) and loads NDJSON/CSV job media into DuckDB tables, so the output
-> input round trip is a REAL query-engine round trip, not an echo; the
OAuth token endpoint VERIFIES the RS256 assertion like MiniGcsServer.

Spark-first mapping:
- input  -> bigquery_bridge: ONE paged query, each row spooled as its
  JSON object (the reference emits one message per row).
- processor -> bigquery_select_map: args compile to an ARRAY column,
  ONE query per DISTINCT args tuple driver-side (control-plane), results
  broadcast-joined back as a JSON-array column — the sql_raw
  amortization pattern (O(distinct tuples), not O(rows)).
- output -> one load job per partition batch (rows rendered JVM-side
  with to_json / to_csv).
"""

from __future__ import annotations

import functools
import json
import threading
import urllib.parse
import uuid

from bento_spark.streaming.bridge import Bridge
from bento_spark.streaming.gcs import GcsClient

FORMATS = ("NEWLINE_DELIMITED_JSON", "CSV")


class BigQueryClient(GcsClient):
    """jobs.query + multipart load jobs; bearer-token plumbing inherited
    from the GCS client (same OAuth assertion flow, different paths)."""

    def query(self, project: str, sql: str,
              parameters: list | None = None, page_size: int = 1000):
        """Run one query and yield row dicts (column name -> string value,
        the REST API's wire typing) across result pages."""
        body: dict = {"query": sql, "useLegacySql": False,
                      "maxResults": page_size}
        if parameters:
            body["parameterMode"] = "POSITIONAL"
            body["queryParameters"] = [
                {"parameterType": {"type": _bq_param_type(v)},
                 "parameterValue": {"value": _bq_param_value(v)}}
                for v in parameters]
        status, data, _ = self._call(
            "POST", f"/bigquery/v2/projects/{urllib.parse.quote(project)}/queries",
            body=json.dumps(body).encode(), content_type="application/json")
        if status != 200:
            raise ConnectionError(f"bigquery: query -> {status} {data[:200]!r}")
        page = json.loads(data)
        job_id = (page.get("jobReference") or {}).get("jobId", "")
        while True:
            fields = [f["name"] for f in
                      (page.get("schema") or {}).get("fields", [])]
            for row in page.get("rows", []):
                yield {name: cell.get("v")
                       for name, cell in zip(fields, row.get("f", []))}
            token = page.get("pageToken")
            if not token:
                return
            status, data, _ = self._call(
                "GET",
                f"/bigquery/v2/projects/{urllib.parse.quote(project)}"
                f"/queries/{urllib.parse.quote(job_id)}?"
                + urllib.parse.urlencode({"pageToken": token,
                                          "maxResults": page_size}))
            if status != 200:
                raise ConnectionError(f"bigquery: page -> {status}")
            page = json.loads(data)

    def load(self, project: str, dataset: str, table: str, media: bytes,
             source_format: str = "NEWLINE_DELIMITED_JSON",
             csv_options: dict | None = None) -> None:
        """Inline-data load job: multipart/related (job config JSON +
        media), the documented upload endpoint."""
        if source_format not in FORMATS:
            raise ValueError(
                f"bigquery: format {source_format!r} not one of {FORMATS}")
        load_conf: dict = {
            "destinationTable": {"projectId": project, "datasetId": dataset,
                                 "tableId": table},
            "sourceFormat": source_format,
            "writeDisposition": "WRITE_APPEND",
        }
        if source_format == "CSV" and csv_options:
            if csv_options.get("field_delimiter"):
                load_conf["fieldDelimiter"] = csv_options["field_delimiter"]
            if csv_options.get("skip_leading_rows") is not None:
                load_conf["skipLeadingRows"] = int(
                    csv_options["skip_leading_rows"])
        meta = json.dumps({"configuration": {"load": load_conf}})
        boundary = f"bento{uuid.uuid4().hex}"
        body = (
            f"--{boundary}\r\nContent-Type: application/json\r\n\r\n{meta}\r\n"
            f"--{boundary}\r\nContent-Type: application/octet-stream\r\n\r\n"
        ).encode() + media + f"\r\n--{boundary}--\r\n".encode()
        status, data, _ = self._call(
            "POST",
            f"/upload/bigquery/v2/projects/{urllib.parse.quote(project)}"
            "/jobs?uploadType=multipart",
            body=body,
            content_type=f"multipart/related; boundary={boundary}")
        if status // 100 != 2:
            raise ConnectionError(f"bigquery: load -> {status} {data[:200]!r}")


def _bq_param_type(v) -> str:
    if isinstance(v, bool):
        return "BOOL"
    if isinstance(v, int):
        return "INT64"
    if isinstance(v, float):
        return "FLOAT64"
    return "STRING"


def _bq_param_value(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def build_select(table: str, columns: list[str], where: str = "",
                 prefix: str = "", suffix: str = "") -> str:
    """input_bigquery_select.go's query builder: [prefix] SELECT cols
    FROM `table` [WHERE where] [suffix]."""
    q = f"SELECT {', '.join(columns)} FROM `{table}`"
    if where:
        q += f" WHERE {where}"
    if prefix:
        q = f"{prefix} {q}"
    if suffix:
        q = f"{q} {suffix}"
    return q


# ---------------------------------------------------------------------------
# input bridge
# ---------------------------------------------------------------------------


def bigquery_bridge(endpoint: str, project: str, table: str, columns: list[str],
                    spool_dir: str, where: str = "", args: list | None = None,
                    prefix: str = "", suffix: str = "",
                    credentials: dict | None = None) -> Bridge:
    """`gcp_bigquery_select` input: one paged query, one spool file per
    row (the row's JSON object; the reference emits one message per
    row); the bridge finishes with the result."""
    sql = build_select(table, columns, where, prefix, suffix)

    def messages(client: BigQueryClient, stop):
        for row in client.query(project, sql, args):
            if stop.is_set():
                return
            yield json.dumps(row), {}, None

    return Bridge("gcp_bigquery_select", spool_dir,
                  functools.partial(BigQueryClient, endpoint, credentials), messages)


# ---------------------------------------------------------------------------
# processor
# ---------------------------------------------------------------------------


def bigquery_select_map(df, endpoint: str, project: str, table: str,
                        columns: list[str], args_col: str | None, *,
                        where: str = "", prefix: str = "", suffix: str = "",
                        credentials: dict | None = None,
                        result_col: str = "bigquery_rows"):
    """`gcp_bigquery_select` processor (processor_bigquery_select.go):
    the sql_raw amortization — ONE query per DISTINCT args tuple
    driver-side, JSON row arrays broadcast-joined back ('[]' on empty)."""
    from pyspark.sql import functions as F

    sql = build_select(table, columns, where, prefix, suffix)
    client = BigQueryClient(endpoint, credentials)
    if args_col is None:
        rows = list(client.query(project, sql))
        blob = df.sparkSession.createDataFrame(
            [(json.dumps(rows),)], f"{result_col} string")
        return df.crossJoin(F.broadcast(blob))
    distinct = [tuple(r[0]) for r in df.select(args_col).distinct().collect()]
    side_rows = []
    for args in distinct:
        rows = list(client.query(project, sql, list(args)))
        side_rows.append((json.dumps([str(a) for a in args]),
                          json.dumps(rows)))
    side = df.sparkSession.createDataFrame(
        side_rows, f"_bq_args_key string, {result_col} string")
    keyed = df.withColumn(
        "_bq_args_key",
        F.to_json(F.transform(F.col(args_col), lambda c: c.cast("string"))))
    out = keyed.join(F.broadcast(side), "_bq_args_key", "left")
    return out.drop("_bq_args_key").withColumn(
        result_col, F.coalesce(F.col(result_col), F.lit("[]")))


# ---------------------------------------------------------------------------
# output
# ---------------------------------------------------------------------------


def bigquery_sink(endpoint: str, project: str, dataset: str, table: str, *,
                  credentials: dict | None = None,
                  source_format: str = "NEWLINE_DELIMITED_JSON",
                  csv_header: list[str] | None = None,
                  csv_field_delimiter: str = ","):
    """`gcp_bigquery` output (output_bigquery.go): rows render JVM-side
    (to_json for NDJSON, to_csv for CSV) and each partition submits ONE
    inline-data load job; csv.header prepends the header line per batch,
    the reference's contract."""
    if source_format not in FORMATS:
        raise ValueError(
            f"bigquery: format {source_format!r} not one of {FORMATS}")

    def send(client, rows) -> None:
        lines = [row.v for row in rows]
        if source_format == "CSV" and csv_header:
            lines.insert(0, csv_field_delimiter.join(csv_header))
        client.load(project, dataset, table,
                    ("\n".join(lines) + "\n").encode("utf-8"),
                    source_format=source_format,
                    csv_options={"field_delimiter": csv_field_delimiter,
                                 "skip_leading_rows": 1 if csv_header else 0})

    def write_batch(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from bento_spark.streaming.sink import json_body, write_partitions

        if source_format == "CSV":
            cols = csv_header or batch_df.columns
            body = F.to_csv(F.struct(*[F.col(c) for c in cols]),
                            {"sep": csv_field_delimiter})
        else:
            body = json_body(batch_df)
        write_partitions(batch_df.select(body.alias("v")),
                         functools.partial(BigQueryClient, endpoint, credentials), send)

    return write_batch


# ---------------------------------------------------------------------------
# in-process service (test-grade, DuckDB-backed)
# ---------------------------------------------------------------------------


class MiniBigQueryServer:
    """BigQuery REST subset for e2e tests, backed by an embedded DuckDB:
    jobs.query executes the received SQL (positional `?` parameters bound
    natively) and returns the API's {"schema","rows":[{"f":[{"v"}]}]}
    string-typed shape with pageToken paging; the multipart upload
    endpoint parses load jobs and ingests NDJSON/CSV media into DuckDB
    tables — so an output -> input round trip crosses a real SQL engine.
    OAuth assertions verified like MiniGcsServer when service_accounts
    are configured."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 service_accounts: dict[str, str] | None = None,
                 page_size: int = 1000):
        import duckdb

        self.host, self.port = host, port
        self.service_accounts = dict(service_accounts or {})
        self.page_size = page_size
        self._db = duckdb.connect(":memory:")
        self._tokens: set[str] = set()
        # jobId -> {"rows": [...], "fields": [...], "cursor": int}
        self._jobs: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._httpd = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    @property
    def token_uri(self) -> str:
        return f"{self.endpoint}/token"

    def sql(self, statement: str, params: list | None = None):
        with self._lock:
            return self._db.execute(statement, params or []).fetchall()

    @staticmethod
    def _bq_table(name: str) -> str:
        """`project.dataset.table` -> a flat quoted duckdb table name."""
        return '"' + name.replace("`", "").replace('"', "") + '"'

    def _run_query(self, sql: str, params: list) -> dict:
        import re as _re

        # BigQuery quotes tables with backticks; duckdb with double quotes
        duck_sql = _re.sub(r"`([^`]*)`", lambda m: self._bq_table(m.group(1)),
                           sql)
        with self._lock:
            cur = self._db.execute(duck_sql, params)
            fields = [{"name": d[0], "type": _duck_to_bq(d[1])}
                      for d in cur.description]
            rows = cur.fetchall()
        job_id = f"job_{uuid.uuid4().hex[:12]}"
        self._jobs[job_id] = {"fields": fields, "rows": rows}
        return self._page(job_id, 0)

    def _page(self, job_id: str, start: int) -> dict:
        job = self._jobs[job_id]
        rows = job["rows"][start : start + self.page_size]
        out = {
            "kind": "bigquery#queryResponse",
            "jobComplete": True,
            "jobReference": {"jobId": job_id},
            "schema": {"fields": job["fields"]},
            "totalRows": str(len(job["rows"])),
            "rows": [{"f": [{"v": _bq_cell(v)} for v in r]} for r in rows],
        }
        if start + self.page_size < len(job["rows"]):
            out["pageToken"] = str(start + self.page_size)
        return out

    def _ingest(self, load_conf: dict, media: bytes) -> None:
        dest = load_conf["destinationTable"]
        table = self._bq_table(
            f"{dest['projectId']}.{dest['datasetId']}.{dest['tableId']}")
        fmt = load_conf.get("sourceFormat", "NEWLINE_DELIMITED_JSON")
        import tempfile

        suffix = ".json" if fmt == "NEWLINE_DELIMITED_JSON" else ".csv"
        with tempfile.NamedTemporaryFile(suffix=suffix, delete=False) as f:
            f.write(media)
            path = f.name
        with self._lock:
            exists = self._db.execute(
                "SELECT count(*) FROM information_schema.tables WHERE "
                "table_name = ?", [table.strip('"')]).fetchone()[0]
            if fmt == "NEWLINE_DELIMITED_JSON":
                reader = f"read_json_auto('{path}', format='newline_delimited')"
            else:
                skip = int(load_conf.get("skipLeadingRows", 0))
                delim = load_conf.get("fieldDelimiter", ",")
                header = "true" if skip else "false"
                reader = (f"read_csv_auto('{path}', header={header}, "
                          f"delim='{delim}')")
            if exists:
                self._db.execute(f"INSERT INTO {table} SELECT * FROM {reader}")
            else:
                self._db.execute(
                    f"CREATE TABLE {table} AS SELECT * FROM {reader}")

    def start(self) -> "MiniBigQueryServer":
        import base64
        import http.server

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _reply(self, status: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                if not outer.service_accounts:
                    return True
                tok = self.headers.get("Authorization", "").removeprefix(
                    "Bearer ")
                if tok in outer._tokens:
                    return True
                self._reply(401, {"error": "unauthorized"})
                return False

            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def do_POST(self) -> None:
                u = urllib.parse.urlsplit(self.path)
                if u.path == "/token":
                    self._token_endpoint()
                    return
                if not self._authed():
                    return
                if u.path.startswith("/upload/bigquery/v2/"):
                    ctype = self.headers.get("Content-Type", "")
                    boundary = ctype.split("boundary=", 1)[-1].strip()
                    parts = self._body().split(f"--{boundary}".encode())
                    segs = [p for p in parts if b"\r\n\r\n" in p]
                    meta = json.loads(
                        segs[0].split(b"\r\n\r\n", 1)[1].strip())
                    media = segs[1].split(b"\r\n\r\n", 1)[1].rstrip(b"\r\n")
                    try:
                        outer._ingest(meta["configuration"]["load"], media)
                    except Exception as e:  # noqa: BLE001 — surfaced as API error
                        self._reply(400, {"error": {"message": str(e)}})
                        return
                    self._reply(200, {"jobReference": {
                        "jobId": f"load_{uuid.uuid4().hex[:8]}"},
                        "status": {"state": "DONE"}})
                    return
                if u.path.endswith("/queries"):
                    req = json.loads(self._body() or b"{}")
                    params = [_param_py(p) for p in
                              req.get("queryParameters", [])]
                    try:
                        out = outer._run_query(req.get("query", ""), params)
                    except Exception as e:  # noqa: BLE001
                        self._reply(400, {"error": {"message": str(e)}})
                        return
                    self._reply(200, out)
                    return
                self._reply(404, {"error": "unknown path"})

            def do_GET(self) -> None:
                if not self._authed():
                    return
                u = urllib.parse.urlsplit(self.path)
                if "/queries/" in u.path:
                    job_id = u.path.rsplit("/", 1)[1]
                    q = dict(urllib.parse.parse_qsl(u.query))
                    if job_id not in outer._jobs:
                        self._reply(404, {"error": "unknown job"})
                        return
                    self._reply(200, outer._page(
                        job_id, int(q.get("pageToken") or 0)))
                    return
                self._reply(404, {"error": "unknown path"})

            def _token_endpoint(self) -> None:
                form = dict(urllib.parse.parse_qsl(
                    self._body().decode("ascii", "replace")))
                assertion = form.get("assertion", "")
                try:
                    h, c, s = assertion.split(".")
                    pad = lambda x: x + "=" * (-len(x) % 4)  # noqa: E731
                    claims = json.loads(base64.urlsafe_b64decode(pad(c)))
                    sig = base64.urlsafe_b64decode(pad(s))
                    pub_pem = outer.service_accounts.get(claims.get("iss", ""))
                    if pub_pem is None:
                        raise ValueError("unknown issuer")
                    from bento_spark.functions.crypto_prims import (
                        parse_rsa_public,
                        rsa_verify,
                    )

                    key = parse_rsa_public(pub_pem)
                    if not rsa_verify(key, f"{h}.{c}".encode("ascii"),
                                      sig, 256):
                        raise ValueError("bad signature")
                except (ValueError, json.JSONDecodeError) as e:
                    self._reply(401, {"error": str(e)})
                    return
                tok = uuid.uuid4().hex
                outer._tokens.add(tok)
                self._reply(200, {"access_token": tok, "expires_in": 3600})

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


def _duck_to_bq(duck_type: str) -> str:
    t = str(duck_type).upper()
    if "INT" in t:
        return "INT64"
    if t in ("DOUBLE", "FLOAT", "REAL") or "DECIMAL" in t:
        return "FLOAT64"
    if t == "BOOLEAN":
        return "BOOL"
    return "STRING"


def _bq_cell(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _param_py(p: dict):
    t = (p.get("parameterType") or {}).get("type", "STRING")
    v = (p.get("parameterValue") or {}).get("value")
    if v is None:
        return None
    if t == "INT64":
        return int(v)
    if t == "FLOAT64":
        return float(v)
    if t == "BOOL":
        return str(v).lower() == "true"
    return str(v)
