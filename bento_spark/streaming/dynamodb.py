"""DynamoDB cache backend — dependency-free client over the public
DynamoDB JSON protocol (POST / with `X-Amz-Target: DynamoDB_20120810.<Op>`,
application/x-amz-json-1.0, attribute-value maps like {"S": ...}) signed
with the repo's SigV4 implementation (streaming/sqs.py, pinned against
AWS's published vector), plus an in-process signature-verifying table
service.

Reference: internal/impl/aws/cache_dynamodb.go — table, `hash_key`
(partition key holding the cache key), `data_key` (attribute holding the
value), `default_ttl` + `ttl_key` (epoch-seconds TTL attribute for
DynamoDB's native TTL sweeper). Get/Set/Add/Delete map to
GetItem / PutItem / PutItem+attribute_not_exists condition / DeleteItem,
exactly the reference's calls. Multi-key enrichment uses BatchGetItem —
one request per <=100 distinct keys per executor partition.

Spark-first mapping: the shared cache operator contract (see
RedisCache), so `cache_resources:` wiring works unchanged. TTLs are
epoch-second attributes evaluated by the server (the mini service
honors them on read, like DynamoDB's filtered expiry)."""

from __future__ import annotations

import json
import re
import threading
import time

from bento_spark.streaming import rest
from bento_spark.streaming.sqs import sigv4_headers

_TARGET = "DynamoDB_20120810"


class DynamoClient:
    """Minimal DynamoDB JSON-protocol client: GetItem/BatchGetItem/
    PutItem (optionally conditional)/DeleteItem."""

    def __init__(self, endpoint: str, access_key: str, secret_key: str,
                 region: str = "us-east-1", timeout: float = 10.0):
        self._ep = rest.Endpoint(endpoint, timeout)
        self.access_key, self.secret_key, self.region = access_key, secret_key, region

    def call(self, op: str, body: dict, retries: int = 3,
             backoff_s: float = 0.25) -> dict:
        """One signed request -> the response JSON."""
        payload = json.dumps(body).encode("utf-8")
        _, data, _ = rest.call(
            self._ep, "POST", "/", payload,
            lambda: sigv4_headers(
                "POST", self._ep.host_hdr, "/", payload, self.access_key,
                self.secret_key, self.region, "dynamodb", f"{_TARGET}.{op}"),
            name=f"dynamodb {op}", retries=retries, backoff_s=backoff_s,
            throttled=_throttled)
        return json.loads(data) if data else {}


# the 400-level names AWS throttling surfaces under
_THROTTLES = ("ProvisionedThroughputExceededException", "ThrottlingException",
              "RequestLimitExceeded")


def _throttled(status: int, data: bytes, wait: float) -> float | None:
    """rest.call's hook: a 4xx whose `__type` names a throttle retries
    after `wait`; the conditional-put rejection raises KeyExistsError."""
    try:
        err_type = json.loads(data).get("__type", "")
    except ValueError:
        err_type = ""
    if err_type.endswith("ConditionalCheckFailedException"):
        raise KeyExistsError()
    return wait if err_type.endswith(_THROTTLES) else None


def _batch_write(client: "DynamoClient", table: str, requests: list) -> None:
    """BatchWriteItem with UnprocessedItems retry (throttled writes come
    back unprocessed — dropping them would silently lose cache entries)."""
    todo = requests
    backoff = 0.1
    while todo:
        out = client.call("BatchWriteItem", {"RequestItems": {table: todo}})
        todo = (out.get("UnprocessedItems") or {}).get(table) or []
        if todo:
            time.sleep(backoff)
            backoff = min(backoff * 2, 2.0)


class KeyExistsError(Exception):
    """The conditional PutItem rejection (the reference maps it to
    ErrKeyAlreadyExists)."""


class DynamoCache:
    """`aws_dynamodb` cache backend (cache_dynamodb.go): shared operator
    contract over GetItem/PutItem/DeleteItem with the reference's
    hash_key/data_key/ttl_key layout."""

    single_value = True

    def __init__(self, spark, endpoint: str, table: str,
                 access_key: str, secret_key: str, region: str = "us-east-1",
                 hash_key: str = "key", data_key: str = "value",
                 ttl_key: str | None = None, default_ttl=None,
                 key_col: str = "key", value_col: str = "value"):
        from bento_spark.operators.cache import _ttl_ms

        self.spark = spark
        self.args = (endpoint, access_key, secret_key, region)
        self.table = table
        self.hash_key, self.data_key, self.ttl_key = hash_key, data_key, ttl_key
        self.key_col, self.value_col = key_col, value_col
        self.default_ttl_ms = None if default_ttl is None else _ttl_ms(default_ttl)
        if self.default_ttl_ms is not None and ttl_key is None:
            raise ValueError(
                "dynamodb cache: default_ttl needs `ttl_key` (the table's "
                "TTL attribute) — cache_dynamodb.go:47")

    def _ttl_attr(self, ttl) -> int | None:
        from bento_spark.operators.cache import _ttl_ms

        ms = self.default_ttl_ms if ttl is None else _ttl_ms(ttl)
        if ms is None:
            return None
        return int(time.time()) + max(1, -(-int(ms) // 1000))

    def _item(self, k: str, v: str | None, expires: int | None) -> dict:
        item = {self.hash_key: {"S": k},
                self.data_key: {"S": "" if v is None else v}}
        if expires is not None and self.ttl_key:
            item[self.ttl_key] = {"N": str(expires)}
        return item

    def set(self, df, ttl=None, now_ms=None) -> None:
        from pyspark.sql import functions as F

        expires = self._ttl_attr(ttl)
        args, table = self.args, self.table
        hk, dk, tk = self.hash_key, self.data_key, self.ttl_key
        rows = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"),
        )

        def send(it) -> None:
            from bento_spark.streaming.dynamodb import DynamoClient, _batch_write

            client = None
            pending = []
            for row in it:
                if client is None:
                    client = DynamoClient(*args)
                item = {hk: {"S": row.k}, dk: {"S": "" if row.v is None else row.v}}
                if expires is not None and tk:
                    item[tk] = {"N": str(expires)}
                pending.append({"PutRequest": {"Item": item}})
                if len(pending) >= 25:  # BatchWriteItem API cap
                    _batch_write(client, table, pending)
                    pending = []
            if client is not None and pending:
                _batch_write(client, table, pending)

        rows.foreachPartition(send)

    def add(self, df, ttl=None, now_ms=None):
        from pyspark.sql import functions as F

        expires = self._ttl_attr(ttl)
        args, table = self.args, self.table
        hk, dk, tk = self.hash_key, self.data_key, self.ttl_key
        key_col, value_col = self.key_col, self.value_col
        fresh = df.dropDuplicates([key_col])

        def attempt(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.dynamodb import DynamoClient, KeyExistsError

            client = DynamoClient(*args)
            for pdf in iter_pdf:
                accepted = []
                for k, v in zip(pdf[key_col], pdf[value_col]):
                    item = {hk: {"S": str(k)},
                            dk: {"S": "" if v is None else str(v)}}
                    if expires is not None and tk:
                        item[tk] = {"N": str(expires)}
                    try:
                        client.call("PutItem", {
                            "TableName": table, "Item": item,
                            # the reference's insert-if-absent condition
                            "ConditionExpression": "attribute_not_exists(#k)",
                            "ExpressionAttributeNames": {"#k": hk},
                        })
                        accepted.append(True)
                    except KeyExistsError:
                        accepted.append(False)
                yield pd.DataFrame({
                    key_col: [str(k) for k in pdf[key_col]],
                    "_accepted": accepted,
                })

        verdicts = (
            fresh.select(F.col(key_col).cast("string").alias(key_col), value_col)
            .mapInPandas(attempt, f"{key_col} string, _accepted boolean")
            .localCheckpoint(eager=True)  # exactly-once add attempt
        )
        rejected = verdicts.filter(~F.col("_accepted")).select(key_col)
        return fresh.join(F.broadcast(rejected), key_col, "left_semi")

    def delete(self, keys) -> None:
        from pyspark.sql import functions as F

        args, table, hk = self.args, self.table, self.hash_key
        rows = keys.select(F.col(self.key_col).cast("string").alias("k"))

        def send(it) -> None:
            from bento_spark.streaming.dynamodb import DynamoClient, _batch_write

            client = None
            pending = []
            for row in it:
                if client is None:
                    client = DynamoClient(*args)
                pending.append({"DeleteRequest": {"Key": {hk: {"S": row.k}}}})
                if len(pending) >= 25:
                    _batch_write(client, table, pending)
                    pending = []
            if client is not None and pending:
                _batch_write(client, table, pending)

        rows.foreachPartition(send)

    def get(self, df, on: str | None = None, broadcast: bool = True, now_ms=None):
        """Enrich df with the cached value by key (miss = NULL).
        BatchGetItem over the batch's distinct keys, <=100 per request
        (the API cap)."""
        from pyspark.sql import functions as F

        key = on or self.key_col
        args, table = self.args, self.table
        hk, dk = self.hash_key, self.data_key
        key_col, value_col = self.key_col, self.value_col
        distinct = df.select(F.col(key).cast("string").alias(key_col)).distinct()

        def fetch(iter_pdf):
            import pandas as pd

            from bento_spark.streaming.dynamodb import DynamoClient

            client = DynamoClient(*args)
            for pdf in iter_pdf:
                ks = [str(k) for k in pdf[key_col]]
                found: dict[str, str] = {}
                for i in range(0, len(ks), 100):
                    todo = [{hk: {"S": k}} for k in ks[i : i + 100]]
                    backoff = 0.1
                    while todo:
                        out = client.call("BatchGetItem", {"RequestItems": {
                            table: {"Keys": todo},
                        }})
                        for item in (out.get("Responses") or {}).get(table, []):
                            found[item[hk]["S"]] = item.get(dk, {}).get("S")
                        # throttled keys come back in UnprocessedKeys —
                        # dropping them would read as spurious cache misses
                        todo = ((out.get("UnprocessedKeys") or {})
                                .get(table, {}).get("Keys") or [])
                        if todo:
                            import time as _time

                            _time.sleep(backoff)
                            backoff = min(backoff * 2, 2.0)
                yield pd.DataFrame({
                    key_col: ks,
                    value_col: [found.get(k) for k in ks],
                })

        side = distinct.mapInPandas(fetch, f"{key_col} string, {value_col} string")
        side = side.filter(F.col(value_col).isNotNull())
        if key != key_col:
            side = side.withColumnRenamed(key_col, key)
        if broadcast:
            side = F.broadcast(side)
        return df.join(side, key, "left")


def attr_value(v) -> dict:
    """Python value -> DynamoDB AttributeValue (the JSON-protocol typed
    map): dict->M, list->L, str->S, bool->BOOL, int/float->N, None->NULL,
    bytes are not produced by the JSON paths here."""
    if v is None:
        return {"NULL": True}
    if isinstance(v, bool):
        return {"BOOL": v}
    if isinstance(v, (int, float)):
        return {"N": repr(v) if isinstance(v, float) else str(v)}
    if isinstance(v, str):
        return {"S": v}
    if isinstance(v, list):
        return {"L": [attr_value(x) for x in v]}
    if isinstance(v, dict):
        return {"M": {str(k): attr_value(x) for k, x in v.items()}}
    return {"S": str(v)}


def dynamodb_sink(endpoint: str, table: str, access_key: str, secret_key: str,
                  region: str = "us-east-1",
                  string_cols: list[str] | None = None,
                  json_map_cols: dict[str, str] | None = None,
                  ttl=None, ttl_key: str | None = None):
    """`aws_dynamodb` output (output_dynamodb.go): each row becomes one
    item. `string_cols` name columns stored as S attributes (the
    reference's interpolated string_columns — interpolations render
    JVM-side into these columns before the sink); `json_map_cols` name
    columns holding JSON text stored as typed M/L/N/S attribute trees
    (the reference's json_map_columns dot-path extraction, rendered
    JVM-side via to_json). Writes go through BatchWriteItem in the API's
    25-item chunks with UnprocessedItems retry — at-least-once (DynamoDB
    puts are idempotent per key, the reference's contract)."""
    from pyspark.sql import functions as F

    from bento_spark.operators.cache import _ttl_ms

    string_cols = list(string_cols or [])
    # attribute name -> column holding its JSON text
    json_map_cols = dict(json_map_cols or {})
    if not string_cols and not json_map_cols:
        raise ValueError("aws_dynamodb output needs string_columns and/or "
                         "json_map_columns")
    ttl_ms = None if ttl is None else _ttl_ms(ttl)
    if ttl_ms is not None and not ttl_key:
        raise ValueError("aws_dynamodb output: ttl needs `ttl_key` "
                         "(output_dynamodb.go:160-164)")

    def write_batch(batch_df, epoch_id: int) -> None:
        # ttl is an expiry horizon from write time (transport metadata,
        # like x-amz-date — never row content)
        expires = None if ttl_ms is None else int(time.time()) + max(
            1, -(-int(ttl_ms) // 1000))
        sel = [F.col(c).cast("string").alias(c) for c in string_cols]
        sel += [F.col(c).cast("string").alias(c)
                for c in json_map_cols.values()]
        rows = batch_df.select(*sel)

        def send(it) -> None:
            from bento_spark.streaming.dynamodb import (
                DynamoClient,
                _batch_write,
                attr_value,
            )

            client = None
            pending = []
            for row in it:
                if client is None:
                    client = DynamoClient(endpoint, access_key, secret_key,
                                          region=region)
                item = {}
                for c in string_cols:
                    v = row[c]
                    if v is not None:
                        item[c] = {"S": v}
                for attr, c in json_map_cols.items():
                    v = row[c]
                    if v is not None:
                        item[attr] = attr_value(json.loads(v))
                if expires is not None:
                    item[ttl_key] = {"N": str(expires)}
                pending.append({"PutRequest": {"Item": item}})
                if len(pending) >= 25:  # BatchWriteItem API cap
                    _batch_write(client, table, pending)
                    pending = []
            if client is not None and pending:
                _batch_write(client, table, pending)

        rows.foreachPartition(send)

    return write_batch


# --------------------------------------------------------------------------
# in-process table service (test-grade, signature-verifying)
# --------------------------------------------------------------------------


class MiniDynamoServer:
    """DynamoDB JSON-protocol subset for e2e tests: PutItem (with
    attribute_not_exists condition), GetItem, BatchGetItem, DeleteItem;
    ttl attributes are honored on read (expired items read as absent,
    like the real TTL sweeper's eventual behavior). SigV4 recomputed and
    rejected on mismatch (the recipe is vector-pinned in test_sqs)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 access_key: str = "AKIATEST", secret_key: str = "testsecret",
                 region: str = "us-east-1"):
        self.host, self.port = host, port
        self.access_key, self.secret_key, self.region = access_key, secret_key, region
        self._tables: dict[str, dict[str, dict]] = {}
        self._lock = threading.Lock()
        self._srv = None
        self._thread = None

    @property
    def endpoint(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "MiniDynamoServer":
        import http.server

        svc = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/x-amz-json-1.0")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            @staticmethod
            def _hash_of(item: dict) -> str:
                # tables here are keyed by their first S attribute (the
                # cache layout's hash_key) — enough for the cache contract
                for v in item.values():
                    if "S" in v:
                        return v["S"]
                raise KeyError("no string key attribute")

            @staticmethod
            def _alive(item: dict) -> bool:
                # the cache layout's only numeric attribute is the ttl_key
                # (epoch seconds) — honor it on read like the TTL sweeper
                for v in item.values():
                    if "N" in v:
                        try:
                            if int(v["N"]) <= int(time.time()):
                                return False
                        except ValueError:
                            pass
                return True

            def do_POST(self):  # noqa: N802
                n = int(self.headers.get("Content-Length", 0))
                payload = self.rfile.read(n)
                target = self.headers.get("X-Amz-Target", "")
                expect = sigv4_headers(
                    "POST", self.headers.get("Host", ""), "/", payload,
                    svc.access_key, svc.secret_key, svc.region, "dynamodb",
                    target, amz_date=self.headers.get("X-Amz-Date", ""),
                )["Authorization"]
                if self.headers.get("Authorization") != expect:
                    return self._reply(403, {"__type": "InvalidSignatureException"})
                req = json.loads(payload)
                op = target.split(".")[-1]
                with svc._lock:
                    if op == "PutItem":
                        table = svc._tables.setdefault(req["TableName"], {})
                        item = req["Item"]
                        k = self._hash_of(item)
                        if (req.get("ConditionExpression") == "attribute_not_exists(#k)"
                                and k in table and self._alive(table[k])):
                            return self._reply(400, {
                                "__type": ("com.amazonaws.dynamodb.v20120810#"
                                           "ConditionalCheckFailedException")})
                        table[k] = item
                        return self._reply(200, {})
                    if op == "DeleteItem":
                        table = svc._tables.setdefault(req["TableName"], {})
                        table.pop(self._hash_of(req["Key"]), None)
                        return self._reply(200, {})
                    if op == "GetItem":
                        table = svc._tables.setdefault(req["TableName"], {})
                        item = table.get(self._hash_of(req["Key"]))
                        if item is None or not self._alive(item):
                            return self._reply(200, {})
                        return self._reply(200, {"Item": item})
                    if op == "BatchWriteItem":
                        for tname, reqs in req["RequestItems"].items():
                            table = svc._tables.setdefault(tname, {})
                            for r in reqs:
                                if "PutRequest" in r:
                                    item = r["PutRequest"]["Item"]
                                    table[self._hash_of(item)] = item
                                else:
                                    table.pop(self._hash_of(
                                        r["DeleteRequest"]["Key"]), None)
                        return self._reply(200, {"UnprocessedItems": {}})
                    if op == "BatchGetItem":
                        out: dict = {"Responses": {}}
                        for tname, spec in req["RequestItems"].items():
                            table = svc._tables.setdefault(tname, {})
                            hits = []
                            for keyspec in spec["Keys"]:
                                item = table.get(self._hash_of(keyspec))
                                if item is not None and self._alive(item):
                                    hits.append(item)
                            out["Responses"][tname] = hits
                        return self._reply(200, out)
                    if op == "BatchExecuteStatement":
                        # PartiQL subset for the processor e2e: point
                        # SELECT by the table's hash attribute; unknown
                        # tables answer a per-statement Error like the
                        # real service (not an HTTP failure)
                        responses = []
                        for st in req["Statements"]:
                            m = re.match(
                                r'\s*SELECT\s+\*\s+FROM\s+"([^"]+)"\s+'
                                r"WHERE\s+\w+\s*=\s*\?\s*$",
                                st["Statement"], re.IGNORECASE)
                            if not m:
                                responses.append({"Error": {
                                    "Code": "ValidationError",
                                    "Message": "unsupported statement"}})
                                continue
                            tname = m.group(1)
                            if tname not in svc._tables:
                                responses.append({"Error": {
                                    "Code": "ResourceNotFoundException",
                                    "Message": f"table {tname} not found"}})
                                continue
                            params = st.get("Parameters") or []
                            key = params[0].get("S") if params else None
                            item = svc._tables[tname].get(key)
                            # no _alive() here: that heuristic treats any
                            # N attribute as the cache layout's ttl_key;
                            # PartiQL tables carry arbitrary numerics
                            if item is not None:
                                responses.append({"Item": item})
                            else:
                                responses.append({})
                        return self._reply(200, {"Responses": responses})
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


def attr_to_obj(av: dict):
    """DynamoDB AttributeValue -> Python value (the inverse of
    attr_value; processor_dynamodb_partiql.go:178 attributeValueToObjForm).
    N returns int when integral, else float; B stays base64 text (the
    JSON protocol's wire form)."""
    if "S" in av:
        return av["S"]
    if "N" in av:
        n = av["N"]
        try:
            return int(n)
        except ValueError:
            return float(n)
    if "BOOL" in av:
        return bool(av["BOOL"])
    if "NULL" in av:
        return None
    if "L" in av:
        return [attr_to_obj(x) for x in av["L"]]
    if "M" in av:
        return {k: attr_to_obj(x) for k, x in av["M"].items()}
    if "SS" in av:
        return list(av["SS"])
    if "NS" in av:
        return [attr_to_obj({"N": x}) for x in av["NS"]]
    if "B" in av:
        return av["B"]
    if "BS" in av:
        return list(av["BS"])
    raise ValueError(f"unknown AttributeValue form: {sorted(av)}")


def dynamodb_partiql(df, endpoint: str, access_key: str, secret_key: str,
                     query: str, args_col: str | None = None,
                     region: str = "us-east-1",
                     result_col: str = "partiql"):
    """`aws_dynamodb_partiql` processor
    (aws/processor_dynamodb_partiql.go:106): run a PartiQL statement per
    row via BatchExecuteStatement in <=25-statement chunks (the API cap).
    `args_col` holds the row's parameter array (compiled from
    args_mapping, Catalyst ARRAY column); each value converts to an
    AttributeValue. A per-statement Error flags the row's error column
    ("failed to process statement (Code): Message", :156); a returned
    Item lands in `result_col` as a JSON object string, NULL otherwise.

    The reference issues one BatchExecuteStatement per pipeline batch;
    here each Arrow batch chunks into API-sized calls per partition —
    same wire shape, executor-side."""
    from bento_spark.operators.errors import ERROR_COL, ensure_error_col

    if result_col in df.columns:
        raise ValueError(f"aws_dynamodb_partiql: {result_col!r} collides "
                         "with an input column")
    df = ensure_error_col(df)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = list(df.columns)
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in cols] + [f"{result_col} string"]
    )

    def run(batches):
        import json as _json

        import pandas as _pd

        from bento_spark.streaming.dynamodb import (
            DynamoClient as _C,
            attr_to_obj as _from_av,
            attr_value as _to_av,
        )

        client = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if client is None:
                client = _C(endpoint, access_key, secret_key, region=region)
            args_series = (pdf[args_col] if args_col is not None
                           else [None] * len(pdf))
            stmts = []
            for args in args_series:
                req = {"Statement": query}
                if args is not None:
                    req["Parameters"] = [
                        _to_av(a.item() if hasattr(a, "item") else a)
                        for a in args
                    ]
                stmts.append(req)
            results, errs = [], list(pdf[ERROR_COL])
            for base in range(0, len(stmts), 25):
                chunk = stmts[base:base + 25]
                resp = client.call("BatchExecuteStatement",
                                   {"Statements": chunk})
                for j, res in enumerate(resp.get("Responses", [])):
                    i = base + j
                    err = res.get("Error")
                    if err:
                        code = err.get("Code", "")
                        results.append(None)
                        errs[i] = errs[i] or (
                            f"failed to process statement ({code}): "
                            f"{err.get('Message', '')}")
                        continue
                    item = res.get("Item")
                    if item is not None:
                        results.append(_json.dumps(
                            {k: _from_av(v) for k, v in item.items()},
                            sort_keys=True))
                    else:
                        results.append(None)
            pdf = pdf[cols].copy()
            pdf[ERROR_COL] = errs
            pdf[result_col] = results
            yield _pd.DataFrame(pdf)

    return df.mapInPandas(run, schema=out_schema)
