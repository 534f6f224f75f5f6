"""MongoDB connector family: BSON + OP_MSG wire protocol, cache backend,
output writer, find-one enrichment, and a collection input.

Reference (/root/reference/internal/impl/mongodb/): `common.go:102-126`
operations insert-one/delete-one/delete-many/replace-one/update-one/
find-one with `document_map`/`filter_map` Bloblang fields extracted per
message; `cache.go:87-126` get=FindOne on {key_field: key}, set=UpdateOne
$set+upsert, add=InsertOne (duplicate key -> ErrKeyAlreadyExists),
delete=DeleteOne; `output.go` applies the same write operations per batch;
`input.go` streams a find query.

The reference links the official driver. The sandbox has no MongoDB and
no driver, so this module speaks the public wire format directly —
BSON (bsonspec.org, the subset the engine's JSON documents need) inside
OP_MSG (opcode 2013, MongoDB wire protocol spec) — against either a real
server or the in-process MiniMongoServer twin.

Spark-first mapping: `document_map`/`filter_map` compile to JSON COLUMNS
JVM-side (Bloblang -> to_json), so the executor loop only converts
JSON->BSON: inserts group into one `insert` command per chunk,
updates/deletes pipe
one command per row (the command shape MongoDB itself requires). The
cache backend is a store for the shared remote-cache operator
(operators/cache.py).
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import socket
import struct
import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from bento_spark.operators.cache import RemoteCache, _text
from bento_spark.streaming.reader import SocketReader, reader_of
from bento_spark.streaming.sink import write_partitions

# --------------------------------------------------------------------- BSON

_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


def _enc_elem(name: str, v) -> bytes:
    key = name.encode("utf-8") + b"\x00"
    if isinstance(v, bool):  # before int (bool subclasses int)
        return b"\x08" + key + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + key + struct.pack("<d", v)
    if isinstance(v, int):
        if _INT32_MIN <= v <= _INT32_MAX:
            return b"\x10" + key + struct.pack("<i", v)
        return b"\x12" + key + struct.pack("<q", v)
    if isinstance(v, str):
        sb = v.encode("utf-8") + b"\x00"
        return b"\x02" + key + struct.pack("<i", len(sb)) + sb
    if isinstance(v, (bytes, bytearray)):
        return b"\x05" + key + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
    if isinstance(v, dict):
        return b"\x03" + key + bson_encode(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + key + bson_encode({str(i): x for i, x in enumerate(v)})
    if v is None:
        return b"\x0a" + key
    if isinstance(v, _dt.datetime):
        ms = int(v.timestamp() * 1000)
        return b"\x09" + key + struct.pack("<q", ms)
    raise TypeError(f"bson: unsupported type {type(v).__name__}")


def bson_encode(doc: dict) -> bytes:
    body = b"".join(_enc_elem(str(k), v) for k, v in doc.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


def _dec_elem(buf: bytes, i: int):
    t = buf[i]
    i += 1
    end = buf.index(b"\x00", i)
    name = buf[i:end].decode("utf-8")
    i = end + 1
    if t == 0x01:
        return name, struct.unpack_from("<d", buf, i)[0], i + 8
    if t == 0x02:
        n = struct.unpack_from("<i", buf, i)[0]
        return name, buf[i + 4 : i + 3 + n].decode("utf-8"), i + 4 + n
    if t in (0x03, 0x04):
        n = struct.unpack_from("<i", buf, i)[0]
        sub = bson_decode(buf[i : i + n])
        if t == 0x04:
            sub = [sub[k] for k in sorted(sub, key=int)]
        return name, sub, i + n
    if t == 0x05:
        n = struct.unpack_from("<i", buf, i)[0]
        return name, bytes(buf[i + 5 : i + 5 + n]), i + 5 + n
    if t == 0x07:  # ObjectId — decoded as hex string (we never encode one)
        return name, buf[i : i + 12].hex(), i + 12
    if t == 0x08:
        return name, buf[i] == 1, i + 1
    if t == 0x09:
        ms = struct.unpack_from("<q", buf, i)[0]
        return name, _dt.datetime.fromtimestamp(ms / 1e3, _dt.timezone.utc), i + 8
    if t == 0x0A:
        return name, None, i
    if t == 0x10:
        return name, struct.unpack_from("<i", buf, i)[0], i + 4
    if t == 0x12:
        return name, struct.unpack_from("<q", buf, i)[0], i + 8
    raise ValueError(f"bson: unsupported element type 0x{t:02x}")


def bson_decode(buf: bytes) -> dict:
    out = {}
    i, end = 4, struct.unpack_from("<i", buf, 0)[0] - 1
    while i < end:
        name, v, i = _dec_elem(buf, i)
        out[name] = v
    return out


# ------------------------------------------------------------------- OP_MSG

_OP_MSG = 2013


def _frame(request_id: int, body: dict) -> bytes:
    payload = struct.pack("<I", 0) + b"\x00" + bson_encode(body)
    header = struct.pack(
        "<iiii", 16 + len(payload), request_id, 0, _OP_MSG
    )
    return header + payload


def _read_msg(src: SocketReader | socket.socket) -> dict:
    reader = reader_of(src, "mongodb")
    length, _rid, _resp, opcode = struct.unpack("<iiii", reader.exact(16))
    body = reader.exact(length - 16)
    if opcode != _OP_MSG:
        raise ConnectionError(f"unexpected opcode {opcode}")
    # flagBits(4) + kind byte, then the body document
    return bson_decode(body[5:])


class MongoClient:
    """Minimal OP_MSG command client (one socket, lockstep request/reply)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 27017,
                 timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "mongodb")
        self._rid = 0
        self._lock = threading.Lock()

    def command(self, db: str, cmd: dict) -> dict:
        with self._lock:
            self._rid += 1
            self.sock.sendall(_frame(self._rid, {**cmd, "$db": db}))
            reply = _read_msg(self.reader)
        if reply.get("ok") != 1 and reply.get("ok") != 1.0:
            raise ConnectionError(f"mongodb {next(iter(cmd))} failed: {reply}")
        return reply

    def insert(self, db: str, coll: str, docs: list[dict]) -> dict:
        return self.command(db, {"insert": coll, "documents": docs})

    def update(self, db: str, coll: str, q: dict, u: dict,
               upsert: bool = False, multi: bool = False) -> dict:
        return self.command(
            db, {"update": coll,
                 "updates": [{"q": q, "u": u, "upsert": upsert, "multi": multi}]}
        )

    def delete(self, db: str, coll: str, q: dict, limit: int = 1) -> dict:
        return self.command(
            db, {"delete": coll, "deletes": [{"q": q, "limit": limit}]}
        )

    def find(self, db: str, coll: str, flt: dict | None = None,
             limit: int = 0) -> list[dict]:
        r = self.command(
            db, {"find": coll, "filter": flt or {}, "limit": limit,
                 "singleBatch": True}
        )
        return r.get("cursor", {}).get("firstBatch", [])

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_mongo_url(url: str) -> tuple[str, int]:
    u = str(url)
    if "://" in u:
        u = u.split("://", 1)[1]
    u = u.split("/", 1)[0]
    host, _, port = u.partition(":")
    return host or "127.0.0.1", int(port or 27017)


# ------------------------------------------------------------- mini server


def _matches(doc: dict, flt: dict) -> bool:
    for k, v in flt.items():
        if isinstance(v, dict) and any(str(op).startswith("$") for op in v):
            cur = doc.get(k)
            for op, arg in v.items():
                if op == "$eq":
                    if cur != arg:
                        return False
                elif op == "$in":
                    if cur not in arg:
                        return False
                elif op == "$gt":
                    if not (cur is not None and cur > arg):
                        return False
                elif op == "$gte":
                    if not (cur is not None and cur >= arg):
                        return False
                elif op == "$lt":
                    if not (cur is not None and cur < arg):
                        return False
                elif op == "$lte":
                    if not (cur is not None and cur <= arg):
                        return False
                elif op == "$ne":
                    if cur == arg:
                        return False
                else:
                    raise ValueError(f"mini-mongo: unsupported operator {op}")
        elif doc.get(k) != v:
            return False
    return True


class MiniMongoServer:
    """In-process MongoDB stand-in speaking the OP_MSG command subset the
    connector uses: insert (with per-collection unique `_key_field` for
    the cache's duplicate-key contract), update ($set / replacement,
    upsert, multi), delete (limit 0/1), find (equality + $eq/$in/$gt/$gte/
    $lt/$lte/$ne, limit), ping."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 unique_keys: dict[str, str] | None = None):
        self.host, self.port = host, port
        self.dbs: dict[str, dict[str, list[dict]]] = {}
        self.unique_keys = unique_keys or {}  # collection -> field
        self._lock = threading.Lock()
        self._srv: socket.socket | None = None
        self._stop = threading.Event()

    def _coll(self, db: str, coll: str) -> list[dict]:
        return self.dbs.setdefault(db, {}).setdefault(coll, [])

    def _handle(self, cmd: dict) -> dict:
        db = cmd.get("$db", "test")
        if "ping" in cmd or "hello" in cmd or "isMaster" in cmd:
            return {"ok": 1}
        if "insert" in cmd:
            coll = self._coll(db, cmd["insert"])
            uniq = self.unique_keys.get(cmd["insert"])
            errors = []
            n = 0
            for idx, d in enumerate(cmd.get("documents", [])):
                if uniq is not None and any(
                    x.get(uniq) == d.get(uniq) for x in coll
                ):
                    errors.append({"index": idx, "code": 11000,
                                   "errmsg": "E11000 duplicate key error"})
                    continue
                coll.append(dict(d))
                n += 1
            out = {"ok": 1, "n": n}
            if errors:
                out["writeErrors"] = errors
            return out
        if "update" in cmd:
            coll = self._coll(db, cmd["update"])
            n_matched = n_upserted = 0
            for u in cmd.get("updates", []):
                q, upd = u.get("q", {}), u.get("u", {})
                multi = bool(u.get("multi"))
                hit = False
                for d in coll:
                    if _matches(d, q):
                        hit = True
                        n_matched += 1
                        if "$set" in upd:
                            d.update(upd["$set"])
                        else:  # replacement document
                            d.clear()
                            d.update(upd)
                        if not multi:
                            break
                if not hit and u.get("upsert"):
                    base = {k: v for k, v in q.items()
                            if not isinstance(v, dict)}
                    base.update(upd.get("$set", upd))
                    coll.append(base)
                    n_upserted += 1
            return {"ok": 1, "n": n_matched + n_upserted,
                    "nModified": n_matched}
        if "delete" in cmd:
            coll_name = cmd["delete"]
            coll = self._coll(db, coll_name)
            n = 0
            for dele in cmd.get("deletes", []):
                q, limit = dele.get("q", {}), dele.get("limit", 0)
                keep, removed = [], 0
                for d in coll:
                    if _matches(d, q) and (limit == 0 or removed < limit):
                        removed += 1
                    else:
                        keep.append(d)
                self.dbs[db][coll_name] = coll = keep
                n += removed
            return {"ok": 1, "n": n}
        if "find" in cmd:
            coll = self._coll(db, cmd["find"])
            flt, limit = cmd.get("filter", {}), cmd.get("limit", 0)
            rows = [dict(d) for d in coll if _matches(d, flt)]
            if limit:
                rows = rows[:limit]
            return {"ok": 1,
                    "cursor": {"id": 0,
                               "ns": f"{db}.{cmd['find']}",
                               "firstBatch": rows}}
        return {"ok": 0, "errmsg": f"unknown command {list(cmd)[:1]}"}

    def _serve_conn(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "mongodb")
        try:
            while not self._stop.is_set():
                length, rid, _, opcode = struct.unpack("<iiii", reader.exact(16))
                body = reader.exact(length - 16)
                cmd = bson_decode(body[5:])
                with self._lock:
                    reply = self._handle(cmd)
                payload = struct.pack("<I", 0) + b"\x00" + bson_encode(reply)
                conn.sendall(struct.pack("<iiii", 16 + len(payload),
                                         0, rid, _OP_MSG) + payload)
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    def start(self) -> "MiniMongoServer":
        self._srv = socket.create_server((self.host, self.port))
        self.port = self._srv.getsockname()[1]

        def accept_loop() -> None:
            while not self._stop.is_set():
                try:
                    conn, _ = self._srv.accept()
                except OSError:
                    return
                threading.Thread(
                    target=self._serve_conn, args=(conn,), daemon=True
                ).start()

        threading.Thread(target=accept_loop, daemon=True).start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._srv is not None:
            self._srv.close()
            self._srv = None

    @property
    def url(self) -> str:
        return f"mongodb://{self.host}:{self.port}"


# ----------------------------------------------------------- cache backend


@dataclass(frozen=True)
class MongoStore:
    """One document per entry, {key_field: k, value_field: v}: fetch = one
    `$in` find per batch; insert = InsertOne per key, a duplicate key
    (the unique index the reference assumes) is a rejection; put =
    UpdateOne $set upsert; remove = DeleteOne. TTLs are ignored, as in
    the reference. A document without a value (or a null one) is a miss."""

    host: str
    port: int
    db: str
    coll: str
    key_field: str = "key"
    value_field: str = "value"

    def open(self) -> MongoClient:
        return MongoClient(self.host, self.port)

    def expiring(self, ttl) -> MongoStore:
        return self

    def fetch(self, client, keys) -> dict:
        docs = client.find(self.db, self.coll, {self.key_field: {"$in": keys}})
        return {str(d.get(self.key_field)): d.get(self.value_field) for d in docs}

    def insert(self, client, pairs) -> list[bool]:
        kf, vf = self.key_field, self.value_field
        return [not client.insert(self.db, self.coll, [{kf: k, vf: v}]).get("writeErrors")
                for k, v in pairs]

    def put(self, client, pairs) -> None:
        for k, v in pairs:
            client.update(self.db, self.coll, {self.key_field: k},
                          {"$set": {self.value_field: v}}, upsert=True)

    def remove(self, client, keys) -> None:
        for k in keys:
            client.delete(self.db, self.coll, {self.key_field: k}, limit=1)


class MongoCache(RemoteCache):
    """`mongodb` cache backend (cache.go:87-126)."""

    def __init__(self, spark: SparkSession, url: str, database: str = "bento",
                 collection: str = "cache", key_field: str = "key",
                 value_field: str = "value", key_col: str = "key",
                 value_col: str = "value"):
        host, port = parse_mongo_url(url)
        super().__init__(spark, MongoStore(host, port, database, collection,
                                           key_field, value_field), key_col, value_col)

    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        st = self.store
        c = st.open()
        try:
            docs = c.find(st.db, st.coll)
        finally:
            c.close()
        if not docs:
            return None
        return self.spark.createDataFrame(
            [(d.get(st.key_field), _text(d.get(st.value_field))) for d in docs],
            f"{self.key_col} string, {self.value_col} string",
        )


# ------------------------------------------------------------ output writer


OPERATIONS = ("insert-one", "update-one", "replace-one", "delete-one",
              "delete-many")


def mongodb_writer(url: str, database: str, collection: str,
                   operation: str = "insert-one", upsert: bool = False,
                   insert_chunk: int = 500):
    """foreachBatch writer. Expects `_mongo_doc` / `_mongo_filter` JSON
    columns (stamped by the compiler from document_map/filter_map —
    common.go's writeMaps). insert-one sends one `insert` command per
    `insert_chunk` rows; update/replace/delete issue one command per row,
    which is the command shape the protocol requires."""
    if operation not in OPERATIONS:
        raise ValueError(
            f"mongodb operation {operation!r} not supported "
            f"(one of {', '.join(OPERATIONS)})"  # common.go:102-126
        )
    host, port = parse_mongo_url(url)

    def send(client, rows) -> None:
        if operation == "insert-one":
            reply = client.insert(database, collection,
                                  [json.loads(r._mongo_doc) for r in rows])
            if reply.get("writeErrors"):
                raise ValueError(f"mongodb insert rejected: {reply['writeErrors'][:3]}")
            return
        for r in rows:
            flt = json.loads(r._mongo_filter)
            if operation == "update-one":
                client.update(database, collection, flt,
                              {"$set": json.loads(r._mongo_doc)}, upsert=upsert)
            elif operation == "replace-one":
                client.update(database, collection, flt, json.loads(r._mongo_doc),
                              upsert=upsert)
            else:  # delete-one / delete-many
                client.delete(database, collection, flt,
                              limit=1 if operation == "delete-one" else 0)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        cols = []
        if operation != "delete-one" and operation != "delete-many":
            cols.append("_mongo_doc")
        if operation != "insert-one":
            cols.append("_mongo_filter")
        write_partitions(batch_df.select(*cols), functools.partial(MongoClient, host, port),
                         send, chunk=insert_chunk)

    return write_batch


def mongodb_find_one(df: DataFrame, url: str, database: str, collection: str,
                     filter_col: str, out_col: str = "mongodb") -> DataFrame:
    """`mongodb` processor, find-one operation (processor.go): enrich each
    row with the first matching document as a JSON string (NULL on miss).
    One pooled connection per partition; a per-row round trip is inherent
    to arbitrary per-message filters — for key-equality lookups prefer the
    cache backend's batched `$in` get."""
    if out_col in df.columns:
        raise ValueError(f"mongodb find-one out_col {out_col!r} collides with an input column")
    host, port = parse_mongo_url(url)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {fields[c]}" for c in df.columns] + [f"{out_col} string"]
    )
    cols = list(df.columns)

    def run(batches):
        import json as _json

        import pandas as pd

        from bento_spark.streaming.mongodb import MongoClient as _C

        c = None
        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                found = []
                for flt in pdf[filter_col]:
                    if c is None:
                        c = _C(host, port)
                    docs = c.find(database, collection, _json.loads(flt), limit=1)
                    found.append(
                        _json.dumps(docs[0], default=str) if docs else None
                    )
                pdf = pdf[cols].copy()
                pdf[out_col] = found
                yield pd.DataFrame(pdf)
        finally:
            if c is not None:
                c.close()

    return df.mapInPandas(run, schema=out_schema)


def mongodb_read(spark: SparkSession, url: str, database: str, collection: str,
                 flt: dict | None = None, limit: int = 0) -> DataFrame:
    """`mongodb` input (input.go): a find query as a batch DataFrame of
    JSON strings. Driver-side single-batch read — control-plane sized
    collections (dimension/seed data); bulk analytical data belongs in
    parquet/Iceberg, same division the reference's docs draw."""
    import json as _json

    host, port = parse_mongo_url(url)
    c = MongoClient(host, port)
    try:
        docs = c.find(database, collection, flt or {}, limit=limit)
    finally:
        c.close()
    rows = [( _json.dumps(d, default=str),) for d in docs]
    if not rows:
        return spark.createDataFrame([], "text string")
    return spark.createDataFrame(rows, "text string")
