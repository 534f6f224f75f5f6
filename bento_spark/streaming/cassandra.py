"""Cassandra input/output — dependency-free client for the public CQL
binary protocol v4 (cassandra.apache.org native_protocol_v4.spec:
9-byte frames, STARTUP/READY, QUERY, PREPARE/EXECUTE with typed binds,
RESULT Rows metadata), plus an in-process test server.

Reference: internal/impl/cassandra/output.go (query + `args_mapping` —
one execution per message) and input.go (SELECT query -> one message per
row). The reference uses gocql; no Cassandra wheel ships in this sandbox,
so the protocol is implemented from the published spec — the connector is
REAL and e2e-testable in-process instead of availability-gated.

Typed binding follows the real client flow: the output PREPAREs its
query once per partition and binds values against the PREPARED result's
column types (int/bigint/double/boolean/varchar), exactly how gocql
avoids string-typed writes. The input runs a plain QUERY and decodes the
Rows metadata into typed Python values.

Spark-first mapping:
- output -> foreachBatch: the args array is rendered JVM-side as one JSON
  column (to_json of the args_mapping's array — the reference's
  args_mapping contract), executors decode JSON -> typed binds.
- input  -> batch-only driver-side read (control-plane tables, like the
  mongodb input; bulk data rides parquet/Iceberg) -> spark.createDataFrame.
"""

from __future__ import annotations

import functools
import json
import socket
import struct
import threading

from bento_spark.streaming.reader import SocketReader

_OP_ERROR, _OP_STARTUP, _OP_READY = 0x00, 0x01, 0x02
_OP_QUERY, _OP_RESULT, _OP_PREPARE, _OP_EXECUTE = 0x07, 0x08, 0x09, 0x0A

# CQL option ids for the supported types
_T_BIGINT, _T_BOOLEAN, _T_DOUBLE, _T_INT, _T_VARCHAR = 0x02, 0x04, 0x07, 0x09, 0x0D
_TYPE_NAMES = {_T_BIGINT: "bigint", _T_BOOLEAN: "boolean", _T_DOUBLE: "double",
               _T_INT: "int", _T_VARCHAR: "varchar"}
_NAME_TYPES = {v: k for k, v in _TYPE_NAMES.items()}


def _enc_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _enc_long_string(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">I", len(b)) + b


def encode_value(v, type_id: int) -> bytes | None:
    """Python value -> CQL bytes for the column type; None stays NULL."""
    if v is None:
        return None
    if type_id == _T_INT:
        return struct.pack(">i", int(v))
    if type_id == _T_BIGINT:
        return struct.pack(">q", int(v))
    if type_id == _T_DOUBLE:
        return struct.pack(">d", float(v))
    if type_id == _T_BOOLEAN:
        return b"\x01" if v else b"\x00"
    if type_id == _T_VARCHAR:
        return str(v).encode("utf-8")
    raise ValueError(f"cassandra: unsupported CQL type 0x{type_id:02x}")


def decode_value(b: bytes | None, type_id: int):
    if b is None:
        return None
    if type_id == _T_INT:
        return struct.unpack(">i", b)[0]
    if type_id == _T_BIGINT:
        return struct.unpack(">q", b)[0]
    if type_id == _T_DOUBLE:
        return struct.unpack(">d", b)[0]
    if type_id == _T_BOOLEAN:
        return b != b"\x00"
    if type_id == _T_VARCHAR:
        return b.decode("utf-8")
    raise ValueError(f"cassandra: unsupported CQL type 0x{type_id:02x}")


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf, self.pos = buf, 0

    def u8(self):
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u16(self):
        v = struct.unpack_from(">H", self.buf, self.pos)[0]
        self.pos += 2
        return v

    def i32(self):
        v = struct.unpack_from(">i", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def string(self) -> str:
        n = self.u16()
        v = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return v

    def long_string(self) -> str:
        n = self.i32()
        v = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return v

    def bytes_(self) -> bytes | None:
        n = self.i32()
        if n < 0:
            return None
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v

    def short_bytes(self) -> bytes:
        n = self.u16()
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v


def _read_cols_metadata(r: _Reader) -> list[tuple[str, int]]:
    """Rows/Prepared metadata -> [(column_name, type_id)]."""
    flags = r.i32()
    n_cols = r.i32()
    if flags & 0x02:  # has_more_pages: paging state
        r.bytes_()
    global_spec = bool(flags & 0x01)
    if global_spec:
        r.string()  # keyspace
        r.string()  # table
    cols = []
    for _ in range(n_cols):
        if not global_spec:
            r.string()
            r.string()
        name = r.string()
        tid = r.u16()
        if tid == 0x00:  # custom type: class name follows
            r.string()
        cols.append((name, tid))
    return cols


class CassandraClient:
    """Minimal synchronous CQL v4 client: STARTUP/READY, QUERY,
    PREPARE + typed EXECUTE."""

    def __init__(self, host: str, port: int, timeout: float = 10.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.reader = SocketReader(self.sock, "cassandra")
        self._stream = 0
        body = struct.pack(">H", 1) + _enc_string("CQL_VERSION") + _enc_string("3.0.0")
        op, _ = self._call(_OP_STARTUP, body)
        if op != _OP_READY:
            raise ConnectionError(f"cassandra: STARTUP -> opcode 0x{op:02x}")

    def _call(self, opcode: int, body: bytes) -> tuple[int, _Reader]:
        self._stream = (self._stream + 1) % 32768
        self.sock.sendall(
            struct.pack(">BBhBI", 0x04, 0, self._stream, opcode, len(body)) + body)
        hdr = self.reader.exact(9)
        _ver, _flags, _stream, op, ln = struct.unpack(">BBhBI", hdr)
        r = _Reader(self.reader.exact(ln))
        if op == _OP_ERROR:
            code = r.i32()
            raise ConnectionError(f"cassandra: error 0x{code:04x}: {r.string()}")
        return op, r

    def query(self, cql: str) -> list[dict]:
        """Plain QUERY (consistency ONE, no binds) -> rows as typed
        dicts; Void results -> []."""
        return self.query_with_meta(cql)[1]

    def query_with_meta(self, cql: str) -> tuple[list[tuple[str, int]], list[dict]]:
        """-> ([(column, type_id)], rows) — the Rows metadata carries the
        exact column types, so callers never re-infer them from values."""
        body = _enc_long_string(cql) + struct.pack(">H", 1) + b"\x00"
        op, r = self._call(_OP_QUERY, body)
        if op != _OP_RESULT:
            raise ConnectionError(f"cassandra: QUERY -> opcode 0x{op:02x}")
        kind = r.i32()
        if kind != 2:  # not Rows
            return [], []
        cols = _read_cols_metadata(r)
        n_rows = r.i32()
        out = []
        for _ in range(n_rows):
            out.append({name: decode_value(r.bytes_(), tid) for name, tid in cols})
        return cols, out

    def prepare(self, cql: str) -> tuple[bytes, list[tuple[str, int]]]:
        """-> (statement id, bind-variable metadata [(name, type_id)])."""
        op, r = self._call(_OP_PREPARE, _enc_long_string(cql))
        if op != _OP_RESULT or r.i32() != 4:
            raise ConnectionError("cassandra: PREPARE did not return Prepared")
        stmt_id = r.short_bytes()
        # bind-variable metadata (v4 adds pk_indices before the spec)
        flags = r.i32()
        n_cols = r.i32()
        n_pk = r.i32()
        for _ in range(n_pk):
            r.u16()
        global_spec = bool(flags & 0x01)
        if global_spec:
            r.string()
            r.string()
        cols = []
        for _ in range(n_cols):
            if not global_spec:
                r.string()
                r.string()
            name = r.string()
            cols.append((name, r.u16()))
        return stmt_id, cols

    def execute(self, stmt_id: bytes, binds: list[bytes | None]) -> None:
        body = struct.pack(">H", len(stmt_id)) + stmt_id
        body += struct.pack(">H", 1)  # consistency ONE
        body += b"\x01"  # flags: values follow
        body += struct.pack(">H", len(binds))
        for b in binds:
            body += struct.pack(">i", -1) if b is None else struct.pack(">i", len(b)) + b
        op, r = self._call(_OP_EXECUTE, body)
        if op != _OP_RESULT:
            raise ConnectionError(f"cassandra: EXECUTE -> opcode 0x{op:02x}")

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


def parse_cassandra_addr(addr: str) -> tuple[str, int]:
    hp = str(addr).removeprefix("cassandra://").removeprefix("tcp://")
    host, _, port = hp.partition(":")
    return host or "127.0.0.1", int(port or 9042)


# --------------------------------------------------------------------------
# Spark surfaces
# --------------------------------------------------------------------------


def cassandra_writer(address: str, query: str, args_cols: list):
    """`cassandra` output (output.go): one PREPARE per partition, one
    typed EXECUTE per row. `args_cols` are the already-compiled Bloblang
    columns of the reference's `args_mapping` array — they render to ONE
    JSON array column JVM-side; executors decode and bind against the
    PREPARED statement's column types."""
    from pyspark.sql import functions as F

    from bento_spark.streaming.sink import write_partitions

    host, port = parse_cassandra_addr(address)

    n_args = len(args_cols)

    def send(client, rows) -> None:
        stmt_id, cols = client.prepare(query)
        if len(cols) != n_args:
            raise ValueError(
                f"cassandra: query has {len(cols)} bind variables, "
                f"args_mapping produced {n_args}")
        for row in rows:
            vals = json.loads(row.a)
            client.execute(stmt_id, [encode_value(vals.get(f"v{i}"), cols[i][1])
                                     for i in range(n_args)])

    def write_batch(batch_df, epoch_id: int) -> None:
        # one JSON struct keeps numbers/bools typed through Arrow; a NULL
        # arg drops out of to_json and binds as CQL NULL
        payloads = batch_df.select(
            F.to_json(F.struct(*[c.alias(f"v{i}") for i, c in enumerate(args_cols)])).alias("a"))
        write_partitions(payloads, functools.partial(CassandraClient, host, port), send)

    return write_batch


_CQL_TO_DDL = {_T_BIGINT: "bigint", _T_BOOLEAN: "boolean", _T_DOUBLE: "double",
               _T_INT: "int", _T_VARCHAR: "string"}


def cassandra_read(spark, address: str, query: str):
    """`cassandra` input (input.go): run the SELECT driver-side and
    return a typed DataFrame (control-plane reads, like input.mongodb).
    The schema comes from the Rows METADATA, never value inference —
    all-NULL columns and empty results keep exact types."""
    host, port = parse_cassandra_addr(address)
    client = CassandraClient(host, port)
    try:
        cols, rows = client.query_with_meta(query)
    finally:
        client.close()
    if not cols:
        raise ValueError(f"cassandra: not a Rows result: {query!r}")
    ddl = ", ".join(
        f"{name} {_CQL_TO_DDL.get(tid, 'string')}" for name, tid in cols)
    data = [tuple(r[name] for name, _t in cols) for r in rows]
    return spark.createDataFrame(data, ddl)


# --------------------------------------------------------------------------
# in-process server (test-grade)
# --------------------------------------------------------------------------


class MiniCassandraServer:
    """CQL v4 subset for e2e tests: STARTUP/READY, PREPARE/EXECUTE of
    `INSERT INTO ks.table (c1, ...) VALUES (?, ...)`, QUERY of
    `SELECT * FROM ks.table` and Void for DDL-ish strings. Tables are
    declared in-process via create_table(name, {col: cqltype}). Not a
    production database — the deliverable is the CLIENT."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self._schemas: dict[str, list[tuple[str, int]]] = {}
        self._rows: dict[str, list[dict]] = {}
        self._prepared: dict[bytes, tuple[str, list[tuple[str, int]]]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    def create_table(self, name: str, cols: dict[str, str]) -> None:
        with self._lock:
            self._schemas[name] = [(c, _NAME_TYPES[t]) for c, t in cols.items()]
            self._rows[name] = []

    def table_rows(self, name: str) -> list[dict]:
        with self._lock:
            return [dict(r) for r in self._rows.get(name, [])]

    @property
    def address(self) -> str:
        return f"{self.host}:{self.port}"

    def start(self) -> "MiniCassandraServer":
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind((self.host, self.port))
        srv.listen(16)
        self.port = srv.getsockname()[1]
        self._server = srv
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()
        self._threads.append(t)
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._server is not None:
            try:
                self._server.close()
            except OSError:
                pass
        for t in self._threads:
            t.join(timeout=2)

    def _accept_loop(self) -> None:
        assert self._server is not None
        while not self._stop.is_set():
            try:
                conn, _ = self._server.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    @staticmethod
    def _parse_insert(cql: str) -> tuple[str, list[str]]:
        import re

        m = re.match(
            r"\s*INSERT\s+INTO\s+([\w.]+)\s*\(([^)]*)\)\s*VALUES\s*\(([^)]*)\)",
            cql, re.I)
        if not m:
            raise ValueError(f"mini-cassandra: unsupported PREPARE {cql!r}")
        return m.group(1), [c.strip() for c in m.group(2).split(",")]

    def _serve(self, conn: socket.socket) -> None:
        reader = SocketReader(conn, "cassandra")

        read_exact = reader.exact

        def reply(stream: int, opcode: int, body: bytes) -> None:
            conn.sendall(
                struct.pack(">BBhBI", 0x84, 0, stream, opcode, len(body)) + body)

        def err(stream: int, msg: str) -> None:
            reply(stream, _OP_ERROR, struct.pack(">i", 0x2200) + _enc_string(msg))

        try:
            while not self._stop.is_set():
                _v, _f, stream, op, ln = struct.unpack(">BBhBI", read_exact(9))
                r = _Reader(read_exact(ln))
                if op == _OP_STARTUP:
                    reply(stream, _OP_READY, b"")
                elif op == _OP_PREPARE:
                    cql = r.long_string()
                    try:
                        table, col_names = self._parse_insert(cql)
                        with self._lock:
                            schema = dict(self._schemas[table])
                        cols = [(c, schema[c]) for c in col_names]
                    except (ValueError, KeyError) as e:
                        err(stream, str(e))
                        continue
                    stmt_id = struct.pack(">I", len(self._prepared) + 1).rjust(16, b"\0")
                    with self._lock:
                        self._prepared[stmt_id] = (table, cols)
                    # Prepared result: id + bind metadata + empty result metadata
                    body = struct.pack(">i", 4)
                    body += struct.pack(">H", len(stmt_id)) + stmt_id
                    body += struct.pack(">i", 1)  # flags: global_tables_spec
                    body += struct.pack(">i", len(cols))
                    body += struct.pack(">i", 0)  # pk count
                    ks, _, tbl = table.partition(".")
                    body += _enc_string(ks) + _enc_string(tbl or ks)
                    for name, tid in cols:
                        body += _enc_string(name) + struct.pack(">H", tid)
                    body += struct.pack(">i", 4) + struct.pack(">i", 0)  # result meta: no_metadata... actually flags+0 cols
                    reply(stream, _OP_RESULT, body)
                elif op == _OP_EXECUTE:
                    n = r.u16()
                    stmt_id = bytes(r.buf[r.pos : r.pos + n])
                    r.pos += n
                    r.u16()  # consistency
                    flags = r.u8()
                    with self._lock:
                        ent = self._prepared.get(stmt_id)
                    if ent is None:
                        err(stream, "unknown prepared id")
                        continue
                    table, cols = ent
                    row = {}
                    if flags & 0x01:
                        n_vals = r.u16()
                        for i in range(n_vals):
                            b = r.bytes_()
                            name, tid = cols[i]
                            row[name] = decode_value(b, tid)
                    with self._lock:
                        self._rows[table].append(row)
                    reply(stream, _OP_RESULT, struct.pack(">i", 1))  # Void
                elif op == _OP_QUERY:
                    cql = r.long_string()
                    import re as _re

                    m = _re.match(r"\s*SELECT\s+\*\s+FROM\s+([\w.]+)", cql, _re.I)
                    if not m:
                        reply(stream, _OP_RESULT, struct.pack(">i", 1))  # Void
                        continue
                    table = m.group(1)
                    with self._lock:
                        schema = self._schemas.get(table)
                        rows = [dict(x) for x in self._rows.get(table, [])]
                    if schema is None:
                        err(stream, f"unknown table {table}")
                        continue
                    ks, _, tbl = table.partition(".")
                    body = struct.pack(">i", 2)  # Rows
                    body += struct.pack(">i", 1)  # flags: global_tables_spec
                    body += struct.pack(">i", len(schema))
                    body += _enc_string(ks) + _enc_string(tbl or ks)
                    for name, tid in schema:
                        body += _enc_string(name) + struct.pack(">H", tid)
                    body += struct.pack(">i", len(rows))
                    for row in rows:
                        for name, tid in schema:
                            b = encode_value(row.get(name), tid)
                            body += (struct.pack(">i", -1) if b is None
                                     else struct.pack(">i", len(b)) + b)
                    reply(stream, _OP_RESULT, body)
                else:
                    err(stream, f"unsupported opcode 0x{op:02x}")
        except (ConnectionError, OSError, struct.error, IndexError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
