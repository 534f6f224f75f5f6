"""QuestDB output — InfluxDB line protocol over TCP (the public ILP
ingestion wire format QuestDB documents; newline-delimited, no
per-line ack), plus an in-process capture server.

Reference: internal/impl/questdb/output.go — address, table,
`symbols` (ILP tags), `doubles` (force float serialization),
`designated_timestamp_field` (+unit seconds->nanos). The reference uses
questdb-client-go; the wire format is plain text, so no client library
is needed at all.

Spark-first mapping: the ENTIRE ILP line is built JVM-side as one
Catalyst concat over escaped columns (table/symbols/fields/timestamp are
all known at plan time from the schema) — executors just write
pre-rendered lines down a socket. No per-row Python.

Delivery: ILP-over-TCP is fire-and-forget by protocol (errors surface
only as dropped connections); a socket failure raises and fails the
micro-batch for checkpoint-replay at-least-once — the same contract as
the reference's sender flush.
"""

from __future__ import annotations

import functools
import socket
import threading


def _esc_tag(c):
    """Escape a symbol/tag value column: `,`, ` `, `=` per the ILP spec.
    ILP is newline-framed and tag positions have NO newline escape, so a
    raw \\n or \\r would terminate the line mid-row and inject the rest
    as extra rows — render them as the literal two-char sequences \\n /
    \\r instead (the questdb-client-go sanitization contract)."""
    from pyspark.sql import functions as F

    esc = F.regexp_replace(c.cast("string"), "([ ,=])", r"\\$1")
    esc = F.regexp_replace(esc, "\n", r"\\n")
    return F.regexp_replace(esc, "\r", r"\\r")


def ilp_line(df, table: str, symbols: list[str] | None = None,
             doubles: list[str] | None = None,
             designated_timestamp_field: str | None = None):
    """-> df with one `_ilp` string column: the rendered ILP line
    `table,sym=v field=val[,field2=..] [ts_ns]`. Field serialization from
    the Spark schema: integers get the `i` suffix, doubles bare, booleans
    t/f, strings quoted with `"`/`\\` escaped; `doubles` forces float
    rendering for named numeric columns (output.go `doubles`). NULLs
    follow the protocol: a NULL field/symbol/timestamp is OMITTED from
    the line (never NULLs the whole row through concat), and a row whose
    fields are ALL NULL is dropped (a field-less line is invalid ILP)."""
    from pyspark.sql import functions as F

    symbols = list(symbols or [])
    doubles = set(doubles or [])
    fields = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if f.name not in symbols and f.name != designated_timestamp_field
    ]
    if not fields:
        raise ValueError("questdb: no field columns left after symbols/timestamp")
    # measurement position escapes only ',' and ' ' (the spec's table rule)
    table_esc = table.replace(",", "\\,").replace(" ", "\\ ")
    parts = [F.lit(table_esc)]
    for s in symbols:
        frag = F.concat(F.lit(f",{s}="), _esc_tag(F.col(s)))
        parts.append(F.when(F.col(s).isNotNull(), frag).otherwise(F.lit("")))
    field_frags = []
    for name, typ in fields:
        col = F.col(name)
        if name in doubles or typ in ("double", "float"):
            rendered = col.cast("double").cast("string")
        elif typ in ("bigint", "int", "smallint", "tinyint"):
            rendered = F.concat(col.cast("long").cast("string"), F.lit("i"))
        elif typ == "boolean":
            rendered = F.when(col, "t").otherwise("f")
        else:
            quoted = F.regexp_replace(
                F.regexp_replace(col.cast("string"), r"\\", r"\\\\"),
                '"', '\\\\"')
            # raw newlines terminate the newline-framed line mid-row
            # (data-dependent row injection) — escape AFTER the backslash
            # doubling so the inserted '\' survives as-is
            quoted = F.regexp_replace(quoted, "\n", r"\\n")
            quoted = F.regexp_replace(quoted, "\r", r"\\r")
            rendered = F.concat(F.lit('"'), quoted, F.lit('"'))
        frag = F.concat(F.lit(f",{name}="), rendered)
        field_frags.append(F.when(col.isNotNull(), frag).otherwise(F.lit("")))
    # every fragment carries a leading ','; the first becomes the
    # tag/field-set separator space
    field_part = F.concat(*field_frags)
    parts += [F.lit(" "), F.expr("substring(_qdb_fields, 2)")]
    if designated_timestamp_field:
        ns = F.unix_micros(F.col(designated_timestamp_field).cast("timestamp")) * 1000
        ts_frag = F.concat(F.lit(" "), ns.cast("string"))
        parts.append(F.when(ns.isNotNull(), ts_frag).otherwise(F.lit("")))
    return (
        df.withColumn("_qdb_fields", field_part)
        .filter(F.length("_qdb_fields") > 0)  # all-NULL rows are un-renderable
        .select(F.concat(*parts).alias("_ilp"))
    )


def questdb_sink(host: str, port: int, table: str,
                 symbols: list[str] | None = None,
                 doubles: list[str] | None = None,
                 designated_timestamp_field: str | None = None):
    """`questdb` output (output.go): pre-rendered ILP lines stream down
    one TCP connection."""
    from bento_spark.streaming.sink import write_partitions

    def send(sock, rows) -> None:
        for row in rows:
            sock.sendall(row._ilp.encode("utf-8") + b"\n")

    def write_batch(batch_df, epoch_id: int) -> None:
        lines = ilp_line(batch_df, table, symbols=symbols, doubles=doubles,
                         designated_timestamp_field=designated_timestamp_field)
        write_partitions(lines, functools.partial(
            socket.create_connection, (host, port), timeout=10), send)

    return write_batch


class MiniQuestDbServer:
    """ILP-over-TCP capture server for e2e tests: accepts connections and
    records newline-delimited lines. The protocol has no responses, so
    capture is the whole contract."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self.host, self.port = host, port
        self.lines: list[str] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._server: socket.socket | None = None
        self._threads: list[threading.Thread] = []

    def start(self) -> "MiniQuestDbServer":
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
            t = threading.Thread(target=self._drain, args=(conn,), daemon=True)
            t.start()
            self._threads.append(t)

    def _drain(self, conn: socket.socket) -> None:
        buf = bytearray()
        try:
            while True:
                chunk = conn.recv(65536)
                if not chunk:
                    break
                buf.extend(chunk)
                while True:
                    i = buf.find(b"\n")
                    if i < 0:
                        break
                    line = bytes(buf[:i]).decode("utf-8")
                    del buf[: i + 1]
                    with self._lock:
                        self.lines.append(line)
        except OSError:
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass
