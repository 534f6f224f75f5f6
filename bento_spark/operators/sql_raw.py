"""sql_raw input / processor / output — arbitrary statement-with-args
against a database, DB-API-bound.

Reference: internal/impl/sql/input_sql_raw.go (run the query once, each
result row becomes a message), processor_sql_raw.go:30-80 (per-message
query with `args_mapping` placeholder binds; `exec_only` discards the
result for INSERT/UPDATE), output_sql_raw.go (exec per message). The
reference binds through database/sql drivers; this sandbox ships exactly
one DB-API driver — stdlib sqlite3 — so the `sqlite` driver is fully
functional end-to-end, and every other driver routes to the JDBC-gated
sql_select/sql_insert pair (the bulk path) with an actionable error.

Spark-first mapping (the sql_select amortization principle — the
reference pays one query PER MESSAGE; a distributed engine must not):
- input  -> run the query once driver-side, `createDataFrame` the rows.
  One query, one small result: control-plane by definition.
- processor (SELECT) -> evaluate `args_mapping` as a Catalyst array
  column, take the batch's DISTINCT argument tuples (bounded by key
  cardinality, not row count), run the query once per distinct tuple
  driver-side, and broadcast-join the JSON-encoded result rows back —
  every pipeline row with the same args shares one query, the same
  shape as the cached http/sql_select enrichments.
- processor (exec_only) -> a pass-through that executes each row's
  statement when the plan runs, once per row, in ONE writer task (one
  executemany transaction per Arrow batch). Building the plan executes
  no statement, so `build_batch` / `bento test` repeat no writes. Every later
  read of the rows reuses that task's output instead of re-running it:
  a batch frame is a lazy localCheckpoint (a `switch` branch or a second
  action reads the written rows); a micro-batch reads them through one
  shuffle, which Spark reuses for every branch of the plan. A task retry
  runs its statements again (at-least-once, like the output); so does a
  window + dlq pipeline, whose one query reads the chain once per branch.
- output.sql_raw -> bind the micro-batch's argument tuples through ONE
  executemany in ONE transaction (streamed via toLocalIterator — bounded
  driver memory). At-least-once under replay, like the reference's
  output.

Scale note: sqlite is a single-file engine — a single writer is its only
correct topology. The input, SELECT mode and the output run their
statements on the driver; the exec_only writer is one task, so the
database file must be reachable from the executor that runs it (the
driver's host under a `local` master). For server databases the bulk
data path is the JDBC datasource (sql_select / sql_insert, partitioned
reads + parallel writes); sql_raw is the control-plane tool (DDL,
migrations, small dimension upserts), exactly how the reference
positions it.
"""

from __future__ import annotations

import json


def _sqlite_path(dsn: str) -> str:
    """Accept the dsn forms the reference's sqlite driver takes:
    `file:/path/to.db`, `sqlite:///path/to.db`, or a bare path."""
    for prefix in ("sqlite://", "file:"):
        if dsn.startswith(prefix):
            return dsn[len(prefix):] or dsn
    return dsn


def _connect(driver: str, dsn: str):
    if driver != "sqlite":
        raise ValueError(
            f"sql_raw driver {driver!r}: only `sqlite` binds through an "
            "in-process DB-API driver here; for server databases use "
            "sql_select / sql_insert (JDBC datasource, the bulk path)")
    import sqlite3

    conn = sqlite3.connect(_sqlite_path(dsn))
    return conn


def sql_raw_query(spark, driver: str, dsn: str, query: str,
                  args: list | None = None):
    """`sql_raw` input (input_sql_raw.go): run the query ONCE, each
    result row becomes a message. Schema comes from the cursor
    description with VALUES-based type inference (sqlite is dynamically
    typed); all-NULL columns surface as string."""
    conn = _connect(driver, dsn)
    try:
        cur = conn.execute(query, tuple(args or ()))
        names = [d[0] for d in cur.description or []]
        rows = cur.fetchall()
    finally:
        conn.close()
    types = []
    for i in range(len(names)):
        t = "string"
        for r in rows:
            v = r[i]
            if v is None:
                continue
            if isinstance(v, bool):
                t = "boolean"
            elif isinstance(v, int):
                t = "bigint"
            elif isinstance(v, float):
                t = "double"
            elif isinstance(v, (bytes, bytearray)):
                t = "binary"
            break
        types.append(t)
    schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, types))
    return spark.createDataFrame([tuple(r) for r in rows], schema)


def sql_raw_exec(driver: str, dsn: str, query: str,
                 args_rows=None, script: bool = False) -> int:
    """Execute a non-SELECT statement: no args -> one exec (DDL /
    migrations; `script=True` allows multi-statement scripts), else ONE
    executemany over all argument tuples in ONE transaction (the
    micro-batch write). Returns total rowcount."""
    conn = _connect(driver, dsn)
    try:
        with conn:  # one transaction
            if args_rows is None:
                if script:
                    conn.executescript(query)
                    return -1
                return conn.execute(query).rowcount
            cur = conn.executemany(query, args_rows)
            return cur.rowcount
    finally:
        conn.close()


def sql_raw_exec_batch(batch_df, driver: str, dsn: str, query: str, args_col: str) -> None:
    """`sql_raw` output (output_sql_raw.go): the micro-batch's argument
    tuples execute in one transaction via executemany."""
    it = batch_df.select(args_col).toLocalIterator()
    sql_raw_exec(driver, dsn, query, args_rows=(tuple(row[0]) for row in it))


def _pass_through(batches):
    yield from batches


def sql_raw_processor(df, driver: str, dsn: str, query: str,
                      args_col: str | None = None,
                      exec_only: bool = False,
                      result_col: str = "sql_rows"):
    """`sql_raw` processor (processor_sql_raw.go): `args_col` names an
    ARRAY column (the compiled `args_mapping`) holding the placeholder
    binds for each row.

    SELECT mode: one query per DISTINCT argument tuple (driver-side,
    control-plane), results broadcast-joined back as `result_col` — a
    JSON array of row objects, the reference's result shape (the message
    root becomes the row array; here it lands in a column for
    `result_map`-style consumption). Rows whose args matched no result
    get '[]', matching the reference's empty-array behavior.

    exec mode (`exec_only=True`): rows pass through unchanged; when the
    plan runs, each row's statement executes once (empty binds without
    `args_col`) in one writer task, one executemany transaction per Arrow
    batch, and every later read of the rows reuses that task's output."""
    from pyspark.sql import functions as F

    if exec_only:
        def exec_rows(batches):
            conn = _connect(driver, dsn)
            try:
                for batch in batches:
                    binds = (batch.column(args_col).to_pylist() if args_col
                             else [()] * batch.num_rows)
                    with conn:  # one transaction
                        conn.executemany(query, [tuple(b) for b in binds])
                    yield batch
            finally:
                conn.close()

        written = df.coalesce(1).mapInArrow(exec_rows, df.schema)
        if not df.isStreaming:
            return written.localCheckpoint(eager=False)
        # a micro-batch cannot be checkpointed mid-plan: every branch
        # reads the writes through one shuffle, which Spark reuses across
        # branches; the opaque pass-through above it keeps a branch's
        # filter from being pushed below the shuffle
        parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return written.repartition(parts).mapInArrow(_pass_through, df.schema)

    if args_col is None:
        out = sql_raw_query(df.sparkSession, driver, dsn, query)
        payload = F.to_json(F.collect_list(F.struct(*out.columns)))
        blob = out.agg(payload.alias(result_col))
        return df.crossJoin(F.broadcast(blob))

    # SELECT with binds: distinct arg tuples -> one query each
    distinct = [tuple(r[0]) for r in df.select(args_col).distinct().collect()]
    conn = _connect(driver, dsn)
    side_rows = []
    try:
        for args in distinct:
            cur = conn.execute(query, args)
            names = [d[0] for d in cur.description or []]
            payload = json.dumps(
                [dict(zip(names, r)) for r in cur.fetchall()],
                separators=(",", ":"))
            side_rows.append((list(args), payload))
    finally:
        conn.close()
    spark = df.sparkSession
    # bind keys compare as JSON text: array<->array equality over mixed
    # bind types is brittle across engines; the rendered form is exact
    side = spark.createDataFrame(
        [(json.dumps(k, separators=(",", ":"), default=str), v)
         for k, v in side_rows],
        f"_sql_args_key string, `{result_col}` string")
    keyed = df.withColumn("_sql_args_key",
                          F.to_json(F.col(args_col)))
    out = keyed.join(F.broadcast(side), "_sql_args_key", "left")
    return (out.withColumn(result_col,
                           F.coalesce(F.col(result_col), F.lit("[]")))
               .drop("_sql_args_key"))
