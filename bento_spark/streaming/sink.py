"""Exactly-once sinks + DLQ routing.

Reference delivery model: at-least-once via transaction acks
(/root/reference/internal/message/transaction.go:20-38); sliding windows
are even documented best-attempt re-delivery
(internal/impl/pure/buffer_system_window.go:45). The north rule demands
exactly-once — we exceed the reference by construction:

    exactly-once = checkpointed offsets (Spark WAL) x idempotent sink.

On a real cluster the sink is Iceberg `MERGE INTO` keyed on
(clip_id, window_start) with a `_batch_id` idempotence guard. The Iceberg
runtime jar isn't in this sandbox, so `IdempotentParquetSink` implements
the identical contract over a parquet directory:

- each micro-batch writes to `data/_bid=<epoch_id>/` and then atomically
  creates a commit marker `commits/<epoch_id>`. `_bid` lives only in that
  directory name, not in the files (directories written before it moved
  there also carry it in the files). Hive-partitioned readers still see
  it: Spark with `basePath`, and `pyarrow.dataset` with
  `partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]` (by default
  pyarrow skips `_`-prefixed directories);
- a replayed batch (same epoch_id after crash/restart) sees its marker —
  or overwrites its own uncommitted directory — so the batch lands exactly
  once;
- `read()` returns committed batches only, optionally last-writer-wins
  deduped by key (the MERGE equivalent).

DLQ routing re-creates the reference's `switch`/`fallback`/
`reject_errored` outputs (output_switch.go:164, output_fallback.go:18,
output_reject_errored.go:19) as predicate-filtered writes per sink inside
one foreachBatch.

Every message output and cache-backend writer sends a micro-batch through
`write_partitions`, the Spark counterpart of the reference's one async
writer and batcher (component/output/async_writer.go:61, batcher.go).
"""

from __future__ import annotations

import functools
import itertools
import os
import socket
import time
import urllib.parse
import uuid
from collections.abc import Callable, Iterable, Sequence
from http.client import HTTPException

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class IdempotentParquetSink:
    """foreachBatch sink with exactly-once semantics over plain parquet."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str] | None = None,
        checkpoint: str | None = None,
    ):
        self.path = path.rstrip("/")
        self.data_dir = f"{self.path}/data"
        self.commit_dir = f"{self.path}/commits"
        self.key_cols = list(key_cols) if key_cols else None
        # checkpoint dir binds markers to the QUERY INCARNATION: epoch ids
        # restart at 0 with a fresh checkpoint, so a marker left by an
        # earlier pipeline writing the same output dir must not swallow the
        # new incarnation's batches. Spark persists the query id in
        # <checkpoint>/metadata across restarts of the SAME checkpoint —
        # that id is the incarnation token.
        self.checkpoint = checkpoint.rstrip("/") if checkpoint else None
        os.makedirs(self.commit_dir, exist_ok=True)

    def _qid(self) -> str | None:
        if not self.checkpoint:
            return None
        try:
            import json as _json

            with open(f"{self.checkpoint}/metadata") as f:
                return _json.load(f).get("id")
        except (OSError, ValueError):
            return None

    def _marker(self, epoch_id: int) -> str:
        return f"{self.commit_dir}/{epoch_id}"

    def _marker_qid(self, epoch_id: int) -> str | None:
        try:
            import json as _json

            with open(self._marker(epoch_id)) as f:
                return _json.load(f).get("qid")
        except (OSError, ValueError):
            return None

    def is_committed(self, epoch_id: int) -> bool:
        return os.path.exists(self._marker(epoch_id))

    def committed_here(self, epoch_id: int) -> bool:
        """Marker exists AND belongs to this query incarnation (markers
        without a qid, or sinks not bound to a checkpoint, are trusted —
        legacy/direct-writer use). Callers deciding whether to SKIP an epoch
        must use this, not is_committed: a marker left by a different
        incarnation must not swallow the new run's batch."""
        if not self.is_committed(epoch_id):
            return False
        mq, cq = self._marker_qid(epoch_id), self._qid()
        return mq is None or cq is None or mq == cq

    def _purge_foreign_markers(self, cq: str) -> None:
        """Remove every marker written by a different query incarnation —
        not just the epoch being rewritten. A new incarnation producing
        fewer batches than the old one would otherwise leave the old run's
        higher epochs committed, and read() would silently mix two
        pipelines' data. Markers without a qid (legacy / direct writer use)
        are trusted and kept."""
        for i in self.committed_ids():
            mq = self._marker_qid(i)
            if mq is not None and mq != cq:
                try:
                    os.remove(self._marker(i))
                except OSError:
                    pass

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # first write of this sink instance: sweep markers from other
        # incarnations even when this epoch doesn't collide (an old RESUMED
        # run may have committed only higher epoch ids)
        cq = self._qid()
        if cq is not None and not getattr(self, "_swept", False):
            self._purge_foreign_markers(cq)
            self._swept = True
        if self.is_committed(epoch_id):
            # after the sweep any surviving marker is ours (same qid) or
            # legacy (no qid) — both mean this batch already committed
            return
        # the epoch lives only in the directory name: a literal column would
        # be inlined into the generated code and compile new classes on
        # every micro-batch
        batch_df.write.mode("overwrite").parquet(f"{self.data_dir}/_bid={int(epoch_id)}")
        # atomic commit point: marker creation. The marker carries the
        # committed row count — per-batch output lineage the metrics
        # listener can't see through foreachBatch (numOutputRows is -1 for
        # ForeachBatchSink), mirroring the reference's output_sent counter
        # (component/output/async_writer.go:92-95).
        import json as _json

        n = self.spark_count(epoch_id)
        with open(self._marker(epoch_id) + ".tmp", "w") as f:
            f.write(_json.dumps({"epoch": int(epoch_id), "rows": n, "qid": self._qid()}))
        os.replace(self._marker(epoch_id) + ".tmp", self._marker(epoch_id))

    def spark_count(self, epoch_id: int) -> int:
        """Row count of a written batch from parquet footers (no scan)."""
        import pyarrow.parquet as pq

        d = f"{self.data_dir}/_bid={int(epoch_id)}"
        total = 0
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
        return total

    def output_sent(self) -> int:
        """Total rows committed across batches (output_sent metric)."""
        import json as _json

        total = 0
        for i in self.committed_ids():
            try:
                with open(self._marker(i)) as f:
                    total += _json.loads(f.read()).get("rows", 0)
            except (ValueError, OSError):
                pass  # markers from older layouts carry no count
        return total

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The sink is a foreachBatch writer itself."""
        self.write_batch(batch_df, epoch_id)

    def committed_ids(self) -> list[int]:
        return sorted(int(x) for x in os.listdir(self.commit_dir) if x.isdigit())

    def read(self, spark: SparkSession, merged: bool | None = None) -> DataFrame:
        ids = self.committed_ids()
        if not ids:
            raise FileNotFoundError(f"no committed batches under {self.path}")
        df = spark.read.option("basePath", self.data_dir).parquet(
            *[f"{self.data_dir}/_bid={i}" for i in ids]
        )
        if merged is None:
            merged = self.key_cols is not None
        if merged and self.key_cols:
            # MERGE INTO equivalent: last committed batch wins per key
            w = Window.partitionBy(*self.key_cols).orderBy(F.desc("_bid"))
            df = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        return df.drop("_bid")


def route_outputs(
    sinks: Sequence[tuple[Column | None, Callable[[DataFrame, int], None]]],
    mode: str = "switch",
) -> Callable[[DataFrame, int], None]:
    """Multi-sink router for foreachBatch; each sink is a foreachBatch
    writer (an IdempotentParquetSink is one).

    mode='switch': each row goes to the FIRST matching predicate's sink
    (None predicate = catch-all) — output_switch.go:164 semantics.
    mode='fan_out': every sink receives the full batch (broker fan_out,
    output_broker.go:150).
    mode='round_robin': rows spread across sinks by a deterministic row
    hash (output_broker_round_robin.go:16; also the replay-safe analogue of
    `greedy` load-spreading — a literal turn counter would assign rows
    differently on micro-batch replay and break exactly-once).
    """

    def _route(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            if mode == "fan_out":
                for _, sink in sinks:
                    sink(batch_df, epoch_id)
                return
            if mode == "round_robin":
                lane = F.pmod(F.xxhash64(*batch_df.columns), F.lit(len(sinks)))
                for i, (_, sink) in enumerate(sinks):
                    sink(batch_df.filter(lane == i), epoch_id)
                return
            remaining = batch_df
            for pred, sink in sinks:
                if pred is None:
                    sink(remaining, epoch_id)
                    remaining = remaining.filter(F.lit(False))
                else:
                    sink(remaining.filter(pred), epoch_id)
                    remaining = remaining.filter(~F.coalesce(pred, F.lit(False)))
        finally:
            batch_df.unpersist()

    return _route


def fallback_writer(
    sinks: Sequence[IdempotentParquetSink],
    annotate: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Ordered sink failover (output_fallback.go:18): each micro-batch is
    tried against sinks[0], and on a write failure falls to the next tier.
    Rows landing on a lower tier are annotated with `fallback_error` /
    `fallback_tier` — the reference attaches the same error meta before
    handing the message down.

    Granularity is the micro-batch (the Spark unit of atomic commit), not
    the message: a per-row failover would force row-at-a-time writes, and
    idempotent-replay identity (same epoch -> same sink) must hold for
    exactly-once to survive a restart mid-failover. Exactly-once holds
    across the CHAIN: a replayed epoch first checks every tier's commit
    marker and no-ops if any tier already committed it — without that, a
    transient tier-0 fault (fails, epoch lands on tier 1, crash, replay,
    tier 0 now healthy) would duplicate the epoch across tiers.
    """
    if not sinks:
        raise ValueError("fallback needs at least one sink")

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        # committed_here, not is_committed: a marker from a FOREIGN query
        # incarnation (fresh checkpoint, reused output dirs) must not
        # swallow the new run's epoch
        if any(s.committed_here(epoch_id) for s in sinks):
            return  # replay: the epoch already landed on some tier
        last_err: Exception | None = None
        for tier, sink in enumerate(sinks):
            df = batch_df
            if tier > 0 and annotate and last_err is not None:
                df = df.withColumn("fallback_error", F.lit(str(last_err)[:200])).withColumn(
                    "fallback_tier", F.lit(tier)
                )
            try:
                sink.write_batch(df, epoch_id)
                return
            except Exception as e:  # noqa: BLE001 — any write failure falls through
                last_err = e
        raise RuntimeError(f"all {len(sinks)} fallback sinks failed for epoch {epoch_id}") from last_err

    return write


def dlq_split_writer(
    main: Callable[[DataFrame, int], None],
    dlq: IdempotentParquetSink,
    error_col: str = "error",
) -> Callable[[DataFrame, int], None]:
    """reject_errored semantics (output_reject_errored.go:19) around any
    output: errored rows -> DLQ sink, the rest -> `main`, the output's
    foreachBatch writer (an IdempotentParquetSink is one)."""
    return route_outputs([(F.col(error_col).isNotNull(), dlq), (None, main)])


def tagged_union(
    main: DataFrame,
    errored: DataFrame,
    writer: Callable[[DataFrame, int], None],
    dlq: IdempotentParquetSink,
) -> tuple[DataFrame, Callable[[DataFrame, int], None]]:
    """reject_errored for errored rows split off before a window or join:
    one frame and one foreachBatch writer for the two streams. A row holds
    its stream's columns in the struct `_main` or `_dlq` (the other is
    null); `_dlq.*` goes to the DLQ sink and `_main.*` to `writer`."""
    df = main.select(F.struct("*").alias("_main")).unionByName(
        errored.select(F.struct("*").alias("_dlq")), allowMissingColumns=True)
    # The union has the window's (or join's) shuffle partitions plus the
    # errored branch's scan partitions, and each write runs a task per
    # partition, half of them empty for that write. Every task deserializes
    # the whole plan, Python functions included (about 25 ms of CPU each on
    # a 4-core host), so the errored rows ride in the window's tasks.
    df = df.coalesce(int(main.sparkSession.conf.get("spark.sql.shuffle.partitions")))

    def unpacked(tag: str, sink: Callable[[DataFrame, int], None]):
        return lambda batch_df, epoch_id: sink(batch_df.select(f"{tag}.*"), epoch_id)

    return df, route_outputs([(F.col("_dlq").isNotNull(), unpacked("_dlq", dlq)),
                              (None, unpacked("_main", writer))])


def json_body(df: DataFrame, *meta: str | None) -> Column:
    """The row as one JSON document: every column except `meta`, the
    per-row columns (key, topic, group id, path, ...) that the output's
    builder in plans/outputs.py added next to the message."""
    return F.to_json(F.struct(*[F.col(c) for c in df.columns if c not in meta]))


def write_partitions(df: DataFrame, open: Callable[[], object],
                     write: Callable[[object, Iterable], None], *,
                     chunk: int | None = None) -> None:
    """Send `df` executor-side, one client per non-empty partition: the
    first row calls `open()`, `write(client, rows)` gets lists of at most
    `chunk` rows in order (with `chunk=None` the rest of the partition as
    one iterator, for writers that batch on their own), and
    `client.close()` runs last whatever happened; a client without
    `close` (a connection-per-request REST client) holds nothing to
    release. A failing `close` never hides the error of a failed `write`.
    Delivery confirmation (receipts, acks) belongs in `write`, so a lost
    message fails the task; `close` only releases the client.

    `open` and `write` are pickled to the workers: pass module-level
    classes or functions (`functools.partial(SnsClient, endpoint, ...)`)
    and closures over plain values, never a captured submodule (an
    `http.client` captured that way unpickles as the bare `http`
    package)."""
    df.foreachPartition(functools.partial(_write_partition, open, write, chunk))


def _write_partition(open, write, chunk, rows: Iterable) -> None:
    rows = iter(rows)
    for first in rows:
        break
    else:
        return  # an empty partition opens nothing
    rows = itertools.chain((first,), rows)
    client = open()
    close = getattr(client, "close", None)
    try:
        if chunk is None:
            write(client, rows)
        else:
            while batch := list(itertools.islice(rows, chunk)):
                write(client, batch)
    except BaseException:
        if close is not None:
            try:
                close()
            except Exception:  # noqa: BLE001 — the write's error is the one to raise
                pass
        raise
    if close is not None:
        close()


def _socket_connect(network: str, address: str) -> socket.socket:
    if network == "udp":
        return socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    if network == "unix":
        sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        sock.settimeout(10)
        sock.connect(address)
        return sock
    host, _, port = address.rpartition(":")
    return socket.create_connection((host, int(port)), timeout=10)


def socket_sink(network: str, address: str):
    """`socket` output (internal/impl/io/output_socket.go): connect to a
    tcp/udp/unix server and send rows with the `lines` codec, rendered
    to JSON JVM-side (the reference holds one process-wide connection,
    which a distributed writer generalizes to one per partition)."""
    if network not in ("tcp", "udp", "unix"):
        raise ValueError(f"socket output network must be tcp/udp/unix, got {network!r}")
    host, _, port = address.rpartition(":")

    def send(sock, rows) -> None:
        for row in rows:
            data = row.v.encode("utf-8") + b"\n"
            if network == "udp":
                sock.sendto(data, (host, int(port)))
            else:
                sock.sendall(data)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitions(batch_df.select(json_body(batch_df).alias("v")),
                         functools.partial(_socket_connect, network, address), send)

    return write_batch


class _WebSocket:
    """A websocket output connection: RFC 6455 handshake on open, masked
    text frames, a close frame (§5.5.1) on the way out."""

    def __init__(self, url: str, tls_insecure: bool):
        from bento_spark.streaming.http_server import ws_connect

        self.sock, _ = ws_connect(url, tls_insecure=tls_insecure)

    def _frame(self, opcode: int, payload: bytes) -> None:
        from bento_spark.streaming.http_server import client_frame

        self.sock.sendall(client_frame(opcode, payload, os.urandom(4)))

    def send(self, text: str) -> None:
        self._frame(0x1, text.encode("utf-8"))

    def close(self) -> None:
        try:
            self._frame(0x8, b"")
        except OSError:
            pass
        self.sock.close()


def websocket_sink(url: str, tls_insecure: bool = False):
    """`websocket` output (internal/impl/io/output_websocket.go): rows
    send as text frames over a client connection, JSON rendered JVM-side."""

    def send(ws, rows) -> None:
        for row in rows:
            ws.send(row.v)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitions(batch_df.select(json_body(batch_df).alias("v")),
                         functools.partial(_WebSocket, url, tls_insecure), send)

    return write_batch


class KeepAlive:
    """A partition's pooled keep-alive HTTP connection (the http_client and
    elasticsearch outputs): opened on first use, dropped after a transport
    fault."""

    def __init__(self, url: str, timeout: float):
        from bento_spark.streaming.rest import Endpoint

        self.endpoint = Endpoint(url, timeout)
        self.conn = None

    def get(self):
        if self.conn is None:
            self.conn = self.endpoint.connect()
        return self.conn

    def close(self) -> None:
        conn, self.conn = self.conn, None
        if conn is not None:
            conn.close()


def http_post_writer(
    url: str,
    method: str = "POST",
    headers: dict | None = None,
    timeout: float = 10.0,
    retries: int = 3,
    backoff_s: float = 0.25,
):
    """`http_client` output (internal/impl/io/output_http_client.go): each
    row POSTs as one JSON request — serialization happens JVM-side
    (to_json), the requests fire EXECUTOR-side over one pooled keep-alive
    connection per partition (never a driver loop).

    Retry contract: each request retries IN-WRITER with exponential
    backoff (`retries` attempts beyond the first, like the reference
    output's per-request retry/backoff) because a raise inside
    foreachBatch fails the QUERY, not the micro-batch — local-mode task
    maxFailures=1 gives no task retry, so without this loop a single
    transient 5xx would kill the stream. Exhausted retries still raise:
    at-least-once then holds only across a checkpoint RESTART — pair with
    `error_handling: retry` for in-run stream survival. 4xx (except 408/
    429) are permanent and fail fast; duplicate sends on replay are
    inherent (HTTP has no transactional sink)."""
    hdrs = {"Content-Type": "application/json", **(headers or {})}
    u = urllib.parse.urlsplit(url)
    path = (u.path or "/") + (f"?{u.query}" if u.query else "")

    def one(pool: KeepAlive, body: bytes, epoch_id: int) -> None:
        last = "no attempt"
        for attempt in range(retries + 1):
            try:
                conn = pool.get()
                conn.request(method, path, body=body, headers=hdrs)
                resp = conn.getresponse()
                resp.read()
                if resp.status < 300:
                    return
                last = f"http status {resp.status}"
                if 400 <= resp.status < 500 and resp.status not in (408, 429):
                    break  # permanent client error: retrying can't help
            except (OSError, HTTPException) as e:
                last = f"{type(e).__name__}: {e}"
                try:
                    pool.close()  # drop the broken keep-alive conn
                except Exception:  # noqa: BLE001
                    pass
            if attempt < retries:
                time.sleep(backoff_s * (2**attempt))
        raise RuntimeError(
            f"http_client output: {last} from {url} (epoch {epoch_id}, "
            f"{retries + 1} attempts)"
        )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        def send(pool, rows) -> None:
            for row in rows:
                one(pool, row.v.encode("utf-8"), epoch_id)

        write_partitions(batch_df.select(json_body(batch_df).alias("v")),
                         functools.partial(KeepAlive, url, timeout), send)

    return write_batch


def sync_response_writer(sync_dir: str, content_col: str | None = None,
                         id_col: str = "request_id"):
    """`sync_response` output (internal/impl/pure/output_sync_response.go:15):
    the processed message becomes the HTTP response of the request that
    produced it. Spark mapping of Bento's transaction-scoped response
    store: the id the input stamps in the spool header rides the row as
    `request_id` (engine metadata — survives `root = {...}` remaps like `error`), and
    this writer drops one `<request_id>.resp` file into the shared sync
    dir, where the blocked HttpSpoolServer handler picks it up and
    replies. Reply files are written EXECUTOR-side (foreachPartition,
    atomic tmp+rename — the listener never reads a partial reply); on a
    real cluster the sync dir is shared storage, exactly like the spool.

    Body: `content_col` cast to string when given, else the row as JSON
    (internal columns `request_id`/`error`/`meta` excluded). Replay
    semantics: a replayed micro-batch rewrites reply files; the original
    requester is gone, the orphan is deleted on the next request reusing
    nothing — best-effort like the reference (a response to a dead
    request is dropped)."""
    from pyspark.sql import functions as F

    def write_batch(batch_df, epoch_id: int) -> None:
        if id_col not in batch_df.columns:
            raise ValueError(
                f"sync_response output: column {id_col!r} missing — the "
                "input must be http_server with `sync: true` (it stamps "
                "the request id on every row)"
            )
        if content_col is not None:
            body = F.col(content_col).cast("string")
        else:
            doc = [c for c in batch_df.columns if c not in (id_col, "error", "meta")]
            body = F.to_json(F.struct(*[F.col(c) for c in doc]))
        sel = batch_df.select(F.col(id_col).alias("_rid"), body.alias("_body"))

        def reply(rows) -> None:
            for r in rows:
                if not r._rid:
                    continue
                final = os.path.join(sync_dir, f"{r._rid}.resp")
                tmp = os.path.join(sync_dir, f".{r._rid}.{uuid.uuid4().hex}.tmp")
                with open(tmp, "wb") as fh:
                    fh.write(("" if r._body is None else str(r._body)).encode("utf-8"))
                os.replace(tmp, final)

        sel.foreachPartition(reply)

    return write_batch
