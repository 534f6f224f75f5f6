"""The spool bridge: the one file format every push or poll input writes,
and the one reader that streams it.

Structured Streaming has no push source: a source must be replayable. So a
push or poll input (an HTTP listener, a broker subscriber, a bucket poller)
is a bridge. A driver-side bridge persists each message as one durable
file in a spool dir, and the stream is a plain file source over that dir.
Every streaming guarantee holds: the file source's offset log makes the
ingestion replayable and exactly-once downstream, which a socket-style push
source can never be. This is how production Spark takes webhooks without
Kafka (HTTP -> durable object store -> file stream); at scale the bridge
is a fleet writing to S3/GCS and only the spool location changes.

A spool file is written to a dot-prefixed temp name and renamed into place,
so the file source never reads a partial body (Spark's default path filter
hides dotfiles). `Spool.put` returns only after the rename, so a bridge
acks its protocol (HTTP 200, PUBACK, XACK, DeleteMessage, ...) after the
message is durable: at-least-once. How a client-side bridge runs (connect,
the put-then-ack loop, reconnects, failure and stop) is streaming/bridge.py;
the two listeners (http_server.py) call `put` from their request handlers.

File layout, `<seq:012d>-<uuid32>.msg`:

    <meta as a JSON object on one line>\\n<raw body>

The header line means a file is never empty (Spark's text source emits no
row for a 0-byte file) and no file name carries metadata (a name longer
than 255 bytes cannot be created). `seq` counts one `Spool`'s messages from
1, so a bridge's files sort in arrival order; the uuid keeps names
distinct across bridges sharing a dir, and across restarts.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import uuid
from pathlib import Path

SUFFIX = ".msg"


class Spool:
    """Writer of one spool dir; `put` is safe to call from many threads."""

    def __init__(self, spool_dir: str | os.PathLike):
        self.dir = Path(spool_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self._lock = threading.Lock()
        self._seq = 0

    def put(self, body: bytes | str, **meta) -> None:
        """Write one message durably. A failure is printed to stderr and
        raised."""
        if isinstance(body, str):
            body = body.encode("utf-8")
        with self._lock:
            self._seq += 1
            seq = self._seq
        stem = f"{seq:012d}-{uuid.uuid4().hex}"
        tmp = self.dir / f".{stem}.tmp"
        try:
            # json.dumps escapes newlines, so the header is one line
            tmp.write_bytes(json.dumps(meta, separators=(",", ":")).encode() + b"\n" + body)
            tmp.rename(self.dir / f"{stem}{SUFFIX}")
        except Exception as e:
            print(f"spool {self.dir}: {e}", file=sys.stderr)
            raise


def decode(data: bytes) -> tuple[dict, bytes]:
    """(meta, body) of one spool file's bytes."""
    header, sep, body = data.partition(b"\n")
    if not sep:
        raise ValueError("spool file without a header line")
    return json.loads(header), body


def entries(spool_dir: str | os.PathLike) -> list[tuple[dict, bytes]]:
    """Every complete message in a spool dir as (meta, body), in seq
    order (one bridge's arrival order)."""
    return [decode(p.read_bytes()) for p in sorted(Path(spool_dir).glob(f"*{SUFFIX}"))]


def read_spool(spark, spool_dir: str, meta_ddl: str = "", lines: bool = False,
               max_files_per_trigger: int | None = None):
    """File stream over a spool dir: `value string` (the body) followed by
    the columns of `meta_ddl`, parsed from each file's header JVM-side. A
    file whose header is not a JSON object fails the query (FAILFAST).
    `lines=True` gives one row per body line, split the way Spark's text
    source splits a file (\\n, \\r\\n or \\r; no row for a final terminator;
    none for an empty body). The header is split off a whole file, so in
    either mode one body must fit in one JVM string (under 2 GB); a
    line-mode body is held about three times over while it is split."""
    # pyspark is imported here: the connector modules also run in Python
    # workers, which need only `Spool`
    from pyspark.sql import functions as F

    rd = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger is not None:
        rd = rd.option("maxFilesPerTrigger", int(max_files_per_trigger))
    parts = F.split(F.col("value"), "\n", 2)
    has_header = (F.size(parts) == 2) & F.get(parts, 0).startswith("{")
    body = F.when(has_header, F.get(parts, 1)).otherwise(
        F.raise_error(F.lit("spool file without a header line")))
    cols = [body.alias("value")]
    if meta_ddl:
        meta = F.from_json(F.get(parts, 0), meta_ddl, {"mode": "FAILFAST"})
        cols.append(meta.alias("_meta"))
    df = rd.load(f"{spool_dir}/*{SUFFIX}").select(*cols)
    if lines:
        df = df.withColumn("value", F.explode(F.when(
            F.col("value") == "", F.array().cast("array<string>")).otherwise(
            F.split(F.regexp_replace("value", r"(\r\n|\r|\n)\z", ""), r"\r\n|\r|\n"))))
    return df.select("value", "_meta.*") if meta_ddl else df
