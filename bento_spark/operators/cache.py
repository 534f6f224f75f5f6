"""cache / cached — keyed state as tables (enrichment & memoization).

Reference semantics:
- `cache` processor: per-message get/set/add/delete against a named cache
  resource (/root/reference/internal/impl/pure/processor_cache.go:150,
  operators :125,:267-273); 16 cache backends (memory, lru, ttlru, redis,
  …) registered under internal/impl/*/cache_*.go.
- `cached`: memoize a child processor's result by key + TTL
  (processor_cached.go).
- The cache-hydration stream-join cookbook
  (config/examples/joining_streams.yaml:32-56) builds a stream-stream join
  from cache get/set — in Spark that is a native stateful join
  (bento_spark.streaming.joins); this module covers the LOOKUP/state-table
  uses.

Spark-first: a cache is a keyed DataFrame/table. Per-row get = broadcast
left join; set/add = MERGE-style upsert (last-writer-wins /
insert-if-absent), implemented over parquet here and `MERGE INTO` on
Iceberg clusters. There is no per-row Python and no driver round-trip: a
batch of N gets is ONE join, matching how the reference amortizes
multi-gets (processor_cache.go batch path).

Every backend has `get(df, on=None, now_ms=None)` (misses are NULL),
`set(df, ttl=None, now_ms=None)`, `add(df, ttl=None, now_ms=None)` (returns
the rejected rows) and `delete(keys)`. The nine whose entries live in a
store (sqlite here; mongodb, aws_dynamodb, aws_s3, gcp_cloud_storage,
couchbase, nats_kv, memcached and redis under streaming/) share one
Spark side, `RemoteCache`, and each supplies only a store: a picklable
value with no SparkSession, whose methods run on the executors —
- `open()` -> a client; `client.close()`, if it has one, runs last;
- `fetch(client, keys) -> {key: value}`: the entries found; a value is
  bytes, a string or None (a miss), decoded by one rule (`_text`: UTF-8,
  bad bytes replaced);
- `insert(client, pairs) -> [bool]`: insert-if-absent, one verdict per
  `(key, value)` pair (True = stored);
- `put(client, pairs)`: upsert; `remove(client, keys)`: delete;
- `expiring(ttl) -> store`: the store whose `put`/`insert` apply an
  operator's `ttl` (None: the resource default) by the backend's own rule,
  resolved on the driver (redis PX ms; memcached/couchbase whole seconds;
  dynamodb the `ttl_key` epoch; nats_kv rejects a ttl; s3, gcs, sqlite and
  mongodb ignore it, as the reference does).
"""

from __future__ import annotations

import functools
import os
import re
import time
from collections.abc import Callable, Iterable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bento_spark.streaming.sink import write_partitions

_EXPIRES = "_expires_ms"


def _ttl_ms(ttl: int | float | str) -> int:
    """TTL in ms from seconds (number) or the pipeline's duration syntax
    ('60s', '5 minutes') — processor_cache.go:150's `ttl` field."""
    if isinstance(ttl, (int, float)) and not isinstance(ttl, bool):
        return int(ttl * 1000)
    from bento_spark.streaming.cep import duration_ms

    return duration_ms(str(ttl))


def _exptime_s(ttl_ms: int | None) -> int:
    """A TTL in whole seconds for the stores that count in seconds: 0 =
    never; ms TTLs round UP, so a short TTL never becomes 0/never-expire."""
    if ttl_ms is None:
        return 0
    return max(1, -(-int(ttl_ms) // 1000))


def _now_ms(now_ms: int | None) -> int:
    # wall clock enters a data path ONLY here, and only for TTL'd writes /
    # reads that did not pin `now_ms` — oracle queries and tests pin it
    return int(time.time() * 1000) if now_ms is None else int(now_ms)


class KeyValueCache:
    """A named keyed state table with Bento cache-operator semantics.

    Backing store: a parquet dir of versioned snapshots (atomic swap via
    commit marker), standing in for an Iceberg table. `_v` is the writer
    version — resolution is last-writer-wins per key, the same contract as
    `MERGE INTO cache USING batch ON key WHEN MATCHED UPDATE ...`.
    """

    def __init__(self, spark: SparkSession, path: str, key_col: str = "key"):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_col = key_col
        os.makedirs(self.path, exist_ok=True)

    # -- storage ------------------------------------------------------------
    def _versions(self) -> list[int]:
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self.path)
            if d.startswith("_v=") and os.path.exists(f"{self.path}/{d}/_SUCCESS")
        )

    def _snapshot_full(self, now_ms: int | None = None) -> DataFrame | None:
        """Latest live write per key INCLUDING the expiry column (compact
        must preserve surviving TTLs)."""
        vs = self._versions()
        if not vs:
            return None
        df = self.spark.read.option("basePath", self.path).parquet(
            *[f"{self.path}/_v={v}" for v in vs]
        )
        w = Window.partitionBy(self.key_col).orderBy(F.desc("_v"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .filter(~F.col("_deleted"))
            # expiry-on-read AFTER last-writer-wins: an expired NEWEST write
            # hides any older value for the key (the reference's set
            # replaces value AND ttl — expiry makes the key absent, it does
            # not resurrect a predecessor)
            .filter(F.col(_EXPIRES).isNull() | (F.col(_EXPIRES) > F.lit(_now_ms(now_ms))))
            .drop("_rn", "_v", "_deleted")
        )

    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        """Current cache contents (latest unexpired write per key)."""
        full = self._snapshot_full(now_ms)
        return None if full is None else full.drop(_EXPIRES)

    def _write(self, df: DataFrame, deleted: bool) -> None:
        if _EXPIRES not in df.columns:
            df = df.withColumn(_EXPIRES, F.lit(None).cast("bigint"))
        v = (self._versions()[-1] + 1) if self._versions() else 0
        df.withColumn("_deleted", F.lit(deleted)).write.mode("overwrite").parquet(
            f"{self.path}/_v={v}"
        )

    # -- operators (processor_cache.go:125) ----------------------------------
    def set(self, df: DataFrame, ttl: int | float | str | None = None,
            now_ms: int | None = None) -> None:
        """Upsert all rows (last write wins per key). `ttl` (seconds or
        duration string) bounds each entry's life — processor_cache.go:150;
        half the reference's 16 backends are TTL-defined (cache_ttlru.go,
        cache_memory.go's 5m default)."""
        fresh = df.dropDuplicates([self.key_col])
        if ttl is not None:
            fresh = fresh.withColumn(
                _EXPIRES, F.lit(_now_ms(now_ms) + _ttl_ms(ttl)).cast("bigint")
            )
        self._write(fresh, deleted=False)

    def add(self, df: DataFrame, ttl: int | float | str | None = None,
            now_ms: int | None = None) -> DataFrame:
        """Insert-if-absent. Returns the rows that were REJECTED (key already
        present) — the reference errors those messages; callers route them
        with the error-column protocol. An EXPIRED key counts as absent."""
        cur = self.snapshot(now_ms)
        fresh = df.dropDuplicates([self.key_col])
        if ttl is not None:
            fresh = fresh.withColumn(
                _EXPIRES, F.lit(_now_ms(now_ms) + _ttl_ms(ttl)).cast("bigint")
            )
        if cur is None:
            self._write(fresh, deleted=False)
            return fresh.limit(0).drop(_EXPIRES)
        rejected = fresh.join(cur.select(self.key_col), self.key_col, "left_semi")
        accepted = fresh.join(cur.select(self.key_col), self.key_col, "left_anti")
        self._write(accepted, deleted=False)
        return rejected.drop(_EXPIRES)

    def delete(self, keys: DataFrame) -> None:
        cur = self.snapshot()
        if cur is None:
            return
        tomb = cur.join(keys.select(self.key_col), self.key_col, "left_semi")
        self._write(tomb, deleted=True)

    def get(self, df: DataFrame, on: str | None = None,
            now_ms: int | None = None) -> DataFrame:
        """Enrich df with cache values by key (left join; misses = NULL,
        matching the reference where a miss errors the message — follow with
        set_error_when(value.isNull()) if that routing is wanted).

        Raises on a never-written cache: the value columns (and therefore the
        output schema) are unknowable before the first set/add, and a schema
        that silently depends on cache state is worse than an error."""
        cur = self.snapshot(now_ms)
        key = on or self.key_col
        if cur is None:
            raise RuntimeError(
                f"cache at {self.path} has no contents yet: call set()/add() "
                "before get() (the enriched schema depends on the cached value columns)"
            )
        side = cur.withColumnRenamed(self.key_col, key) if key != self.key_col else cur
        return df.join(F.broadcast(side), key, "left")

    def compact(self, now_ms: int | None = None) -> None:
        """Fold all versions into one (Iceberg's rewrite_data_files
        analogue); expired entries are swept, surviving TTLs preserved.
        Write-new-THEN-delete-old: persist() is not durable — a
        lost cache block between deleting the source files and the rewrite
        action would force recomputation from parquet paths that no longer
        exist, losing the whole cache."""
        old = self._versions()
        if not old:
            return
        cur = self._snapshot_full(now_ms)
        self._write(cur, deleted=False)  # materializes while sources exist
        import shutil

        for v in old:
            shutil.rmtree(f"{self.path}/_v={v}")


class FileCache:
    """`file` cache backend (/root/reference/internal/impl/io/cache_file.go:27):
    one file per key under `directory` — the item id IS the relative path,
    the file content IS the value. Interoperable with anything that can
    read a directory (the reference positions it for development/debugging;
    it is also the simplest cache that survives a driver restart).

    Spark-first mapping: reads are ONE distributed `binaryFile` scan of the
    directory joined to the batch (never a per-row driver round-trip);
    writes run executor-side, one file per key — `set` is tmp-file +
    atomic os.replace, `add` is O_EXCL create (cache_file.go:71), both
    correct on a shared/posix filesystem.

    TTL: the reference's file cache ignores per-entry TTLs (Set's duration
    parameter is discarded, and the docs call out "no form of item
    expiry"). We keep that contract for set()'s ttl argument but add an
    optional RESOURCE-level `ttl`: entries whose file mtime is older than
    `ttl` before `now_ms` read as absent — mtime-based expiry with zero
    metadata files."""

    single_value = True

    def __init__(self, spark: SparkSession, directory: str, key_col: str = "key",
                 value_col: str = "value", ttl: int | float | str | None = None):
        self.spark = spark
        self.dir = directory.rstrip("/")
        self.key_col = key_col
        self.value_col = value_col
        self.ttl_ms = None if ttl is None else _ttl_ms(ttl)
        os.makedirs(self.dir, exist_ok=True)

    # -- storage ------------------------------------------------------------
    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        """Current contents as (key, value) — one binaryFile scan; keys are
        paths relative to the directory, values decoded UTF-8."""
        if not any(
            not f.startswith(".") and not f.endswith(".tmp")
            for _, _, fs in os.walk(self.dir)
            for f in fs
        ):
            return None
        df = (
            self.spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(self.dir)
        )
        # Hadoop renders local paths as file:/abs or file:///abs depending on
        # the FS impl — normalize the scheme away, then strip the directory
        # prefix to recover the relative-path key
        abs_path = F.regexp_replace(F.col("path"), r"^[a-zA-Z0-9]+:/+", "/")
        out = df.select(
            F.regexp_replace(abs_path, "^" + re.escape(self.dir + "/"), "")
            .alias(self.key_col),
            F.col("content").cast("string").alias(self.value_col),
            F.unix_millis(F.col("modificationTime")).alias("_mtime_ms"),
        )
        # crashed set() writers can leave `<key>.<32hex>.tmp` behind —
        # never surface them as entries
        out = out.filter(~F.col(self.key_col).rlike(r"\.[0-9a-f]{32}\.tmp$"))
        if self.ttl_ms is not None:
            out = out.filter(F.col("_mtime_ms") > F.lit(_now_ms(now_ms) - self.ttl_ms))
        return out.drop("_mtime_ms")

    def _write_files(self, df: DataFrame, exclusive: bool) -> None:
        """Executor-side file writes. `exclusive` = O_EXCL (add); else
        atomic tmp+rename (set). Keys may contain '/' (relative paths)."""
        base, key_col, value_col = self.dir, self.key_col, self.value_col
        rows = df.select(key_col, value_col)

        def write(part) -> None:
            import uuid as _uuid

            for r in part:
                key, val = r[key_col], r[value_col]
                if key is None:
                    continue
                key = str(key)
                if key.startswith("/") or ".." in key.split("/"):
                    raise ValueError(f"file cache key escapes the directory: {key!r}")
                path = os.path.join(base, key)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                data = ("" if val is None else str(val)).encode("utf-8")
                if exclusive:
                    try:
                        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
                    except FileExistsError:
                        continue  # rejection handled by the caller's anti-join
                    with os.fdopen(fd, "wb") as f:
                        f.write(data)
                else:
                    tmp = f"{path}.{_uuid.uuid4().hex}.tmp"
                    with open(tmp, "wb") as f:
                        f.write(data)
                    os.replace(tmp, path)

        rows.foreachPartition(write)

    # -- operators (cache_file.go:61-91) -------------------------------------
    def set(self, df: DataFrame, ttl: int | float | str | None = None,
            now_ms: int | None = None) -> None:
        """Upsert (atomic rename per key). Per-entry `ttl` is IGNORED —
        cache_file.go:68 discards it too; use the resource-level ttl."""
        self._write_files(df.dropDuplicates([self.key_col]), exclusive=False)

    def add(self, df: DataFrame, ttl: int | float | str | None = None,
            now_ms: int | None = None) -> DataFrame:
        """Insert-if-absent via O_EXCL. Returns rejected rows (key already
        present and unexpired) for the error-column routing. An expired
        entry counts as absent: its file is atomically replaced."""
        fresh = df.dropDuplicates([self.key_col])
        cur = self.snapshot(now_ms)
        if cur is None:
            self._write_files(fresh, exclusive=True)
            return fresh.limit(0)
        live_keys = cur.select(self.key_col)
        # materialize BOTH splits before writing: the write changes the very
        # files the lazy plans would re-scan, so an unpinned `rejected`
        # evaluated after the write would see the just-written keys as live
        rejected = fresh.join(live_keys, self.key_col, "left_semi").localCheckpoint(eager=True)
        accepted = fresh.join(live_keys, self.key_col, "left_anti").localCheckpoint(eager=True)
        # expired-but-present files must be REPLACED (O_EXCL would reject):
        # atomic rename for those, O_EXCL for brand-new keys is subsumed
        self._write_files(accepted, exclusive=False)
        return rejected

    def delete(self, keys: DataFrame) -> None:
        base, key_col = self.dir, self.key_col

        def rm(_, part) -> None:
            for r in part:
                if r[key_col] is None:
                    continue
                key = str(r[key_col])
                if key.startswith("/") or ".." in key.split("/"):
                    continue
                try:
                    os.remove(os.path.join(base, key))
                except OSError:
                    pass

        # a file delete holds no client: `open` returns None
        write_partitions(keys.select(key_col), lambda: None, rm)

    def get(self, df: DataFrame, on: str | None = None,
            now_ms: int | None = None) -> DataFrame:
        """Enrich df with the cached value by key (left join; miss = NULL
        `value` column, same contract as KeyValueCache.get)."""
        key = on or self.key_col
        cur = self.snapshot(now_ms)
        if cur is None:
            raise RuntimeError(
                f"file cache at {self.dir} is empty: set()/add() before get()"
            )
        side = cur.withColumnRenamed(self.key_col, key) if key != self.key_col else cur
        return df.join(F.broadcast(side), key, "left")


# ------------------------------------------------------------ remote caches
def _text(v) -> str | None:
    """A fetched value as the value column holds it: the one decode rule
    (bytes are UTF-8, bad bytes replaced; None is a miss)."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return str(v)


def _each_batch(store, batches: Iterable, step: Callable) -> Iterator:
    """`step(client, pdf)` for each non-empty pandas batch of a partition,
    on one client: the first batch opens it, and `close()` (if the client
    has one) runs last whatever happened; an empty partition opens none."""
    client = None
    try:
        for pdf in batches:
            if len(pdf):
                if client is None:
                    client = store.open()
                yield step(client, pdf)
    except BaseException:
        if client is not None and hasattr(client, "close"):
            try:
                client.close()
            except Exception:  # noqa: BLE001 — the step's error is the one to raise
                pass
        raise
    if client is not None and hasattr(client, "close"):
        client.close()


def fetch_batches(store, key_col: str, value_col: str, batches: Iterable) -> Iterator:
    """`get`'s mapInPandas function: one `store.fetch` per batch of keys."""
    import pandas as pd

    def step(client, pdf):
        keys = [str(k) for k in pdf[key_col]]
        found = store.fetch(client, keys)
        return pd.DataFrame({key_col: keys, value_col: [_text(found.get(k)) for k in keys]},
                            dtype="object")

    return _each_batch(store, batches, step)


def insert_batches(store, key_col: str, value_col: str, batches: Iterable) -> Iterator:
    """`add`'s mapInPandas function: one `store.insert` per batch, one
    verdict (`_accepted`) per key."""
    import pandas as pd

    def step(client, pdf):
        pairs = [(str(k), None if pd.isna(v) else str(v))
                 for k, v in zip(pdf[key_col], pdf[value_col])]
        accepted = store.insert(client, pairs)
        return pd.DataFrame({key_col: [k for k, _ in pairs], "_accepted": accepted})

    return _each_batch(store, batches, step)


def _put_rows(store, client, rows) -> None:
    store.put(client, [(r[0], r[1]) for r in rows])


def _remove_rows(store, client, rows) -> None:
    store.remove(client, [r[0] for r in rows])


class RemoteCache:
    """The Spark side of a cache whose entries live in a store (the
    contract is in the module docstring). No data path makes a driver
    round-trip or a request per row:
    - `get` fetches the batch's distinct keys, one client per partition
      and one `fetch` per Arrow batch, and broadcast-joins the entries
      found;
    - `add` sends each distinct key once. Its verdicts are
      localCheckpoint-ed eagerly, so no insert runs twice: a lazy plan
      evaluated again would re-run the inserts against the state the
      first run created;
    - `set` and `delete` go through `sink.write_partitions`, 500 rows a
      call.
    Rows with a null key are skipped."""

    single_value = True

    def __init__(self, spark: SparkSession, store, key_col: str = "key",
                 value_col: str = "value"):
        self.spark = spark
        self.store = store
        self.key_col, self.value_col = key_col, value_col

    def _keys(self, df: DataFrame, key: str) -> DataFrame:
        return (df.select(F.col(key).cast("string").alias(self.key_col))
                .filter(F.col(self.key_col).isNotNull()))

    def _pairs(self, df: DataFrame) -> DataFrame:
        return df.filter(F.col(self.key_col).isNotNull()).select(
            F.col(self.key_col).cast("string"), F.col(self.value_col).cast("string"))

    def get(self, df: DataFrame, on: str | None = None, now_ms=None) -> DataFrame:
        """Enrich df with the cached value by key (miss = NULL value)."""
        key, key_col, value_col = on or self.key_col, self.key_col, self.value_col
        side = self._keys(df, key).distinct().mapInPandas(
            functools.partial(fetch_batches, self.store, key_col, value_col),
            f"{key_col} string, {value_col} string",
        ).filter(F.col(value_col).isNotNull())
        if key != key_col:
            side = side.withColumnRenamed(key_col, key)
        return df.join(F.broadcast(side), key, "left")

    def add(self, df: DataFrame, ttl=None, now_ms=None) -> DataFrame:
        """Insert-if-absent; returns the rejected rows (key present)."""
        store, key_col = self.store.expiring(ttl), self.key_col
        fresh = df.dropDuplicates([key_col])
        verdicts = (
            self._pairs(fresh)
            .mapInPandas(functools.partial(insert_batches, store, key_col, self.value_col),
                         f"{key_col} string, _accepted boolean")
            .localCheckpoint(eager=True)
        )
        rejected = verdicts.filter(~F.col("_accepted")).select(key_col)
        return fresh.join(F.broadcast(rejected), key_col, "left_semi")

    def set(self, df: DataFrame, ttl=None, now_ms=None) -> None:
        """Upsert every row (last write wins per key)."""
        store = self.store.expiring(ttl)
        write_partitions(self._pairs(df.dropDuplicates([self.key_col])), store.open,
                         functools.partial(_put_rows, store), chunk=500)

    def delete(self, keys: DataFrame) -> None:
        write_partitions(self._keys(keys, self.key_col), self.store.open,
                         functools.partial(_remove_rows, self.store), chunk=500)


@dataclass(frozen=True)
class SqliteStore:
    """One `k TEXT PRIMARY KEY, v TEXT` table in a SQLite file; TTLs are
    ignored, as cache_sql.go's Set discards the duration."""

    path: str
    table: str

    def open(self):
        import sqlite3

        con = sqlite3.connect(self.path, timeout=30.0)
        con.execute("PRAGMA busy_timeout=30000")
        return con

    def expiring(self, ttl) -> SqliteStore:
        return self

    def fetch(self, con, keys) -> dict:
        found: dict = {}
        # SQLite caps bound parameters (999 pre-3.32): 500 keys a query
        for i in range(0, len(keys), 500):
            chunk = keys[i:i + 500]
            found.update(con.execute(
                f"SELECT k, v FROM {self.table} WHERE k IN ({','.join('?' * len(chunk))})",
                chunk).fetchall())
        return found

    def insert(self, con, pairs) -> list[bool]:
        # INSERT OR IGNORE: an ignored row is the reference's
        # constraint-violation error
        sql = f"INSERT OR IGNORE INTO {self.table}(k, v) VALUES(?, ?)"
        accepted = [con.execute(sql, kv).rowcount == 1 for kv in pairs]
        con.commit()
        return accepted

    def put(self, con, pairs) -> None:
        # cache_sql.go:144's upsertBuilder
        con.executemany(f"INSERT INTO {self.table}(k, v) VALUES(?, ?) "
                        "ON CONFLICT(k) DO UPDATE SET v=excluded.v", pairs)
        con.commit()

    def remove(self, con, keys) -> None:
        con.executemany(f"DELETE FROM {self.table} WHERE k = ?", [(k,) for k in keys])
        con.commit()


class SqliteCache(RemoteCache):
    """`sql` cache backend over a SQLite file
    (internal/impl/sql/cache_sql.go:84 — one row per
    key/value pair in a named table; `set` is an upsert, `add` a plain
    insert that errors on conflict, no TTL support). The reference reaches
    any database/sql driver; the repo's JDBC path
    (operators/sql_connector.py) is jar-gated, so this stdlib-sqlite3
    backend is the sandbox-testable instance — same single-shared-file
    deployment model as FileCache (a posix/shared filesystem). WAL journal
    + busy_timeout serialize concurrent partition writers."""

    def __init__(self, spark: SparkSession, path: str, table: str = "bento_cache",
                 key_col: str = "key", value_col: str = "value"):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
            raise ValueError(f"sqlite cache table must be an identifier, got {table!r}")
        super().__init__(spark, SqliteStore(path, table), key_col, value_col)
        import sqlite3

        with sqlite3.connect(path) as con:
            con.execute("PRAGMA journal_mode=WAL")
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {table} (k TEXT PRIMARY KEY, v TEXT)"
            )

    def snapshot(self, now_ms=None) -> DataFrame | None:
        """Full table as (key, value) — debug/compat surface; data paths
        use get()'s keyed fetch (one driver-side read here is fine: the
        backend's deployment model is dimension-scale shared-file state)."""
        con = self.store.open()
        try:
            rows = con.execute(f"SELECT k, v FROM {self.store.table}").fetchall()
        finally:
            con.close()
        if not rows:
            return None
        return self.spark.createDataFrame(
            rows, f"{self.key_col} string, {self.value_col} string"
        )


def cached(
    cache: KeyValueCache,
    key_cols: Sequence[str],
    compute: Callable[[DataFrame], DataFrame],
    ttl: int | float | str | None = None,
    now_ms: int | None = None,
) -> Callable[[DataFrame], DataFrame]:
    """Memoize a per-key computation (processor_cached.go): rows whose key
    is already in the cache take the cached result; the rest run `compute`
    once per distinct key and are written back. One anti-join + one compute
    over misses — batch-amortized, never per-row. `ttl` bounds each
    memoized entry's life (processor_cached.go's ttl field): an expired key
    recomputes and re-caches."""

    def run(df: DataFrame) -> DataFrame:
        key = cache.key_col
        # unambiguous composite key: each component base64-wrapped (no '|'
        # can appear) with a distinct NULL sentinel — concat_ws alone skips
        # NULLs and doesn't escape the delimiter, so (NULL,'x')/('x',NULL)
        # and ('a|b','c')/('a','b|c') would collide and serve each other's
        # memoized results
        parts = [
            F.coalesce(
                F.base64(F.col(c).cast("string").cast("binary")), F.lit("~null~")
            )
            for c in key_cols
        ]
        keyed = df.withColumn(key, F.concat_ws("|", *parts))
        cur = cache.snapshot(now_ms)
        if cur is not None:
            hits = keyed.join(F.broadcast(cur), key, "inner")
            misses = keyed.join(cur.select(key), key, "left_anti")
        else:
            hits, misses = None, keyed
        computed = compute(misses)
        new_entries = computed.select(key, *[c for c in computed.columns if c not in keyed.columns]).dropDuplicates([key])
        cache.set(new_entries, ttl=ttl, now_ms=now_ms)
        # every miss row takes its key's CANONICAL cached value (the one
        # dropDuplicates selected), not its own per-row compute — otherwise
        # rows of one key disagree within the first run and flip to the
        # cached value on replay (the reference serves one cached result
        # per key, always)
        canonical = misses.join(F.broadcast(new_entries), key, "left")
        out = canonical if hits is None else hits.unionByName(canonical, allowMissingColumns=True)
        return out.drop(key)

    return run


class NoopCache:
    """`noop` backend (/root/reference/internal/impl/pure/cache_noop.go):
    every get misses, writes vanish, `add` accepts everything — the
    reference ships it for benchmarking pipelines with cache interactions
    stubbed out; same purpose here."""

    single_value = True

    def __init__(self, spark: SparkSession, key_col: str = "key",
                 value_col: str = "value"):
        self.spark = spark
        self.key_col, self.value_col = key_col, value_col

    def set(self, df: DataFrame, ttl=None, now_ms=None) -> None:
        pass

    def add(self, df: DataFrame, ttl=None, now_ms=None) -> DataFrame:
        # reference Add returns nil — nothing is ever rejected
        return df.limit(0).select(F.col(self.key_col))

    def delete(self, keys: DataFrame) -> None:
        pass

    def get(self, df: DataFrame, on: str | None = None,
            now_ms: int | None = None) -> DataFrame:
        return df.withColumn(self.value_col, F.lit(None).cast("string"))

    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        return None


class MemoryCache:
    """In-process driver-side cache covering the reference's `memory`,
    `lru` and `ttlru` kinds (cache_memory.go, cache_lru.go:31,
    cache_ttlru.go:15): `cap` entries max, optional `default_ttl`
    (ttlru's 5m default), `init_values` pre-population. Like the
    reference these live and die with the process — restart-survival is
    what the file/sqlite/redis backends are for.

    Scale note: this is CONTROL-PLANE state (≤ cap entries, cap defaults
    to ~1k). `get` broadcasts the snapshot into a left join, so the data
    side never collects; `set`/`add`/`delete` DO collect their input —
    callers feed them key batches, not the data stream (the same
    single-process contract as the reference's in-memory kinds).

    Batch-semantics delta vs the reference, documented: recency for LRU
    eviction advances on WRITES (set/add), not on get — a batch get is
    one join and deliberately never collects the probe side's keys, so
    per-key access order is unobservable. Eviction order is therefore
    least-recently-WRITTEN. The reference's `algorithm` variants
    (arc/two_queues) collapse onto this same write-order policy."""

    single_value = True

    def __init__(self, spark: SparkSession, cap: int | None = None,
                 default_ttl: int | float | str | None = None,
                 init_values: dict | None = None,
                 key_col: str = "key", value_col: str = "value"):
        from collections import OrderedDict

        self.spark = spark
        self.cap = int(cap) if cap else None
        self.default_ttl = default_ttl
        self.key_col, self.value_col = key_col, value_col
        self._d: "OrderedDict[str, tuple[str, int | None]]" = OrderedDict()
        for k, v in (init_values or {}).items():
            self._put(str(k), str(v), None)

    # -- driver-side store ---------------------------------------------------
    def _put(self, k: str, v: str, expires: int | None) -> None:
        self._d[k] = (v, expires)
        self._d.move_to_end(k)
        while self.cap is not None and len(self._d) > self.cap:
            self._d.popitem(last=False)

    def _sweep(self, now: int) -> None:
        dead = [k for k, (_, exp) in self._d.items() if exp is not None and exp <= now]
        for k in dead:
            del self._d[k]

    def _expires(self, ttl, now: int) -> int | None:
        ttl = self.default_ttl if ttl is None else ttl
        return None if ttl is None else now + _ttl_ms(ttl)

    # -- DataFrame contract --------------------------------------------------
    def set(self, df: DataFrame, ttl=None, now_ms=None) -> None:
        now = _now_ms(now_ms)
        self._sweep(now)
        exp = self._expires(ttl, now)
        for r in df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"),
        ).collect():
            self._put(r.k, r.v, exp)

    def add(self, df: DataFrame, ttl=None, now_ms=None) -> DataFrame:
        now = _now_ms(now_ms)
        self._sweep(now)
        exp = self._expires(ttl, now)
        rejected = []
        for r in df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string").alias("k"),
            F.col(self.value_col).cast("string").alias("v"),
        ).collect():
            if r.k in self._d:
                rejected.append((r.k,))
            else:
                self._put(r.k, r.v, exp)
        return self.spark.createDataFrame(rejected, f"{self.key_col} string")

    def delete(self, keys: DataFrame) -> None:
        for r in keys.select(F.col(self.key_col).cast("string").alias("k")).collect():
            self._d.pop(r.k, None)

    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        self._sweep(_now_ms(now_ms))
        if not self._d:
            return None
        return self.spark.createDataFrame(
            [(k, v) for k, (v, _) in self._d.items()],
            f"{self.key_col} string, {self.value_col} string",
        )

    def get(self, df: DataFrame, on: str | None = None,
            now_ms: int | None = None) -> DataFrame:
        cur = self.snapshot(now_ms)
        key = on or self.key_col
        if cur is None:
            return df.withColumn(self.value_col, F.lit(None).cast("string"))
        side = cur.withColumnRenamed(self.key_col, key) if key != self.key_col else cur
        return df.join(F.broadcast(side), key, "left")


class MultilevelCache:
    """`multilevel` backend (cache_multilevel.go:108-198): an ordered
    list of child caches. Get resolves shallowest-first and passively
    populates the levels above the hit; Set/Delete write through every
    level; Add rejects a key present at ANY level, otherwise inserts
    everywhere (the reference adds deepest-first then climbs — same
    net outcome, computed set-wise here).

    Batch-semantics delta, documented: the reference promotes only the
    single key each Get touched; a batch get is one broadcast join that
    never observes which probe keys hit, so promotion copies every entry
    a shallower level is missing. Capped in-memory upper levels evict
    their overflow, so the promotion stays bounded by each level's cap."""

    single_value = True

    def __init__(self, levels: Sequence, key_col: str = "key",
                 value_col: str = "value", promote_on_get: bool = True):
        if len(levels) < 2:
            raise ValueError("multilevel cache needs at least two child caches")
        self.levels = list(levels)
        self.spark = self.levels[0].spark
        self.key_col, self.value_col = key_col, value_col
        self.promote = promote_on_get

    def _level_snap(self, i: int, now_ms: int | None) -> DataFrame | None:
        c = self.levels[i]
        s = c.snapshot(now_ms)
        if s is None:
            return None
        return s.select(
            F.col(c.key_col).cast("string").alias(self.key_col),
            F.col(c.value_col).cast("string").alias(self.value_col),
            F.lit(i).alias("_lvl"),
        )

    def _merged(self, now_ms: int | None) -> DataFrame | None:
        """One row per key, shallowest level wins (Get's first-hit order)."""
        snaps = [s for s in (self._level_snap(i, now_ms) for i in range(len(self.levels)))
                 if s is not None]
        if not snaps:
            return None
        allrows = snaps[0]
        for s in snaps[1:]:
            allrows = allrows.unionByName(s)
        w = Window.partitionBy(self.key_col).orderBy(F.asc("_lvl"))
        return (
            allrows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def snapshot(self, now_ms: int | None = None) -> DataFrame | None:
        m = self._merged(now_ms)
        return None if m is None else m.drop("_lvl")

    def get(self, df: DataFrame, on: str | None = None,
            now_ms: int | None = None) -> DataFrame:
        m = self._merged(now_ms)
        key = on or self.key_col
        if m is None:
            return df.withColumn(self.value_col, F.lit(None).cast("string"))
        m = m.localCheckpoint(eager=True)  # promotion writes below must not re-scan children
        for i in range(len(self.levels) - 1):
            deeper = m.filter(F.col("_lvl") > i).drop("_lvl")
            if self.promote and deeper.limit(1).count():
                self._child_write(i, deeper, "set", None, now_ms)
        side = m.drop("_lvl")
        side = side.withColumnRenamed(self.key_col, key) if key != self.key_col else side
        return df.join(F.broadcast(side), key, "left")

    def _child_write(self, i: int, rows: DataFrame, op: str, ttl, now_ms) -> None:
        c = self.levels[i]
        sel = rows.select(
            F.col(self.key_col).alias(c.key_col),
            F.col(self.value_col).alias(c.value_col),
        )
        if op == "set":
            c.set(sel, ttl=ttl, now_ms=now_ms)

    def set(self, df: DataFrame, ttl=None, now_ms=None) -> None:
        sel = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string"), F.col(self.value_col).cast("string")
        ).localCheckpoint(eager=True)  # write-through must not re-evaluate per level
        for i in range(len(self.levels)):
            self._child_write(i, sel, "set", ttl, now_ms)

    def add(self, df: DataFrame, ttl=None, now_ms=None) -> DataFrame:
        fresh = df.dropDuplicates([self.key_col]).select(
            F.col(self.key_col).cast("string"), F.col(self.value_col).cast("string")
        ).localCheckpoint(eager=True)
        cur = self.snapshot(now_ms)
        if cur is None:
            rejected = fresh.limit(0).select(self.key_col)
            accepted = fresh
        else:
            present = cur.select(self.key_col)
            rejected = fresh.join(present, self.key_col, "left_semi").select(self.key_col)
            accepted = fresh.join(present, self.key_col, "left_anti")
            rejected = rejected.localCheckpoint(eager=True)
            accepted = accepted.localCheckpoint(eager=True)
        for i in range(len(self.levels) - 1, -1, -1):  # deepest-first, like the reference
            self._child_write(i, accepted, "set", ttl, now_ms)
        return rejected

    def delete(self, keys: DataFrame) -> None:
        ks = keys.select(F.col(self.key_col).cast("string")).localCheckpoint(eager=True)
        for c in self.levels:
            c.delete(ks.withColumnRenamed(self.key_col, c.key_col))
