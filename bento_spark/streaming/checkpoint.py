"""Which file manager a streaming query's checkpoint commits through.

Spark's default, `FileContextBasedCheckpointFileManager`, renames through
Hadoop's FileContext. On the local filesystem without the native libhadoop,
each of those renames resolves links with
`RawLocalFileSystem.getFileLinkStatus` -> `FileUtil.readLink`, which forks
`/usr/bin/readlink`: 496 forks in one steady-state drain of the shipped
clips_window pipeline (offsets, commits, the file source's log and 8 state
partitions x 2 batches), about 12% of its CPU on a 4-core host.
`FileSystemBasedCheckpointFileManager` renames with `File.renameTo`, which is
rename(2): an atomic replace with no fork. FileContext is no safer on the
local filesystem: its OVERWRITE rename deletes the destination and then
renames, so for a moment no file exists. `.crc` sidecars stay on either way.
On HDFS and object stores FileContext's rename is the atomic one, so any
other scheme keeps Spark's default.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from urllib.parse import urlsplit

from pyspark.sql import SparkSession

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_SYSTEM_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

# serialises the window in which a caller's session carries the key
_LOCK = threading.Lock()


def on_local_fs(path: str, default_fs: str) -> bool:
    """Whether Hadoop resolves `path` to the `file` filesystem: by the
    path's own scheme, else (no scheme) by fs.defaultFS's."""
    scheme = urlsplit(path).scheme or urlsplit(default_fs).scheme or "file"
    return scheme.lower() == "file"


@contextmanager
def local_checkpoint_commits(spark: SparkSession, checkpoint: str):
    """Streaming queries started on `spark` inside the block commit their
    checkpoint (offsets, commits, state and a file source's log) through
    FILE_SYSTEM_MANAGER when `checkpoint` is on the local filesystem.
    A manager the session already names wins.

    A query copies the session's conf when it starts, which covers its
    offsets, commits and state. A file source is different: the stream's
    own thread builds its log from the session the input was read with,
    after `start()` returns. So the key stays set until every query started
    in the block has built its sources, and is then removed: the caller's
    session is left as it was, and the queries stay in its `streams`."""
    with _LOCK:
        default_fs = spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
        if spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is not None or not on_local_fs(checkpoint, default_fs):
            yield
            return
        before = {q.runId for q in spark.streams.active}
        spark.conf.set(CHECKPOINT_MANAGER_KEY, FILE_SYSTEM_MANAGER)
        try:
            yield
            for q in spark.streams.active:
                if q.runId not in before:
                    _await_sources(q)
        finally:
            spark.conf.unset(CHECKPOINT_MANAGER_KEY)


def _await_sources(q, timeout_s: float = 60.0) -> None:
    """Wait until the stream thread of `q` has created its sources, or `q`
    has stopped. Past the timeout the source log falls back to Spark's
    default manager, which is slower but just as correct."""
    execution = q._jsq.streamingQuery()
    deadline = time.monotonic() + timeout_s
    while execution.sources().isEmpty() and q.isActive and time.monotonic() < deadline:
        time.sleep(0.005)
