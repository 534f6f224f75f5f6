"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design target, then overridable:

- AQE (runtime re-plan, skew-join splitting, partition coalescing) is
  Spark's default and is left on; it replaces the reference's static
  `pipeline.threads` worker pool
  (/root/reference/internal/pipeline/pool.go:32-49) with adaptive
  parallelism.
- Arrow on for all pandas UDF exchange; `maxRecordsPerBatch` sized for
  binary audio payloads (a 30 s 44.1 kHz stereo clip is ~5 MB — batches of
  thousands of such rows would blow executor memory, so we cap low and let
  Arrow chunk).
- shuffle partitions default to 2x cores locally; on a real cluster set
  `spark.sql.shuffle.partitions` ~= 2-3x total executor cores or rely on
  AQE coalescing from a high initial number.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Arrow batch size for audio-payload UDF stages: keep per-batch memory
# bounded when rows carry multi-MB binary clips.
AUDIO_ARROW_BATCH = 256

# Entries in Spark's compiled-class cache (a static conf: it must be set
# before the JVM starts). One pass of the 22 headline queries generates
# ~280 distinct classes, more than Spark's default of 100, so the LRU
# evicted every class before its next use: the second pass recompiled 269
# of them (Janino, then the JIT again). With 1000 entries it compiles 2,
# and perfbench `headline_batch` cpu_s fell from a median of 48.2 s to
# 38.1 s (10/10 interleaved pairs lower, 4-core host).
CODEGEN_CACHE_ENTRIES = 1000


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def default_master() -> str:
    """`local[N]`: N is SPARK_GRAFT_CPUS, else the cores this process may
    run on (what `nproc` prints)."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]"


def get_spark(
    app_name: str = "bento-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or default_master()
    cores = local_cores(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8) if cores else 200

    # Large binary rows (multi-MB audio clips) allocate multi-MB byte[]s at
    # a very high rate. Two measured pathologies at >=24 concurrent tasks:
    # (a) G1's humongous-object path (region commit/uncommit churn) showed
    #     ~4x wall-time inflation on binary-column scans — ParallelGC with a
    #     fixed pre-touched heap removed it (9.4s -> 2.6s scan at local[32]);
    # (b) glibc routes >128 KiB mallocs straight to mmap/munmap, serializing
    #     all JVM/Python threads on the process mmap lock — raising the
    #     malloc mmap threshold keeps the churn in userspace arenas.
    # Both only matter for high-core single-host runs (our two-parallelism
    # evidence); on a real cluster each executor JVM is small and per-node
    # concurrency is modest, but the settings are safe there too.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "134217728")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "134217728")
    # Arrow's bundled jemalloc madvises aggressively (MADV_FREE/THP hints);
    # under this VM's kernel that showed up as khugepaged/page-reclaim system
    # time during Arrow-heavy stages. The plain system allocator measured
    # equal-or-faster with far lower variance.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    driver_mem = (
        (extra_conf or {}).get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory()
    )
    if SparkContext._gateway is None:  # the heap and dirs are fixed once the JVM runs
        check_driver_memory(driver_mem)
        check_local_dirs((extra_conf or {}).get("spark.local.dir"))
    gc_opts = f"-XX:+UseParallelGC -Xms{driver_mem}"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(max(cores or 8, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(AUDIO_ARROW_BATCH))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Constraint propagation is O(width^2)-ish on wide plans: the
        # 64-aggregate minhash/simhash signature plans spent 3-7s PER QUERY
        # in driver-side planning on it (measured: minhash sig subplan
        # 0.61s -> 0.05s to plan; full simhash construct 10.1s -> 3.0s).
        # Planning cost is driver-side and identical on a real cluster —
        # and streaming micro-batches re-plan every batch, so it compounds.
        # Constraints never change results, only inferred filters; the
        # full oracle suite + bench A/B showed no execution regression.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Streaming state store: RocksDB scales state beyond heap (the
        # clip<->transcript join at 10^12-clip scale holds watermark-bounded
        # state far larger than executor memory).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # The idempotent sink intentionally SKIPS re-executing a micro-batch
        # whose commit marker exists (replay after a crash between marker and
        # Spark's commit log): state for that batch was fully committed by
        # the first attempt, so skipping is state-consistent. Spark 4.1's
        # per-batch commit-count validation can't see that and would kill the
        # query on the (correct) skip.
        .config("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
        # base64() otherwise MIME-chunks at 76 chars with CRLF (RFC 2045
        # legacy) — corrupts JWTs/base64url past 57 input bytes. Codec
        # helpers in bloblang also strip CRLF defensively for sessions not
        # built here.
        .config("spark.sql.chunkBase64String.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# cap on the derived heap: the largest the engine has been measured with
_MAX_DRIVER_MB = 24 * 1024
_MEMINFO = "/proc/meminfo"
_CGROUP_MAX = "/sys/fs/cgroup/memory.max"


def memory_limit(meminfo: str = _MEMINFO, cgroup_max: str = _CGROUP_MAX) -> int:
    """Bytes this process can get now: min(MemAvailable, the cgroup v2
    memory.max limit). Falls back to physical memory where neither file
    exists."""
    limits = [v for v in (_meminfo_available(meminfo), _cgroup_limit(cgroup_max)) if v] or [
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    ]
    return min(limits)


def default_driver_memory(meminfo: str = _MEMINFO, cgroup_max: str = _CGROUP_MAX) -> str:
    """Default driver heap: half of `memory_limit`, capped at 24g. The heap
    is also the JVM's -Xms, so it must fit what is free now."""
    return f"{min(memory_limit(meminfo, cgroup_max) // 2 // 2**20, _MAX_DRIVER_MB)}m"


def check_driver_memory(driver_mem: str, meminfo: str = _MEMINFO, cgroup_max: str = _CGROUP_MAX) -> None:
    """Raise ValueError, before any JVM starts, when a heap is larger than
    `memory_limit`: the JVM pre-touches it (-Xms) and would die at startup
    with an hs_err dump instead of a message."""
    heap_mb = _jvm_size_mb(driver_mem)
    limit_mb = memory_limit(meminfo, cgroup_max) // 2**20
    if heap_mb > limit_mb:
        raise ValueError(
            f"driver heap {driver_mem} ({heap_mb} MB) > {limit_mb} MB available "
            "(min of MemAvailable and cgroup memory.max); lower spark.driver.memory "
            "or SPARK_GRAFT_DRIVER_MEM"
        )


def check_local_dirs(spark_local_dir: str | None = None) -> None:
    """Raise ValueError, before any JVM starts, naming the first scratch dir
    that cannot be created or written to. The dirs are Spark's: the entries
    of SPARK_LOCAL_DIRS, else of `spark_local_dir` (spark.local.dir), else
    none to check (the JVM's temp dir). Spark itself would fail later, at
    the first shuffle or spill, with a less direct message."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    source = "SPARK_LOCAL_DIRS" if env else "spark.local.dir"
    for d in filter(None, (env or spark_local_dir or "").split(",")):
        try:
            os.makedirs(d, exist_ok=True)
            with tempfile.TemporaryFile(dir=d) as f:
                f.write(b"\0")
                f.flush()
        except OSError as e:
            raise ValueError(f"local dir {d!r} from {source} is not a writable directory: {e}") from None


_MB_PER_UNIT = {"b": 2**-20, "k": 2**-10, "m": 1, "g": 2**10, "t": 2**20, "p": 2**30}


def _jvm_size_mb(size: str) -> int:
    """MB in a JVM memory size such as `512m`, `4g` or `4gb`; a bare number
    is MB, as for spark.driver.memory."""
    m = re.fullmatch(r"(\d+)([kmgtp]?b?)", size.strip().lower())
    if not m:
        raise ValueError(f"driver heap {size!r} is not a JVM memory size such as 4g or 512m")
    return int(int(m.group(1)) * _MB_PER_UNIT[(m.group(2) or "m")[0]])


def _meminfo_available(path: str) -> int | None:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _cgroup_limit(path: str) -> int | None:
    try:
        with open(path) as f:
            raw = f.read().strip()
    except OSError:
        return None
    return None if raw == "max" else int(raw)


def local_cores(master: str) -> int | None:
    """N in a `local[N]` master (`local[*]`: the cores this process may run
    on, as for `default_master`), else None."""
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return len(os.sched_getaffinity(0))
        try:
            return int(inner)
        except ValueError:
            return None
    return None


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
