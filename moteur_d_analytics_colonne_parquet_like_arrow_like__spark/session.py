"""SparkSession factory with scale-aware defaults.

The reference engine is single-threaded and single-node (reference
``cae/README.md:131``); our engine targets a multi-executor cluster, so the
session factory centralizes the configs that matter at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- parquet vectorized reader + filter pushdown + aggregate pushdown,
- shuffle partitions sized from the environment (cores locally; on a real
  cluster the caller overrides via ``extra_conf`` or spark-submit conf),
- Arrow transfer enabled for the pandas-UDF slow path.

Local test mode reads ``SPARK_GRAFT_CPUS`` (driver contract) to size
``local[N]`` and shuffle partitions.
"""

from __future__ import annotations

import logging
import os
import urllib.parse

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)


def local_driver_memory(
    meminfo: str = "/proc/meminfo",
    cgroup_limits: tuple[str, ...] = (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ),
) -> str:
    """Default local ``spark.driver.memory``: 60% of the smaller of
    ``MemTotal`` and the cgroup memory limit, capped at 48g. The rest is
    for the JVM's off-heap memory and the Python workers; a fixed 48g let
    the heap outgrow a 15 GB host until the kernel killed the JVM partway
    through the test suite. Unreadable or unlimited sources are skipped;
    with none left the cap is used."""
    limits = []
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
    except (OSError, ValueError, IndexError):
        pass
    for path in cgroup_limits:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    if not limits:
        return "48g"
    gb = int(min(limits) * 0.6) // 2**30
    return f"{max(1, min(48, gb))}g"


def _cpus() -> int:
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    try:
        n = int(raw)
        if n > 0:
            return n
    except ValueError:
        pass
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "moteur_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for columnar analytics.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``.

    Local sessions size the driver heap from the host
    (:func:`local_driver_memory`; ``SPARK_GRAFT_DRIVER_MEM`` overrides it)
    and swap Hadoop's checksum filesystem for ``RawLocalFileSystem``, so
    no ``.crc`` sidecar is written or verified on ANY ``file://`` read or
    write in the session: scans, sinks and checkpoints alike. Corruption of
    local files is then caught only by the file formats' own checks.
    """
    cpus = _cpus() or (os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf: dict[str, str] = {
        # Shuffle sizing: cores locally; a cluster deployment overrides to
        # ~2-3x total executor cores (or relies on AQE coalescing from a
        # higher initial number).
        "spark.sql.shuffle.partitions": str(max(cpus, 4)),
        # AQE: runtime coalescing, skew-join splitting, dynamic join strategy.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Parquet scan path: vectorized reader (the analogue of the
        # reference's columnar Batch scanner, cae/include/execution.h:19-36),
        # predicate pushdown (analogue of cae/src/execution.cpp:48-71 zone
        # maps), aggregate pushdown for scan-level count/min/max.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Same default batch size as the reference Scanner (4096,
        # cae/include/execution.h:83).
        "spark.sql.parquet.columnarReaderBatchSize": "4096",
        # Arrow for pandas-UDF exchange (the only sanctioned Python hot path).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamp semantics for oracle comparison.
        "spark.sql.session.timeZone": "UTC",
        # Back-compat for TIMESTAMP(NANOS) parquet (which Spark cannot
        # represent natively): read as long nanos. The testdata moved to
        # TIMESTAMP(MICROS) — unaffected by this conf — and the catalog now
        # probes each file's footer and branches on the ACTUAL encoding
        # (catalog.py::probe_events_ts_type / _normalize_events_ts); this
        # stays so legacy nanos files remain loadable on factory sessions.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Broadcast threshold: dims like region/nation/supplier must broadcast.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if master and master.startswith("local"):
        # local mode: one JVM; the driver heap is the only memory knob.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or local_driver_memory()
        logger.info("local spark.driver.memory = %s", mem)
        conf.setdefault("spark.driver.memory", mem)
        # Test-scale inputs are single ~25 MB parquet files; the 128 MB
        # default split puts the whole scan on one core. Split fine so all
        # local cores scan in parallel. On a cluster (master unset) the
        # 128 MB default is correct for TB-scale inputs and stays.
        conf.setdefault("spark.sql.files.maxPartitionBytes", "4m")
        conf.setdefault("spark.sql.files.openCostInBytes", "512k")
        # Checksum-free local filesystem (r14, guide §6): Hadoop's default
        # file:// implementation (ChecksumFileSystem) writes AND re-reads a
        # .crc sidecar for every file — pure overhead on a local disk whose
        # kernel already guarantees integrity, and the dominant fixed cost
        # of the streaming checkpoint's many tiny files (measured on the
        # bounded tumbling replay, 7-rep medians: state commit 146 → 83 ms,
        # walCommit 35 → 20, commitOffsets 35 → 21, latestOffset 37 → 22).
        # Both APIs need the override: FileSystem (scans, writes, state
        # store) and AbstractFileSystem (the FileContext-based streaming
        # checkpoint manager). Cluster deployments keep their checkpoint on
        # HDFS/object stores, so this stays scoped to local mode.
        conf.setdefault(
            "spark.hadoop.fs.file.impl",
            "org.apache.hadoop.fs.RawLocalFileSystem",
        )
        conf.setdefault(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Floor on useful bytes-per-task for a scan feeding a tiny (reduce-to-
#: one-row) aggregate. Below this, per-task scheduling dominates the scan
#: work itself (measured on the bench box: a 13 MB input over 32 thin
#: slices spent 128 ms where 8 fat slices spent 79 ms — the ~27 ms/stage
#: scheduling floor amortizes over so little data that fewer tasks win).
#: The value is the measured crossover, not a tuning knob per query.
SMALL_SCAN_TASK_BYTES = 1_600_000


def local_input_bytes(df) -> int | None:
    """Total on-disk bytes of a relation's input files, or ``None`` when
    they aren't locally knowable (no files, remote store scheme, missing
    path). Shared by the small-scan coalesce policy below and the
    pipeline's ``auto_materialize`` rule — any policy keyed on "how big
    is this input, really" must fail to the same safe ``None``.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        # inputFiles() normally returns percent-encoded file: URIs —
        # decode those so paths with spaces don't disable the policy via
        # a spurious OSError. Only the file: scheme gets URI parsing: a
        # plain path (no scheme) is used verbatim (a literal '%' in a
        # directory name must NOT be unquoted), and any other scheme is
        # a remote store where sizes aren't locally knowable.
        if f.startswith("file:"):
            path = urllib.parse.unquote(urllib.parse.urlparse(f).path)
        elif "://" in f:
            return None
        else:
            path = f
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def small_scan_slices(df, min_task_bytes: int = SMALL_SCAN_TASK_BYTES):
    """Derived scan-coalesce policy (replaces the bench's hand-pinned
    ``scan_slices=8`` constant): if the scan's total input bytes are so
    small that the default split would give each task less than
    ``min_task_bytes`` of work, return the number of fat slices that
    restores that floor; return ``None`` (no-op) otherwise.

    Sizing comes from the relation's actual input files
    (:func:`local_input_bytes`), so the policy self-deactivates exactly
    when it should: at 100 TB (or any input where bytes/task already
    exceeds the floor, or where file sizes aren't locally knowable —
    object stores, streaming sources) it returns ``None`` and the scan
    keeps full parallelism.
    """
    total = local_input_bytes(df)
    if total is None:
        return None
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    slices = max(1, -(-total // min_task_bytes))  # ceil
    return int(slices) if slices < par else None


#: Floor on useful bytes-per-task for an EXPLICIT exchange (repartition /
#: repartitionByRange — widths AQE cannot coalesce). Measured knee on the
#: bench window shape (orders, 2.7 MB input, 32 cores, r13 optimization
#: round): widths 4-8 are flat-best (85-143 ms medians across passes),
#: width 32 pays 1.4-2x in tiny-task scheduling. 340 KB of input per task
#: reproduces the measured knee; any TB-scale input saturates the session
#: cap immediately, so production width stays the cluster-sized conf.
RANGE_TASK_BYTES = 340_000


def explicit_shuffle_width(df, min_task_bytes: int = RANGE_TASK_BYTES) -> int:
    """Data-derived width for an explicit exchange: one task per
    ``min_task_bytes`` of the relation's actual input, capped at the
    session shuffle-partition conf (the cluster-scale knob, sized by the
    deployment). Same self-deactivation rule as ``small_scan_slices``:
    when input bytes aren't locally knowable (object stores, no files)
    the conf width is used unchanged."""
    spark = df.sparkSession
    try:
        cap = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        # Deployments may set the conf to a non-numeric value ("auto" on
        # some platforms); degrade to the scheduler's parallelism instead
        # of raising deep inside an operator (ADVICE r13).
        cap = max(1, spark.sparkContext.defaultParallelism)
    total = local_input_bytes(df)
    if total is None:
        return cap
    return max(1, min(cap, int(-(-total // min_task_bytes))))


def coalesce_small_scan(df, min_task_bytes: int = SMALL_SCAN_TASK_BYTES):
    """Apply :func:`small_scan_slices` — coalesce a provably-tiny scan to
    fat slices, pass everything else through untouched."""
    n = small_scan_slices(df, min_task_bytes)
    return df.coalesce(n) if n else df


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
