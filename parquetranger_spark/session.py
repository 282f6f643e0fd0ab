"""SparkSession factory tuned for the local[{N}] test/bench environment.

At cluster scale the session is owned by the platform; every knob here is
either harmless under a real cluster (AQE, Arrow) or local-only
(driver memory). Nothing in the library itself ever *creates* a session —
all operators accept or discover the active one — so the engine drops into
an existing 1000-executor deployment unchanged.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

_WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")


def _driver_memory(meminfo: str) -> str:
    """Default ``spark.driver.memory`` for a host whose ``/proc/meminfo``
    reads ``meminfo``: half of ``MemTotal`` in whole GiB (at least 1),
    capped at 16g; 16g when ``MemTotal`` is missing."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kib = int(line.split()[1])
            return f"{max(1, min(16, kib // (2 * 1024 * 1024)))}g"
    return "16g"


def _host_meminfo() -> str:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return ""


def get_spark(app_name: str = "parquetranger-spark") -> SparkSession:
    """Build (or reuse) a local session with sane analytics defaults.

    - ``spark.sql.shuffle.partitions`` = local cores (not the 200 default);
      under AQE this is only the initial value — runtime coalescing adapts.
    - AQE on: runtime re-planning, partition coalescing, skew-join splitting.
    - Arrow on: vectorized pandas interchange for applyInPandas/pandas_udf.
    - UTC session timezone: keeps timestamp semantics aligned with the
      DuckDB oracle (naive-UTC) and makes epoch math engine-independent.
    - Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half the host's
      ``MemTotal`` in whole GiB, capped at 16g (16g when it can't be read).
    - Python workers get ``_worker_site`` on their path. Its
      ``sitecustomize`` stops CPython 3.10-3.12's zipimport from re-reading
      ``pyspark.zip`` and py4j's zip on the ``importlib.invalidate_caches()``
      that PySpark runs at the start of every task -- most of a small
      task's worker CPU. An archive is still re-read once its mtime or
      size changes. A no-op on other CPython versions, and where the
      directory doesn't exist (a cluster executor without this checkout).
      Not set when the driver's interpreter has a ``sitecustomize`` of its
      own, so an environment's hook is never shadowed.
    - Codegen cache: ``spark.sql.codegen.cache.maxEntries`` = 1000 (Spark's
      default is 100). One ``near_dedup_minhash`` + ``connected_components``
      op compiles 110-118 distinct classes, so at 100 every dedup op evicts
      its own classes and the top-k ones and recompiles them (~10-20 ms each,
      1-2 CPU s a dedup op). The larger cache cost ~6 MB of metaspace over
      the test suite's first 275 tests.
    - ``spark.sql.ui.retainedExecutions`` = 100 (default 1000): the status
      store keeps every retained SQL execution's plan metrics on the heap,
      and nothing here reads them (job groups come from ``statusTracker``).
    Both are static confs: the first session in a JVM fixes them, so a
    session this function reuses keeps its own values.
    """
    return _builder(app_name).getOrCreate()


def _builder(app_name: str) -> SparkSession.Builder:
    """The configured builder behind :func:`get_spark`; tools that need a
    variant add their ``.config`` lines before ``getOrCreate()``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Gateway-mode note (round-9 soak forensics): Spark's default
    # pinned-thread py4j mode binds each Python thread to ONE socket; a
    # JavaObject finalizer firing while that thread sits between send and
    # receive inside ``send_command`` can interleave a MEMORY_DEL into
    # the same stream (py4j documents the hazard under ``auto_gc``) and
    # park the call forever. A MANY-PYTHON-THREAD driver (the 16-writer
    # soak shape) can export ``PYSPARK_PIN_THREAD=false`` before the JVM
    # launches to get the classic pooled gateway — measured here to
    # remove the single-socket interleave but to cost ~70% on Structured
    # Streaming queries (pool churn on the streaming progress/callback
    # chatter), and a rarer in-session stall was still observed under
    # BOTH modes. The engine itself never drives threads over py4j
    # (batch_extend is one job; production concurrent writers are
    # PROCESSES), so the session keeps Spark's default and the soak
    # contains the flake with an idempotent-op stall watchdog
    # (tests/test_concurrency_soak.py).
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        # manifest-mode reads hand Spark EXACT leaf-file lists (never a
        # directory tree), so "listing" is a per-path status fetch; the
        # default threshold (32) turns any read of a 33+-file snapshot
        # into a distributed listing JOB — a fixed ~0.2 s of scheduling
        # per read at local scale for work the driver does in
        # microseconds. Raised floor is env-tunable for deployments where
        # driver-side status fetches are the bottleneck (high-latency
        # object stores with huge manifests).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "512"),
        )
        # PySpark's error-site enrichment wraps every DataFrame API call
        # with a Python stack walk (plus a lazy IPython import probe) and
        # a py4j RPC pair to stamp the JVM-side origin — measured ~5% of
        # the driver time on commit-heavy lifecycles (hundreds of API
        # calls, KB-sized jobs). Worth paying only when debugging user
        # code, so default off here; re-enable per run via env. Scale
        # shape: pure driver/Python overhead, independent of data size.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory(_host_meminfo()),
        )
        .config("spark.ui.enabled", "false")
        # static confs, sized in get_spark's docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.ui.retainedExecutions", "100")
    )
    if importlib.util.find_spec("sitecustomize") is None:
        # Spark appends executorEnv's PYTHONPATH after pyspark.zip and py4j
        builder = builder.config("spark.executorEnv.PYTHONPATH", _WORKER_SITE)
    return builder


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the session's JVM has compiled from generated code so far
    (codegen cache misses); one py4j read, no Spark job."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def active_spark(df=None) -> SparkSession:
    """Resolve the session to use: the one behind ``df`` if given, else the
    active session. Library code uses this instead of building its own."""
    if df is not None:
        return df.sparkSession
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession; create one first")
    return s
