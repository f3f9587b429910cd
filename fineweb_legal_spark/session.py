"""SparkSession factory tuned for this engine.

local[N] in the sandbox; the same configs are the ones we'd set on a real
multi-executor cluster (AQE, Arrow). Two things differ. The shuffle width:
in local mode it is the session's slot count, on a cluster master it is
whatever spark-submit (or Spark's default) sets. And the Python worker
daemon: a local session whose workers can import the library starts
``worker_daemon``, anything else keeps Spark's ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import site
from datetime import timezone

import pyarrow as pa
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_MAX_HEAP_GIB = 16
DAEMON_KEY = "spark.python.daemon.module"
DAEMON_MODULE = "fineweb_legal_spark.worker_daemon"


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for local mode: 40 % of MemTotal in whole GiB, at
    least 1g and capped at 16g (6g on a 15.7 GiB host, 16g from 40 GiB
    up). The heap is pinned and pre-touched below, so it must leave the
    Python workers and the OS room on a host with no swap; a fixed 16g
    cannot even be mapped on a 15 GB one."""
    with open(meminfo) as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1, min(_MAX_HEAP_GIB, int(kib / 2**20 * 0.4)))}g"


def slots_known_at_start(master: str) -> bool:
    """True for ``local``, ``local[N]``, ``local[N,F]`` and ``local[*]``:
    their slots exist once the session starts. A cluster master's
    executors (``spark://…``, ``local-cluster[…]``, yarn, k8s) register
    later, so its defaultParallelism read at start-up is a placeholder."""
    return master == "local" or master.startswith("local[")


def worker_daemon_conf(
    master: str, extra_conf: dict[str, str], package_parent: str, import_dirs: list[str]
) -> str | None:
    """The ``spark.python.daemon.module`` that ``get_spark`` sets:
    ``DAEMON_MODULE`` (pyspark off a zipimporter, see ``worker_daemon``),
    or None to keep Spark's ``pyspark.daemon``.

    Set only when all hold: the master is local, so its workers run on
    this host; neither the caller (``extra_conf``) nor spark-submit has
    set the key; and the library comes from a plain directory
    (``package_parent``, the directory holding ``fineweb_legal_spark/``)
    that a local worker also imports from (``import_dirs``). The daemon
    starts before any task, so a ``--py-files`` zip, which reaches the
    workers per task, cannot hold it."""
    if (
        not slots_known_at_start(master)
        or DAEMON_KEY in extra_conf
        or _submitted(DAEMON_KEY)
        or not os.path.isdir(package_parent)
    ):
        return None
    here = os.path.realpath(package_parent)
    return DAEMON_MODULE if any(os.path.realpath(d) == here for d in import_dirs) else None


def _worker_import_dirs() -> list[str]:
    """Where a local worker imports from before its first task: its cwd
    (``python -m`` puts it first; a local worker shares the driver's),
    the PYTHONPATH it inherits, and site-packages."""
    dirs = [os.getcwd(), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    dirs += site.getsitepackages()
    if site.ENABLE_USER_SITE:
        dirs.append(site.getusersitepackages())
    return dirs


def _submitted(key: str) -> bool:
    """True when spark-submit set ``key`` (``--conf`` or
    spark-defaults.conf). A Python driver that spark-submit started finds
    its JVM through PYSPARK_GATEWAY_PORT, and that JVM's SparkConf holds
    the submitted values before any context exists."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return False
    SparkContext._ensure_initialized()
    return SparkConf().contains(key)


def get_spark(
    master: str | None = None,
    app_name: str = "fineweb_legal_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    master = master or f"local[{cpus}]"
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    # Python UDF workers inherit this env (driver -> JVM -> daemon -> fork).
    # Keep glibc from returning freed arena memory to the kernel: page
    # faults are pathologically slow in this microVM (~0.2-0.8 GB/s commit)
    # and per-Arrow-batch mmap/munmap churn across 32 workers re-faults the
    # same memory thousands of times.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m advisory lets AQE coalesce the dedup-window shuffle
        # below the core count (11 partitions for ~700MB → 32 cores idle)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: driver heap is the ONLY executor memory pool. Heap
        # sizing on this microVM is dominated by a pathology: the guest
        # commits memory at only ~0.2-0.8 GB/s (EPT faults + TLB-shootdown
        # IPI storms; THP makes it WORSE), so concurrent heap growth under
        # 32 allocating tasks put the kernel at ~99% system time for
        # minutes — the round-1 'local[32] slower than local[8]' scaling
        # anomaly. Fix: a MODEST heap, pinned (-Xms=-Xmx) and pre-touched
        # once at startup (~15 s one-time), exactly the discipline real
        # cluster executors use (Xms=Xmx, live for hours). The size comes
        # from the host (default_driver_memory; SPARK_DRIVER_MEM
        # overrides); its 16g cap is enough for 32 window/sort tasks on
        # the 2M-turn bench (probe records spill_mb to verify).
        .config("spark.driver.memory", mem)
        # G1 pause goal relaxed for batch throughput: the default 200 ms
        # goal makes G1 keep the young gen SMALL under a high allocation
        # rate — the pair-expansion joins (exact-jaccard member
        # expansion, ~300M short-lived rows/run) then spent 57% of task
        # time in young GC (stage taskSummary: 310 s GC / 548 s run). A
        # 1500 ms goal lets G1 grow young adaptively and cut that branch
        # 13.9 -> 4.6 s steady; pipeline and the Arrow-kernel queries
        # measured neutral inside their noise bands. Pause latency is
        # irrelevant to a batch engine; the flag is standard (no
        # experimental unlock) and G1 stays free to shrink young again
        # under old-gen pressure.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                f"-Xms{mem} -XX:+AlwaysPreTouch -XX:MaxGCPauseMillis=1500",
            ),
        )
        .config("spark.ui.enabled", "false")
        # Generated-code cache (static; Spark's default is 100 classes,
        # LRU). One ops_suite cycle (perfbench) needs ~177 distinct
        # classes and transcript_repairs_t2 alone 140, so at 100 every
        # execution evicted its own classes, recompiled them with Janino
        # and had C2 JIT them again as new classes (2-3 CPU-s per
        # transcript_repairs_t2 run). One pass of the whole 50-query
        # registry at sf0.01 (tools/check_correctness.py) compiles
        # 1,139 classes. A second execution of a plan compiles nothing
        # while the session's working set fits (pytest-pinned).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    daemon = worker_daemon_conf(
        master,
        extra_conf or {},
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        _worker_import_dirs(),
    )
    if daemon:
        b = b.config(DAEMON_KEY, daemon)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # local mode: shuffle width = the session's slot count, unless the
    # caller (or spark-submit) configured it; operators read it through
    # operators/parallel.py. Any other master is left to spark-submit or
    # Spark's default: a standalone master reports 2 slots until its
    # executors register, which would fix every shuffle of the job at 2.
    key = "spark.sql.shuffle.partitions"
    sc = spark.sparkContext
    if (
        slots_known_at_start(sc.master)
        and key not in (extra_conf or {})
        and not sc.getConf().contains(key)
    ):
        spark.conf.set(key, str(sc.defaultParallelism))
    return spark


def arrow_table(rows: list[tuple], schema: T.StructType | str) -> pa.Table:
    """``rows`` (tuples in ``schema``'s field order) as a ``pyarrow.Table``
    of ``schema``'s Arrow types; ``schema`` may be a DDL string.

    The one way the library turns driver-side rows into a frame:
    ``spark.createDataFrame(arrow_table(rows, schema))`` plans as a
    ``LocalTableScan`` and starts no Python task, where a Python list
    plans as ``Scan ExistingRDD`` over a Python RDD. Beside SQL Python
    UDFs that RDD also runs in a second Python worker pool of its own.

    A naive datetime in a ``TimestampType`` column is read as local time,
    as Spark reads one (pyspark also hands observed timestamps back as
    naive local datetimes), and stored as its UTC instant."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    arrays = []
    for col, field in zip(cols, arrow_schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = [v if v is None else v.astimezone(timezone.utc) for v in col]
        arrays.append(pa.array(col, field.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def explain_formatted(df) -> str:
    """Formatted physical-plan text of a DataFrame.

    Single home for the private-API touchpoint (``_sc._jvm`` /
    ``PythonSQLUtils``) used by the plan-shape tests and the plan-audit
    tool, so a pyspark upgrade that moves it is a one-line fix.
    """
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def codegen_compiles(spark) -> int:
    """Classes the JVM has compiled with Janino since it started
    (Spark's ``CodegenMetrics`` compile counter; a cache hit compiles
    nothing). Read it before and after an action to count that action's
    compiles. Single home for this private-API touchpoint."""
    return (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
        .getCount()
    )
