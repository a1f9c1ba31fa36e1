"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it regardless of the
    driver's cwd — the local-mode equivalent of ``spark-submit
    --py-files vyntr_spark.zip`` (north-rule packaging contract)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "vyntr_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return out


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to the Python workers of an externally-built
    session (the ``--py-files`` contract for sessions that didn't come
    from :func:`get_spark`). Idempotent — re-adding the same zip path is
    a no-op for Spark."""
    sc = spark.sparkContext
    if not getattr(sc, "_vyntr_pyfiles_added", False):
        sc.addPyFile(_package_zip())
        sc._vyntr_pyfiles_added = True


def local_scratch_dir() -> str | None:
    """Scratch directory for LOCAL-mode shuffle/spill files: tmpfs
    (/dev/shm) when present, else None (Spark default /tmp). On a real
    cluster the cluster manager sets SPARK_LOCAL_DIRS to the executors'
    local SSD array and this is never consulted; in this sandbox the
    disk-backed /tmp rides a shared virtio device whose minute-scale
    stalls show up as multi-core system time in the bench host telemetry,
    while shuffle files are small (frontier/analyses rows, never the html
    corpus) and fit tmpfs easily. VYNTR_LOCAL_DIR overrides."""
    override = os.environ.get("VYNTR_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "vyntr_spark_local")
        os.makedirs(d, exist_ok=True)
        return d
    return None


#: Iceberg runtime coordinates for the production path (SURVEY.md §0:
#: no jar ships in this offline sandbox, so the SnapshotTable parquet
#: fallback serves all tests/bench; a cluster deployment passes these
#: via ``get_spark(extra=iceberg_configs(...))`` or spark-submit
#: ``--packages``). The artifact's Spark-minor segment MUST match the
#: cluster's Spark — Iceberg publishes one runtime per (Spark minor,
#: Scala) pair, and 4.0_2.13 is the newest published line as of Iceberg
#: 1.10; deployments on a later Spark minor override ICEBERG_PACKAGE
#: (or pass their own spark.jars.packages) once the matching runtime
#: ships. Resolution is checked at session start, not here — this
#: module stays offline-importable.
ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_configs(catalog: str = "vyntr",
                    warehouse: str = "/warehouse",
                    impl: str = "hadoop") -> dict[str, str]:
    """Config map enabling an Iceberg catalog on a session — the
    production storage target the SnapshotTable fallback stands in for
    (tables.py module docstring). Pure config construction: safe to
    build and assert offline (tests/test_spark_submit.py smoke-checks
    it so the flag path can't bit-rot), only the jar download needs a
    network. ``impl`` is 'hadoop' (path-based, the bench analog) or
    'rest' (catalog server; set ``spark.sql.catalog.<name>.uri`` too).
    """
    cat = f"spark.sql.catalog.{catalog}"
    cfg = {
        "spark.jars.packages": ICEBERG_PACKAGE,
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
        cat: "org.apache.iceberg.spark.SparkCatalog",
        f"{cat}.type": impl,
    }
    if impl == "hadoop":
        cfg[f"{cat}.warehouse"] = warehouse
    return cfg


def host_cpus() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS``, else every core."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def size_bench_session() -> int:
    """Size a benchmark script's local session to the host it runs on;
    returns :func:`host_cpus`. The driver heap is fixed and pre-touched
    (a fresh JVM growing its heap mid-round stalls on kernel
    page-zeroing inside the timed region) at min(16 GiB, MemTotal / 4).
    ``SPARK_DRIVER_MEM`` and ``VYNTR_DRIVER_JAVA_OPTS`` override."""
    try:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        mem = 16 << 30
    heap_mb = min(16 << 30, mem // 4) >> 20
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{heap_mb}m")
    os.environ.setdefault("VYNTR_DRIVER_JAVA_OPTS",
                          f"-Xms{heap_mb}m -XX:+AlwaysPreTouch")
    return host_cpus()


def get_spark(
    app_name: str = "vyntr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = host_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # sized per run, recorded in BENCH (SURVEY.md §4)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF exchange (vectorized hot path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # sized for fat rows (tens-of-KB html): 512 × ~35 KB ≈ 18 MB per
        # in-flight Arrow batch per worker — bounded JVM+worker memory at
        # 32 concurrent workers (2048 caused GC churn on the crawl path)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 ICU-backed lower()/upper() pays a ~45 s one-time class
        # init (CollationAwareUTF8String) that stalls every executor thread
        # mid-job; JVM case mapping is semantically identical for ASCII and
        # matches DuckDB's simple UTF-8 mapping (oracle parity).
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # JVM<->Python-worker channel pinned to loopback TCP: Spark 4.1's
        # default follows the PYSPARK_UDS_MODE env var, and an AF_UNIX
        # (SPARK-51596) A/B on 120k-page crawls showed no gain over TCP.
        .config("spark.python.unix.domain.socket.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("VYNTR_DRIVER_JAVA_OPTS"):
        # perf knob (e.g. "-Xms16g -XX:+AlwaysPreTouch"): pre-faulting
        # the heap at JVM start moves the kernel page-zeroing cost of
        # first-round heap growth out of the measured region — the
        # local-mode analog of a warm long-lived executor JVM
        b = b.config("spark.driver.extraJavaOptions",
                     os.environ["VYNTR_DRIVER_JAVA_OPTS"])
    scratch = local_scratch_dir()
    if scratch and master.startswith("local"):
        b = b.config("spark.local.dir", scratch)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ensure_pyfiles(spark)
    return spark
