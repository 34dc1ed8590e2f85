"""SparkSession construction with scale-sane defaults.

The reference hand-rolls its cluster runtime (1 coordinator + 4 workers over
gRPC, reference coordinator/server.py:629-786); here the entire layer is a
``SparkSession``. Defaults chosen for the 100 TB target, applied identically
in local test mode:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switches replace any hand-tuning of
  the reference's fixed M×R task counts (reference design.md:67-108).
- **shuffle.partitions** — sized to cores locally; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` makes the initial number mostly moot.
- **UTC session timezone** — deterministic timestamp semantics and parity
  with the DuckDB oracle.
- **Arrow enabled** — every Python-side exchange (pandas UDFs, toPandas)
  is columnar/batched, never row-at-a-time pickle (the reference's
  intermediate format, reference task_executor.py:159-170).
- **Worker daemon** — Python workers start from :mod:`.worker_daemon`,
  whose guard stops CPython 3.11's ``importlib.invalidate_caches()`` (run
  by PySpark at the start of every task) from re-reading ``pyspark.zip``
  once per imported subpackage: about 0.2 s of worker CPU per task. It is a
  no-op for unchanged archives; one that changes on disk is re-read as
  before. Static confs, so sessions built elsewhere keep the stock daemon.
"""

from __future__ import annotations

import hashlib
import logging
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


#: Compressed input bytes per INITIAL shuffle partition. The initial
#: shuffle width only matters where AQE cannot resize it at runtime —
#: streaming state stores (partition count is frozen into the checkpoint
#: at query start) and explicit repartition(n, ...) pins — so it should
#: track DATA volume, not core count (r11 verdict: the 32-core bench ran
#: 15% slower than the 8-core run at sf0.1 because 17 MB of input paid
#: 32-way task scheduling and 32-partition state commits everywhere).
#: 2 MiB of compressed parquet is ~8-16 MiB in flight — small against the
#: guide's 100 MB-1 GB cluster band deliberately: at test SFs the binding
#: cost is per-task scheduling + per-partition state commits, and AQE
#: still coalesces every ENSURE_REQUIREMENTS exchange by its own advisory
#: size. On a cluster the same formula saturates at the core count (the
#: clamp below), where AQE coalescing takes over — so the knob never
#: needs cluster-side retuning, only the env override.
_SHUFFLE_TARGET_BYTES = 2 << 20

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _input_dir_bytes() -> int:
    """Total bytes under $SPARK_GRAFT_SF_DIR (0 = unknown)."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not d or not os.path.isdir(d):
        return 0
    total = 0
    for root, _dirs, files in os.walk(d):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def default_shuffle_partitions(cpus: int, size: int) -> int:
    """Initial shuffle width sized to the data (``size`` input bytes, from
    :func:`_input_dir_bytes`), clamped to the core count.

    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides (the cluster knob);
    without a known input dir the historical cores-sized default stands.
    """
    override = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0") or 0)
    if override > 0:
        return override
    if size <= 0:
        return cpus
    return max(1, min(cpus, -(-size // _SHUFFLE_TARGET_BYTES)))


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors via ``addPyFile``.

    Local mode forks Python workers that don't inherit the driver's
    ``sys.path`` mutations; on a real cluster this is exactly the
    ``--py-files`` deployment path. Zipping is cached per-process and the
    RDD/compat tier (the only Python-on-executor consumer) depends on it.
    """
    pkg_dir = _PKG_DIR
    # Stable digest (NOT built-in hash(), which is salted per process via
    # PYTHONHASHSEED): the cache path must be reproducible across
    # processes so reruns hit the same zip instead of accumulating stale
    # ones in the tempdir.
    digest = hashlib.sha1()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()  # make the walk order (and so the digest) deterministic
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                st = os.stat(full)
                rel = os.path.relpath(full, pkg_dir)
                digest.update(f"{rel}:{st.st_mtime_ns}:{st.st_size}\n".encode())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"cooler_mapreduce_spark_pkg_{digest.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception as e:
        # already added under another name, or context shutting down
        log.warning("addPyFile(%s) failed: %s", zip_path, e)


def get_session(app_name: str = "cooler-mapreduce-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a local SparkSession with the engine's defaults."""
    n = cpus or default_parallelism()
    spark = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config(
            "spark.sql.shuffle.partitions", str(default_shuffle_partitions(n, _input_dir_bytes()))
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.python.daemon.module", "cooler_mapreduce_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(_PKG_DIR))
        .getOrCreate()
    )
    ship_package(spark)
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally-built session.

    The driver contract hands us a ready SparkSession; static configs can't
    change then, but the semantics-critical ones (timezone, AQE, Arrow) are
    runtime-settable.
    """
    size = _input_dir_bytes()
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # Python-DataSource predicate pushdown (the tsv/synthetic
        # connectors implement pushFilters; the API asserts if this is
        # off while a reader implements it)
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # Data-proportional initial shuffle width (see
        # default_shuffle_partitions): runtime-settable, result-neutral
        # (tests pin invariance under shuffle.partitions), and the only
        # way the streaming state-store partition count tracks input
        # volume instead of the hosting session's core count. Only set
        # when the input dir (or the env override) actually determines a
        # value — otherwise the hosting session's own choice stands.
        *(
            (
                (
                    "spark.sql.shuffle.partitions",
                    str(
                        default_shuffle_partitions(
                            spark.sparkContext.defaultParallelism, size
                        )
                    ),
                ),
            )
            if size > 0
            or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0") or 0) > 0
            else ()
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # immutable in this deployment — accept the session's value
            log.warning("conf.set(%s) failed, keeping the session's value: %s", k, e)
    ship_package(spark)
    return spark
