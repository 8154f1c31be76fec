"""SparkSession builder with the engine's scale-oriented defaults.

Single place where execution knobs live, so tests / bench / driver entry all
run identical configs. Defaults target the sandbox (local[N], 128 GiB) but
every knob is what we would ship to a 1000-executor cluster:

- AQE on (runtime coalescing + skew-join splitting),
- Arrow pandas-UDF batches capped so multi-MB html blobs cannot blow an
  executor's Arrow buffer (SURVEY.md §4.2.4),
- shuffle partitions sized for the local core count (cluster deploys override
  via spark.sql.shuffle.partitions on submit).

It also owns the cache policy for relations an operator persists and
leaves for lazy consumers (``scoped_persist``) and the lineage-cut policy
of the iterative operators (``lineage_cut``).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# Arrow batch cap: html blobs average ~3-8 KiB at test scale but hot-domain
# pages are boosted 6x; 2048 rows/batch keeps a batch well under 64 MiB even
# at 100x the synthetic blob size (SURVEY.md §4.2.4 spill safety).
ARROW_MAX_RECORDS = 2048


# the relation each scoped_persist key's latest call left cached
_SCOPED: dict[str, DataFrame] = {}


def scoped_persist(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK as the one cached relation of
    ``key``, first evicting whatever the previous call under ``key`` left.

    For a relation that must outlive the call that persists it: the
    operator returns a lazy DataFrame, so unpersisting before it runs
    would silently undo the cache, yet a long-lived session (the
    streaming top-up curates every micro-batch) must not gain one cached
    relation per call. Policy: one cached relation per key per session.

    Evict BEFORE persist: ``persist`` of a plan that is already cached is
    a no-op, so when a repeated call builds an identical plan, evicting
    the predecessor afterwards would uncache the new result too."""
    prev = _SCOPED.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Py4JError:
            pass  # session already stopped — nothing to release
    _SCOPED[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _SCOPED[key]


def lineage_cut(df: DataFrame) -> DataFrame:
    """``df`` materialized with its lineage cut, so an iterative plan
    stays flat instead of growing every round. With a checkpoint dir set
    on the session this is a reliable ``checkpoint``: it survives an
    executor loss mid-iteration. Without one (local mode) it is
    ``localCheckpoint``, whose blocks live in executor memory."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# tmpfs spill is RAM-backed: require this much headroom or fall back to
# disk, so a big shuffle spills instead of OOMing the box
_SHM_MIN_FREE_BYTES = 8 << 30


def _local_dir() -> str:
    """Shuffle/spill scratch: tmpfs when present AND roomy (the sandbox's
    virtio disk adds noise, but tmpfs 'spill' still consumes host RAM — a
    shuffle larger than free /dev/shm must go to real disk instead of
    OOMing); on a real cluster this is per-node NVMe via spark-defaults.
    SPARK_LOCAL_DIRS always wins when set."""
    explicit = os.environ.get("SPARK_LOCAL_DIRS")
    if explicit:
        return explicit
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
            d = "/dev/shm/spark-local"
            os.makedirs(d, exist_ok=True)
            return d
    return "/tmp"


def _export_pythonpath() -> None:
    """Make the package importable from a bare child process: worker
    daemons are spawned with `python -m ocr_platform_spark.spark_daemon`,
    which sees only PYTHONPATH/cwd — not the driver's sys.path edits."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + current if current else ""))


def build_spark(app_name: str = "ocr-platform-spark",
                cores: int | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session. ``cores`` only matters for local mode.

    Under ``spark-submit`` (detected via the gateway env var the launcher
    exports before starting this interpreter) the submit-line master /
    driver memory / scratch dir are authoritative — a hard-coded
    ``.master("local[n]")`` here would silently demote a
    ``--master local-cluster[...]``/YARN submit back to single-JVM local
    mode, so those knobs are only applied for self-launched sessions."""
    _export_pythonpath()
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    n = cores or default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    # Builder options override submit-line --conf, so under spark-submit the
    # driver-core-derived shuffle-partitions default must NOT be applied:
    # it would silently cap cluster shuffle parallelism at the driver box's
    # core count. Submit deploys set it on the submit line (or inherit
    # Spark's default + AQE coalescing); an explicit argument still wins.
    sp = shuffle_partitions or (None if under_submit else max(2 * n, 8))
    if sp is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(sp))
    if not under_submit:
        builder = (builder
                   .master(f"local[{n}]")
                   .config("spark.local.dir", _local_dir())
                   .config("spark.driver.memory",
                           os.environ.get("SPARK_DRIVER_MEM", "8g"))
                   # preload pandas/pyarrow in the worker daemon so forked
                   # workers start warm — kills the N-simultaneous-cold-
                   # imports cliff on wide executors (spark_daemon.py).
                   # Self-launched sessions only: Spark spawns the daemon
                   # BEFORE the --py-files includes reach a worker's
                   # sys.path, so on a submit deploy the module resolves
                   # only if it is executor-resident — opt in on the
                   # submit line (see run_extract.py) with
                   #   --conf spark.python.daemon.module=ocr_platform_spark.spark_daemon
                   #   --conf spark.executorEnv.PYTHONPATH=<dir with the package>
                   # a bare --py-files zip deploy runs with the stock
                   # daemon and cold-imports once per worker instead.
                   .config("spark.python.daemon.module",
                           "ocr_platform_spark.spark_daemon"))
    return (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
        # saveAsTable targets (bucketed layouts) land in scratch, never in
        # the process cwd; real deploys point this at the lake catalog
        .config("spark.sql.warehouse.dir",
                os.path.join(_local_dir(), "spark-warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
