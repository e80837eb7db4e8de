"""SparkSession factory tuned for the extraction workload.

Mirrors the reference's process-model decisions (spawn pool sizing,
`processing/video_processing/batch_processing.py:106-121`) as Spark config:
parallelism comes from partitions x executor cores, Arrow is always on for
the pandas-UDF boundary (no per-row Python anywhere), and AQE handles
runtime re-planning. All knobs live here so tests/bench/jobs agree.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# Arrow batches are capped twice, session-wide, and whichever binds first
# closes the batch: the analog of the reference's batch_size=10 frames
# (main_processing.py:17) scaled for text rows instead of decoded video
# frames. The row cap is the A/B-measured size for small rows (BENCH.md:
# 8192 beats 2048 by ~35% at 32 cores; 16384 regressed; ~25 MB per batch at
# 3 KB/doc). The byte cap bounds memory per in-flight batch whatever the row
# width: real Common-Crawl html is ~100 KB/page, where 8192 rows would be
# ~800 MB. Spark closes a batch once it reaches the byte cap, so a batch
# overshoots the cap by at most one row.
ARROW_MAX_RECORDS = 8192
ARROW_MAX_BYTES = 32 << 20


def get_spark(
    app_name: str = "sla-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]) in the
    sandbox; on a real cluster callers pass nothing and spark-submit decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode runs everything in the driver JVM: size it for
        # 32 concurrent tasks x multi-MB Arrow batches (default 1g OOMs);
        # ParallelGC beats G1 ~14% on this Arrow-heavy throughput workload
        # (A/B in BENCH.md)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # deterministic timestamp semantics for oracle parity
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow on for every pandas-UDF boundary (input_hint: no per-row Python)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES))
        # AQE: runtime coalescing + skew handling for the relational layer
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UDF-heavy scans need more splits than the 128MB default yields —
        # a 2GB input would give ~15 tasks and idle half of a 32-core box
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # keep driver results small; jobs write tables, they don't collect
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` deployment (the
    SURVEY.md §3 EP1 worker-init boundary: executors must be able to import
    the extraction kernel's module, the way the reference's ProcessPool
    initializer re-materializes worker state, batch_processing.py:139-157)."""
    pkg_dir = Path(__file__).resolve().parent
    # per-process path: concurrent drivers must not race on one zip file
    dest = dest or os.path.join(
        tempfile.gettempdir(), f"{pkg_dir.name}-pyfiles-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_dir.rglob("*.py")):
            zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
    return dest


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executors regardless of driver CWD.
    Idempotent; no-op on Connect sessions without a SparkContext."""
    sc = getattr(spark, "sparkContext", None)
    if sc is None:
        return
    flag = "_sla_spark_pkg_shipped"
    if getattr(sc, flag, False):
        return
    sc.addPyFile(build_pyfiles_zip())
    setattr(sc, flag, True)
