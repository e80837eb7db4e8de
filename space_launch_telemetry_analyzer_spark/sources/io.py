"""Table IO: Iceberg-preferred, parquet-fallback result store.

The reference's sink is a JSON dump with a backup-path fallback
(results.py:52-95). Here results land in a bucket-partitioned table with
exactly-once-per-bucket semantics (dynamic partition overwrite), plus a
metrics table (per-partition lineage, north_rule) and a checkpoint table for
resume.

Iceberg: when an Iceberg catalog is configured on the session the same API
writes `writeTo(table)` instead of parquet paths. The sandbox has no Iceberg
runtime jar, so every write funnels through this one module and the Iceberg
branch is a config switch (SURVEY.md §7 "What's hard" #4). At 100 TB the
Iceberg path additionally gives snapshot isolation and bucket-transform
partitioning (`bucket(N, url)`) so the checkpoint table can be replaced by
snapshot metadata; the parquet layout mirrors that with explicit
`bucket=` directories.

Runtime-jar attempts (VERDICT r5 Next #8, one documented try per round):
r2-r5 — no jar on disk, no network. r6 (2026-08-18) — re-searched the
filesystem (`find / -iname '*iceberg*'`: nothing) and re-attempted
`spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13`,
which kills the gateway during ivy resolution (JAVA_GATEWAY_EXITED — no
route to Maven Central). The branch remains shape-tested; promote the
shape tests to integration tests the first time a jar resolves.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on this session's classpath.
    Only the JVM's answer to the class lookup (ClassNotFoundException,
    raised as Py4JJavaError) means "no"; any other failure propagates."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Py4JJavaError:
        return False


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the session's Hadoop FileSystem, so local,
    HDFS and object-store roots answer alike."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return bool(jpath.getFileSystem(conf).exists(jpath))


@dataclass
class ResultStore:
    """One root, three tables: results/, metrics/, checkpoints/."""

    root: str
    use_iceberg: bool = False  # set True only when catalog+jar present

    @property
    def results_path(self) -> str:
        return os.path.join(self.root, "results")

    @property
    def metrics_path(self) -> str:
        return os.path.join(self.root, "metrics")

    @property
    def checkpoints_path(self) -> str:
        return os.path.join(self.root, "checkpoints")

    # -- DDL: Iceberg bucket-transform table layout ---------------------------
    def create_tables(self, spark: SparkSession, n_buckets: int = 256) -> list[str]:
        """Issue the Iceberg DDL the store expects at cluster scale and
        return the statements (for shape tests / dry runs). The results
        table partitions by (run_id, bucket(n_buckets, url)) — Iceberg's
        hash-bucket transform, the catalog-native analog of the parquet
        branch's explicit bucket= directories — so dynamic partition
        overwrite replaces exactly one (run, bucket) slice and scans
        partition-prune on both. No-op (empty list) on the parquet branch:
        there the layout IS the directory scheme, created by the writes.

        Cites the reference sink results.py:52-95 (its mkdir-equivalent
        setup step); format-version 2 for merge-on-read deletes."""
        if not self.use_iceberg:
            return []
        from ..schema import CHECKPOINT_SCHEMA, EXTRACTION_SCHEMA, METRICS_SCHEMA

        def cols(st, extra=()):
            # derive column DDL from the declared StructTypes — the single
            # source of truth — so the catalog layout can't drift from the
            # frames the writes actually carry
            return ", ".join(
                [f"{f.name} {f.dataType.simpleString()}" for f in st.fields]
                + list(extra)
            )

        props = "TBLPROPERTIES ('format-version'='2')"
        stmts = [
            f"CREATE TABLE IF NOT EXISTS {self._tbl('results')} "
            f"({cols(EXTRACTION_SCHEMA, ('run_id string',))}) USING iceberg "
            f"PARTITIONED BY (run_id, bucket({n_buckets}, url)) {props}",
            f"CREATE TABLE IF NOT EXISTS {self._tbl('metrics')} "
            f"({cols(METRICS_SCHEMA)}) USING iceberg "
            f"PARTITIONED BY (run_id) {props}",
            f"CREATE TABLE IF NOT EXISTS {self._tbl('checkpoints')} "
            f"({cols(CHECKPOINT_SCHEMA)}) USING iceberg "
            f"PARTITIONED BY (run_id) {props}",
        ]
        for s in stmts:
            spark.sql(s)
        return stmts

    # -- results: (run_id?, bucket)-partitioned, overwrite-per-partition -----
    def write_results(self, df: DataFrame) -> None:
        """Dynamic partition overwrite: re-running a bucket replaces exactly
        that bucket's partition — the exactly-once-per-bucket contract the
        checkpoint/resume logic relies on.

        When the frame carries run_id it leads the partition spec, so two
        runs sharing one store root own DISJOINT partitions: run B
        re-writing bucket 17 replaces only (run_id=B, bucket=17), never run
        A's rows — and every run_id-scoped read-back (audit, metrics)
        partition-prunes instead of scanning other runs. (Partitioning only
        by bucket would let dynamic overwrite silently destroy a sibling
        run's bucket while its checkpoint still marks it complete.)"""
        if self.use_iceberg:
            df.writeTo(self._tbl("results")).overwritePartitions()
            return
        parts = (["run_id"] if "run_id" in df.columns else []) + ["bucket"]
        # the writer option scopes dynamic overwrite to this one write; the
        # session-wide conf would race with concurrent writes on the session
        (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy(*parts).parquet(self.results_path))

    def read_results(self, spark: SparkSession) -> DataFrame:
        if self.use_iceberg:
            return spark.read.format("iceberg").load(self._tbl("results"))
        return spark.read.parquet(self.results_path)

    # -- metrics: append-only lineage rows ------------------------------------
    def write_metrics(self, df: DataFrame) -> None:
        if self.use_iceberg:
            df.writeTo(self._tbl("metrics")).append()
        else:
            df.write.mode("append").parquet(self.metrics_path)

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        if self.use_iceberg:
            return spark.read.format("iceberg").load(self._tbl("metrics"))
        return spark.read.parquet(self.metrics_path)

    # -- checkpoints: append-only (bucket completion marks) --------------------
    def write_checkpoint(self, df: DataFrame) -> None:
        if self.use_iceberg:
            df.writeTo(self._tbl("checkpoints")).append()
        else:
            df.write.mode("append").parquet(self.checkpoints_path)

    def completed_buckets(self, spark: SparkSession, run_id: str) -> DataFrame | None:
        """Buckets already finished for this run_id, or None if no checkpoint
        exists yet. Small by construction (≤ n_buckets rows) — broadcast it.

        Only a missing checkpoint table means "nothing done yet": a checkpoint
        that exists but cannot be read raises, instead of silently re-running
        every bucket."""
        if self.use_iceberg:
            if not spark.catalog.tableExists(self._tbl("checkpoints")):
                return None
            cp = spark.read.format("iceberg").load(self._tbl("checkpoints"))
        else:
            if not _path_exists(spark, self.checkpoints_path):
                return None
            cp = spark.read.parquet(self.checkpoints_path)
        return cp.where(F.col("run_id") == run_id).select("bucket").distinct()

    def _tbl(self, name: str) -> str:
        return f"{self.root}.{name}" if "." in self.root else f"{self.root}_{name}"
