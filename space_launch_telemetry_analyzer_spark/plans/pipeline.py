"""The flagship extraction job (SURVEY.md §3 EP1 re-expressed, §4 plan sketch):

    scan pages (column-pruned: url, warc_ts, html [, row_idx])
      -> resume filter (anti-join vs checkpointed buckets — broadcast)
      -> mapInArrow extraction kernel on the scan splits (the one Python stage)
      -> url-hash bucket + host-salt repartition        (explicit, north_rule)
      -> write results (bucket-partitioned, overwrite-per-bucket)
      -> per-partition lineage/metrics rows             (ST4/A3 analog)
      -> checkpoint rows (resume marks)

Scale design notes (the part that must hold at 10^12 rows / 1000 executors):
- the ONLY wide shuffle is the explicit repartition AFTER the kernel (it
  feeds the bucket-partitioned write); its key is (bucket, salt) — url-hash
  buckets are uniform by construction, and the salt splits any residual
  heavy key (e.g. when callers bucket by host for per-host series locality
  instead). It runs after the kernel on purpose: raw html is the widest
  column in the job, and shuffling it BEFORE the Python stage serializes a
  full-corpus disk+memory pass; after, the exchange carries only the
  extracted columns and its write pipelines inside the Python-bound stage
  (r3 measured: 6.81 -> 4.67 s at local[32]/100k pages, kernel-only floor
  4.59 s).
- nothing aggregates globally: metrics are per-partition, checkpoints
  per-bucket; the anti-join side is ≤ n_buckets rows and broadcast.
- resume cost is one scan-side filter (bucket pruning pushes to the reader
  when the input itself is bucket-partitioned, e.g. Iceberg bucket(N, url)).
- the kernel's Arrow batches are bounded in bytes by the session-wide cap
  set once in session.get_spark (session.ARROW_MAX_BYTES), whatever the page
  size; the job writes no session conf, so concurrent runs on one session
  share nothing mutable.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages, url_bucket
from ..rules import RuleConfig, default_config
from ..sources.io import ResultStore

DEFAULT_N_BUCKETS = 256


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Derive the host column JVM-side (regexp, codegen'd)."""
    return df.withColumn("host", F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1))


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS, url_col: str = "url") -> DataFrame:
    """url-hash bucket column (north_rule layout): the same url_bucket
    expression the extraction kernel stamps on results."""
    return df.withColumn("bucket", url_bucket(F.col(url_col), n_buckets))


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    keys: list[str],
    salt_mod: int = 4,
    salt_source: str = "url",
) -> DataFrame:
    """Repartition by (keys..., salt) where salt is a deterministic hash of a
    high-cardinality column — splits any heavy key (mega-host ≈ 30% of rows
    in the synthetic fixture) across `salt_mod` partitions. The reference's
    analog is fixed-size frame batches across a process pool
    (batch_processing.py:18-32,139-157); Spark needs the salt *only* when the
    partition key itself is skewed."""
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt_mod)).cast("int")
    )
    return salted.repartition(num_partitions, *[F.col(k) for k in keys], F.col("__salt")).drop(
        "__salt"
    )


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    store: ResultStore,
    cfg: RuleConfig | None = None,
    run_id: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    salt_mod: int = 4,
    row_idx_col: str | None = "row_idx",
    input_is_bucketed: bool = False,
    audit: bool = True,
) -> dict:
    """Execute the flagship job; returns a small summary dict (counts only —
    no data is collected to the driver).

    Metrics/lineage design: global totals ride the WRITE action itself via
    df.observe() (zero extra scans) and a collect_set('bucket') observation
    supplies the checkpoint marks, so with audit=False the job is exactly one
    pass over the input and zero passes over the output. When the store
    already holds checkpoints, counting this run_id's completed buckets adds
    one small job over them. audit=True (default)
    adds ONE column-pruned read-back of the rows this run actually wrote —
    write-audit, not plan-audit — to produce per-(partition, bucket) lineage
    rows; results carry a run_id column so a shared store root never leaks
    other runs' rows into this run's metrics or checkpoint marks."""
    cfg = cfg or default_config()
    run_id = run_id or uuid.uuid4().hex[:12]
    if num_partitions is None:
        # sizes the POST-KERNEL (bucket, salt) exchange feeding the
        # partitioned write (r3: the kernel itself runs on scan splits —
        # BENCH.md #17). 5/core keeps written files reasonably sized and the
        # exchange tasks short; JVM-side only, so width here is cheap.
        num_partitions = spark.sparkContext.defaultParallelism * 5

    bucketed = with_bucket(pages, n_buckets)

    # -- resume: drop buckets already completed for this run_id ---------------
    done = store.completed_buckets(spark, run_id)
    n_skipped_buckets = 0
    if done is not None:
        n_skipped_buckets = done.count()
        if n_skipped_buckets:
            bucketed = bucketed.join(F.broadcast(done), "bucket", "left_anti")

    # -- the one Python stage runs directly on the SCAN splits; the explicit
    # (bucket, salt) layout shuffle moves AFTER it (below). Measured r3,
    # local[32], 100k pages, warm-vs-warm: pre-kernel html shuffle 6.81 s vs
    # post-kernel result shuffle 4.67 s (kernel-only floor 4.59 s) — the raw
    # html bytes are the widest thing in the job, and shuffling them before
    # the kernel serializes a full-corpus disk+memory pass against the
    # Python stage; shuffled AFTER, the exchange write pipelines inside the
    # Python-bound stage (JVM threads overlap the busy workers) and carries
    # the smaller extracted columns instead. The kernel is per-row, so its
    # input layout is irrelevant; at 10^12 rows scan splits >> cores keeps
    # the stage wide (below that, lower spark.sql.files.maxPartitionBytes).
    # Results keep (partition_id, input_bytes, proc_seconds) as lineage
    # columns and are stamped with run_id so every downstream audit/metric/
    # checkpoint is scoped to THIS run.
    from pyspark.sql import Observation

    obs = Observation("extract-metrics")
    t0 = time.time()
    # width fallback: a compact input (one big file, a single-row-group
    # ingest) can scan in fewer splits than cores, which would serialize
    # the job's bottleneck stage — there, the OLD arrangement (pre-kernel
    # salted repartition, no post exchange) is strictly better than a
    # 1-core kernel. At corpus scale splits >> cores and this never fires.
    kernel_input = bucketed
    pre_shuffled = False
    if not input_is_bucketed:
        width = spark.sparkContext.defaultParallelism
        if bucketed.rdd.getNumPartitions() < width:
            kernel_input = salted_repartition(
                bucketed, num_partitions, ["bucket"], salt_mod
            )
            pre_shuffled = True
    extracted = extract_pages(
        kernel_input, cfg, row_idx_col=row_idx_col, n_buckets=n_buckets
    )
    # -- explicit partition layout: url-hash bucket + salt ---------------------
    # Feeds the bucket-partitioned write. When the input table is ALREADY
    # bucket-clustered (Iceberg bucket(N,url) transform, or a bucket=NN
    # parquet layout), even this shuffle is pure cost: scan splits are
    # bucket-aligned and the kernel preserves them, so skip it — at 10^12
    # rows this deletes a full-corpus network+disk pass. The checkpoint
    # anti-join keeps working either way (bucket pruning pushes to the
    # reader).
    if input_is_bucketed or pre_shuffled:
        arranged = extracted
    else:
        arranged = salted_repartition(extracted, num_partitions, ["bucket"], salt_mod)
    results = (
        arranged
        .withColumn("run_id", F.lit(run_id))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0)).alias("n_empty"),
            F.sum("input_bytes").alias("input_bytes"),
            F.sum(F.coalesce(F.length("extracted_text"), F.lit(0))).alias("output_chars"),
            F.sum("proc_seconds").alias("wall_seconds"),
            F.collect_set("bucket").alias("buckets"),
        )
    )
    store.write_results(results)
    wall = time.time() - t0
    # observation resolved by the write action — no extra scan (values are
    # None when the resume filter left zero rows to write)
    g = {k: v for k, v in obs.get.items()}
    n_rows, n_errors = int(g.get("n_rows") or 0), int(g.get("n_errors") or 0)

    if audit:
        # ONE column-pruned read-back of this run's rows (write-audit): per-
        # (extraction partition, bucket) lineage; metrics is tiny — persist it
        # and derive the checkpoint marks from it instead of re-scanning
        fresh = store.read_results(spark).where(F.col("run_id") == run_id)
        if n_skipped_buckets:
            fresh = fresh.join(F.broadcast(done), "bucket", "left_anti")
        metrics = fresh.groupBy("partition_id", "bucket").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0)).alias("n_empty"),
            F.sum("input_bytes").alias("input_bytes"),
            F.sum(F.coalesce(F.length("extracted_text"), F.lit(0))).alias("output_chars"),
            F.sum("proc_seconds").alias("wall_seconds"),
        ).select(
            F.lit(run_id).alias("run_id"), "partition_id", "bucket", "n_rows",
            "n_errors", "n_empty", "input_bytes", "output_chars", "wall_seconds",
        ).persist()
        store.write_metrics(metrics)
        store.write_checkpoint(
            metrics.groupBy("bucket").agg(F.sum("n_rows").alias("n_rows"))
            .select(F.lit(run_id).alias("run_id"), "bucket", "n_rows")
        )
        metrics.unpersist()
    else:
        # zero read-back: one global metrics row from the observation
        # (partition_id = -1 sentinel: whole run), checkpoint marks from the
        # observed bucket set (n_rows = -1 sentinel: not tracked per bucket)
        metrics_row = [(run_id, -1, None, n_rows, n_errors,
                        int(g.get("n_empty") or 0), int(g.get("input_bytes") or 0),
                        int(g.get("output_chars") or 0),
                        float(g.get("wall_seconds") or 0.0))]
        from ..schema import METRICS_SCHEMA

        store.write_metrics(spark.createDataFrame(metrics_row, METRICS_SCHEMA))
        marks = [(run_id, int(b), -1) for b in (g.get("buckets") or [])]
        if marks:
            from ..schema import CHECKPOINT_SCHEMA

            store.write_checkpoint(spark.createDataFrame(marks, CHECKPOINT_SCHEMA))

    return {
        "run_id": run_id,
        "n_results": n_rows,
        "n_errors": n_errors,
        "n_skipped_buckets": n_skipped_buckets,
        "wall_seconds": wall,
    }
