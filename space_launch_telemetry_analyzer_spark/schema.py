"""Fixed StructType schemas for the engine's tables.

The reference's row type is an implicit nested dict assembled at
ocr/extract_data.py:138-210 and frame_processing.py:30-40 (SURVEY.md §1.2).
Here every table has a fixed, declared schema so Catalyst can prune columns
and push filters; nothing is inferred.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style pages table (BASELINE.json input_hint).
# Analog of the reference's video: one row per frame/page; (url, warc_ts) is
# the row identity the way frame_number is (validation.py:74-93).
# ---------------------------------------------------------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Extraction output: one row per page, nulls-not-failures (the reference's
# per-row error channel, frame_processing.py:41-50 — a failed page is still
# a row). Field layout mirrors SURVEY.md §1.2 with "series" ≅ vehicle.
# This is the one declaration of operators.extract.extract_pages' output, in
# the kernel's column order: the mapInArrow schema, the kernel's Arrow types
# and the results table's columns all derive from it. Every field is
# nullable, as the kernel declares it to Spark.
# ---------------------------------------------------------------------------
EXTRACTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_blocks", T.IntegerType()),
        T.StructField("n_content_blocks", T.IntegerType()),
        T.StructField("speed", T.DoubleType()),
        T.StructField("altitude", T.DoubleType()),
        T.StructField("time", T.StructType([
            T.StructField("sign", T.StringType()),
            T.StructField("hours", T.IntegerType()),
            T.StructField("minutes", T.IntegerType()),
            T.StructField("seconds", T.IntegerType()),
        ])),
        T.StructField("fuel_lox", T.DoubleType()),
        T.StructField("fuel_ch4", T.DoubleType()),
        T.StructField("engines", T.MapType(T.StringType(), T.ArrayType(T.BooleanType()))),
        T.StructField("spans", T.ArrayType(T.StructType([
            T.StructField("rule_id", T.StringType()),
            T.StructField("series", T.StringType()),
            T.StructField("block_idx", T.IntegerType()),
            T.StructField("raw", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]))),
        T.StructField("error", T.StringType()),
        # lineage: the input's size and the kernel's time per row
        T.StructField("input_bytes", T.LongType()),
        T.StructField("proc_seconds", T.DoubleType()),
    ]
)

# ---------------------------------------------------------------------------
# Per-partition lineage/metrics row (north_rule): the distributed analog of
# the reference's shared progress counter + batch summary
# (batch_processing.py:130-171, :189-208).
# ---------------------------------------------------------------------------
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("n_empty", T.LongType(), False),
        T.StructField("input_bytes", T.LongType(), False),
        T.StructField("output_chars", T.LongType(), False),
        T.StructField("wall_seconds", T.DoubleType(), False),
    ]
)

# Checkpoint table for resumability: one row per completed bucket per run.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_rows", T.LongType(), False),
    ]
)
