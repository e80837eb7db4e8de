"""space_launch_telemetry_analyzer_spark — a from-scratch, PySpark-native
re-expression of sanitaravel/Space-Launch-Telemetry-Analyzer's semantics.

The reference (read-only at /root/reference) is a frame-level
ROI-crop -> OCR -> field-parse -> validation/derived-metric pipeline over
video. This engine re-expresses the same operator semantics as a page-level
DOM extraction over a Common-Crawl-style table of web pages
(url, warc_ts, html, text, lang), built Spark-first:

- declarative DataFrame plans (Catalyst handles pushdown/pruning/folding),
- one vectorized Arrow `mapInArrow` kernel for DOM extraction (the
  EasyOCR-analog slow path; everything else is JVM-side expressions),
- window functions for the validation / derived-metric layer,
- url-hash bucketing + host salting for skew, lineage/metrics rows per
  partition, checkpoint-based resume.

Layout:
  functions/   pure column expressions + python twins of the parse kernels
  operators/   extraction kernel, window/validation ops, dedup, similarity,
               text analysis, multimodal plumbing
  sources/     synthetic pages generator, table IO (iceberg-or-parquet),
               checkpoint table
  plans/       end-to-end jobs (flagship extraction pipeline)
  streaming/   Structured Streaming variant of the extraction job
"""

__version__ = "0.1.0"
