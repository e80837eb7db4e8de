"""Streaming extraction: the reference's micro-batched sequential scan
(SURVEY.md §2.4) re-expressed as Structured Streaming.

Operators:
- `stream_to_parquet` — readStream -> any stateless batch operator ->
  checkpointed parquet sink; `stream_extract` is it over the SAME
  mapInArrow extraction kernel (the kernel is batch/stream agnostic, which
  is the point of keeping it a pure function of the Arrow batch).
- `stream_anchor_flags` — the cross-batch `zero_time_met` state (ST2,
  extract_data.py:112-115 / batch_processing.py:71-72) as a true stateful
  streaming operator via applyInPandasWithState, keyed per series: once a
  series has seen its anchor event, every later row in ANY micro-batch is
  flagged. (The reference scopes the flag per process batch; the stream scopes
  it per series — the honest re-expression, same deviation documented in
  SURVEY.md §2.4.)
- `stream_host_metrics` — watermarked per-host per-minute counts (ST4
  progress/metrics analog, with late-data tolerance).

Sizing: every file stream enters through `read_file_stream`, whose
micro-batches are sized in bytes (one task wave of input per trigger) rather
than the reference's fixed frame count; the memory bound is the session's
Arrow batch byte cap, not the trigger.

Scale notes: the stateless path scales like the batch job (state-free tasks);
the stateful path shuffles on the series key — state size is O(#series) x a
few bytes (one boolean + anchor id), safe for millions of series.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.extract import extract_pages
from ..rules import RuleConfig
from ..schema import PAGES_SCHEMA


def read_file_stream(spark: SparkSession, input_path: str,
                     schema: T.StructType | None = None,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a parquet directory: the one file-stream front door
    of every operator here.

    `schema=None` takes the schema from the files themselves (streaming
    parquet requires an explicit schema; the static footer read costs one
    metadata operation).

    Trigger size: by default each micro-batch admits one task wave of input,
    defaultParallelism x spark.sql.files.maxPartitionBytes bytes, so every
    core has a split and the fixed per-batch costs (planning, offset WAL,
    commit) are paid once per wave rather than once per few small files. A
    trigger does not bound memory: the kernels stream Arrow batches, which
    the session caps in bytes (session.ARROW_MAX_BYTES).
    `max_files_per_trigger` replaces the byte size with a file count
    (1 = one micro-batch per file, which the batch/stream equality tests
    use to cross batch boundaries)."""
    if schema is None:
        schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is None:
        wave = (spark.sparkContext.defaultParallelism
                * spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
        reader = reader.option("maxBytesPerTrigger", wave)
    else:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def stream_to_parquet(spark: SparkSession, op: Callable[[DataFrame], DataFrame],
                      input_path: str, output_path: str, checkpoint_path: str,
                      schema: T.StructType | None = None,
                      available_now: bool = True,
                      max_files_per_trigger: int | None = None):
    """read_file_stream -> `op` -> append-mode parquet sink with a
    checkpoint; returns the StreamingQuery.

    Any stateless frame -> frame operator runs here unchanged (sitemap and
    feed entries, page metadata, anchors, markdown, quality signals, the
    extraction kernel): with no cross-row state, micro-batch boundaries
    cannot change its rows. `schema` and `max_files_per_trigger` go to
    read_file_stream. `available_now=True` drains existing files and stops
    (the batch-parity mode used by tests and backfills); False runs
    continuously."""
    results = op(read_file_stream(spark, input_path, schema,
                                  max_files_per_trigger))
    writer = (
        results.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    cfg: RuleConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Run the extraction kernel as a stream; returns the StreamingQuery.
    Triggers admit one task wave of input bytes each (read_file_stream)."""
    return stream_to_parquet(
        spark, lambda pages: extract_pages(pages, cfg, row_idx_col=None),
        input_path, output_path, checkpoint_path, PAGES_SCHEMA,
        available_now, max_files_per_trigger)


# --- ST2 as real streaming state ---------------------------------------------

ANCHOR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("row_id", T.LongType()),
        T.StructField("is_anchor", T.BooleanType()),
        T.StructField("after_anchor", T.BooleanType()),
    ]
)
ANCHOR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("met", T.BooleanType()),
        T.StructField("anchor_id", T.LongType()),
    ]
)


def _anchor_fn(
    key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-series: flag rows at/after the first anchor row; the flag
    survives across micro-batches via GroupState (the distributed
    `zero_time_met`).

    NB: applyInPandasWithState hands ONE group's micro-batch rows as
    MULTIPLE pandas chunks (split at the Arrow batch size) in arbitrary
    order — running state per chunk would mis-flag rows whenever the
    anchor lands in a later chunk than earlier row_ids. Concatenate and
    sort ONCE per (group, micro-batch); peak memory is the group's share
    of one micro-batch, which is the operator's working set anyway."""
    met, anchor_id = state.get if state.exists else (False, None)
    whole = pd.concat(list(pdfs)) if not isinstance(pdfs, pd.DataFrame) else pdfs
    for pdf in ([whole] if len(whole) else []):
        pdf = pdf.sort_values("row_id")
        zero = pdf["is_zero"].fillna(False).to_numpy(dtype=bool)
        # vectorized running state: after_anchor = carry-in OR cumulative max
        # of the zero flags; the anchor row is the first zero row when the
        # carry-in flag was not yet set (no per-row Python)
        after = met | zero.cumsum().astype(bool)
        if not met and zero.any():
            first = int(zero.argmax())
            anchor_id = int(pdf["row_id"].iloc[first])
            met = True
        is_anchor = pdf["row_id"].to_numpy() == (anchor_id if anchor_id is not None else -1)
        yield pd.DataFrame(
            {
                "series": key[0],
                "row_id": pdf["row_id"].values,
                "is_anchor": is_anchor,
                "after_anchor": after,
            }
        )
    state.update((met, anchor_id))


def stream_anchor_flags(events: DataFrame) -> DataFrame:
    """events(series, row_id, is_zero) stream -> per-row anchor flags with
    cross-micro-batch state."""
    return events.groupBy("series").applyInPandasWithState(
        _anchor_fn,
        outputStructType=ANCHOR_OUTPUT_SCHEMA,
        stateStructType=ANCHOR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming exact dedup -----------------------------------------------------

def stream_exact_dedup(pages: DataFrame, text_col: str = "text",
                       ts_col: str = "warc_ts",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first occurrence of each normalized
    content fingerprint within the watermark horizon
    (dropDuplicatesWithinWatermark — state per retained key is one
    fingerprint + expiry, evicted by event time, so state size is bounded by
    the dedup horizon rather than growing with the stream). The batch twin
    is operators.dedup.exact_dedup."""
    from ..operators.text_analysis import fingerprint

    keyed = pages.withColumn("fp", fingerprint(F.col(text_col)))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])


# --- ST4: watermarked per-host metrics ---------------------------------------

def stream_host_metrics(pages: DataFrame, watermark: str = "10 minutes",
                        window: str = "1 minute") -> DataFrame:
    """Per-host per-window page counts with late-data tolerance — the
    streaming metrics/lineage feed."""
    hosts = pages.select(
        F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.col("warc_ts"),
        F.octet_length("html").alias("n_bytes"),
    )
    return (
        hosts.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), "host")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("n_bytes").alias("bytes"))
    )


# --- streaming sessionization ---------------------------------------------------

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("row_id", T.LongType()),
    T.StructField("ts", T.DoubleType()),
    T.StructField("session_id", T.IntegerType()),
])
SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("last_ts", T.DoubleType()),
    T.StructField("last_session", T.IntegerType()),
])


def _session_fn(gap_seconds: float):
    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        """Per-series gap sessionization across micro-batches: the previous
        batch's (last_ts, last_session) carries in via GroupState; within a
        batch everything is a vectorized diff + cumsum (no per-row Python).
        Rows are processed in series-clock order WITHIN each micro-batch;
        cross-batch disorder is the stream's usual contract (bound it
        upstream with a watermark + sorted sink if arrival order matters).

        NB: one group's micro-batch rows arrive as MULTIPLE pandas chunks
        (Arrow batch splits) in arbitrary order — per-chunk running state
        would merge/split sessions at chunk seams. Concatenate + sort once
        per (group, micro-batch); see _anchor_fn."""
        import numpy as np

        last_ts, last_session = (state.get if state.exists else (None, -1))
        whole = pd.concat(list(pdfs)) if not isinstance(pdfs, pd.DataFrame) else pdfs
        for pdf in ([whole] if len(whole) else []):
            pdf = pdf.sort_values(["ts", "row_id"])
            ts = pdf["ts"].to_numpy(dtype=float)
            prev = np.concatenate(([last_ts if last_ts is not None else -np.inf], ts[:-1]))
            boundary = (ts - prev) > gap_seconds
            if last_ts is None and len(ts):
                boundary[0] = True
            session = last_session + np.cumsum(boundary.astype(np.int64))
            if len(ts):
                last_ts = float(ts[-1])
                last_session = int(session[-1])
            yield pd.DataFrame({
                "series": key[0],
                "row_id": pdf["row_id"].values,
                "ts": ts,
                "session_id": session.astype("int32"),
            })
        state.update((last_ts, last_session))

    return fn


def stream_sessionize(events: DataFrame, gap_seconds: float = 30.0) -> DataFrame:
    """events(series, row_id, ts) stream -> gap-based session ids with
    cross-micro-batch state (the streaming twin of windows.sessionize;
    state per series is two scalars, safe for millions of series)."""
    return events.groupBy("series").applyInPandasWithState(
        _session_fn(gap_seconds),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming frontier update -------------------------------------------------

def stream_frontier_new(candidates: DataFrame, seen: DataFrame,
                        url_col: str = "url", ts_col: str = "warc_ts",
                        watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators.sitemap.frontier_new: a stream of
    discovered candidate urls anti-joins the STATIC seen table on
    canonical form (stream-static left_anti is stateless — every
    micro-batch probes the table), then dropDuplicatesWithinWatermark on
    canonical_url drops re-discoveries across micro-batches with state
    bounded by the watermark horizon, exactly like stream_exact_dedup.
    Output: (canonical_url, url, ts_col).

    Documented deviation from the batch twin: batch picks min(url) as the
    representative per canonical key; a stream cannot know the global min,
    so the FIRST arrival wins here."""
    from ..operators.text_analysis import canonicalize_urls

    cand = canonicalize_urls(candidates.select(url_col, ts_col), url_col)
    seen_c = canonicalize_urls(
        seen.select(url_col), url_col).select("canonical_url")
    new = cand.join(seen_c, "canonical_url", "left_anti")
    return (new.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["canonical_url"]))


# --- streaming training-sequence packing --------------------------------------

PACK_OUTPUT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("global_start", T.LongType()),
    T.StructField("seq_id", T.LongType()),
    T.StructField("start_tok", T.LongType()),
    T.StructField("end_tok", T.LongType()),
    T.StructField("n_seq_toks", T.LongType()),
])
PACK_STATE_SCHEMA = T.StructType([T.StructField("consumed", T.LongType())])


def _pack_fn(seq_len: int):
    L = int(seq_len)

    def fn(key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        """Carry = ONE scalar (tokens consumed so far). Chunks of a
        micro-batch arrive in arbitrary order (the _anchor_fn lesson), so
        concatenate and sort by id once per trigger before the cumsum."""
        import numpy as np

        (consumed,) = state.get if state.exists else (0,)
        pdf = pd.concat(list(pdfs))
        # drop NULL token counts BEFORE the int64 conversion (ADVICE r6):
        # an unscorable doc (null text upstream) must emit nothing — the
        # batch twin's null-propagating arithmetic drops it; to_numpy on a
        # null would throw (or write garbage) mid-stream instead
        pdf = pdf[pdf["n"].notna()]
        if len(pdf):
            pdf = pdf.sort_values("id")
            n = pdf["n"].to_numpy(dtype=np.int64)
            gs = consumed + np.concatenate(([0], np.cumsum(n)[:-1]))
            consumed = int(consumed + n.sum())
            keep = n > 0
            ids, n, gs = pdf["id"].to_numpy()[keep], n[keep], gs[keep]
            if len(ids):
                first, last = gs // L, (gs + n - 1) // L
                counts = last - first + 1
                total = int(counts.sum())
                # flat seq ids: repeat each doc's first seq id, then add the
                # within-doc offset 0..counts-1 (standard ragged-range trick)
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                seq = (np.repeat(first, counts)
                       + (np.arange(total) - np.repeat(starts, counts)))
                id_r, n_r, gs_r = (np.repeat(ids, counts),
                                   np.repeat(n, counts), np.repeat(gs, counts))
                start_tok = np.maximum(0, seq * L - gs_r)
                end_tok = np.minimum(n_r, (seq + 1) * L - gs_r)
                yield pd.DataFrame({
                    "id": id_r, "n_tokens": n_r, "global_start": gs_r,
                    "seq_id": seq, "start_tok": start_tok,
                    "end_tok": end_tok, "n_seq_toks": end_tok - start_tok,
                })
        state.update((consumed,))

    return fn


def stream_pack_sequences(docs: DataFrame, id_col: str, text_col: str,
                          seq_len: int = 2048,
                          counter: str = "ws") -> DataFrame:
    """Streaming twin of operators.text_analysis.pack_sequences: documents
    are appended to the token stream as they ARRIVE and split every
    `seq_len` tokens; the single carried state is the running token count
    (one long — the minimal resumable packing cursor).

    Scale shape: tokenization (`counter`: 'ws' JVM expression or 'bpe'
    Arrow UDF — the same count columns the batch twin uses, so boundaries
    agree exactly) runs stateless and fully parallel upstream; only
    (id, n) PAIRS — two longs per document — flow through the stateful
    stage, which is keyed on a constant because a global concat-and-split
    has exactly one cursor. That single-task stage does O(docs-per-trigger)
    integer work per trigger; the heavy text scan never serializes.

    Documented deviation from the batch twin (same spirit as
    stream_frontier_new's): batch packs in GLOBAL id order via the
    distributed prefix-sum; a stream cannot know global order, so packing
    order is arrival order with ids sorted WITHIN each micro-batch — feed
    triggers in id order (the test pins maxFilesPerTrigger=1 over id-sorted
    files) and the two twins are row-identical."""
    if counter == "bpe":
        from ..functions.bpe import bpe_token_count
        count_col = bpe_token_count(F.col(text_col))
    elif counter == "ws":
        from ..operators.text_analysis import token_count
        count_col = token_count(F.col(text_col))
    else:
        raise ValueError(f"unknown counter {counter!r} (want 'ws' or 'bpe')")
    toks = docs.select(
        F.col(id_col).cast("long").alias("id"),
        count_col.cast("long").alias("n"),
        F.lit(0).alias("_cursor"),
    )
    return toks.groupBy("_cursor").applyInPandasWithState(
        _pack_fn(seq_len),
        outputStructType=PACK_OUTPUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
