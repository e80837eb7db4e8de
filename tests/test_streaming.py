"""Structured Streaming: batch-parity of the kernel, cross-batch state,
watermarked metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.queries import spread
from space_launch_telemetry_analyzer_spark.schema import PAGES_SCHEMA
from space_launch_telemetry_analyzer_spark.sources.pages import synth_pages_df
from space_launch_telemetry_analyzer_spark.streaming.stream import (
    read_file_stream,
    stream_anchor_flags,
    stream_extract,
    stream_host_metrics,
)

N = 400


def test_stream_extract_matches_batch(spark, tmp_path):
    """availableNow stream over parquet files == batch extraction results
    (the kernel is batch/stream agnostic)."""
    in_path = str(tmp_path / "pages")
    out_path = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    pages = synth_pages_df(spark, N, partitions=4)
    pages.select("url", "warc_ts", "html", "text", "lang").write.parquet(in_path)

    q = stream_extract(spark, in_path, out_path, cp, available_now=True)
    q.awaitTermination(timeout=180)
    assert not q.isActive

    res = spark.read.parquet(out_path)
    assert res.count() == N
    joined = res.join(pages.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0
    assert res.where(F.col("error").isNotNull()).count() == 0

    # restart with same checkpoint: no new files -> no duplicate rows
    q2 = stream_extract(spark, in_path, out_path, cp, available_now=True)
    q2.awaitTermination(timeout=120)
    assert spark.read.parquet(out_path).count() == N


def test_spread_rejects_streaming_frame(spark):
    """spread() plans its input to count partitions; a streaming frame
    cannot be planned that way, so it raises instead of repartitioning."""
    with pytest.raises(Exception, match="writeStream"):
        spread(spark.readStream.format("rate").load())


def test_stream_extract_trigger_is_one_task_wave(spark, tmp_path):
    """By default a trigger admits one task wave of input bytes, so a
    directory of many small files drains in ONE micro-batch instead of one
    per few files; max_files_per_trigger=1 still gives one micro-batch per
    file (the mode the batch/stream equality tests rely on)."""
    import glob

    in_path = str(tmp_path / "pages")
    synth_pages_df(spark, 240, partitions=12).select(
        "url", "warc_ts", "html", "text", "lang").write.parquet(in_path)
    n_files = len(glob.glob(f"{in_path}/*.parquet"))
    assert n_files > 1
    for per_trigger, want in ((None, 1), (1, n_files)):
        q = stream_extract(spark, in_path, str(tmp_path / f"out-{per_trigger}"),
                           str(tmp_path / f"cp-{per_trigger}"),
                           max_files_per_trigger=per_trigger)
        q.awaitTermination(timeout=180)
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert len(batches) == want and sum(batches) == 240, batches


def test_stream_anchor_state_across_batches(spark, tmp_path):
    """The zero_time_met flag must survive micro-batch boundaries: the anchor
    arrives in file 1; rows in file 2 must still be flagged after_anchor."""
    in_path = tmp_path / "events"
    in_path.mkdir()
    batch1 = spark.createDataFrame(
        [("s1", 1, False), ("s1", 2, True), ("s1", 3, False), ("s2", 1, False)],
        "series string, row_id long, is_zero boolean",
    )
    batch1.coalesce(1).write.parquet(str(in_path / "f1"))

    stream = (
        spark.readStream.schema("series string, row_id long, is_zero boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_path / "*"))
    )
    out_path = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    q = (
        stream_anchor_flags(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)

    # second micro-batch arrives later: s1 rows must be flagged immediately
    batch2 = spark.createDataFrame(
        [("s1", 4, False), ("s2", 2, False)],
        "series string, row_id long, is_zero boolean",
    )
    batch2.coalesce(1).write.parquet(str(in_path / "f2"))
    q2 = (
        stream_anchor_flags(
            spark.readStream.schema("series string, row_id long, is_zero boolean")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_path / "*"))
        )
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(timeout=120)

    rows = {(r["series"], r["row_id"]): r for r in spark.read.parquet(out_path).collect()}
    assert rows[("s1", 1)]["after_anchor"] is False
    assert rows[("s1", 2)]["after_anchor"] is True and rows[("s1", 2)]["is_anchor"] is True
    assert rows[("s1", 3)]["after_anchor"] is True
    assert rows[("s1", 4)]["after_anchor"] is True  # state crossed the batch boundary
    assert rows[("s1", 4)]["is_anchor"] is False
    assert rows[("s2", 2)]["after_anchor"] is False  # series isolation


def test_stream_host_metrics(spark, tmp_path):
    in_path = str(tmp_path / "pages")
    synth_pages_df(spark, 200, partitions=2).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.parquet(in_path)
    stream = read_file_stream(spark, in_path, PAGES_SCHEMA)
    q = (
        stream_host_metrics(stream)
        .writeStream.format("memory")
        .queryName("host_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    out = spark.sql("SELECT * FROM host_metrics")
    # append mode emits only watermark-closed windows; schema is the contract
    assert set(out.columns) == {"window", "host", "n_pages", "bytes"}
    total = out.agg(F.sum("n_pages")).first()[0]
    assert total is None or total <= 200


def test_stream_exact_dedup(spark, tmp_path):
    """Duplicates within the watermark horizon are dropped across micro-
    batches; the first occurrence survives."""
    from space_launch_telemetry_analyzer_spark.streaming.stream import stream_exact_dedup

    in_path = tmp_path / "pages"
    in_path.mkdir()
    base = synth_pages_df(spark, 50, partitions=1).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    base.coalesce(1).write.parquet(str(in_path / "f1"))
    # second file: same texts under new urls (exact dups) + 10 fresh docs
    dups = base.limit(20).withColumn("url", F.concat(F.lit("dup://"), F.col("url")))
    fresh = synth_pages_df(spark, 60, partitions=1).where(F.col("row_idx") >= 50).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    dups.unionByName(fresh).coalesce(1).write.parquet(str(in_path / "f2"))

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, html binary, "
                                "text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_path / "*"))
    )
    out_path = str(tmp_path / "out")
    q = (
        stream_exact_dedup(stream, watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=180)
    out = spark.read.parquet(out_path)
    # 50 originals + 10 fresh; the 20 cross-batch duplicates dropped
    assert out.count() == 60
    assert out.select("fp").distinct().count() == 60
    assert out.where(F.col("url").startswith("dup://")).count() == 0


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Session ids must agree with the batch operator AND survive micro-batch
    boundaries (a session spanning two files stays one session; a gap across
    files opens a new one)."""
    from space_launch_telemetry_analyzer_spark.operators.windows import sessionize
    from space_launch_telemetry_analyzer_spark.streaming.stream import stream_sessionize

    rows = [
        ("u1", 1, 0.0), ("u1", 2, 10.0), ("u1", 3, 100.0),   # file 1
        ("u1", 4, 105.0), ("u1", 5, 500.0), ("u2", 6, 0.0),  # file 2
    ]
    schema = "series string, row_id long, ts double"
    in_path = tmp_path / "ev"
    in_path.mkdir()
    spark.createDataFrame(rows[:3], schema).coalesce(1).write.parquet(str(in_path / "f1"))

    def run():
        q = (
            stream_sessionize(
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(in_path / "*")),
                gap_seconds=30.0,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=120)

    run()
    spark.createDataFrame(rows[3:], schema).coalesce(1).write.parquet(str(in_path / "f2"))
    run()

    got = {
        r["row_id"]: r["session_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    batch = spark.createDataFrame(rows, schema)
    want = {
        r["row_id"]: r["session_id"]
        for r in sessionize(batch, "series", "ts", "row_id", gap_seconds=30.0).collect()
    }
    assert got == want
    # semantic spot checks: rows 3+4 share a session ACROSS the file
    # boundary; row 5's 395 s gap opens a new one
    assert got[3] == got[4] and got[5] == got[4] + 1 and got[1] == got[2]


def test_stateful_fns_survive_multichunk_groups(spark, tmp_path):
    """applyInPandasWithState splits one group's micro-batch rows into
    multiple pandas chunks at the Arrow batch size; state must be computed
    over the WHOLE group, not per chunk. With 4-row chunks and the anchor
    at row 30 of 40, per-chunk state would flag rows 1-29 after_anchor
    whenever their chunk follows the anchor's."""
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_anchor_flags, stream_sessionize,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        in_path = tmp_path / "ev"
        in_path.mkdir()
        # SCRAMBLED: the anchor's chunk precedes chunks holding earlier
        # row_ids, which is exactly where per-chunk state mis-flags
        order = list(range(30, 41)) + list(range(1, 30))
        rows = [("s1", i, i == 30) for i in order]
        spark.createDataFrame(
            rows, "series string, row_id long, is_zero boolean"
        ).coalesce(1).write.parquet(str(in_path / "f1"))
        stream = (
            spark.readStream.schema("series string, row_id long, is_zero boolean")
            .parquet(str(in_path / "*"))
        )
        q = (
            stream_anchor_flags(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "cp"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(timeout=120)
        got = {r.row_id: (r.is_anchor, r.after_anchor)
               for r in spark.read.parquet(str(tmp_path / "out")).collect()}
        assert len(got) == 40
        for i in range(1, 41):
            assert got[i] == (i == 30, i >= 30), (i, got[i])

        # sessionize: ts ascending with one gap at row 25; 4-row chunks
        ev_path = tmp_path / "sess"
        ev_path.mkdir()
        sess_rows = [("u1", i, i * 10.0 + (1000.0 if i >= 25 else 0.0))
                     for i in (list(range(25, 41)) + list(range(1, 25)))]
        spark.createDataFrame(sess_rows, "series string, row_id long, ts double") \
            .coalesce(1).write.parquet(str(ev_path / "f1"))
        q2 = (
            stream_sessionize(
                spark.readStream.schema("series string, row_id long, ts double")
                .parquet(str(ev_path / "*")),
                gap_seconds=30.0,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "sout"))
            .option("checkpointLocation", str(tmp_path / "scp"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q2.awaitTermination(timeout=120)
        sids = {r.row_id: r.session_id
                for r in spark.read.parquet(str(tmp_path / "sout")).collect()}
        assert len(sids) == 40
        assert len({sids[i] for i in range(1, 25)}) == 1
        assert len({sids[i] for i in range(25, 41)}) == 1
        assert sids[24] != sids[25]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_stream_frontier_new(spark, tmp_path):
    """Stream-static anti-join on canonical urls + watermarked dedup:
    seen urls never emit, re-discoveries across micro-batches emit once
    (first arrival), different surface forms collide canonically."""
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_frontier_new,
    )

    in_path = tmp_path / "cand"
    in_path.mkdir()
    ts = "2024-01-01 00:00:00"
    f1 = spark.createDataFrame(
        [("https://e.x/a?b=2&a=1", ts),    # seen (different surface form)
         ("https://e.x/b", ts)],           # new
        "url string, warc_ts string").withColumn(
            "warc_ts", F.col("warc_ts").cast("timestamp"))
    f2 = spark.createDataFrame(
        [("https://e.x:443/b", ts),        # canonical re-discovery of /b
         ("https://e.x/c", ts)],           # new
        "url string, warc_ts string").withColumn(
            "warc_ts", F.col("warc_ts").cast("timestamp"))
    f1.coalesce(1).write.parquet(str(in_path / "f1"))
    f2.coalesce(1).write.parquet(str(in_path / "f2"))

    seen = spark.createDataFrame([("HTTPS://E.X/a?a=1&b=2",)], "url string")
    stream = (
        spark.readStream.schema("url string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_path / "*"))
    )
    out_path = str(tmp_path / "out")
    q = (
        stream_frontier_new(stream, seen)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = {r["canonical_url"] for r in spark.read.parquet(out_path).collect()}
    assert got == {"https://e.x/b", "https://e.x/c"}


def _drain(q):
    q.awaitTermination(timeout=180)


def _sorted_rows(df):
    # repr-compare: rows carry None and array columns, which break tuple
    # ordering; reprs order totally and equality is what's asserted
    return sorted(repr(r) for r in df.collect())


def test_stream_sitemap_and_feed_match_batch(spark, tmp_path):
    """Discovery-layer streaming twins (r6): the batch kernels run
    unchanged under readStream; maxFilesPerTrigger=1 forces one
    micro-batch per file so the equality crosses batch boundaries."""
    from space_launch_telemetry_analyzer_spark.operators.sitemap import (
        feed_entries,
        sitemap_entries,
    )
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_feed_entries,
        stream_sitemap_entries,
    )

    sm = (b"<urlset><url><loc>https://e/1</loc><priority>0.5</priority>"
          b"</url><url><loc>https://e/2</loc></url></urlset>")
    idx = (b"<sitemapindex><sitemap><loc>https://e/s.xml</loc>"
           b"<lastmod>2024-01-01</lastmod></sitemap></sitemapindex>")
    feed = (b"<rss><channel><title>F</title><item><title>a</title>"
            b"<link>https://e/a</link></item><item><title>b</title>"
            b"<guid>g2</guid></item></channel></rss>")
    atom = (b'<feed><title>A</title><entry><title>x</title>'
            b'<link rel="alternate" href="https://e/x"/></entry></feed>')
    docs = spark.createDataFrame(
        [("s1", sm), ("s2", idx), ("bad", b"<html>nope</html>"),
         ("null", None), ("f1", feed), ("f2", atom)],
        "url string, xml binary")
    in_path = str(tmp_path / "xml")
    # one row per file -> one micro-batch per row
    docs.repartition(6).write.parquet(in_path)

    for twin, batch_op, name in (
            (stream_sitemap_entries, sitemap_entries, "sm"),
            (stream_feed_entries, feed_entries, "fd")):
        out = str(tmp_path / f"out_{name}")
        cp = str(tmp_path / f"cp_{name}")
        _drain(twin(spark, in_path, out, cp, max_files_per_trigger=1))
        got = spark.read.parquet(out)
        want = batch_op(spark.read.parquet(in_path))
        assert _sorted_rows(got) == _sorted_rows(want)
        assert got.schema == want.schema


def test_stream_page_metadata_and_anchors_match_batch(spark, tmp_path):
    from space_launch_telemetry_analyzer_spark.operators.metadata import (
        anchor_texts,
        page_metadata,
    )
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_anchor_texts,
        stream_page_metadata,
    )

    in_path = str(tmp_path / "pages")
    synth_pages_df(spark, 60, partitions=3).select(
        "url", "warc_ts", "html", "text", "lang").write.parquet(in_path)

    for twin, batch_op, name in (
            (stream_page_metadata, page_metadata, "meta"),
            (stream_anchor_texts, anchor_texts, "anchors")):
        out = str(tmp_path / f"out_{name}")
        cp = str(tmp_path / f"cp_{name}")
        _drain(twin(spark, in_path, out, cp, max_files_per_trigger=1))
        got = spark.read.parquet(out)
        want = batch_op(spark.read.parquet(in_path))
        assert _sorted_rows(got) == _sorted_rows(want)
        assert got.schema == want.schema


def test_stream_markdown_and_signals_match_batch(spark, tmp_path):
    """Late-r6 stateless twins: the markdown converter kernel and the
    one-pass quality-signal Project run unchanged under readStream;
    maxFilesPerTrigger=1 crosses micro-batch boundaries."""
    from space_launch_telemetry_analyzer_spark.operators.markdown import (
        to_markdown_pages,
    )
    from space_launch_telemetry_analyzer_spark.operators.text_analysis import (
        quality_signals,
    )
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_markdown_pages,
        stream_quality_signals,
    )

    pages_path = str(tmp_path / "mdpages")
    spark.createDataFrame(
        [(f"u://{i}",
          f"<h1>T {i}</h1><p>body {i} with <em>em</em></p>"
          "<ul><li>a</li><li>b</li></ul>".encode())
         for i in range(12)] + [("u://null", None)],
        "url string, html binary",
    ).repartition(4).write.parquet(pages_path)
    out = str(tmp_path / "md_out")
    _drain(stream_markdown_pages(spark, pages_path, out,
                                 str(tmp_path / "md_cp"),
                                 max_files_per_trigger=1))
    got = spark.read.parquet(out)
    want = to_markdown_pages(spark.read.parquet(pages_path))
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.schema == want.schema

    docs_path = str(tmp_path / "sigdocs")
    spark.createDataFrame(
        [(i, f"the doc {i} and more of the words to score here now")
         for i in range(12)] + [(99, "")],
        "doc_id long, text string",
    ).repartition(4).write.parquet(docs_path)
    out2 = str(tmp_path / "sig_out")
    _drain(stream_quality_signals(spark, docs_path, out2,
                                  str(tmp_path / "sig_cp"),
                                  max_files_per_trigger=1))
    got2 = spark.read.parquet(out2)
    want2 = quality_signals(spark.read.parquet(docs_path), "doc_id", "text")
    assert _sorted_rows(got2) == _sorted_rows(want2)
    assert got2.schema == want2.schema


def test_stream_pack_sequences_matches_batch(spark, tmp_path):
    """Streaming packing twin: one micro-batch per id-ordered file, tiny
    seq_len so sequences straddle micro-batch boundaries — the carried
    token cursor must line the spans up with the batch prefix-sum twin
    exactly. Includes zero-token docs (emit nothing) and a doc longer
    than several sequences."""
    import os

    from space_launch_telemetry_analyzer_spark.operators.text_analysis import (
        pack_sequences,
    )
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_pack_sequences,
    )

    def text_for(i):
        if i % 5 == 4:
            return "   " if i % 2 == 0 else ""      # zero tokens
        return " ".join(f"w{j}" for j in range((i * 3) % 17 + (20 if i == 7 else 1)))

    rows = [(i, text_for(i)) for i in range(30)]
    in_path = tmp_path / "docs"
    in_path.mkdir()
    for b in range(3):                               # files in id order
        chunk = rows[b * 10:(b + 1) * 10]
        spark.createDataFrame(chunk, "doc_id long, text string") \
            .coalesce(1).write.parquet(str(in_path / f"f{b}"))
        for root, _, files in os.walk(in_path / f"f{b}"):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + b, 1_700_000_000 + b))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(in_path / "*"))
    )
    out = str(tmp_path / "out")
    q = (
        stream_pack_sequences(stream, "doc_id", "text", seq_len=7)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = spark.read.parquet(out)
    want = pack_sequences(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text", seq_len=7)
    assert _sorted_rows(got) == _sorted_rows(want)
    # parquet round-trip relaxes nullability; names+types must agree
    assert [(f.name, f.dataType) for f in got.schema] == \
        [(f.name, f.dataType) for f in want.schema]
    # the long doc really did straddle micro-batches into multiple seqs
    assert got.where(F.col("id") == 7).count() >= 3


def test_stream_pack_sequences_rejects_unknown_counter(spark):
    import pytest as _pytest

    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_pack_sequences,
    )

    df = spark.readStream.schema("doc_id long, text string").parquet("/tmp/x*")
    with _pytest.raises(ValueError, match="unknown counter"):
        stream_pack_sequences(df, "doc_id", "text", counter="nope")


def test_stream_pack_sequences_bpe_counter_matches_batch(spark, tmp_path):
    """counter='bpe': both twins count boundaries with the real BPE
    tokenizer (Arrow UDF upstream of the stateful stage) — spans must
    agree across a micro-batch boundary."""
    import os

    from space_launch_telemetry_analyzer_spark.operators.text_analysis import (
        pack_sequences,
    )
    from space_launch_telemetry_analyzer_spark.streaming.stream import (
        stream_pack_sequences,
    )

    rows = [(i, f"the data was clear {i} times over") for i in range(8)]
    in_path = tmp_path / "docs"
    in_path.mkdir()
    for b in range(2):
        spark.createDataFrame(rows[b * 4:(b + 1) * 4],
                              "doc_id long, text string") \
            .coalesce(1).write.parquet(str(in_path / f"f{b}"))
        for root, _, files in os.walk(in_path / f"f{b}"):
            for f in files:
                os.utime(os.path.join(root, f),
                         (1_700_000_000 + b, 1_700_000_000 + b))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(in_path / "*"))
    )
    out = str(tmp_path / "out")
    _drain(stream_pack_sequences(stream, "doc_id", "text", seq_len=11,
                                 counter="bpe")
           .writeStream.format("parquet").option("path", out)
           .option("checkpointLocation", str(tmp_path / "cp"))
           .outputMode("append").trigger(availableNow=True).start())
    got = spark.read.parquet(out)
    want = pack_sequences(
        spark.createDataFrame(rows, "doc_id long, text string"),
        "doc_id", "text", seq_len=11, counter="bpe")
    assert _sorted_rows(got) == _sorted_rows(want)
