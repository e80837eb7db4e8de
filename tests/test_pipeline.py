"""Flagship pipeline: bucketing, salting, lineage/metrics, checkpoint resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from space_launch_telemetry_analyzer_spark.plans.pipeline import (
    run_extraction,
    salted_repartition,
    with_bucket,
    with_host,
)
from space_launch_telemetry_analyzer_spark.sources.io import ResultStore
from space_launch_telemetry_analyzer_spark.sources.pages import synth_pages_df

N_PAGES = 1200


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages_df(spark, N_PAGES, partitions=8).cache()
    df.count()
    return df


def test_full_run_and_idempotent_rerun(spark, pages, tmp_path_factory):
    store = ResultStore(str(tmp_path_factory.mktemp("store")))
    summary = run_extraction(spark, pages, store, run_id="r1", n_buckets=32)
    assert summary["n_results"] == N_PAGES

    res = store.read_results(spark)
    joined = res.join(pages.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0

    # metrics: every row accounted for, lineage keys present
    m = store.read_metrics(spark)
    agg = m.agg(F.sum("n_rows"), F.sum("n_errors"), F.sum("input_bytes")).first()
    assert agg[0] == N_PAGES and agg[1] == 0 and agg[2] > 0
    assert m.where(F.col("partition_id") < 0).count() == 0

    # re-run same run_id: all buckets checkpointed -> nothing reprocessed,
    # results unchanged (exactly-once per bucket)
    summary2 = run_extraction(spark, pages, store, run_id="r1", n_buckets=32)
    assert summary2["n_skipped_buckets"] == 32
    assert store.read_results(spark).count() == N_PAGES


def test_resume_after_partial_run(spark, pages, tmp_path_factory):
    """Crash-resume: first run covers only half the buckets; the second run
    (same run_id) must process exactly the remainder."""
    store = ResultStore(str(tmp_path_factory.mktemp("store")))
    half = with_bucket(pages, 32).where(F.col("bucket") < 16).drop("bucket")
    run_extraction(spark, half, store, run_id="r2", n_buckets=32)
    n_half = store.read_results(spark).count()
    assert 0 < n_half < N_PAGES

    summary = run_extraction(spark, pages, store, run_id="r2", n_buckets=32)
    assert summary["n_skipped_buckets"] == 16
    res = store.read_results(spark)
    assert res.count() == N_PAGES  # no duplicates, no gaps
    assert res.select("url").distinct().count() == N_PAGES
    # byte-identity still holds across the resumed halves
    joined = res.join(pages.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0


def test_bucketed_input_skips_shuffle(spark, pages, tmp_path_factory):
    """Pre-bucketed input (Iceberg bucket-transform analog): same results,
    zero runtime Exchange before the kernel."""
    import io
    from contextlib import redirect_stdout

    from space_launch_telemetry_analyzer_spark.operators.extract import extract_pages

    root = tmp_path_factory.mktemp("bucketed")
    with_bucket(pages, 32).write.partitionBy("bucket").parquet(str(root / "pages"))
    bucketed = spark.read.parquet(str(root / "pages")).drop("bucket")

    store = ResultStore(str(root / "store"))
    summary = run_extraction(spark, bucketed, store, run_id="rb", n_buckets=32,
                             input_is_bucketed=True)
    assert summary["n_results"] == N_PAGES
    res = store.read_results(spark)
    joined = res.join(pages.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0

    # the plan for the bucketed path has no Exchange before the Python stage
    buf = io.StringIO()
    with redirect_stdout(buf):
        extract_pages(bucketed, n_buckets=32).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan


def _partition_sizes(df) -> list[int]:
    return [
        r["c"]
        for r in df.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("c")).collect()
    ]


def test_salting_splits_skewed_host(spark, pages):
    """The synthetic mega-host holds ~30% of rows. Partitioning by host alone
    puts all of it in one partition; the salt must spread it (north_rule:
    salting effectiveness demonstrated via partition-size metrics)."""
    hosts = with_host(pages)
    mega = hosts.groupBy("host").count().orderBy(F.desc("count")).first()
    assert mega["host"] == "mega.example.com" and mega["count"] >= 0.25 * N_PAGES

    unsalted = hosts.repartition(8, F.col("host"))
    salted = salted_repartition(hosts, 8, ["host"], salt_mod=8)
    max_unsalted = max(_partition_sizes(unsalted))
    max_salted = max(_partition_sizes(salted))
    assert max_unsalted >= mega["count"]  # skew visible without salt
    assert max_salted < 0.6 * max_unsalted  # salt split the heavy key


def test_poison_pages_become_error_rows(spark, tmp_path_factory):
    """Null html, invalid UTF-8, and tag soup flow through the WHOLE pipeline
    as data — rows preserved, errors counted in the lineage metrics, never a
    task failure (frame_processing.py:41-50 semantics end-to-end)."""
    rows = [
        ("https://p.example.com/ok",
         b"<p>a perfectly fine page with enough words here</p>", 1),
        ("https://p.example.com/null", None, 2),
        ("https://p.example.com/badutf", b"<p>bad \xff\xfe bytes but still words enough here</p>", 3),
        ("https://p.example.com/soup", b"<<<< &&& >>>>", 4),
    ]
    df = spark.createDataFrame(rows, "url string, html binary, row_idx long")
    store = ResultStore(str(tmp_path_factory.mktemp("poison")))
    summary = run_extraction(spark, df, store, run_id="p", n_buckets=4)
    assert summary["n_results"] == 4  # every row survived
    res = {r["url"].rsplit("/", 1)[-1]: r for r in store.read_results(spark).collect()}
    assert res["ok"]["error"] is None and res["ok"]["extracted_text"].startswith("a perfectly")
    assert res["null"]["error"] == "null html"
    assert res["badutf"]["error"] is None  # decoded with replacement chars
    assert "words enough here" in res["badutf"]["extracted_text"]
    m = store.read_metrics(spark).agg(F.sum("n_rows"), F.sum("n_errors")).first()
    assert m[0] == 4 and m[1] == 1


def test_large_pages(spark, tmp_path_factory):
    """Real-CC-sized pages (~120 KB html): the session's Arrow byte cap
    must keep the job memory-safe and correct."""
    from space_launch_telemetry_analyzer_spark.sources.pages import (
        expected_text, paragraphs_of, render_page,
    )

    def big_paragraphs(i: int) -> list[str]:
        return [p * 100 for p in paragraphs_of(i, n_paras=8)]

    rows = [
        (f"https://big.example.com/{i}",
         render_page(i, big_paragraphs(i)).encode(),
         "\n".join(big_paragraphs(i)), i)
        for i in range(64)
    ]
    df = spark.createDataFrame(rows, "url string, html binary, text string, row_idx long")
    assert df.select(F.max(F.octet_length("html"))).first()[0] > 100_000

    store = ResultStore(str(tmp_path_factory.mktemp("big")))
    run_extraction(spark, df, store, run_id="big", n_buckets=8)
    res = store.read_results(spark)
    joined = res.join(df.select("url", "text"), "url")
    assert joined.where(F.col("extracted_text") != F.col("text")).count() == 0
    # the session's row cap is untouched by the run
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) == 8192


def test_bucket_uniformity(spark, pages):
    """url-hash buckets stay uniform despite host skew (the reason the
    flagship layout buckets by url hash, not host)."""
    sizes = [r["c"] for r in with_bucket(pages, 32).groupBy("bucket").agg(F.count("*").alias("c")).collect()]
    assert len(sizes) == 32
    assert max(sizes) < 3 * (N_PAGES / 32)


def test_audit_false_zero_readback(spark, pages, tmp_path_factory):
    """audit=False: metrics come from df.observe() riding the write action
    (one global row, partition_id=-1 sentinel) and checkpoint marks from the
    observed bucket set — zero passes over the written table."""
    store = ResultStore(str(tmp_path_factory.mktemp("noaudit")))
    summary = run_extraction(spark, pages, store, run_id="na", n_buckets=32, audit=False)
    assert summary["n_results"] == N_PAGES and summary["n_errors"] == 0

    m = store.read_metrics(spark)
    assert m.count() == 1
    row = m.first()
    assert row["partition_id"] == -1 and row["n_rows"] == N_PAGES
    assert row["input_bytes"] > 0 and row["output_chars"] > 0

    # checkpoint marks cover every bucket -> identical rerun skips everything
    summary2 = run_extraction(spark, pages, store, run_id="na", n_buckets=32, audit=False)
    assert summary2["n_skipped_buckets"] == 32 and summary2["n_results"] == 0


def test_shared_store_run_isolation(spark, pages, tmp_path_factory):
    """Two run_ids sharing one store root: each run's metrics and checkpoint
    marks reflect only its own rows (results carry run_id; the audit
    read-back filters on it)."""
    store = ResultStore(str(tmp_path_factory.mktemp("shared")))
    half = with_bucket(pages, 32).where(F.col("bucket") < 16).drop("bucket")
    n_half = half.count()
    run_extraction(spark, half, store, run_id="a", n_buckets=32)
    run_extraction(spark, half, store, run_id="b", n_buckets=32)

    m = store.read_metrics(spark)
    per_run = {r["run_id"]: r["s"]
               for r in m.groupBy("run_id").agg(F.sum("n_rows").alias("s")).collect()}
    assert per_run == {"a": n_half, "b": n_half}

    # run 'b' must not have been marked complete for buckets it never saw
    done_b = store.completed_buckets(spark, "b")
    assert done_b.count() == 16
    assert done_b.agg(F.max("bucket")).first()[0] < 16


def test_iceberg_write_shapes():
    """The Iceberg branch is exercised without a jar: every write funnels
    through ResultStore, so the writeTo table names and verbs are asserted
    against fakes (the sandbox has no Iceberg runtime — sources/io.py)."""
    calls: list[tuple[str, str]] = []

    class FakeWriter:
        def __init__(self, table):
            self.table = table

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.table))

        def append(self):
            calls.append(("append", self.table))

    class FakeDF:
        def writeTo(self, table):
            return FakeWriter(table)

    store = ResultStore("warehouse.cc", use_iceberg=True)
    store.write_results(FakeDF())
    store.write_metrics(FakeDF())
    store.write_checkpoint(FakeDF())
    assert calls == [
        ("overwritePartitions", "warehouse.cc.results"),
        ("append", "warehouse.cc.metrics"),
        ("append", "warehouse.cc.checkpoints"),
    ]


def test_iceberg_unavailable_in_sandbox(spark):
    from space_launch_telemetry_analyzer_spark.sources.io import iceberg_available

    assert iceberg_available(spark) is False


def test_iceberg_probe_propagates_non_py4j_errors():
    """Only the JVM's class-lookup failure means "unavailable"; a broken
    probe (here a Python error from the gateway) is not swallowed."""
    from types import SimpleNamespace

    from space_launch_telemetry_analyzer_spark.sources.io import iceberg_available

    def for_name(_):
        raise RuntimeError("gateway gone")

    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(
        Class=SimpleNamespace(forName=for_name))))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))
    with pytest.raises(RuntimeError, match="gateway gone"):
        iceberg_available(spark)


def test_load_pages_roundtrip(spark, tmp_path_factory):
    """Ingest: JSONL (string html / string ts) and parquet (missing lang)
    both coerce to PAGES_SCHEMA and run through extraction byte-identically."""
    import json as _json

    from space_launch_telemetry_analyzer_spark.operators.extract import extract_pages
    from space_launch_telemetry_analyzer_spark.sources.pages import (
        load_pages, render_page, paragraphs_of, expected_text,
    )

    root = tmp_path_factory.mktemp("ingest")
    jl = root / "pages.jsonl"
    with open(jl, "w", encoding="utf-8") as f:
        for i in range(20):
            f.write(_json.dumps({
                "url": f"https://ing.example.com/{i}",
                "warc_ts": "2024-01-01 00:00:%02d" % i,
                "html": render_page(i, paragraphs_of(i)),
            }) + "\n")
    pages = load_pages(spark, str(jl), fmt="jsonl")
    assert [f.name for f in pages.schema.fields][:5] == ["url", "warc_ts", "html", "text", "lang"]
    assert dict(pages.dtypes)["html"] == "binary"
    res = {r["url"]: r["extracted_text"]
           for r in extract_pages(pages, row_idx_col=None).collect()}
    for i in range(20):
        assert res[f"https://ing.example.com/{i}"] == expected_text(i)

    # parquet variant with epoch-seconds ts and no text/lang columns
    pq = str(root / "pages_pq")
    spark.createDataFrame(
        [(f"https://pq.example.com/{i}", 1704067200 + i,
          render_page(i, paragraphs_of(i)).encode()) for i in range(10)],
        "url string, warc_ts long, html binary",
    ).write.parquet(pq)
    pages2 = load_pages(spark, pq, fmt="parquet")
    assert dict(pages2.dtypes)["warc_ts"].startswith("timestamp")
    assert pages2.count() == 10

    # a broken input (duplicate urls) fails fast
    bad = str(root / "bad_pq")
    spark.createDataFrame(
        [("https://dup.example.com/x", b"<p>one two three four five six</p>")] * 2,
        "url string, html binary",
    ).write.parquet(bad)
    with pytest.raises(ValueError, match="duplicate"):
        load_pages(spark, bad, fmt="parquet")


def test_no_exchange_below_kernel(spark, tmp_path):
    """Plan-shape regression guard for the r3 perf change (BENCH.md #17):
    raw html must never cross an exchange — MapInArrow sits directly on the
    scan, and the salted (bucket, salt) layout exchange runs ABOVE it on the
    extracted columns."""
    import io
    from contextlib import redirect_stdout

    from space_launch_telemetry_analyzer_spark.operators.extract import extract_pages
    from space_launch_telemetry_analyzer_spark.plans.pipeline import (
        salted_repartition, with_bucket,
    )

    pages_path = str(tmp_path / "pages")
    synth_pages_df(spark, 200, partitions=2).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    res = extract_pages(with_bucket(pages))
    post = salted_repartition(
        res.select("url", "bucket", "extracted_text", "error"), 8, ["bucket"], 4
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        post.explain("formatted")
    plan = buf.getvalue()
    assert "MapInArrow" in plan and "Exchange" in plan
    # in the formatted tree, deeper operators print with MORE indentation;
    # the kernel must be deeper (closer to the scan) than every exchange
    tree = plan.split("== Physical Plan ==")[1].splitlines()
    depth = {}
    for line in tree:
        if not line.strip() or line.startswith("("):
            continue
        for op in ("MapInArrow", "Exchange"):
            if op in line:
                depth.setdefault(op, []).append(len(line) - len(line.lstrip()))
    assert depth["MapInArrow"] and depth["Exchange"]
    assert min(depth["MapInArrow"]) > max(depth["Exchange"]), plan


def test_shared_store_runs_do_not_destroy_each_other(spark, tmp_path):
    """Two runs sharing one store root: run B's dynamic overwrite must
    replace only ITS OWN (run_id, bucket) partitions — previously a
    bucket-only partition spec let B silently delete A's rows while A's
    checkpoint still marked them complete."""
    from space_launch_telemetry_analyzer_spark.plans.pipeline import run_extraction
    from space_launch_telemetry_analyzer_spark.sources.io import ResultStore

    store = ResultStore(str(tmp_path / "store"))
    pages = synth_pages_df(spark, 120, partitions=2)
    run_extraction(spark, pages, store, run_id="runA", audit=False)
    run_extraction(spark, pages.limit(40), store, run_id="runB", audit=False)

    back = store.read_results(spark)
    counts = {r.run_id: r.c for r in
              back.groupBy("run_id").agg(F.count("*").alias("c")).collect()}
    assert counts == {"runA": 120, "runB": 40}


def test_run_extraction_leaves_session_conf_unchanged(spark, pages, tmp_path_factory):
    """run_extraction sets nothing on the session: every conf key is
    byte-identical after a run with audit=True and with audit=False, and no
    key appears or disappears. A key flipped for the run would race with
    concurrent runs on the session, and an input-derived value leaked into
    it would mis-size later stages over other rows."""
    store = ResultStore(str(tmp_path_factory.mktemp("confstore")))
    before = dict(spark.conf.getAll)
    for audit in (True, False):
        run_extraction(spark, pages.limit(50), store, run_id=f"conf-{audit}",
                       n_buckets=4, audit=audit)
        assert dict(spark.conf.getAll) == before, audit


def test_run_extraction_restores_arrow_batch_conf(spark, tmp_path):
    """No input-derived Arrow batch size leaks into the session: a later
    mapInArrow stage over much larger rows would inherit a wrong batch size,
    and concurrent runs would race on the conf."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    store = ResultStore(str(tmp_path / "store"))
    run_extraction(spark, synth_pages_df(spark, 60, partitions=2), store, audit=False)
    assert spark.conf.get(key) == before


def test_run_restores_session_conf_exactly(spark, pages, tmp_path_factory):
    """The Arrow row cap comes back byte-identical after a run, whatever it
    was before: still UNSET when it was unset, the caller's value when it was
    set to something other than the session default."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    store = ResultStore(str(tmp_path_factory.mktemp("confstore")))
    prev = spark.conf.get(key)

    try:
        # case 1: conf unset before -> must be unset after
        spark.conf.unset(key)
        run_extraction(spark, pages.limit(50), store, run_id="c1", n_buckets=4)
        assert spark.conf.get(key, None) is None

        # case 2: conf set before -> must come back byte-identical
        spark.conf.set(key, "1234")
        run_extraction(spark, pages.limit(50), store, run_id="c2", n_buckets=4)
        assert spark.conf.get(key, None) == "1234"
    finally:
        spark.conf.set(key, prev)


def test_arrow_byte_cap_bounds_large_row_batches(spark):
    """Rows over 100 KB reach mapInArrow in batches bounded in BYTES by the
    session-wide cap that get_spark sets (the 8192-row cap alone would let a
    batch of 100 KB pages grow to ~800 MB). Spark closes a batch once it
    holds at least the cap, so a batch less its last row is under the cap.
    The cap is lowered here so that 40 rows of ~150 KB span several batches."""
    from space_launch_telemetry_analyzer_spark.session import ARROW_MAX_BYTES

    def batch_shape(batches):
        import pyarrow as pa

        for b in batches:
            widest = max(len(v) for v in b.column("html").to_pylist())
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "bytes": [b.nbytes], "widest": [widest]})

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    prev = spark.conf.get(key)
    assert prev == str(ARROW_MAX_BYTES)
    cap = 512 << 10
    rows = spark.range(40, numPartitions=1).select(
        F.concat(F.repeat(F.lit("x"), 150_000), F.col("id").cast("string")).alias("html"))
    spark.conf.set(key, str(cap))
    try:
        shapes = rows.mapInArrow(batch_shape,
                                 "rows long, bytes long, widest long").collect()
    finally:
        spark.conf.set(key, prev)
    assert sum(s.rows for s in shapes) == 40
    assert len(shapes) > 1
    for s in shapes:
        assert s.widest > 100_000
        assert s.bytes - s.bytes // s.rows < cap, shapes


def test_corrupt_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoints directory that exists but cannot be read as parquet must
    raise, not be taken for "no checkpoint yet" (which would silently re-run
    every bucket of the run)."""
    store = ResultStore(str(tmp_path / "store"))
    os.makedirs(store.checkpoints_path)
    with open(os.path.join(store.checkpoints_path, "part-00000.parquet"), "w") as f:
        f.write("not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extraction(spark, synth_pages_df(spark, 20, partitions=1), store,
                       run_id="corrupt", n_buckets=4, audit=False)


def test_iceberg_create_tables_ddl_shapes(spark):
    """Bucket-transform DDL path (no jar in sandbox): statements are
    captured via a fake session, checked for the bucket(N, url) transform
    and schema-derived columns, and SYNTAX-checked through Spark's real SQL
    parser (catalog resolution would need the Iceberg runtime; the parse
    proves the DDL is well-formed Spark SQL)."""
    calls: list[str] = []

    class FakeSpark:
        def sql(self, s):
            calls.append(s)

    store = ResultStore("warehouse.cc", use_iceberg=True)
    stmts = store.create_tables(FakeSpark(), n_buckets=512)
    assert stmts == calls and len(stmts) == 3
    assert stmts[0].startswith("CREATE TABLE IF NOT EXISTS warehouse.cc.results")
    assert "PARTITIONED BY (run_id, bucket(512, url))" in stmts[0]
    # columns derive from the declared schemas (no drift)
    assert "url string" in stmts[0] and "extracted_text string" in stmts[0]
    assert "run_id string" in stmts[0] and "proc_seconds double" in stmts[0]
    assert "PARTITIONED BY (run_id)" in stmts[1] and "wall_seconds double" in stmts[1]
    assert "checkpoints" in stmts[2] and "n_rows bigint" in stmts[2]
    assert all("format-version" in s for s in stmts)

    parser = spark._jsparkSession.sessionState().sqlParser()
    for s in stmts:
        parser.parsePlan(s)  # raises ParseException on malformed DDL

    # parquet branch: layout is the directory scheme -> no DDL
    assert ResultStore("/tmp/nowhere").create_tables(FakeSpark()) == []


def test_results_table_columns_are_the_extraction_output_plus_run_id():
    """The results table's columns come from schema.EXTRACTION_SCHEMA (the
    one declaration of the kernel's output) plus run_id, and nothing else."""
    from space_launch_telemetry_analyzer_spark.schema import EXTRACTION_SCHEMA

    class FakeSpark:
        def sql(self, s):
            pass

    results = ResultStore("warehouse.cc", use_iceberg=True).create_tables(FakeSpark())[0]
    cols = [f"{f.name} {f.dataType.simpleString()}" for f in EXTRACTION_SCHEMA.fields]
    assert f"results ({', '.join(cols + ['run_id string'])}) USING iceberg" in results
