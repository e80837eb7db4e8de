"""One benchmark run in a fresh process (started by run.py).

Sets up a session, builds the workload's inputs from the seed, warms up,
runs the workload as a closed loop (one job at a time) for the requested
seconds, then checks every output outside the timed region. With --trace 1
it alternates untraced and traced operations and reports per-layer numbers
instead of end-to-end ones.

Layer metrics are named after the library's modules. Time-valued layers on
extract are self times of the public calls, each materialized at its own
boundary (scan; extract_pages; salted_repartition; write_results) and taken
by difference; the audit is the time run_extraction spends after its results
write has finished; the stream's are medians of the progress durationMs
fields. Python-worker times are Spark's task-summed SQL metrics. A layer that
the workload does not run reports 0.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import faulthandler  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import struct  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    PY_BOOT, PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, SCAN_BYTES, SCAN_TIME,
    SHUFFLE_BYTES, SHUFFLE_READ_BYTES, RssSampler, SqlMetrics, Tracer,
    metric_total, summarize,
)

# -- sizes, per core of the machine ------------------------------------------
WRITE_PAGES_PER_CORE = 1000      # run_extraction input rows
WRITE_FILES_PER_CORE = 4         # >= 4 files per core: the kernel runs on scan splits
WRITE_BUCKETS_PER_CORE = 4       # url-hash buckets; the 256 default would write
                                 # ~1 row per file at this input size
STREAM_FILES_PER_CORE = 6        # stream_extract reads 8 files per trigger
STREAM_PAGES_PER_FILE = 100
WARMUP_OPS = 1                   # excluded from statistics, counted and reported
MIN_OPS = 2                      # timed operations per untraced run, at least
CORPUS_MIN_OPS = 3               # corpus passes are short and the first timed
                                 # one is still slow (JIT); the median of a
                                 # fixed count of 3 takes the same pass each run
WARMUP_PAGES_PER_FILE = 5        # warm-up inputs keep the file count (same plan
                                 # shape) with few rows: the cold cost is per
                                 # process, not per row

# corpus_queries: one query per operator family (module), over a vendored byte
# copy of the seed-42 sf0.01 tables. Query -> module of the operator it runs.
CORPUS_DATA = os.path.join(HERE, "data", "sf0.01")
CORPUS = {
    "nation_revenue": "queries.relational",
    "rolling_trend": "operators.windows",
    "dedup_exact": "operators.dedup",
    "semdedup": "operators.similarity",
    "quality_score": "operators.text_analysis",
}
FAMILIES = list(dict.fromkeys(CORPUS.values()))

END_TO_END = {"setup_s": "s", "op_wall_ref": "ratio", "peak_rss_mb": "MB"}

# The shared 4-core machine this was tuned on runs everything up to about
# twice as fast for minutes at a time, which no averaging within one run
# removes. A fixed pure-Python loop timed between operations slows down and
# speeds up with it, so each operation's wall time is also reported over the
# mean of the loop times just before and just after it.
REF_ITERATIONS = 4_000_000       # 0.25 to 0.5 s there
REF_CHUNKS = 5


def reference_s() -> float:
    """Wall time of a fixed pure-Python loop, REF_CHUNKS times the median of
    its chunks: a chunk that the memory sampler's thread or a brief stall
    hit does not count."""
    chunks = []
    for _ in range(REF_CHUNKS):
        t = time.perf_counter()
        acc = 0
        for i in range(REF_ITERATIONS // REF_CHUNKS):
            acc ^= i * i
        chunks.append(time.perf_counter() - t)
    return REF_CHUNKS * statistics.median(chunks)


PER_LAYER = {
    "session.start_s": "s",
    "queries.import_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "operators.extract.kernel_s": "s",
    "operators.extract.python_boot_s": "s",
    "operators.extract.python_init_s": "s",
    "operators.extract.python_run_s": "s",
    "operators.extract.bytes_to_python": "B",
    "operators.extract.bytes_from_python": "B",
    "operators.extract.rows_error": "count",
    "plans.pipeline.shuffle_s": "s",
    "plans.pipeline.shuffle_bytes": "B",
    "plans.pipeline.shuffle_skew": "ratio",
    "sources.io.write_results_s": "s",
    "sources.io.audit_s": "s",
    "sources.io.bytes_written": "B",
    "sources.io.files_written": "count",
    "streaming.stream.plan_ms": "ms",
    "streaming.stream.add_batch_ms": "ms",
    "streaming.stream.wal_commit_ms": "ms",
    "streaming.stream.batches": "count",
    **{k: u for fam in FAMILIES for k, u in (
        (f"{fam}_s", "s"), (f"{fam}.shuffle_bytes", "B"),
        (f"{fam}.bytes_to_python", "B"), (f"{fam}.python_boot_s", "s"))},
    **{f"query.{name}_s": "s" for name in CORPUS},
    "trace.overhead_s": "s",
    "trace.unexplained_s": "s",
}


class Run:
    """State of one run: session, inputs, samples, failures and the trace."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = args.work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(run_id=f"{args.workload}-seed{args.seed}")
        self.settings: dict = {"cores": self.cores, "seed": args.seed,
                               "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                               "warmup_ops": WARMUP_OPS, "min_ops": MIN_OPS}
        self.walls: list[float] = []          # timed, untraced operations
        self.refs: list[float] = []           # reference_s() around them
        self.rel_walls: list[float] = []      # wall over the mean reference around it
        self.warmup_walls: list[float] = []
        self.samples: dict[str, list[float]] = {}   # extra end-to-end samples
        self.layers: list[dict] = []          # one dict per traced operation
        self.reconcile: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.units = 1                        # operations one workload call attempts
        self.window_s = 0.0
        self.op_peaks: list[int] = []         # peak resident bytes of each timed operation
        self.peak_rss = 0
        self.peak_rss_by_comm: dict[str, int] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def set_up(self) -> None:
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                from space_launch_telemetry_analyzer_spark.session import get_spark

                self.spark = get_spark(
                    app_name=f"perfbench-{self.workload}",
                    extra_conf={"spark.ui.showConsoleProgress": "false"},
                )
            with self.tracer.span("queries.import"):
                from space_launch_telemetry_analyzer_spark import queries

                self.queries = queries
        self.setup_s = time.perf_counter() - T_START
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sql = SqlMetrics(self.spark)

    def attempt(self, fn, units: int):
        """Run one operation; an exception counts `units` failed operations
        (a failure, never a retry) and returns None."""
        try:
            return fn()
        except Exception:
            self.attempted += units
            self.failed += units
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def check_rows(self, rows, expected: dict[str, str]) -> None:
        """Every url generated appears once, with no error and text
        byte-identical to the generator's."""
        seen, bad = set(), 0
        for url, text, error in rows:
            if error is not None or url in seen or expected.get(url) != text:
                bad += 1
            seen.add(url)
        missing = len(expected) - len(seen & expected.keys())
        self.attempted += len(expected)
        self.failed += min(len(expected), bad + missing)

    def loop(self, untraced, traced, warmup: int = WARMUP_OPS,
             min_ops: int = MIN_OPS) -> None:
        """Warm up, then run operations back to back for `seconds`, and for
        at least `min_ops` operations when untraced. Traced runs alternate an
        untraced and a traced operation."""
        for i in range(warmup):
            wall = self.attempt(lambda: untraced(f"warmup{i}"), self.units)
            if wall is not None:
                self.warmup_walls.append(wall)
        t0, i = time.perf_counter(), 0
        with RssSampler() as rss:
            self.refs.append(reference_s())
            while True:
                rss.take()
                wall = self.attempt(lambda: untraced(f"op{i}"), self.units)
                peak = rss.take()
                self.refs.append(reference_s())
                if wall is not None:
                    self.walls.append(wall)
                    self.rel_walls.append(wall / ((self.refs[-2] + self.refs[-1]) / 2))
                    self.op_peaks.append(peak)
                if self.trace:
                    self.attempt(lambda: traced(f"traced{i}"), self.units)
                i += 1
                if (time.perf_counter() - t0 >= self.seconds
                        and (self.trace or i >= min_ops)):
                    break
        self.peak_rss = rss.peak
        self.peak_rss_by_comm = rss.peak_by_comm
        self.window_s = time.perf_counter() - t0

    def timed(self, name: str, fn, **attrs) -> float:
        with self.tracer.span(name, **attrs):
            t = time.perf_counter()
            fn()
            return time.perf_counter() - t

    def boundary(self, op: str, name: str, fn):
        """Traced call: tag its jobs, time it, then read its SQL metrics."""
        self.spark.sparkContext.setJobGroup(f"{self.workload}/{op}/{name}", name)
        mark = self.sql.mark()
        wall = self.timed(name, fn, op=op)
        metrics = self.sql.read(mark)
        self.spark.sparkContext.setJobGroup(f"{self.workload}/untraced", "untraced")
        return wall, metrics


# -- inputs --------------------------------------------------------------------

def first_row_id(seed: int, workload: str) -> int:
    """Row-id window start picked from the seed; page content is a pure
    function of the row id."""
    return random.Random(f"{workload}:{seed}").randrange(0, 1 << 30)


def write_pages(path: str, first: int, n_pages: int, n_files: int) -> dict[str, str]:
    """Pages with ids [first, first + n_pages) as n_files parquet files, in
    the layout of sources.pages.synth_pages_df. Returns url -> expected text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from space_launch_telemetry_analyzer_spark.sources.pages import (
        expected_text, host_of, paragraphs_of, render_page,
    )

    os.makedirs(path, exist_ok=True)
    expected = {}
    per = -(-n_pages // n_files)
    for k in range(n_files):
        ids = range(first + k * per, first + min(n_pages, (k + 1) * per))
        urls = [f"https://{host_of(i)}/page/{i}" for i in ids]
        texts = [expected_text(i) for i in ids]
        expected.update(zip(urls, texts))
        table = pa.table({
            "row_idx": pa.array(list(ids), pa.int64()),
            "url": urls,
            "warc_ts": pa.array(
                [(1704067200 + i * 17 + (i * 37) % 11) * 1_000_000 for i in ids],
                pa.timestamp("us", tz="UTC")),
            "html": pa.array([render_page(i, paragraphs_of(i)).encode() for i in ids],
                             pa.binary()),
            "text": texts,
            "lang": [("en", "en", "en", "de", "fr", "")[i % 6] for i in ids],
        })
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
    return expected


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under `path`."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_layers(m: dict) -> dict:
    """The extraction kernel's Python-boundary metrics, summed over tasks."""
    return {
        "operators.extract.python_boot_s": metric_total(m, PY_BOOT),
        "operators.extract.python_init_s": metric_total(m, PY_INIT),
        "operators.extract.python_run_s": metric_total(m, PY_RUN),
        "operators.extract.bytes_to_python": metric_total(m, PY_SENT),
        "operators.extract.bytes_from_python": metric_total(m, PY_RETURNED),
    }


# -- workloads -----------------------------------------------------------------

def extract(run: Run) -> None:
    """One operation is the flagship plans.pipeline.run_extraction(audit=True)
    into a fresh ResultStore over a multi-file pages table, then
    streaming.stream.stream_extract drained with availableNow over a
    directory of many small files into a fresh sink and checkpoint. The two
    run the same kernel; the drain pays fixed per-micro-batch costs and
    bypasses plans.pipeline and ResultStore."""
    from pyspark.sql import functions as F

    from space_launch_telemetry_analyzer_spark.operators.extract import extract_pages
    from space_launch_telemetry_analyzer_spark.plans.pipeline import (
        run_extraction, salted_repartition,
    )
    from space_launch_telemetry_analyzer_spark.sources.io import ResultStore
    from space_launch_telemetry_analyzer_spark.streaming.stream import stream_extract

    spark = run.spark
    next_id = [first_row_id(run.seed, run.workload)]

    def inputs(name: str, n_pages: int, n_files: int) -> dict:
        """The timed input and its warm-up copy, on disjoint row-id windows:
        {"op": (path, url -> text), "warmup": (path, url -> text)}."""
        out = {}
        for kind, n in (("op", n_pages), ("warmup", WARMUP_PAGES_PER_FILE * n_files)):
            path = run.path(f"{name}-{kind}")
            out[kind] = (path, write_pages(path, next_id[0], n, n_files))
            next_id[0] += n
        return out

    write_pages_n = WRITE_PAGES_PER_CORE * run.cores
    write_files = WRITE_FILES_PER_CORE * run.cores
    stream_files = STREAM_FILES_PER_CORE * run.cores
    stream_pages_n = stream_files * STREAM_PAGES_PER_FILE
    write_in = inputs("pages", write_pages_n, write_files)
    stream_in = inputs("stream-pages", stream_pages_n, stream_files)
    n_buckets = WRITE_BUCKETS_PER_CORE * run.cores
    run.settings.update(pages=write_pages_n, files=write_files, n_buckets=n_buckets,
                        stream_pages=stream_pages_n, stream_files=stream_files,
                        max_files_per_trigger=8)
    run.units = write_pages_n + stream_pages_n
    checks: list[tuple] = []   # (reads the written rows, url -> expected text)
    walls: dict[str, list[float]] = {"run_extraction_s": [], "stream_drain_s": []}
    batches: list[dict] = []   # progress durationMs of timed micro-batches

    def pages(path=write_in["op"][0]):
        return spark.read.parquet(path)

    def full(name: str, kind: str = "op"):
        path, expected = write_in[kind]
        store = ResultStore(run.path(name))
        summary = run_extraction(spark, pages(path), store, n_buckets=n_buckets, audit=True)
        checks.append((store.read_results, expected))
        return summary

    def drain(name: str, kind: str = "op") -> list[dict]:
        path, expected = stream_in[kind]
        sink = run.path(f"{name}/out")
        q = stream_extract(spark, path, sink, run.path(f"{name}/checkpoint"),
                           available_now=True)
        q.awaitTermination()
        checks.append((lambda s: s.read.parquet(sink), expected))
        return [p["durationMs"] for p in q.recentProgress if p["numInputRows"] > 0]

    def untraced(op: str) -> float:
        kind = "warmup" if op.startswith("warmup") else "op"
        durations = []
        w_batch = run.timed("plans.pipeline.run_extraction", lambda: full(op, kind), op=op)
        w_drain = run.timed("streaming.stream.stream_extract",
                            lambda: durations.extend(drain(f"{op}-stream", kind)), op=op)
        if kind == "op":
            walls["run_extraction_s"].append(w_batch)
            walls["stream_drain_s"].append(w_drain)
            batches.extend(durations)
        return w_batch + w_drain

    def traced(op: str) -> None:
        width = spark.sparkContext.defaultParallelism * 5   # run_extraction's default

        def arranged():
            return salted_repartition(extract_pages(pages(), n_buckets=n_buckets),
                                      width, ["bucket"])

        w_scan, m_scan = run.boundary(op, "sources.scan", lambda: noop(pages()))
        w_ext, m_ext = run.boundary(op, "operators.extract",
                                    lambda: noop(extract_pages(pages(), n_buckets=n_buckets)))
        w_shuf, m_shuf = run.boundary(op, "plans.pipeline.shuffle", lambda: noop(arranged()))
        wstore = ResultStore(run.path(f"{op}-write"))
        w_write, _ = run.boundary(op, "sources.io.write_results", lambda: wstore.write_results(
            arranged().withColumn("run_id", F.lit(op))))
        # the audit (read-back, metrics, checkpoint) runs after the results
        # write, the last execution that sends rows to the Python kernel
        summary, returned = [], []

        def audited():
            summary.append(full(f"{op}-full"))
            returned.append(time.time())

        mark = run.sql.mark()
        w_full, _ = run.boundary(op, "run_extraction(audit=True)", audited)
        written = run.sql.last_end(mark, PY_SENT)
        durations = []
        w_drain, _ = run.boundary(op, "streaming.stream.stream_extract",
                                  lambda: durations.extend(drain(f"{op}-stream")))
        triggers = sum(d["triggerExecution"] for d in durations) / 1000.0

        read = m_shuf.get(SHUFFLE_READ_BYTES, [])
        skew = (read[0][2] / read[0][1]) if read and read[0][1] else 1.0
        n_bytes, files = tree_bytes(wstore.results_path)
        selfs = {
            "sources.scan_s": w_scan,
            "operators.extract.kernel_s": w_ext - w_scan,
            "plans.pipeline.shuffle_s": w_shuf - w_ext,
            "sources.io.write_results_s": w_write - w_shuf,
            "sources.io.audit_s": returned[0] - written,
            "streaming.stream.triggers_s": triggers,
        }
        wall = w_full + w_drain
        unexplained = wall - sum(selfs.values())
        run.reconcile.append({"op": op, "wall_s": wall, "self_s": selfs,
                              "unexplained_s": unexplained})

        def med(key):
            return statistics.median(d.get(key, 0) for d in durations) if durations else 0.0

        run.layers.append({
            **selfs,
            "sources.scan_bytes": metric_total(m_scan, SCAN_BYTES),
            **kernel_layers(m_ext),
            "operators.extract.rows_error": summary[0]["n_errors"],
            "plans.pipeline.shuffle_bytes": metric_total(m_shuf, SHUFFLE_BYTES),
            "plans.pipeline.shuffle_skew": skew,
            "sources.io.bytes_written": n_bytes,
            "sources.io.files_written": files,
            "streaming.stream.plan_ms": med("queryPlanning"),
            "streaming.stream.add_batch_ms": med("addBatch"),
            "streaming.stream.wal_commit_ms": med("walCommit"),
            "streaming.stream.batches": len(durations),
            "trace.unexplained_s": unexplained,
            "_traced_wall": wall,
        })

    run.loop(untraced, traced)
    with run.tracer.span("check"):
        for read, exp in checks:
            run.attempt(lambda: run.check_rows(
                read(spark).select("url", "extracted_text", "error").collect(), exp), len(exp))
    run.samples.update(walls)
    run.samples["extract_docs_per_s"] = [write_pages_n / w for w in walls["run_extraction_s"]]
    run.samples["stream_docs_per_s"] = [stream_pages_n / w for w in walls["stream_drain_s"]]
    run.samples["stream_batch_ms"] = [float(d["triggerExecution"]) for d in batches]


def normalize(rows, colnames) -> list:
    """Order-insensitive canonical rows: columns by name, rows sorted; floats
    compared bitwise, integers widened, as the repo's oracle parity gate does."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else struct.pack(">d", v).hex()
            elif isinstance(v, int) and not isinstance(v, bool):
                v = struct.pack(">d", float(v)).hex()
            vals.append(repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


def oracle_results(names: list[str], oracles: dict[str, str], out: dict) -> None:
    """DuckDB twin of each query over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in sorted(os.listdir(CORPUS_DATA)):
        table = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(CORPUS_DATA, f)}'")
    for name in names:
        try:
            rel = con.sql(oracles[name])
            cols = [d[0] for d in rel.description]
            out[name] = (sorted(cols), normalize(rel.fetchall(), cols))
        except Exception as e:   # reported as that query's failure
            out[name] = e
    con.close()


def corpus_queries(run: Run) -> None:
    """One read-only pass over the CORPUS queries through the noop sink."""
    spark, QUERIES = run.spark, run.queries.QUERIES
    names = list(CORPUS)
    run.settings.update(queries=CORPUS, data="perfbench/data/sf0.01 (seed 42, fixed)",
                        warmup_ops=1, min_ops=CORPUS_MIN_OPS)
    run.units = len(names)

    # warm-up pass = the correctness check: collect every output, one query
    # at a time as in the timed passes, and compare it with its DuckDB twin,
    # computed on a thread meanwhile
    oracle: dict = {}
    th = threading.Thread(target=oracle_results,
                          args=(names, run.queries.ORACLES, oracle))
    th.start()
    t0 = time.perf_counter()

    def collect(name):
        df = QUERIES[name](spark, CORPUS_DATA)
        return sorted(df.columns), normalize(df.collect(), df.columns)

    got = {n: run.attempt(lambda: collect(n), 1) for n in names}
    run.warmup_walls.append(time.perf_counter() - t0)
    th.join()
    for name in names:
        if isinstance(oracle.get(name), Exception):
            run.errors.append(f"{name} oracle: {oracle[name]!r}")
        if got[name] is not None:
            run.attempted += 1
            run.failed += int(got[name] != oracle.get(name))

    def one_pass(op: str, traced: bool) -> tuple[float, dict]:
        """Time every query through the noop sink. Returns the pass wall and,
        per query, (wall, SQL-execution marks before and after); traced
        passes tag each query's jobs with its own job group."""
        per_query = {}
        with run.tracer.span("corpus_pass", op=op):
            t = time.perf_counter()
            for name in names:
                marks = [run.sql.mark()] if traced else []
                if traced:
                    spark.sparkContext.setJobGroup(f"{run.workload}/{op}/{name}", name)
                w = run.timed(name, lambda: noop(QUERIES[name](spark, CORPUS_DATA)), op=op)
                per_query[name] = (w, *marks, *([run.sql.mark()] if traced else []))
            wall = time.perf_counter() - t
        run.attempted += len(names)
        return wall, per_query

    walls_q: dict[str, list[float]] = {n: [] for n in names}

    def untraced(op: str) -> float:
        wall, per = one_pass(op, traced=False)
        if not op.startswith("warmup"):
            for n in names:
                walls_q[n].append(per[n][0])
        return wall

    def traced(op: str) -> None:
        wall, per = one_pass(op, traced=True)
        vals = {"sources.scan_s": 0.0, "sources.scan_bytes": 0.0}
        for name in names:
            w, a, b = per[name]
            m = run.sql.read(a, b)
            fam = CORPUS[name]
            vals[f"query.{name}_s"] = w
            vals[f"{fam}_s"] = vals.get(f"{fam}_s", 0.0) + w
            for key, metric in (("shuffle_bytes", SHUFFLE_BYTES),
                                ("bytes_to_python", PY_SENT),
                                ("python_boot_s", PY_BOOT)):
                k = f"{fam}.{key}"
                vals[k] = vals.get(k, 0.0) + metric_total(m, metric)
            vals["sources.scan_s"] += metric_total(m, SCAN_TIME)
            vals["sources.scan_bytes"] += metric_total(m, SCAN_BYTES)
        selfs = {f"{fam}_s": vals[f"{fam}_s"] for fam in FAMILIES}
        unexplained = wall - sum(selfs.values())
        run.reconcile.append({"op": op, "wall_s": wall, "self_s": selfs,
                              "unexplained_s": unexplained})
        run.layers.append({**vals, "trace.unexplained_s": unexplained, "_traced_wall": wall})

    run.loop(untraced, traced, warmup=0,   # the checking pass warmed up
             min_ops=CORPUS_MIN_OPS)
    for n in names:
        run.samples[f"query.{n}_s"] = walls_q[n]
    run.samples["corpus_wall_s"] = list(run.walls)


WORKLOADS = {
    "extract": extract,
    "corpus_queries": corpus_queries,
}


def result(run: Run) -> dict:
    if run.trace:
        values = dict.fromkeys(PER_LAYER, 0.0)
        values["session.start_s"] = run.tracer.duration("session.start")
        values["queries.import_s"] = run.tracer.duration("queries.import")
        keys = {k for layer in run.layers for k in layer if k in PER_LAYER}
        for k in keys:
            values[k] = statistics.median(layer.get(k, 0.0) for layer in run.layers)
        traced = [layer["_traced_wall"] for layer in run.layers]
        if traced and run.walls:
            values["trace.overhead_s"] = (statistics.median(traced)
                                          - statistics.median(run.walls))
        units = PER_LAYER
    else:
        values = {
            "setup_s": run.setup_s,
            "op_wall_ref": statistics.median(run.rel_walls) if run.rel_walls else math.nan,
            "peak_rss_mb": (statistics.median(run.op_peaks) / 1e6
                            if run.op_peaks else math.nan),
        }
        units = END_TO_END
    correct = run.failed == 0 and bool(run.walls) and all(
        math.isfinite(v) for v in values.values())
    report = {
        "workload": run.workload,
        "trace": run.trace,
        "settings": run.settings,
        "setup_s": run.setup_s,
        "window_s": run.window_s,
        "warmup": {"count": len(run.warmup_walls), "walls_s": run.warmup_walls},
        "op_wall_s": summarize(run.walls),
        "op_wall_ref": summarize(run.rel_walls),
        "reference_s": summarize(run.refs),
        "samples": {k: summarize(v) for k, v in run.samples.items()},
        "peak_rss_mb": summarize([p / 1e6 for p in run.op_peaks]),
        "window_peak_rss_mb": run.peak_rss / 1e6,
        "peak_rss_by_command": run.peak_rss_by_comm,
        "failed_share": run.failed / run.attempted if run.attempted else None,
        "errors": run.errors,
        "reconcile": run.reconcile,
        "spans": run.tracer.spans,
    }
    return {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "report": report,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # run.py kills a worker that is still running after 150 s; print where
    # this one is stuck before that happens
    faulthandler.dump_traceback_later(140)
    run = Run(args)
    run.set_up()
    try:
        WORKLOADS[args.workload](run)
        # the result is complete before the session stops: run.py takes it
        # even if stopping the JVM then stalls
        part = args.out + ".part"
        with open(part, "w") as f:
            json.dump(result(run), f, default=float)
        os.replace(part, args.out)
    finally:
        run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
