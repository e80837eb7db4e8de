"""`queries.load` reads a table with the schema from its parquet footer: the
schema must equal the one Spark infers, and building the frame must start no
Spark job."""

from __future__ import annotations

import datetime
import decimal
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from space_launch_telemetry_analyzer_spark.queries import load

REPO = Path(__file__).resolve().parent.parent


def _table_dirs(sf_dir: str) -> list[Path]:
    dirs = sorted(Path(sf_dir).parent.glob("sf*"))
    return dirs + [REPO / "perfbench" / "data" / "sf0.01"]


def test_load_schema_equals_inferred_for_every_table(spark, sf_dir):
    seen = 0
    for d in _table_dirs(sf_dir):
        for p in sorted(d.glob("*.parquet")):
            name = p.name[: -len(".parquet")]
            assert load(spark, str(d), name).schema == \
                spark.read.parquet(str(p)).schema, p
            seen += 1
    assert seen >= 37


def test_load_reads_a_directory_of_part_files(spark, tmp_path):
    """Three pyarrow-written part files: NOT NULL fields, a naive and a
    zoned timestamp, a decimal and a list column."""
    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("ts", pa.timestamp("us")),
        pa.field("ts_utc", pa.timestamp("us", tz="UTC")),
        pa.field("amount", pa.decimal128(12, 2)),
        pa.field("tags", pa.list_(pa.field("item", pa.string(), nullable=False))),
        pa.field("vec", pa.list_(pa.float32())),
    ])
    table_dir = tmp_path / "parts.parquet"
    table_dir.mkdir()
    for part in range(3):
        ids = [part * 10 + i for i in range(4)]
        ts = [datetime.datetime(2024, 1, 1 + part, i) for i in range(4)]
        pq.write_table(pa.table({
            "id": ids,
            "ts": ts,
            "ts_utc": [t.replace(tzinfo=datetime.timezone.utc) for t in ts],
            "amount": [decimal.Decimal(f"{i}.25") for i in ids],
            "tags": [["a", str(i)] for i in ids],
            "vec": [[float(i), 0.5] for i in ids],
        }, schema=schema), table_dir / f"part-{part}.parquet")
    got = load(spark, str(tmp_path), "parts")
    want = spark.read.parquet(str(table_dir))
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 12


def test_load_starts_no_spark_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_load_starts_no_spark_job"
    sc.setJobGroup(group, group)
    try:
        n = 0
        for d in _table_dirs(sf_dir):
            for p in sorted(d.glob("*.parquet")):
                load(spark, str(d), p.name[: -len(".parquet")])
                n += 1
        assert n
        # the tracker learns of jobs in submission order: once it shows this
        # marker job, it shows every job load() started before it
        sc.parallelize([1], 1).count()
        deadline = time.monotonic() + 30
        ids = sc.statusTracker().getJobIdsForGroup(group)
        while not ids and time.monotonic() < deadline:
            time.sleep(0.1)
            ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(ids) == 1, f"load() started {len(ids) - 1} Spark job(s)"
