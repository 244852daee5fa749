"""Session factory and table loading: the per-file schema memo in
``load_table`` must save the inference job without changing what a read
returns."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from vunnel_spark.session import TABLES, default_cpus, load_table


def _jobs_during(spark, fn):
    """Run ``fn()`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"test_session_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "load_table job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_read(spark, sf_dir, name):
    """An unmemoized ``spark.read.parquet`` with load_table's normalization,
    decided from ``df.dtypes``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for cname, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


def _sorted_rows(df):
    return sorted(df.collect(), key=repr)


def _assert_same_read(spark, sf_dir, name):
    pinned = load_table(spark, sf_dir, name)
    fresh = _inferred_read(spark, sf_dir, name)
    assert pinned.schema == fresh.schema  # StructField equality covers nullability
    assert _sorted_rows(pinned) == _sorted_rows(fresh)


@pytest.mark.parametrize("name", TABLES)
def test_second_load_launches_no_job(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    df, jobs = _jobs_during(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert df.columns  # the pinned read resolved a schema


def test_first_load_of_a_new_file_infers(spark, sf_dir, tmp_path):
    """Control for the zero-job check above: a file the memo has not seen
    costs Spark's inference job."""
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    _, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1


@pytest.mark.parametrize("name", TABLES)
def test_pinned_read_equals_inferred_read(spark, sf_dir, name):
    load_table(spark, sf_dir, name)  # make sure the next call is a memo hit
    _assert_same_read(spark, sf_dir, name)


def test_pinned_read_of_nanos_events_equals_inferred_read(spark, sf_dir, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS): read as int64 under
    nanosAsLong, then narrowed to µs, on the memo hit as on inference."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = table.column("ts").cast(pa.timestamp("ns"))
    # sub-µs digits the ns→µs truncation must drop
    ns = pc.add(ts.cast(pa.int64()), 789).cast(pa.timestamp("ns"))
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ns)
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")

    first = load_table(spark, str(tmp_path), "events")
    assert dict(first.dtypes)["ts"] == "timestamp"
    _, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    _assert_same_read(spark, str(tmp_path), "events")


def test_rewritten_file_gets_new_schema(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]

    pq.write_table(
        pa.table({"o_orderkey": [7, 8], "o_comment": ["a", "b"]}), path
    )
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted(tuple(r) for r in df.collect()) == [(7, "a"), (8, "b")]


def test_directory_table_is_inferred_every_call(spark, tmp_path):
    """A dataset directory is not memoized: rewriting a file inside it
    moves neither the directory's mtime nor its size."""
    d = tmp_path / "nation.parquet"
    d.mkdir()
    part = d / "part-0.parquet"
    pq.write_table(pa.table({"n_nationkey": [1]}), part)
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_nationkey": [1], "n_name": ["x"]}), part)
    assert load_table(spark, str(tmp_path), "nation").columns == ["n_nationkey", "n_name"]


def test_default_cpus_follows_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
