"""The driver-side read planner of sources/jelly_io.py: whole .jelly files
packed into size-balanced read tasks by the split rule of Spark's file
sources, run over a ``spark.range`` task frame.

Pins the packing rule on synthetic (path, size) listings, the conf it
reads (``spark.sql.files.maxPartitionBytes`` changes the task count),
the empty-listing case, and the plan shape of every planned reader: a
``Range`` leaf under the map operator, with no Exchange and no
ExistingRDD scan (no Python job and no shuffle before the decode).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyjelly_spark.sources.jelly_io import (
    FRAME_META_SCHEMA,
    NAMESPACE_SCHEMA,
    READ_SCHEMA,
    _plan_read_tasks,
    read_jelly,
    read_jelly_frame_meta,
    read_jelly_namespaces,
)
from tests.test_split_decode import _stream_bytes

MB = 1 << 20
OPEN_COST = 4 * MB  # spark.sql.files.openCostInBytes default


def _flat(tasks):
    return sorted(path for task in tasks for path in task)


def test_many_tiny_files_pack_into_at_most_min_partitions(spark):
    items = [(f"f{i:03d}.jelly", 100 + i) for i in range(100)]
    tasks = _plan_read_tasks(spark, items)
    assert 1 <= len(tasks) <= spark.sparkContext.defaultParallelism
    assert _flat(tasks) == sorted(p for p, _ in items)
    sizes = [len(task) for task in tasks]
    assert max(sizes) - min(sizes) <= 1  # equal costs: an even spread


def test_file_larger_than_split_sits_alone(spark):
    items = [("big.jelly", 512 * MB)] + [(f"s{i}.jelly", MB) for i in range(10)]
    tasks = _plan_read_tasks(spark, items)
    assert ["big.jelly"] in tasks
    assert _flat(tasks) == sorted(p for p, _ in items)


def test_largest_first_balances_load(spark):
    """Three files, sizes 10/6/5 MB (plus open cost each): largest
    first into the least-loaded task gives {10} and {6, 5} with two
    tasks, never {10, 5} and {6}."""
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try:
        tasks = _plan_read_tasks(
            spark, [("a", 5 * MB), ("b", 10 * MB), ("c", 6 * MB)]
        )
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    assert sorted(tasks) == [["a", "c"], ["b"]]


def test_empty_listing_plans_no_task(spark):
    assert _plan_read_tasks(spark, []) == []


def test_empty_directory_reads_empty_frames(spark, tmp_path):
    for reader, schema in (
        (read_jelly, READ_SCHEMA),
        (read_jelly_frame_meta, FRAME_META_SCHEMA),
        (read_jelly_namespaces, NAMESPACE_SCHEMA),
    ):
        df = reader(spark, str(tmp_path))
        assert df.schema == schema
        assert df.count() == 0


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """Eight small single-stream files of 30 triples each."""
    root = tmp_path_factory.mktemp("read_planner")
    for i in range(8):
        (root / f"part-{i:02d}.jelly").write_bytes(_stream_bytes(30, f"f{i}"))
    return str(root)


def test_max_partition_bytes_changes_task_count(spark, stream_dir):
    """By default eight small files share the default parallelism's
    tasks; a maxPartitionBytes of one open cost gives each file its
    own task. The rows are the same either way."""
    default = read_jelly(spark, stream_dir)
    assert default.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(OPEN_COST))
    try:
        per_file = read_jelly(spark, stream_dir)
        assert per_file.rdd.getNumPartitions() == 8
        assert sorted(per_file.collect()) == sorted(default.collect())
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert default.count() == 8 * 30
    # a file is never split: each source_file comes from exactly one task
    per_task = (
        default.withColumn("task", F.spark_partition_id())
        .groupBy("source_file")
        .agg(F.countDistinct("task").alias("tasks"))
    )
    assert {r["tasks"] for r in per_task.collect()} == {1}


@pytest.mark.parametrize(
    "reader", [read_jelly, read_jelly_frame_meta, read_jelly_namespaces]
)
def test_planned_read_has_no_shuffle_or_python_source(spark, stream_dir, reader):
    plan = reader(spark, stream_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Range (0, " in plan
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "ExistingRDD" not in plan
