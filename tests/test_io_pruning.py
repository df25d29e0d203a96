"""Partition-pruning and pushdown proof for the write side: a
Hive-partitioned parquet layout must let a partition-key filter skip
directories entirely (PartitionFilters in the scan, not a post-scan
Filter), and a data-column filter must reach the parquet reader as a
PushedFilter. These are the two scan-side behaviors a 100 TB layout
lives or dies by."""

from __future__ import annotations

from pyspark.sql import functions as F

from clinical_data_lake_spark.io import read_table

from conftest import SF_SMALL


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    root = str(tmp_path / "events_by_type")
    ev = read_table(spark, SF_SMALL, "events")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(root)

    back = spark.read.parquet(root)
    pruned = back.filter(F.col("event_type") == "error")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the partition predicate must appear in PartitionFilters, and the
    # pruned scan must read strictly fewer files than the full scan
    pf_line = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    assert "event_type" in pf_line

    n_total = ev.count()
    n_err = ev.filter(F.col("event_type") == "error").count()
    assert pruned.count() == n_err and 0 < n_err < n_total

    # a partition-pruned scan should touch only the matching directory
    files = [
        r.file_path
        for r in pruned.select(
            F.input_file_name().alias("file_path")
        ).distinct().collect()
    ]
    assert files and all("event_type=error" in f for f in files)


def test_data_column_filter_is_pushed(spark, tmp_path):
    root = str(tmp_path / "events_flat")
    read_table(spark, SF_SMALL, "events").write.mode("overwrite").parquet(root)
    scan = spark.read.parquet(root).filter(F.col("value") > 100.0).select("event_id")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "value" in pushed and "[]" not in pushed.split("PushedFilters")[1][:30]
    # column pruning: the read schema carries only the needed columns
    rs = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "props" not in rs


def test_read_table_sees_schema_of_table_rewritten_in_place(spark, tmp_path):
    # the footer memo must not serve the first schema after an overwrite
    root = str(tmp_path)
    spark.createDataFrame([(1,)], "a long").write.mode("overwrite").parquet(f"{root}/t.parquet")
    assert read_table(spark, root, "t").columns == ["a"]
    spark.createDataFrame([(2, "x")], "a long, b string").write.mode("overwrite").parquet(
        f"{root}/t.parquet"
    )
    assert [tuple(r) for r in read_table(spark, root, "t").collect()] == [(2, "x")]
