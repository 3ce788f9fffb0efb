"""io.read_pruned_partitions: index-serving reads list only the probed
partition directories."""

from __future__ import annotations


def test_read_pruned_partitions_matches_root_read(spark, tmp_path):
    """Explicit partition-dir read returns the same rows/schema as the
    root read + isin filter (including the partition column), skips
    values with no directory, and falls back cleanly when none exist."""
    from pyspark.sql import functions as F

    from snowav_spark.io import read_pruned_partitions

    root = str(tmp_path / "idx")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 8).alias("bucket")
    )
    df.write.partitionBy("bucket").parquet(root)

    want = [3, 5]
    got = read_pruned_partitions(spark, root, "bucket", want + [99]).filter(
        F.col("bucket").isin(want)
    )
    ref = spark.read.parquet(root).filter(F.col("bucket").isin(want))
    assert sorted(got.columns) == sorted(ref.columns)
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in ref.collect()
    )
    # value with no directory on disk → skipped, not an error
    only_missing = read_pruned_partitions(
        spark, root, "bucket", [42, 99]
    ).filter(F.col("bucket").isin([42, 99]))
    assert only_missing.count() == 0


def test_read_pruned_partitions_streaming_layout(spark, tmp_path):
    """Two-level (bucket, _batch) streaming layouts keep BOTH partition
    columns through the explicit-path read (basePath recovers them)."""
    from pyspark.sql import functions as F

    from snowav_spark.io import read_pruned_partitions

    root = str(tmp_path / "sidx")
    df = spark.range(40).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        ((F.col("id") / 4).cast("int") % 2).alias("_batch"),
    )
    df.write.partitionBy("bucket", "_batch").parquet(root)
    got = read_pruned_partitions(spark, root, "bucket", [1])
    assert "_batch" in got.columns and "bucket" in got.columns
    rows = got.collect()
    assert {r.bucket for r in rows} == {1}
    assert {r._batch for r in rows} == {0, 1}
    assert len(rows) == 10
