"""The snowav_raster Python DataSource: file-per-partition reads, schema,
and end-to-end into the banded pipeline."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from snowav_spark import pipeline, sources
from snowav_spark.ingest import synthetic_topo


@pytest.fixture(scope="module")
def grid_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("grids")
    for day in ("2024-01-01", "2024-01-02"):
        for var, base in (("swe_mm", 100.0), ("depth_m", 1.0)):
            rows = []
            for y in range(4):
                rows.append(",".join(str(base + y * 10 + x) for x in range(5)))
            (d / f"{var}_{day}.csv").write_text("\n".join(rows) + "\n")
    # a non-grid file that must be ignored
    (d / "README.txt").write_text("not a grid")
    return str(d)


def test_reads_tall_frame(spark, grid_dir):
    sources.register(spark)
    df = spark.read.format("snowav_raster").load(grid_dir)
    assert df.columns == ["date", "y", "x", "variable", "value"]
    assert df.count() == 2 * 2 * 4 * 5  # days × vars × ny × nx
    got = df.filter(
        (F.col("variable") == "swe_mm")
        & (F.col("date") == "2024-01-01")
        & (F.col("y") == 2)
        & (F.col("x") == 3)
    ).collect()
    assert got[0].value == 100.0 + 20 + 3


def test_partitions_are_files(spark, grid_dir):
    sources.register(spark)
    df = spark.read.format("snowav_raster").load(grid_dir)
    # 4 grid files → 4 input partitions (file-parallel, no driver reads)
    assert df.rdd.getNumPartitions() == 4


def test_feeds_pipeline(spark, grid_dir, tmp_path):
    sources.register(spark)
    raster = spark.read.format("snowav_raster").load(grid_dir)
    topo = synthetic_topo(spark, 4, 5, [0.0, 10.0, 20.0, 30.0])
    spec = pipeline.PipelineSpec(
        run_id="src_run",
        edges=[0.0, 10.0, 20.0, 30.0],
        basins=["basin_A", "basin_B"],
        store_path=str(tmp_path / "store"),
    )
    # per-band and total rows come from ONE aggregate over ONE scan
    plan = (
        pipeline.process(spec, raster, topo)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BatchScan snowav_raster") == 1, plan
    assert plan.count("Expand") == 1, plan
    store = pipeline.run(spark, spec, raster, topo)
    out = store.read()
    assert out.filter(F.col("band") == -1).count() > 0
    assert {r.variable for r in out.select("variable").distinct().collect()} == {
        "swe_mm",
        "depth_m",
    }


def test_missing_dir_errors(spark, tmp_path):
    sources.register(spark)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception, match="no <variable>_<date>.csv"):
        spark.read.format("snowav_raster").load(str(empty)).count()


def test_streaming_reads_only_new_grids(spark, tmp_path):
    """EP2 as a stream: each availableNow run picks up exactly the grid
    files that appeared since the checkpointed offset — the streaming
    twin of ResultsStore.append_missing."""
    import shutil

    gdir = tmp_path / "grids"
    gdir.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_grid(day, base):
        rows = [
            ",".join(str(base + y * 10 + x) for x in range(3))
            for y in range(2)
        ]
        (gdir / f"swe_mm_{day}.csv").write_text("\n".join(rows) + "\n")

    sources.register(spark)

    def run_once():
        stream = spark.readStream.format("snowav_raster").load(str(gdir))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_grid("2024-01-01", 100.0)
    run_once()
    got1 = spark.read.parquet(out)
    assert got1.count() == 6
    assert {r.date.isoformat() for r in got1.select("date").distinct().collect()} == {
        "2024-01-01"
    }
    # day 2 arrives; ONLY its rows are appended
    write_grid("2024-01-02", 200.0)
    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == 12
    day2 = got2.filter(F.col("date") == "2024-01-02")
    assert day2.count() == 6
    assert day2.agg(F.min("value")).collect()[0][0] == 200.0
    # no new files -> a third run appends nothing
    run_once()
    assert spark.read.parquet(out).count() == 12


def test_stream_run_matches_batch_pipeline(spark, tmp_path):
    """EP2 option (b): the streaming pipeline over an arriving grid
    directory must land EXACTLY what the batch pipeline produces from
    the same files — day-grain exactly-once from offset replay +
    dynamic partition overwrite."""
    gdir = tmp_path / "grids"
    gdir.mkdir()

    def write_grid(day, base):
        rows = [
            ",".join(str(base + y * 10 + x) for x in range(4))
            for y in range(3)
        ]
        (gdir / f"swe_mm_{day}.csv").write_text("\n".join(rows) + "\n")

    spec_s = pipeline.PipelineSpec(
        run_id="ep2s",
        edges=[0, 10, 20, 30],
        basins=["basin_A", "basin_B"],
        store_path=str(tmp_path / "stream_store"),
        variables=("swe_mm",),
    )
    topo = synthetic_topo(spark, 3, 4, spec_s.edges)

    def stream_once():
        q = pipeline.stream_run(
            spark, spec_s, str(gdir), topo, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    write_grid("2024-03-01", 5.0)
    stream_once()
    write_grid("2024-03-02", 15.0)
    stream_once()

    # batch reference over the same directory
    sources.register(spark)
    spec_b = pipeline.PipelineSpec(
        run_id="ep2s",  # same run id → same rows modulo store
        edges=spec_s.edges,
        basins=spec_s.basins,
        store_path=str(tmp_path / "batch_store"),
        variables=("swe_mm",),
    )
    raster = spark.read.format("snowav_raster").load(str(gdir))
    batch_store = pipeline.run(
        spark, spec_b, raster, topo, record_metadata=False
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(spec_s.store_path)
            .select("run_id", "date", "basin_id", "variable", "band", "value")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            batch_store.read()
            .select("run_id", "date", "basin_id", "variable", "band", "value")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stream_run_same_day_variables_across_batches(spark, tmp_path):
    """One day's variables split across micro-batches: swe arrives, the
    trigger fires, THEN depth arrives for the same day.  The second
    batch's write must MERGE into the (run_id, date) partition, not
    dynamic-overwrite it — a bare overwrite silently deleted the first
    batch's swe rows (review finding)."""
    gdir = tmp_path / "grids2"
    gdir.mkdir()

    def write_grid(var, day, base):
        rows = [
            ",".join(str(base + y + x) for x in range(4)) for y in range(3)
        ]
        (gdir / f"{var}_{day}.csv").write_text("\n".join(rows) + "\n")

    spec = pipeline.PipelineSpec(
        run_id="ep2split",
        edges=[0, 10, 20, 30],
        basins=["basin_A", "basin_B"],
        store_path=str(tmp_path / "split_store"),
        variables=("swe_mm", "depth_m"),
    )
    topo = synthetic_topo(spark, 3, 4, spec.edges)

    def stream_once():
        q = pipeline.stream_run(
            spark, spec, str(gdir), topo, str(tmp_path / "ckpt2")
        )
        q.awaitTermination(120)

    write_grid("swe_mm", "2024-03-01", 5.0)
    stream_once()
    write_grid("depth_m", "2024-03-01", 2.0)  # SAME day, later batch
    stream_once()

    stored = spark.read.parquet(spec.store_path)
    by_var = {
        r.variable: r.n
        for r in stored.groupBy("variable").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    # both variables' rows survive for the shared date
    assert set(by_var) == {"swe_mm", "depth_m"}
    assert by_var["swe_mm"] == by_var["depth_m"] > 0
    # and a replayed batch does not duplicate (keyed upsert idempotence)
    stream_once()
    assert stored.count() == sum(by_var.values())
