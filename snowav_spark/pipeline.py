"""End-to-end pipeline — the reference's EP1 (`snowav -f config.ini`)
re-expressed as one lazy DataFrame DAG (SURVEY.md §3).

Reference flow: config → read NetCDF outputs (ALL timesteps into RAM) →
per-day/per-basin/per-band masked numpy loop → SQL insert → figures/report
from collect() frames.  The in-memory day loop is the reference's
scalability wall; here the whole thing is

    tall raster frame → broadcast topo join → digitize → one
    grouping-sets agg (per band + basin total) → partitioned write (the
    ONLY action)

so Catalyst fuses it and Spark spills instead of dying when a water year
exceeds RAM.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowav_spark.ops import banded
from snowav_spark.sinks import ResultsStore


@dataclass
class PipelineSpec:
    """The engine's UserConfig analog (ref:snowav/config/config.py reads
    an INI via inicheck; we take a plain dataclass — the 'query language'
    of the reference is its config, SURVEY §3)."""

    run_id: str
    edges: list[float]  # elevation band edges (ref: CoreConfig 'edges')
    basins: list[str]  # plotorder
    variables: tuple[str, ...] = ("swe_mm", "depth_m", "swi_mm")
    store_path: str = "/tmp/snowav_spark_results"


def process(
    spec: PipelineSpec, raster: DataFrame, topo: DataFrame
) -> DataFrame:
    """The day loop as one plan.

    ``raster``: tall frame (date, y, x, variable, value).
    ``topo``: dim frame (y, x, elevation, basin_id) — broadcast.

    Returns long-format results rows (run_id, date, basin_id, variable,
    band, value) with the reference's semantics: banded sums per basin
    per day per variable, plus the synthetic whole-basin 'total' band
    (band = -1).  Both come from ONE grouping-sets aggregate over one
    raster scan; ``grouping(band)`` marks the total rows.
    """
    keys = ["date", "basin_id", "variable"]
    joined = raster.join(F.broadcast(topo), ["y", "x"]).withColumn(
        "band", banded.digitize(F.col("elevation"), spec.edges)
    )
    agg = joined.groupingSets([[*keys, "band"], keys], *keys, "band").agg(
        F.round(F.sum("value"), 6).alias("value"),
        F.grouping("band").alias("is_total"),
    )
    return agg.select(
        F.lit(spec.run_id).alias("run_id"),
        *keys,
        F.when(F.col("is_total") == 1, F.lit(-1))
        .otherwise(F.col("band"))
        .alias("band"),
        "value",
    )


def run(
    spark: SparkSession,
    spec: PipelineSpec,
    raster: DataFrame,
    topo: DataFrame,
    incremental: bool = False,
    record_metadata: bool = True,
) -> ResultsStore:
    """EP1 (full run) / EP2 (incremental daily coupling) entry point.

    Each run appends a RunMetadata row (ref:snowav/database/database.py::
    run_metadata) holding the spec used, beside the results store."""
    store = ResultsStore(spark, spec.store_path)
    results = process(spec, raster, topo)
    if incremental:
        store.append_missing(results, spec.run_id)
    else:
        store.write(results)
    if record_metadata:
        from dataclasses import asdict

        from snowav_spark.metadata import RunMetadataStore

        RunMetadataStore(spark, f"{spec.store_path}_runs").record(
            spec.run_id, spec.run_id, asdict(spec)
        )
    return store


def report_frame(store: ResultsStore, spec: PipelineSpec, variable: str, start, end):
    """EP3 (figures/query-only mode): pivoted bands × basins pandas frame
    (ref:snowav/database/database.py::collect output shape)."""
    return store.collect_frame(spec.run_id, variable, spec.basins, start, end)


def stream_run(
    spark: SparkSession,
    spec: PipelineSpec,
    grid_dir: str,
    topo: DataFrame,
    checkpoint: str,
    available_now: bool = True,
):
    """EP2 option (b), SURVEY §3: the daily AWSM coupling as a
    Structured Streaming job over the grid directory instead of a
    re-invoked batch.  The streaming raster source (sources/
    raster_source.py) emits only the grid files that appeared since the
    checkpointed offset; each micro-batch runs the SAME lazy plan as the
    batch pipeline (broadcast topo join → banded grouping-sets agg) and
    lands via the store's partition-scoped MERGE (key = the full results
    grain), NOT a bare partition overwrite: when one day's variables
    split across micro-batches (swe arrives, the trigger fires, depth
    arrives), the second batch must not clobber the first batch's rows
    for that (run_id, date) partition.  Replays of a failed batch upsert
    the same keys — idempotent — so exactly-once comes from keyed merge
    + exact offset replay, with no dedup state to carry.

    Returns the started StreamingQuery; with ``available_now`` the
    caller awaits termination, without it the query runs continuously as
    the model writes grids.
    """
    from snowav_spark import sources as _sources

    _sources.register(spark)
    store = ResultsStore(spark, spec.store_path)
    stream = spark.readStream.format("snowav_raster").load(grid_dir)

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.merge_upsert(
            process(spec, batch_df, topo),
            keys=("run_id", "date", "basin_id", "variable", "band"),
        )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
