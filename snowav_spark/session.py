"""SparkSession construction with the engine's scale-oriented defaults.

Reference parity: the reference (ref:snowav/framework/framework.py) has no
session concept — it is a single process that loads *all* timesteps into RAM
up front (its main scalability wall, SURVEY.md §4).  Here the session is the
unit of configuration and every default below is chosen for the 100 TB /
1000-executor case, while remaining correct on local[32]:

- **AQE on** (coalesce partitions, skew-join splitting, runtime re-plan).
- ``spark.sql.shuffle.partitions`` left to AQE coalescing at scale; a small
  fixed value is used in tests via ``get_spark(shuffle_partitions=...)``.
- **Dynamic partition overwrite** — the reference's idempotent re-run
  semantics (delete rows for (run_name, date range) before insert,
  ref:snowav/database/database.py::delete) map to overwriting only the
  touched ``(run_id, date)`` partitions.
- **Parquet aggregate pushdown** for min/max/count-only scans.
- **Nanos-timestamp shim**: the events fixture stores INT64 TIMESTAMP(NANOS)
  which Spark 4 refuses by default ([PARQUET_TYPE_ILLEGAL]); we read it as
  long and rebuild a real timestamp in io.load_table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine defaults. Keys are plain Spark confs — nothing proprietary.
ENGINE_CONF: dict[str, str] = {
    # Adaptive execution: runtime shuffle-partition coalescing + skew-join
    # handling. At 100 TB this is what right-sizes reducers; locally it keeps
    # tiny queries from fragmenting into empty tasks.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Idempotent re-run: overwrite only the partitions present in the write.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Min/max/count pushed to parquet footers (q_scan-style probes).
    "spark.sql.parquet.aggregatePushdown": "true",
    # events.parquet carries TIMESTAMP(NANOS); read as long, rebuild in io.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any toPandas()/pandas_udf path (report frames, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.ts is rebuilt as TIMESTAMP (local-tz semantics); pin the
    # session to UTC so wall times — and date_trunc day boundaries — match
    # DuckDB's naive timestamps on any host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Python data source filter pushdown (Spark 4.1, default off): lets
    # the snowav_zarr reader prune chunk-grid partitions from pushed
    # t/y/x/variable predicates at planning — a time-sliced query on a
    # large archive plans only the intersecting chunks.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Reject whole-stage codegen whose compiled methods the JVM refuses
    # to JIT (HotSpot -XX:DontCompileHugeMethods limit is 8000 bytecode;
    # Spark's default of 65535 accepts 8–64 KB methods that then run in
    # the bytecode INTERPRETER).  Past the limit Spark falls back to
    # per-operator codegen — small, JIT-able per-expression methods —
    # which measured 10× faster on the unrolled PQ distance kernels
    # (0.70 vs 7.5 s/1M rows; OPTIMIZATION_r12.md).  A JVM property, not
    # a core-count or scale-factor tune.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def default_master() -> str | None:
    """``local[$SPARK_GRAFT_CPUS]``, or ``local[<cores this process may
    use>]`` when that variable is unset or blank; None when
    ``SPARK_MASTER`` names a cluster master."""
    if "SPARK_MASTER" in os.environ:
        return None
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return f"local[{cpus or len(os.sched_getaffinity(0))}]"


def get_spark(
    app_name: str = "snowav_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to :func:`default_master` — on a real cluster
    the deploy environment supplies the master and this argument is
    left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = default_master()
    if master:
        builder = builder.master(master)
        # local mode: the one JVM hosts driver + all executor threads; the
        # 1g Spark default is far too small for 32 threads (and for large
        # Catalyst trees).  Static conf — applies only when we launch the
        # JVM, so an externally-built session keeps its own sizing.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # Hostile-environment probe hook: pin the JVM timezone (contract
        # outputs must be NTZ/date and survive any host tz — ci.sh runs
        # the oracle gate once under a non-UTC JVM via this).
        jvm_tz = os.environ.get("SPARK_GRAFT_JAVA_TZ")
        if jvm_tz:
            builder = builder.config(
                "spark.driver.extraJavaOptions", f"-Duser.timezone={jvm_tz}"
            )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The driver may hand us a session it built itself; make the must-have
    # confs stick even then (all of these are runtime-settable).
    return _apply_runtime_conf(spark)


def _apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Set every ENGINE_CONF key on a live session, logging (debug) the
    ones that do not take.  A static conf on a running session raising
    is expected — getOrCreate() applied it at launch — but swallowing
    the error SILENTLY would also hide a misspelled conf key forever
    (VERDICT r10), so each failure is named in the debug log."""
    import logging

    failed: list[str] = []
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            failed.append(k)
    if failed:
        logging.getLogger("snowav_spark.session").debug(
            "runtime conf not applied (static on a live session, or "
            "unknown key): %s", ", ".join(sorted(failed)),
        )
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    The driver contract (``__spark_entry__.py``) passes us a SparkSession we
    did not build; the nanos shim and AQE flags are runtime-settable, so we
    set them here before any fixture read.  Keys that fail to apply are
    named in the debug log, never silently dropped (VERDICT r10).
    """
    return _apply_runtime_conf(spark)
