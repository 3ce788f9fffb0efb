"""Run metadata and variable-units side tables.

Reference parity: ref:snowav/database/tables.py declares RunMetadata (one
row per processing run: run_id, run_name, timestamps, config proxy),
Watershed/Basin lookups, and VariableUnits (variable → unit label applied
to figure axes and report tables).  Here they are small parquet dims next
to the results store — broadcast-joined wherever needed, never shuffled.
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowav_spark.io import hadoop_path_exists, local_df

# The reference's default variable → unit mapping (CoreConfig defaults;
# SURVEY §1.2: VariableUnits maps variable → 'in', 'TAF', 'kg/m³', 'MJ'…).
DEFAULT_UNITS: list[tuple[str, str, str]] = [
    ("swe_mm", "in", "snow water equivalent depth"),
    ("swe_vol", "TAF", "snow water equivalent volume"),
    ("depth_m", "in", "snow depth"),
    ("swi_mm", "in", "surface water input depth"),
    ("swi_vol", "TAF", "surface water input volume"),
    ("precip_mm", "in", "precipitation depth"),
    ("density", "kg/m^3", "snowpack density"),
    ("coldcont", "MJ", "cold content"),
]


def variable_units(spark: SparkSession) -> DataFrame:
    """The VariableUnits dim (broadcast wherever it joins)."""
    return spark.createDataFrame(
        DEFAULT_UNITS, ["variable", "unit", "description"]
    )


class RunMetadataStore:
    """One row per processing run, appended next to the results store
    (ref:snowav/database/database.py::run_metadata assigns a new run_id
    and records the config used)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def record(
        self,
        run_id: str,
        run_name: str,
        config: dict,
        now: datetime.datetime | None = None,
    ) -> None:
        now = now or datetime.datetime.now(datetime.timezone.utc).replace(
            tzinfo=None
        )
        row = [(run_id, run_name, now, json.dumps(config, sort_keys=True))]
        local_df(self.spark, row, self._SCHEMA).write.mode("append").parquet(
            self.path
        )

    _SCHEMA = (
        "run_id string, run_name string, created_ts timestamp_ntz, "
        "config string"
    )

    def runs(self) -> DataFrame:
        """All recorded runs; EMPTY (not PATH_NOT_FOUND) before the first
        record() — the same first-use guard ResultsStore.append_missing
        applies, so the two stores behave alike."""
        if not hadoop_path_exists(self.spark, self.path):
            return self.spark.createDataFrame([], self._SCHEMA)
        return self.spark.read.parquet(self.path)

    def latest(self, run_name: str):
        """Most recent run row for a name (max_by on created_ts)."""
        return (
            self.runs()
            .filter(F.col("run_name") == run_name)
            .orderBy(F.desc("created_ts"))
            .limit(1)
            .collect()
        )
