"""Gold-style end-to-end test (the reference's own test pattern,
SURVEY.md §5.1: run the full pipeline on a tiny basin and compare the
summary table against independently-computed gold values).

Gold values here are computed by an independent numpy reimplementation of
the banded zonal semantics — stronger than a frozen file because it can't
go stale, and it pins the *semantics* (digitize clamping, overlapping
masks, band totals) rather than one output."""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import functions as F

from snowav_spark import ingest, pipeline
from snowav_spark.sinks import ResultsStore

EDGES = [1000.0, 1500.0, 2000.0, 2500.0, 3000.0]
DATES = [datetime.date(2024, 1, d) for d in (1, 2, 3)]
VARS = ["swe_mm", "depth_m", "swi_mm"]
NY, NX = 20, 20


def numpy_gold():
    """Independent recomputation of the expected results rows."""
    rng = np.random.default_rng(42)
    offsets = {v: float(rng.integers(0, 100)) for v in VARS}
    elev = np.array(
        [[EDGES[0] + (EDGES[-1] - EDGES[0]) * (y / (NY - 1)) for _ in range(NX)] for y in range(NY)]
    )
    band = np.clip(np.digitize(elev, EDGES) - 1, 0, len(EDGES) - 2)
    masks = {
        "basin_A": np.array([[x < int(NX * 0.6) for x in range(NX)]] * NY),
        "basin_B": np.array([[x >= int(NX * 0.4) for x in range(NX)]] * NY),
    }
    gold = {}
    for di, d in enumerate(DATES):
        for vi, var in enumerate(VARS):
            grid = offsets[var] + 0.5 * np.arange(NY)[:, None] + 0.25 * np.arange(NX)[None, :] + 3.0 * di + 0.1 * vi
            for basin, m in masks.items():
                for b in range(len(EDGES) - 1):
                    sel = m & (band == b)
                    if sel.any():
                        gold[(d, basin, var, b)] = round(float(grid[sel].sum()), 6)
                gold[(d, basin, var, -1)] = round(float(grid[m].sum()), 6)
    return gold


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    spec = pipeline.PipelineSpec(
        run_id="gold_run",
        edges=EDGES,
        basins=["basin_A", "basin_B"],
        store_path=str(tmp_path_factory.mktemp("results")),
    )
    raster = ingest.synthetic_raster(spark, NY, NX, DATES, VARS)
    topo = ingest.synthetic_topo(spark, NY, NX, EDGES)
    st = pipeline.run(spark, spec, raster, topo)
    return st, spec


def test_results_match_numpy_gold(store):
    st, spec = store
    got = {
        (r.date, r.basin_id, r.variable, r.band): r.value
        for r in st.read().collect()
    }
    gold = numpy_gold()
    assert set(got) == set(gold)
    for k, v in gold.items():
        assert got[k] == pytest.approx(v, abs=1e-6), k


def test_report_frame_shape(store):
    st, spec = store
    frame = pipeline.report_frame(
        st, spec, "swe_mm", datetime.date(2024, 1, 1), datetime.date(2024, 1, 4)
    )
    assert list(frame.columns) == ["band", "basin_A", "basin_B"]
    # bands: -1 (total) + every band present in the topo gradient
    assert frame["band"].tolist() == sorted(frame["band"].tolist())
    assert (-1) in set(frame["band"])


def test_idempotent_rerun(store, spark):
    """Reference semantics: re-running a processed range must not
    duplicate rows (delete-then-insert → dynamic partition overwrite)."""
    st, spec = store
    n_before = st.read().count()
    raster = ingest.synthetic_raster(spark, NY, NX, DATES, VARS)
    topo = ingest.synthetic_topo(spark, NY, NX, EDGES)
    pipeline.run(spark, spec, raster, topo)  # full re-run, same partitions
    assert st.read().count() == n_before


def test_incremental_append_skips_existing(store, spark):
    """EP2: daily coupling appends only unseen dates."""
    st, spec = store
    n_before = st.read().count()
    # re-offer days 1-3 (already present) plus a new day 4
    new_dates = DATES + [datetime.date(2024, 1, 4)]
    raster = ingest.synthetic_raster(spark, NY, NX, new_dates, VARS)
    topo = ingest.synthetic_topo(spark, NY, NX, EDGES)
    pipeline.run(spark, spec, raster, topo, incremental=True)
    after = st.read()
    n_new_day = after.filter(F.col("date") == "2024-01-04").count()
    assert n_new_day > 0
    # existing dates not duplicated
    assert after.count() == n_before + n_new_day


def test_incremental_rerun_of_stored_dates_leaves_store_untouched(store, spark):
    """EP2 re-offering only dates already stored writes an empty frame:
    under dynamic partition overwrite that replaces no partition, so
    every store file keeps its name, size and mtime."""
    import os

    st, spec = store

    def listing():
        return {
            os.path.relpath(os.path.join(root, f), spec.store_path): (
                os.stat(os.path.join(root, f)).st_size,
                os.stat(os.path.join(root, f)).st_mtime_ns,
            )
            for root, _dirs, files in os.walk(spec.store_path)
            for f in files
        }

    before = listing()
    raster = ingest.synthetic_raster(spark, NY, NX, DATES, VARS)
    topo = ingest.synthetic_topo(spark, NY, NX, EDGES)
    pipeline.run(
        spark, spec, raster, topo, incremental=True, record_metadata=False
    )
    assert listing() == before


def test_store_usable_after_empty_first_write(spark, tmp_path):
    """An empty first write leaves a store directory without partitions;
    the next append_missing / merge_upsert must still land its rows."""
    schema = (
        "run_id string, date date, basin_id string, variable string, "
        "band int, value double"
    )
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame(
        [("r1", datetime.date(2024, 1, 1), "A", "v", 0, 1.0)], schema
    )
    for i, land in enumerate((
        lambda st: st.append_missing(one, "r1"),
        lambda st: st.merge_upsert(one, keys=("basin_id", "variable", "band")),
    )):
        st = ResultsStore(spark, str(tmp_path / f"store{i}"))
        st.append_missing(empty, "r1")
        assert not st._has_partitions()
        land(st)
        assert st.read().count() == 1


def test_read_reuses_schema_and_sees_new_partitions(spark, tmp_path):
    """read() infers the schema once; later reads still list partitions
    written after the first read."""
    st = ResultsStore(spark, str(tmp_path / "schema_store"))
    cols = ["run_id", "date", "basin_id", "variable", "band", "value"]
    rows = [("r1", datetime.date(2024, 1, d), "A", "v", 0, float(d)) for d in (1, 2)]
    st.write(spark.createDataFrame(rows[:1], cols))
    first = st.read()
    st.write(spark.createDataFrame(rows[1:], cols))
    second = st.read()
    assert second.schema == first.schema
    assert sorted(r.value for r in second.collect()) == [1.0, 2.0]


def test_merge_upsert_replaces_matches_keeps_rest(spark, tmp_path):
    from snowav_spark.sinks import ResultsStore

    st = ResultsStore(spark, str(tmp_path / "merge_store"))
    d1, d2 = datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)
    base = spark.createDataFrame(
        [
            ("r1", d1, "A", "v", 0, 1.0),
            ("r1", d1, "A", "v", 1, 2.0),
            ("r1", d2, "A", "v", 0, 3.0),
            ("r1", d2, "B", "v", 0, 4.0),
        ],
        ["run_id", "date", "basin_id", "variable", "band", "value"],
    )
    st.write(base)
    updates = spark.createDataFrame(
        [
            ("r1", d2, "A", "v", 0, 30.0),   # replaces the 3.0 row
            ("r1", d2, "B", "v", 9, 99.0),   # brand-new key, same partition
        ],
        ["run_id", "date", "basin_id", "variable", "band", "value"],
    )
    st.merge_upsert(updates, keys=("basin_id", "variable", "band"))
    got = {
        (r.run_id, str(r.date), r.basin_id, r.variable, r.band): r.value
        for r in st.read().collect()
    }
    assert got == {
        ("r1", "2024-01-01", "A", "v", 0): 1.0,   # untouched partition
        ("r1", "2024-01-01", "A", "v", 1): 2.0,
        ("r1", "2024-01-02", "A", "v", 0): 30.0,  # replaced
        ("r1", "2024-01-02", "B", "v", 0): 4.0,   # survivor in partition
        ("r1", "2024-01-02", "B", "v", 9): 99.0,  # inserted
    }


def test_merge_upsert_first_write(spark, tmp_path):
    from snowav_spark.sinks import ResultsStore

    st = ResultsStore(spark, str(tmp_path / "merge_empty"))
    upd = spark.createDataFrame(
        [("r1", datetime.date(2024, 1, 1), "A", "v", 0, 1.0)],
        ["run_id", "date", "basin_id", "variable", "band", "value"],
    )
    st.merge_upsert(upd, keys=("basin_id", "variable", "band"))
    assert st.read().count() == 1
