"""Smoke test for the benchmark itself:

    python3 -m pytest perfbench/test_smoke.py -q

Runs a tiny instance of every workload, untraced and traced, and checks
that every metric BENCHMARK.json names is printed with its unit.  Then
feeds each output check a correct result and a deliberately corrupted
one: the first must pass, the second must fail.
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, fixtures, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "0.5", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    for k, v in out["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


def test_workload_names_match_the_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_query_check_catches_a_corrupted_result(tmp_path):
    data = str(tmp_path / "tables")
    fixtures.write_tables(data, seed=3, lineitem_rows=3000, n_docs=50, n_vecs=50)
    sql = {"q_topk": "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"}
    oracle = checks.oracle_answers(ROOT, data, sql)
    checker = checks.QueryChecker(ROOT, oracle, {"q_subset": "q_topk"})
    good = _orders_top10(data)
    assert checker.check("q_topk", good) == []
    price = good.column("o_totalprice").to_pylist()
    price[3] += 0.01
    bad = good.set_column(2, "o_totalprice", pa.array(price))
    assert checker.check("q_topk", bad)
    assert checker.check("q_topk", good.slice(0, 9))
    # rows-only keys: the digest must not change between passes
    assert checker.check("q_rows_only", good) == []
    assert checker.check("q_rows_only", bad)
    assert checker.check("q_empty", good.slice(0, 0))
    # approximate keys: only rows of their exact twin
    assert checker.check("q_subset", good.slice(0, 4)) == []
    assert checker.check("q_subset", bad.slice(3, 1))


def _orders_top10(data):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{data}/orders.parquet",
                      columns=["o_orderkey", "o_custkey", "o_totalprice"])
    return t.sort_by([("o_totalprice", "descending"),
                      ("o_orderkey", "ascending")]).slice(0, 10)


def test_generated_tables_have_the_sf0_001_row_counts_and_types(tmp_path):
    import pyarrow.parquet as pq

    data = str(tmp_path / "tables")
    fixtures.write_tables(data, seed=3, **workloads.SF_0_001)
    rows = {t: pq.read_metadata(f"{data}/{t}.parquet").num_rows
            for t in ("orders", "lineitem", "events", "documents", "embeddings")}
    # the sf0.001 row counts in FIXTURES.md
    assert rows == {"orders": 1500, "lineitem": 6000, "events": 1000,
                    "documents": 500, "embeddings": 500}
    ts = pq.read_schema(f"{data}/lineitem.parquet").field("l_shipdate").type
    assert ts == pa.timestamp("us")


def test_lsh_answer_equals_the_duckdb_twin(tmp_path):
    from snowav_spark import contract

    data = str(tmp_path / "tables")
    fixtures.write_tables(data, seed=4, lineitem_rows=600, n_docs=50,
                          n_vecs=200)
    twin = checks.oracle_answers(
        ROOT, data, {"lsh": contract.ORACLE[workloads.LSH_KEY]})["lsh"]
    ours = checks.lsh_answer(ROOT, data, contract.ORACLE["q_dedup_embed"],
                             *workloads.LSH_PARAMS)
    assert twin["rows"] and ours == twin


def test_season_checks_catch_a_corrupted_store():
    season = fixtures.season_grids(seed=5, ny=12, nx=10, n_days=3)
    season["days"] = [datetime.date(2024, 1, d) for d in (1, 2, 3)]
    gold = checks.season_gold(season, fixtures.SEASON_EDGES)
    rows = [(d, b, v, band, val) for (d, b, v, band), val in gold.items()]
    assert checks.check_store(rows, gold, season["days"]) == []
    i = next(i for i, r in enumerate(rows) if r[4] is not None)
    rows[i] = rows[i][:4] + (rows[i][4] + 1.0,)
    assert checks.check_store(rows, gold, season["days"])
    assert checks.check_store(rows[1:], gold, season["days"])


def test_curation_checks_catch_a_corrupted_corpus():
    import pandas as pd

    planted = {"clusters": [[1, 4], [2, 7]], "singles": [0, 3, 5]}
    good = [0, 1, 2, 3, 5]
    assert checks.check_curated(good, planted) == []
    assert checks.check_curated([0, 1, 2, 3], planted)     # lost a single
    assert checks.check_curated(good + [4], planted)       # kept two of a cluster
    packed = pd.DataFrame({"doc_id": good, "n_tokens": [300, 200, 100, 400, 50],
                           "shard": 0, "bin": [0, 0, 1, 1, 2],
                           "offset": [0, 300, 0, 100, 0]})
    assert checks.check_packed(packed, good, 512) == []
    over = packed.assign(bin=[0, 0, 0, 1, 2])
    assert checks.check_packed(over, good, 512)
    assert checks.check_packed(packed.iloc[1:], good, 512)
