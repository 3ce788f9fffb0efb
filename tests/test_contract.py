"""Driver-parity tests: every contract query hash-matches its DuckDB oracle
at sf0.001, and every query without an oracle at least returns rows with a
stable schema (the driver's weaker rows-only check)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from snowav_spark.testing import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) >= 3


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("key", sorted(ORACLES))
def test_oracle_match(spark, duck, sf_dir, key):
    df = QUERIES[key](spark, sf_dir)
    problems = compare(df, duck, ORACLES[key])
    assert not problems, f"{key}: {problems}"


@pytest.mark.parametrize("key", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(spark, sf_dir, key):
    df = QUERIES[key](spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_assortativity_semantics(spark):
    """The symmetrized endpoint-degree pairs behind q_assortativity land
    the textbook signs: a star is perfectly disassortative (numpy
    Pearson over the same pairs = -1), and a degree-regular cycle has
    zero degree variance (the key's zero-variance guard territory)."""
    import numpy as np

    from snowav_spark.ops import graph

    def endpoint_pairs(edges):
        e = graph._canonical_edges(
            spark.createDataFrame(edges, "src long, dst long"),
            "src", "dst",
        )
        deg = graph._degrees(e)
        pair = (
            e.join(deg.withColumnRenamed("v", "a"), "a")
            .withColumnRenamed("d", "x")
            .join(deg.withColumnRenamed("v", "b"), "b")
            .withColumnRenamed("d", "y")
            .select("x", "y")
        )
        ep = pair.unionAll(pair.selectExpr("y AS x", "x AS y"))
        return np.array([(r.x, r.y) for r in ep.collect()], dtype=float)

    # star K1,4: every edge joins the degree-4 hub to a degree-1 leaf
    rows = endpoint_pairs([(0, i) for i in range(1, 5)])
    assert abs(np.corrcoef(rows[:, 0], rows[:, 1])[0, 1] - (-1.0)) < 1e-9

    # cycle C5: all degrees equal -> zero variance
    e = graph._canonical_edges(
        spark.createDataFrame(
            [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
        ),
        "src", "dst",
    )
    assert {r.d for r in graph._degrees(e).collect()} == {2}


# The generated DuckDB twins must share the Spark plan's exact hyperplane
# literals: a drifted seed or RNG would silently re-bucket one engine and
# fail the hash gate only at check time.


def test_ann_lsh_sql_embeds_spark_planes():
    """_ann_lsh_sql inlines the same 4x64 fixed-seed plane set the Spark
    key passes to ann_lsh_topk, at full repr precision (shortest repr
    round-trips each double exactly, so DuckDB parses the identical
    IEEE value)."""
    from snowav_spark import contract

    planes = contract._ann_lsh_planes()
    assert len(planes) == 4 and all(len(p) == 64 for p in planes)
    # regenerating must be bit-stable (fresh PRNG per call)
    again = contract._ann_lsh_planes()
    assert planes == again
    sql = contract._ann_lsh_sql()
    for hp in planes:
        assert repr(float(hp[0])) in sql
        assert repr(float(hp[-1])) in sql
    # bit weights 1,2,4,8 — one CASE per plane
    for w in (1, 2, 4, 8):
        assert f"THEN {w} ELSE 0 END" in sql
    assert contract.ORACLE["q_ann_lsh"] == sql


def test_embed_lsh_sql_embeds_spark_planes():
    """_embed_lsh_sql inlines random_hyperplanes(10, 3, 64, 42) — the
    identical fixed-seed float64 set dedup_pairs_lsh builds its bucket
    matmul from — and keys candidates on the same (table, bucket)
    equi-join."""
    from snowav_spark import contract
    from snowav_spark.ops import similarity

    hps = similarity.random_hyperplanes(10, 3, 64, 42)
    sql = contract._embed_lsh_sql(10, 3, 64, 42, 0.4)
    for t in (0, 9):
        for b in (0, 2):
            assert repr(float(hps[t][b][0])) in sql
            assert repr(float(hps[t][b][-1])) in sql
    for t in range(10):
        assert f"struct_pack(t := {t}," in sql
    assert "a.k.t = c.k.t AND a.k.bk = c.k.bk" in sql
    assert "cos_sim >= 0.4" in sql
    assert contract.ORACLE["q_dedup_embed_lsh"] == sql


def test_index_paths_share_one_dir_removed_at_exit(monkeypatch, tmp_path):
    """Every persisted index layout of a process lives under one
    ``snowav_idx_`` temp directory; the exit hook removes it whole."""
    import atexit
    import os

    from snowav_spark import contract

    hooks = []
    monkeypatch.setattr(contract, "_INDEX_DIR", None)
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **k: hooks.append((fn, a, k))
    )
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(contract.tempfile, "tempdir", None)
    paths = [
        contract._index_path(kind, sf)
        for kind in ("ivfpq", "ivfpqm", "textidx", "textidxm")
        for sf in ("/data/sf0.01", "/data/sf0.1")
    ]
    assert len(set(paths)) == len(paths)
    (root,) = {os.path.dirname(p) for p in paths}
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith("snowav_idx_")
    for p in paths:
        os.makedirs(p)
        open(os.path.join(p, "part-0.parquet"), "w").close()
    assert len(hooks) == 1  # registered once, on first use
    fn, args, kwargs = hooks[0]
    fn(*args, **kwargs)
    assert not os.path.exists(root)
