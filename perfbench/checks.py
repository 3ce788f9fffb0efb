"""Output checks.  Every benchmarked operation's result is checked here,
outside the timed region; a wrong result counts as a failed operation.

- contract queries: oracle-backed keys must hash-match their DuckDB twin
  under the canonicalization ``tools/check.py`` uses; rows-only keys must
  be non-empty and give the same digest on every pass;
- EP1/EP2/EP3: the store and report frames must match an independent
  numpy recomputation from the generated grids;
- curation: every planted duplicate cluster keeps exactly one survivor,
  every unplanted document survives, and packed bins respect capacity
  and cover each survivor once.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np


def _oracle_tools(root: str):
    """``canon``/``rowset``/``_arrow_rows`` from the repository's own
    oracle gate, so the benchmark and ``tools/check.py`` cannot drift."""
    spec = importlib.util.spec_from_file_location(
        "snowav_oracle_check", os.path.join(root, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(root: str, data_dir: str, oracle_sql: dict[str, str]) -> dict:
    """{key: {"cols": sorted column names, "rows": canonical rowset}} of
    each key's DuckDB twin over the parquet tables in ``data_dir``."""
    import duckdb

    tools = _oracle_tools(root)
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    out = {}
    for key, sql in oracle_sql.items():
        d = con.execute(sql).arrow()
        out[key] = {"cols": sorted(d.column_names),
                    "rows": tools.rowset(list(d.column_names),
                                         tools._arrow_rows(d))}
    con.close()
    return out


def lsh_answer(root: str, data_dir: str, exact_sql: str,
               tables: int, bits: int, dim: int, seed: int) -> dict:
    """The answer of ``q_dedup_embed_lsh``'s DuckDB twin, without its
    ~20 ms per vector: the exact twin's pairs (``exact_sql``, the
    ``q_dedup_embed`` oracle, whose cosine is the same expression) that
    share a bucket in at least one LSH table.  Buckets are the sign bits
    against the same fixed-seed hyperplanes the twin inlines.  The smoke
    test checks that this equals the twin's own answer."""
    import duckdb
    import pyarrow.parquet as pq

    from snowav_spark.ops import similarity

    tools = _oracle_tools(root)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{data_dir}/embeddings.parquet')")
    exact = con.execute(exact_sql).arrow()
    con.close()
    emb = pq.read_table(f"{data_dir}/embeddings.parquet",
                        columns=["vec_id", "embedding"])
    ids = emb.column("vec_id").to_numpy()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    planes = np.array(similarity.random_hyperplanes(tables, bits, dim, seed))
    # (vectors, tables): each table's bucket number from its sign bits
    signs = np.einsum("vd,tbd->vtb", vecs, planes) >= 0
    buckets = (signs * (1 << np.arange(bits))).sum(axis=2)
    row = {int(i): n for n, i in enumerate(ids)}
    a = np.array([row[int(i)] for i in exact.column("id_a").to_pylist()], int)
    b = np.array([row[int(i)] for i in exact.column("id_b").to_pylist()], int)
    keep = (buckets[a] == buckets[b]).any(axis=1) if len(a) else np.zeros(0, bool)
    lsh = exact.filter(keep)
    return {"cols": sorted(lsh.column_names),
            "rows": tools.rowset(list(lsh.column_names), tools._arrow_rows(lsh))}


class QueryChecker:
    """Checks contract-query results (as Arrow tables) against the
    answers ``oracle_answers`` computed."""

    def __init__(self, root: str, oracle: dict[str, dict],
                 subset_of: dict[str, str] | None = None):
        """``subset_of`` maps a rows-only key to an oracle-backed key whose
        rows must contain all of its rows (an approximate search must
        return only pairs the exact search returns, with equal scores)."""
        self._tools = _oracle_tools(root)
        self._oracle = oracle
        self._subset_of = subset_of or {}
        self._digest: dict[str, str] = {}

    def rowset(self, tbl) -> list[str]:
        t = self._tools
        return t.rowset(list(tbl.column_names), t._arrow_rows(tbl))

    def check(self, key: str, tbl) -> list[str]:
        """Problems with one result; empty means correct."""
        rows = self.rowset(tbl)
        if key in self._oracle:
            cols, want = self._oracle[key]["cols"], self._oracle[key]["rows"]
            if sorted(tbl.column_names) != cols:
                return [f"{key}: columns {sorted(tbl.column_names)} != {cols}"]
            if rows != want:
                bad = sum(a != b for a, b in zip(rows, want))
                return [f"{key}: {len(rows)} rows vs oracle {len(want)}, "
                        f"{bad} differ"]
            return []
        if not rows:
            return [f"{key}: empty result"]
        if key in self._subset_of:
            exact = self._subset_of[key]
            if set(rows) - set(self._oracle[exact]["rows"]):
                return [f"{key}: rows outside the exact result of {exact}"]
        digest = hashlib.sha1("\n".join(rows).encode()).hexdigest()
        first = self._digest.setdefault(key, digest)
        return [] if digest == first else [f"{key}: digest changed across passes"]


# -- EP1 season ------------------------------------------------------------

def _band_of(elev: np.ndarray, edges: list[float]) -> np.ndarray:
    # banded.digitize: the highest i in [0, len(edges) - 2] with
    # elev >= edges[i], else 0
    return np.clip(np.digitize(elev, edges) - 1, 0, len(edges) - 2)


def season_gold(season: dict, edges: list[float]) -> dict:
    """{(day, basin, variable, band): value or None} for every day of the
    season, band -1 being the whole-basin total (pipeline.process
    semantics: NULL cells are skipped, an all-NULL group is NULL)."""
    band = _band_of(season["elev"], edges)
    gold = {}
    for var, g in season["grids"].items():
        for basin, m in season["masks"].items():
            groups = [(-1, m)] + [
                (b, m & (band == b)) for b in range(len(edges) - 1)
            ]
            for b, sel in groups:
                if not sel.any():
                    continue
                vals = g[:, sel]
                sums = np.nansum(vals, axis=1)
                has = np.isfinite(vals).any(axis=1)
                for i, d in enumerate(season["days"]):
                    gold[(d, basin, var, b)] = (
                        round(float(sums[i]), 6) if has[i] else None
                    )
    return gold


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 2e-6 + 1e-9 * abs(b)


def check_store(rows, gold: dict, days) -> list[str]:
    """Store rows (date, basin_id, variable, band, value) against the gold
    entries for ``days``: same key set, values within summation noise."""
    want = {k: v for k, v in gold.items() if k[0] in set(days)}
    got = {(r[0], r[1], r[2], int(r[3])): r[4] for r in rows}
    problems = []
    if set(got) != set(want):
        problems.append(
            f"store keys: {len(set(got) - set(want))} unexpected, "
            f"{len(set(want) - set(got))} missing"
        )
    bad = [k for k in want if k in got and not _close(got[k], want[k])]
    if bad:
        problems.append(f"store values: {len(bad)} differ, first {bad[0]}")
    return problems


def check_frame(frame, gold: dict, var: str, basins, days) -> list[str]:
    """One EP3 report frame (band × basin sums over ``days``)."""
    want: dict = {}
    for (d, basin, v, b), val in gold.items():
        if v == var and d in days and val is not None:
            want[(b, basin)] = want.get((b, basin), 0.0) + val
    got = {}
    for _, row in frame.iterrows():
        for basin in basins:
            val = row[basin]
            if val == val:  # not NaN
                got[(int(row["band"]), basin)] = float(val)
    if set(got) != set(want):
        return [f"frame {var}: cells {sorted(set(got) ^ set(want))[:3]} differ"]
    # rounded once per day in the store, once more over the range
    bad = [k for k in want if abs(got[k] - want[k]) > 1e-5 + 1e-9 * abs(want[k])]
    return [f"frame {var}: {len(bad)} cells differ, first {bad[0]}"] if bad else []


# -- curation --------------------------------------------------------------

def check_curated(survivor_ids, planted: dict) -> list[str]:
    kept = set(int(i) for i in survivor_ids)
    problems = []
    if len(kept) != len(survivor_ids):
        problems.append("corpus: duplicate doc ids")
    wrong = [c for c in planted["clusters"] if len(kept & set(c)) != 1]
    if wrong:
        problems.append(f"corpus: {len(wrong)} planted clusters without "
                        f"exactly one survivor")
    lost = [d for d in planted["singles"] if d not in kept]
    if lost:
        problems.append(f"corpus: {len(lost)} unplanted docs dropped")
    expected = len(planted["singles"]) + len(planted["clusters"])
    if len(kept) != expected:
        problems.append(f"corpus: {len(kept)} survivors, expected {expected}")
    return problems


def check_packed(packed, survivor_ids, capacity: int) -> list[str]:
    """``packed``: pandas (doc_id, n_tokens, shard, bin, offset)."""
    problems = []
    if sorted(packed["doc_id"].tolist()) != sorted(int(i) for i in survivor_ids):
        problems.append("packed: does not cover each survivor exactly once")
    fill = packed.groupby(["shard", "bin"])["n_tokens"].sum()
    if (fill > capacity).any():
        problems.append(f"packed: {(fill > capacity).sum()} bins over capacity")
    end = packed["offset"] + packed["n_tokens"]
    if (packed["offset"] < 0).any() or (end > capacity).any():
        problems.append("packed: offsets outside their bin")
    return problems
