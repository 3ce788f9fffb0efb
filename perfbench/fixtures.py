"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its ``seed`` and size arguments:
the same seed writes the same bytes.  The engine never sees anything but
these files.

- ``write_tables``: the star-schema + events + corpus tables the
  contract queries read, calibrated against the contract fixtures
  (FIXTURES.md).
- ``write_season``: classic NetCDF daily model grids plus a topo dim with
  overlapping basin masks, NaN-masked cells and an EP2 follow-up batch.
- ``write_corpus``: a curation corpus with planted exact and near
  duplicate clusters, PII strings and mixed languages; returns the
  planted ground truth.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The driver fixtures' word-soup vocabulary (q_text_index / q_bm25 search
# for 'join', 'vector' and 'scan').
SOUP_WORDS = (
    "vector column customer table scan spark value data join big key slow "
    "stream row line group filter window merge a batch small agg hash query "
    "the order part fast sort index"
).split()
LANGS = ("en", "es", "de", "zh", "fr")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)


def _pii(rng: np.random.Generator) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:
        return f"user{rng.integers(0, 10**6)}@example{rng.integers(0, 9)}.com"
    if kind == 1:
        return ".".join(str(int(v)) for v in rng.integers(1, 255, 4))
    return (
        f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-"
        f"{rng.integers(1000, 9999)}"
    )


def _day_ts(rng, n, start: datetime.date, days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, days, n).astype("timedelta64[D]")
    return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))


def write_tables(
    out_dir: str, seed: int, lineitem_rows: int, n_docs: int, n_vecs: int
) -> None:
    """Write the ten contract tables as one parquet file each.

    Calibrated against the sf0.001-sf0.1 contract fixtures
    (FIXTURES.md): the same schemas, row-count ratios and value domains,
    uniform foreign keys (so lines per order are Poisson(4) and ~2% of
    orders have none), day-precision order/ship dates and microsecond
    event times, unit-norm random embeddings, and a word-soup corpus
    without PII in which ~5% of documents are one-word-inserted or
    -deleted copies of another and ~0.2% are exact copies."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(lineitem_rows // 4, 10)
    n_cust = max(lineitem_rows // 40, 10)
    n_supp = max(lineitem_rows // 600, 10)
    n_part = max(lineitem_rows // 30, 10)
    n_events = max(lineitem_rows // 6, 100)
    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    }), p("region"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), p("nation"))
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                     "FURNITURE"])
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), p("customer"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), p("supplier"))
    adj = np.array(["red", "new", "hot", "small", "cold", "large", "old",
                    "blue"])
    noun = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear",
                     "widget", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(
            np.char.add(adj[rng.integers(0, 8, n_part)], " "),
            noun[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 100, 2),
    }), p("part"))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _day_ts(rng, n_orders, datetime.date(1995, 1, 1), 2404),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)],
    }), p("orders"))
    n = lineitem_rows
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _day_ts(rng, n, datetime.date(1995, 1, 2), 2498),
    }), p("lineitem"))
    us = rng.integers(0, 30 * 86400 * 10**6, n_events)
    ev_types = np.array(["click", "error", "purchase", "signup", "view"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), p("events"))
    texts = [" ".join(rng.choice(SOUP_WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    # near-duplicate pairs: a later document is an earlier one with one
    # word inserted or deleted; a few later documents are exact copies
    n_near, n_exact = n_docs // 20, max(n_docs // 600, 1)
    picks = rng.choice(np.arange(1, n_docs), n_near + n_exact, replace=False)
    for j, i in enumerate(picks):
        words = texts[int(rng.integers(0, i))].split(" ")
        if j < n_near:
            pos = int(rng.integers(0, len(words)))
            if rng.random() < 0.5 and len(words) > 10:
                del words[pos]
            else:
                words.insert(pos, str(rng.choice(SOUP_WORDS)))
        texts[i] = " ".join(words)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_WEIGHTS)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), p("documents"))
    emb = rng.normal(0.0, 1.0, (n_vecs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), p("embeddings"))


# -- EP1 season ------------------------------------------------------------

SEASON_VARS = ("swe_mm", "depth_m", "swi_mm")
SEASON_EDGES = [1000.0, 1500.0, 2000.0, 2500.0, 3000.0, 3500.0]
SEASON_BASINS = ["total", "north", "east"]
FILL = -9999.0


def season_grids(seed: int, ny: int, nx: int, n_days: int) -> dict:
    """The season as numpy: {'grids': {var: (days, ny, nx) float64 with
    NaN for masked cells}, 'elev': (ny, nx), 'masks': {basin: bool}}."""
    rng = np.random.default_rng(seed)
    yy, xx = np.meshgrid(np.arange(ny), np.arange(nx), indexing="ij")
    elev = (
        SEASON_EDGES[0]
        + (SEASON_EDGES[-1] - SEASON_EDGES[0] + 400)
        * (0.6 * yy / max(ny - 1, 1) + 0.4 * xx / max(nx - 1, 1))
        + rng.normal(0, 60, (ny, nx))
        - 200
    )
    # out-of-domain corner cells: stored as _FillValue, read back as NULL
    masked = (yy + xx) < (ny + nx) // 8
    masks = {
        "total": np.ones((ny, nx), bool),
        "north": yy < int(ny * 0.6),
        "east": xx >= int(nx * 0.4),
    }
    grids = {}
    for vi, var in enumerate(SEASON_VARS):
        base = rng.uniform(50, 400) * (elev - SEASON_EDGES[0]) / 2500.0
        trend = rng.uniform(-3, 6)
        g = np.empty((n_days, ny, nx))
        for d in range(n_days):
            g[d] = np.round(
                np.maximum(
                    base + trend * d + rng.normal(0, 5, (ny, nx)) + vi, 0.0
                ),
                3,
            )
        g[:, masked] = np.nan
        grids[var] = g
    return {"grids": grids, "elev": elev, "masks": masks}


def write_season(
    out_dir: str, seed: int, ny: int, nx: int, n_days: int, n_new: int
) -> dict:
    """Write one classic NetCDF file per day under ``ep1/`` (the first
    ``n_days``) and ``ep2/`` (the last EP1 day again plus ``n_new`` new
    days), and ``topo.parquet``.  Returns the season arrays, the day list
    and the paths."""
    from snowav_spark.sources import netcdf3

    season = season_grids(seed, ny, nx, n_days + n_new)
    days = [
        datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        for i in range(n_days + n_new)
    ]
    ep1, ep2 = os.path.join(out_dir, "ep1"), os.path.join(out_dir, "ep2")
    os.makedirs(ep1, exist_ok=True)
    os.makedirs(ep2, exist_ok=True)
    for i, d in enumerate(days):
        variables = {
            "time": (["time"], np.array([i], dtype=np.float64),
                     {"units": "days since 2024-01-01"}),
        }
        for var in SEASON_VARS:
            g = season["grids"][var][i : i + 1].copy()
            g[np.isnan(g)] = FILL
            variables[var] = (["time", "y", "x"], g, {"_FillValue": FILL})
        targets = []
        if i < n_days:
            targets.append(ep1)
        if i >= n_days - 1:
            targets.append(ep2)
        for t in targets:
            netcdf3.write(
                os.path.join(t, f"snow_{d.isoformat()}.nc"),
                dims={"time": 1, "y": ny, "x": nx},
                variables=variables,
            )
    ys, xs, el, bid = [], [], [], []
    for basin in SEASON_BASINS:
        m = season["masks"][basin]
        yv, xv = np.nonzero(m)
        ys.append(yv)
        xs.append(xv)
        el.append(season["elev"][m])
        bid += [basin] * len(yv)
    pq.write_table(pa.table({
        "y": pa.array(np.concatenate(ys), pa.int32()),
        "x": pa.array(np.concatenate(xs), pa.int32()),
        "elevation": np.concatenate(el),
        "basin_id": bid,
    }), os.path.join(out_dir, "topo.parquet"))
    season.update(days=days, ep1_dir=ep1, ep2_dir=ep2, n_days=n_days)
    return season


# -- curation corpus -------------------------------------------------------

_LANG_STEMS = {
    "en": ("the", "river", "snow", "model", "basin", "data", "melt", "peak"),
    "es": ("el", "rio", "nieve", "modelo", "cuenca", "datos", "pico", "agua"),
    "de": ("der", "fluss", "schnee", "modell", "becken", "daten", "gipfel"),
    "fr": ("le", "riviere", "neige", "modele", "bassin", "donnees", "pic"),
    "zh": ("xue", "he", "shui", "moxing", "liuyu", "shuju", "shan", "feng"),
}


def _vocab(lang: str) -> list[str]:
    # a few hundred distinct tokens per language, so unrelated documents
    # share almost no word 3-grams
    return [f"{s}{i}" for s in _LANG_STEMS[lang] for i in range(40)]


def write_corpus(
    out_dir: str,
    seed: int,
    n_docs: int,
    exact_clusters: int,
    near_clusters: int,
    cluster_size: int,
) -> dict:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars).

    Planted clusters of ``cluster_size`` members each:
    - exact: case/whitespace twins of one text (identical after cleaning);
    - near: copies of one text with two words replaced, so every pair's
      word-3-gram Jaccard stays well above the curate default of 0.5.

    Everything else is an unrelated document.  Returns
    {'clusters': [[doc_id, ...], ...], 'singles': [doc_id, ...]}.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocabs = {lang: _vocab(lang) for lang in LANGS}

    def fresh(lang: str) -> list[str]:
        words = list(rng.choice(vocabs[lang], rng.integers(40, 90)))
        if rng.random() < 0.2:
            words.insert(int(rng.integers(0, len(words))), _pii(rng))
        return words

    rows: list[tuple[str, str]] = []
    clusters: list[list[int]] = []
    n_planted = (exact_clusters + near_clusters) * cluster_size
    if n_planted > n_docs:
        raise ValueError("more planted members than documents")
    for c in range(exact_clusters + near_clusters):
        lang = LANGS[int(rng.choice(5, p=LANG_WEIGHTS))]
        base = fresh(lang)
        members = []
        for m in range(cluster_size):
            words = list(base)
            if c < exact_clusters:
                if m % 2:
                    words = [w.upper() for w in words]
                text = ("  " if m % 3 else " ").join(words) + " " * (m % 2)
            else:
                if m:
                    for pos in rng.choice(len(words), 2, replace=False):
                        words[pos] = str(rng.choice(vocabs[lang]))
                text = " ".join(words)
            members.append(len(rows))
            rows.append((text, lang))
        clusters.append(members)
    singles_start = len(rows)
    while len(rows) < n_docs:
        lang = LANGS[int(rng.choice(5, p=LANG_WEIGHTS))]
        rows.append((" ".join(fresh(lang)), lang))
    # shuffle ids so cluster members are scattered through the corpus
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, np.int64)
    ids[perm] = np.arange(n_docs)
    texts = [None] * n_docs
    langs = [None] * n_docs
    for i, (t, lang) in enumerate(rows):
        texts[ids[i]] = t
        langs[ids[i]] = lang
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    return {
        "clusters": [[int(ids[m]) for m in c] for c in clusters],
        "singles": sorted(int(ids[i]) for i in range(singles_start, n_docs)),
    }
