"""The four workloads.  Each drives the engine only through its public
functions, in a closed loop with one client: the next call starts when
the previous one has returned.

A workload is a class with
- ``make_inputs(root, work, seed, size, tables)``: write the seeded
  inputs and return, as JSON-able data, the answers the checks compare
  against.  It runs in a child process (``inputs.py``), so neither the
  generators nor the DuckDB oracle add to the run's memory;
- ``prepare(ctx, inputs)``: take those answers in (not part of any
  timing);
- ``load(ctx)``: the first loads of those inputs on a fresh session
  (timed as part of set-up);
- ``after_setup(ctx)``: one-off work users pay before serving (index
  builds);
- ``run_pass(ctx)``: one full pass; every engine call goes through
  ``ctx.call`` so it is timed, traced and checked;
- ``items``: what ``items_per_s`` counts;
- ``warm_seconds``: untimed warm-up, in whole passes (at least one), so
  JIT compilation and first-use costs settle before measuring;
- ``min_passes``: passes an untraced run measures even when the window is
  shorter.  It keeps the number of operations, and with it the tail
  percentile the run can report, the same on a slower machine.
"""

from __future__ import annotations

import contextlib
import datetime
import os
import random
import shutil

from perfbench import checks, fixtures
from perfbench.harness import patched

# BASELINE.md's measured Spark rows at sf0.1 (32 cores); the driver's gate
# is "within 2x" of these.
BASELINE_MD_S = {
    "q_zonal_mean": 1.50, "q_zonal_volume": 1.50, "q_end_last": 1.53,
    "q_sum_range": 0.31, "q_cumsum": 0.31, "q_pivot": 0.24,
    "q_join_dim": 0.57, "q_difference": 0.15, "q_topk": 0.08,
    "q_text_stats": 0.18, "q_dedup_exact": 0.16, "q_sim_topk": 0.11,
}
CORE_KEYS = list(BASELINE_MD_S)
# q_triangles is left out: fresh runs of it vary 8x (ROADMAP item 2)
# A rows-only approximate key whose rows must be a subset of an exact
# oracle-backed key's rows.
SUBSET_OF = {"q_semdedup": "q_dedup_embed"}
# q_dedup_embed_lsh's expected rows come from checks.lsh_answer at the
# contract's parameters (tables, bits, dim, hyperplane seed); its DuckDB
# twin takes ~10 s at sf0.001
LSH_KEY, LSH_PARAMS = "q_dedup_embed_lsh", (10, 3, 64, 42)
LLM_KEYS = [
    "q_semdedup", "q_dedup_embed_lsh", "q_dedup_embed", "q_minhash_lsh",
    "q_dedup_resolve", "q_hybrid_rrf", "q_clean_text", "q_pii_redact",
    "q_pack_sequences", "q_multimodal_decode", "q_pq_ann", "q_ivfpq_ann",
    "q_text_index", "q_text_filtered",
]

# Input sizes per workload: "full" is what the benchmark measures, "tiny"
# is the smoke test's.  The table sizes are FIXTURES.md's scale factors:
# sf0.1 for query_core, sf0.001 for query_llm and the smoke test.
SF_0_1 = dict(lineitem_rows=600_000, n_docs=5000, n_vecs=2000)
SF_0_001 = dict(lineitem_rows=6000, n_docs=500, n_vecs=500)
SIZES = {
    "query_core": {"full": SF_0_1, "tiny": SF_0_001},
    "query_llm": {"full": SF_0_001, "tiny": SF_0_001},
    "ep1_season": {
        "full": dict(ny=150, nx=150, n_days=5, n_new=2),
        "tiny": dict(ny=30, nx=30, n_days=4, n_new=2),
    },
    "curate_corpus": {
        "full": dict(n_docs=800, exact_clusters=12, near_clusters=12,
                     cluster_size=4),
        "tiny": dict(n_docs=200, exact_clusters=4, near_clusters=4,
                     cluster_size=3),
    },
}


class QueryMix:
    """Contract queries, each built fresh through its module-level plan
    builder (never the memoizing registry), in a seeded order per pass."""

    items = "queries"

    def __init__(self, name: str, keys: list[str], index: bool,
                 min_passes: int, warm_seconds: float):
        self.name = name
        self.keys = keys
        self.min_passes = min_passes
        self.warm_seconds = warm_seconds
        self.index = index
        self.index_build: dict[str, float] = {}
        self.items_per_pass = len(keys)
        self._loaded: dict[int, object] = {}

    def make_inputs(self, root, work, seed, size, tables=None) -> dict:
        """Seeded tables (or the given table directory) and every
        oracle-backed key's expected rowset."""
        from snowav_spark import contract

        data = tables or os.path.join(work, "tables")
        if not tables:
            fixtures.write_tables(data, seed, **SIZES[self.name][size])
        sql = {k: v for k, v in contract.ORACLE.items()
               if k in self.keys and k != LSH_KEY}
        oracle = checks.oracle_answers(root, data, sql)
        if LSH_KEY in self.keys:
            oracle[LSH_KEY] = checks.lsh_answer(
                root, data, contract.ORACLE["q_dedup_embed"], *LSH_PARAMS)
        return {"data": data, "oracle": oracle}

    def prepare(self, ctx, inputs) -> None:
        from snowav_spark import contract

        self.data = inputs["data"]
        self.builders = {
            k: getattr(contract, contract.QUERIES[k].__name__) for k in self.keys
        }
        self.checker = checks.QueryChecker(ctx.root, inputs["oracle"], SUBSET_OF)
        self.order = random.Random(ctx.seed)

    def load(self, ctx) -> None:
        from snowav_spark import io

        for t in io.TABLES:
            ctx.traced("io.load_table", io.load_table, ctx.spark, self.data, t)

    def after_setup(self, ctx) -> None:
        if not self.index:
            return
        from snowav_spark import contract

        with ctx.tracer.span("index.build_indexes"):
            self.index_build = contract.build_indexes(ctx.spark, self.data)

    def run_pass(self, ctx) -> None:
        keys = list(self.keys)
        self.order.shuffle(keys)
        with self._io_spans(ctx):
            for key in keys:
                ctx.call(key, self._query, ctx, key, check=self._check(key))

    def _io_spans(self, ctx):
        """Traced: a span around each ``load_table`` call a plan builder
        makes, marked ``reused`` when it returns an already-seen
        DataFrame object."""
        if not ctx.tracer.enabled:
            return contextlib.nullcontext()
        from snowav_spark import contract

        def mark(span, _args, df):
            span.attrs["reused"] = id(df) in self._loaded
            self._loaded[id(df)] = df

        return patched(contract, "load_table", ctx.tracer.wrap(
            "io.load_table", contract.load_table, on_result=mark))

    def _query(self, ctx, key):
        """Plan construction → analyzed/optimized physical plan → Spark
        jobs with Arrow batches to the driver → pandas."""
        tr = ctx.tracer
        with tr.span("contract.construct"):
            df = self.builders[key](ctx.spark, self.data)
        with tr.span("plan.prepare"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("exec.collect"):
            tbl = df.toArrow()
        with tr.span("fetch.to_pandas"):
            tbl.to_pandas()
        return tbl

    def _check(self, key):
        return lambda tbl: self.checker.check(key, tbl)

    def memo_diagnostic(self, ctx, fresh: dict[str, list[float]]) -> dict:
        """Time the same keys through the memoizing ``queries()``
        registry (what bench.py times): one pass to fill the memo, one
        timed pass re-collecting the memoized DataFrame objects.  Not
        gated; recorded so the reuse-vs-fresh gap stays on record."""
        import statistics
        import time

        from snowav_spark import contract

        memo = {}
        for rep in range(2):
            for key in self.keys:
                t0 = time.perf_counter()
                contract.QUERIES[key](ctx.spark, self.data).toArrow().to_pandas()
                if rep:
                    memo[key] = time.perf_counter() - t0
        fresh_p50 = {k: statistics.median(v) for k, v in fresh.items() if v}
        out = {"memo_s": memo, "fresh_p50_s": fresh_p50}
        ratios = {
            k: fresh_p50[k] / BASELINE_MD_S[k]
            for k in fresh_p50 if k in BASELINE_MD_S
        }
        if ratios:
            out["contract.baseline_ratio_max"] = max(ratios.values())
            out["baseline_over_2x"] = sorted(k for k, r in ratios.items() if r > 2)
            out["baseline_note"] = "BASELINE.md rows were measured on 32 cores"
        return out


def _after(days):
    """Exclusive end of a run of days."""
    return days[-1] + datetime.timedelta(days=1)


class Season:
    """SNOWAV's own job: EP1 writes the banded store from NetCDF grids,
    EP2 appends new days beside it, EP3 reads it back into report frames,
    the markdown report and the SVG figures."""

    name = "ep1_season"
    items = "EP1 grid cells"
    items_call = "ep1.run"
    min_passes = 2
    warm_seconds = 0.0

    def make_inputs(self, root, work, seed, size, tables=None) -> dict:
        """The season's NetCDF grids and topo, and the numpy gold
        summary of every (day, basin, variable, band)."""
        data = os.path.join(work, "season")
        season = fixtures.write_season(data, seed, **SIZES[self.name][size])
        gold = checks.season_gold(season, fixtures.SEASON_EDGES)
        return {
            "data": data,
            "ep1_dir": season["ep1_dir"],
            "ep2_dir": season["ep2_dir"],
            "days": [d.isoformat() for d in season["days"]],
            "n_days": season["n_days"],
            "gold": [[d.isoformat(), b, v, band, val]
                     for (d, b, v, band), val in gold.items()],
        }

    def prepare(self, ctx, inputs) -> None:
        sz = SIZES[self.name][ctx.size]
        day = datetime.date.fromisoformat
        self.data = inputs["data"]
        self.season = dict(inputs, days=[day(d) for d in inputs["days"]])
        self.gold = {(day(d), b, v, band): val
                     for d, b, v, band, val in inputs["gold"]}
        self.ep1_days = self.season["days"][: inputs["n_days"]]
        self.items_per_pass = (
            sz["ny"] * sz["nx"] * sz["n_days"] * len(fixtures.SEASON_VARS))
        self.n = 0

    def load(self, ctx) -> None:
        from snowav_spark import io, sources

        sources.register(ctx.spark)
        self.topo = ctx.traced("io.load_table", io.load_table,
                               ctx.spark, self.data, "topo")
        self._raster(ctx, self.season["ep1_dir"]).schema

    def after_setup(self, ctx) -> None:
        pass

    def _raster(self, ctx, path):
        with ctx.tracer.span("sources.open"):
            return (
                ctx.spark.read.format("snowav_netcdf")
                .option("variables", ",".join(fixtures.SEASON_VARS))
                .load(path)
            )

    def run_pass(self, ctx) -> None:
        from snowav_spark import pipeline

        self.n += 1
        root = os.path.join(ctx.work, "runs")
        shutil.rmtree(root, ignore_errors=True)
        spec = pipeline.PipelineSpec(
            run_id="season",
            edges=fixtures.SEASON_EDGES,
            basins=fixtures.SEASON_BASINS,
            variables=fixtures.SEASON_VARS,
            store_path=os.path.join(root, f"store{self.n}"),
        )
        all_days = self.season["days"]

        def ep(path, incremental):
            return pipeline.run(
                ctx.spark, spec, self._raster(ctx, path), self.topo,
                incremental=incremental,
            )

        with self._layer_spans(ctx):
            store = ctx.call(
                "ep1.run", ep, self.season["ep1_dir"], False,
                check=lambda st: self._check_store(st, self.ep1_days))
            if store is None:
                return
            ctx.call("ep2.append", ep, self.season["ep2_dir"], True,
                     check=lambda st: self._check_store(st, all_days))
        # season-to-date frames (also rendered), then the EP1 and the EP2
        # periods' frames
        new_days = all_days[len(self.ep1_days):]
        frames = {}
        for days, keep in ((all_days, True), (self.ep1_days, False),
                           (new_days, False)):
            for var in fixtures.SEASON_VARS:
                frame = ctx.call(
                    "ep3.frame", self._frame, ctx, store, spec, var, days,
                    check=lambda f, v=var, d=days: checks.check_frame(
                        f, self.gold, v, fixtures.SEASON_BASINS, set(d)),
                )
                if keep:
                    frames[var] = frame
        if any(f is None for f in frames.values()):
            return
        figs = os.path.join(root, "figs")
        ctx.call("ep3.render", self._render, ctx, store, spec, frames, all_days,
                 figs, check=lambda out: self._check_render(out, figs))

    @staticmethod
    def _layer_spans(ctx):
        """Traced: spans around the calls ``pipeline.run`` makes into
        plan construction, the results sink and the run-metadata store."""
        stack = contextlib.ExitStack()
        tr = ctx.tracer
        if tr.enabled:
            from snowav_spark import metadata, pipeline, sinks

            for obj, attr, kind in (
                (pipeline, "process", "pipeline.construct"),
                (sinks.ResultsStore, "write", "sinks.write"),
                (sinks.ResultsStore, "append_missing", "sinks.append_missing"),
                (metadata.RunMetadataStore, "record", "metadata.record"),
            ):
                stack.enter_context(
                    patched(obj, attr, tr.wrap(kind, getattr(obj, attr))))
        return stack

    def _frame(self, ctx, store, spec, var, days):
        from snowav_spark import pipeline

        with ctx.tracer.span("report.frames"):
            return pipeline.report_frame(store, spec, var, days[0], _after(days))

    def _render(self, ctx, store, spec, frames, days, figs):
        from snowav_spark import report

        start, end = days[0], _after(days)
        with ctx.tracer.span("report.render"):
            md = report.build_report(store, spec, start, end, frames=frames)
            names = report.write_figures(store, spec, start, end, figs,
                                         frames=frames)
        return md, names

    def _check_store(self, store, days):
        rows = [
            tuple(r) for r in store.read()
            .select("date", "basin_id", "variable", "band", "value").collect()
        ]
        problems = checks.check_store(rows, self.gold, days)
        if len(rows) != len({r[:4] for r in rows}):
            problems.append("store: duplicate rows")
        return problems

    def _check_render(self, out, figs):
        md, names = out
        problems = [f"report: no section for {v}"
                    for v in fixtures.SEASON_VARS if f"## {v}" not in md]
        if len(names) != 2 * len(fixtures.SEASON_VARS) or not all(
            os.path.getsize(os.path.join(figs, n)) > 0 for n in names
        ):
            problems.append(f"figures: wrote {names}")
        return problems


class Curation:
    """The LLM-operator pipeline composed in one plan: clean → gate →
    exact dedup → near-dup resolve → pack, with both outputs written."""

    name = "curate_corpus"
    items = "documents"
    capacity = 512
    min_passes = 2
    warm_seconds = 0.0

    def make_inputs(self, root, work, seed, size, tables=None) -> dict:
        """The corpus and its planted duplicate clusters."""
        data = os.path.join(work, "corpus")
        planted = fixtures.write_corpus(data, seed, **SIZES[self.name][size])
        return {"data": data, "planted": planted}

    def prepare(self, ctx, inputs) -> None:
        self.data = inputs["data"]
        self.planted = inputs["planted"]
        self.items_per_pass = SIZES[self.name][ctx.size]["n_docs"]
        self.rows: dict[str, int] = {}
        self.n = 0

    def load(self, ctx) -> None:
        from snowav_spark import io

        self.docs = ctx.traced("io.load_table", io.load_table,
                               ctx.spark, self.data, "documents")

    def after_setup(self, ctx) -> None:
        pass

    def run_pass(self, ctx) -> None:
        from snowav_spark import pipeline_llm, sinks

        self.n += 1
        out = os.path.join(ctx.work, "curated")
        shutil.rmtree(out, ignore_errors=True)
        corpus_path = os.path.join(out, f"corpus{self.n}")
        packed_path = os.path.join(out, f"packed{self.n}")

        def curate():
            with ctx.tracer.span("pipeline_llm.construct"):
                return pipeline_llm.curate(
                    self.docs,
                    pipeline_llm.CurationConfig(pack_capacity=self.capacity),
                    count_stages="observe",
                )

        res = ctx.call("curate.construct", curate)
        if res is None:
            return

        def write(kind, df, path):
            with ctx.tracer.span(kind):
                sinks.write_columnar(df, path)
            return path

        ctx.call("curate.corpus_write", write, "sinks.corpus_write",
                 res.corpus, corpus_path,
                 check=lambda p: self._check_corpus(ctx, res, p))
        ctx.call("curate.packed_write", write, "sinks.packed_write",
                 res.packed, packed_path,
                 check=lambda p: self._check_packed(ctx, p, corpus_path))

    def _survivors(self, ctx, path):
        return ctx.spark.read.parquet(path).select("doc_id").toPandas()["doc_id"]

    def _check_corpus(self, ctx, res, path):
        self.rows = res.observed_counts()
        problems = checks.check_curated(self._survivors(ctx, path), self.planted)
        if self.rows.get("raw") != self.items_per_pass:
            problems.append(f"observed raw rows {self.rows.get('raw')}")
        return problems

    def _check_packed(self, ctx, path, corpus_path):
        packed = ctx.spark.read.parquet(path).toPandas()
        return checks.check_packed(
            packed, self._survivors(ctx, corpus_path), self.capacity
        )


def make(name: str):
    if name == "query_core":
        # ~2 s passes whose times vary ±10% pass to pass: a median of
        # five, after two passes of JIT warm-up
        return QueryMix(name, CORE_KEYS, index=False, min_passes=5,
                        warm_seconds=4.0)
    if name == "query_llm":
        # build_indexes warms the JVM; one warm pass is enough
        return QueryMix(name, LLM_KEYS, index=True, min_passes=2,
                        warm_seconds=0.0)
    if name == "ep1_season":
        return Season()
    if name == "curate_corpus":
        return Curation()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("query_core", "query_llm", "ep1_season", "curate_corpus")
