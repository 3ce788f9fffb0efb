r"""CLI entry point — the reference's ``snowav -f config.ini`` (EP1).

Reference parity: ref:snowav/cli.py parses ``-f`` with argparse, builds a
UserConfig (INI via inicheck, ref:snowav/config/config.py), then runs the
pipeline.  Here the config is a plain INI read with stdlib configparser
into a PipelineSpec; the pipeline is the lazy DAG in pipeline.py.

Usage::

    python -m snowav_spark -f run.ini

INI shape (all keys under [snowav])::

    [snowav]
    run_id = wy2024
    edges = 1000, 1500, 2000, 2500, 3000
    basins = basin_A, basin_B
    grid_dir = /data/grids          ; <variable>_<date>.csv files
    store_path = /data/results
    report_variable = swe_mm        ; optional: write a report frame CSV
    report_csv = /data/report.csv
    report_md = /data/report.md     ; optional: markdown report
    report_tex = /data/report.tex   ; optional: LaTeX report (+ PDF when
                                    ;   pdflatex is on PATH)
    report_figs_dir = /data/figs    ; optional: SVG figures, linked in md
                                    ;   and \includesvg'd in tex
    incremental = false

Reference CoreConfig.ini spellings are accepted as aliases: run_name
(run_id), plotorder (basins), run_dirs (grid_dir).

A ``[query]`` section instead selects EP3 query-only mode (no
reprocessing — the reference's database.collect() path)::

    [query]
    store_path = /data/results
    run_id = wy2024
    variable = swe_mm
    basins = basin_A, basin_B
    start_date = 2024-01-01
    end_date = 2024-04-01
    method = end                    ; end | sum | difference | daily
    output_csv = /data/q.csv        ; optional: else printed
"""

from __future__ import annotations

import argparse
import configparser
import json
import os
import sys

from pyspark.sql import functions as F

from snowav_spark import ingest, pipeline, sources
from snowav_spark.ingest import synthetic_topo
from snowav_spark.session import get_spark


def parse_query(path: str) -> dict | None:
    """EP3 (SURVEY §3): a ``[query]`` INI section selects figures/query-only
    mode — read the existing results store, no reprocessing.  Returns None
    when the section is absent (EP1 batch run)."""
    cp = configparser.ConfigParser()
    if not cp.read(path):
        raise FileNotFoundError(f"config not found: {path}")
    if "query" not in cp:
        return None
    q = cp["query"]
    return {
        "store_path": q["store_path"],
        "run_id": q["run_id"],
        "variable": q["variable"],
        "basins": [b.strip() for b in q["basins"].split(",")],
        "start_date": q["start_date"],
        "end_date": q["end_date"],
        "method": q.get("method", "end"),
        "output_csv": q.get("output_csv"),
    }


def query_main(spark, q: dict) -> int:
    """The reference's database.collect() query path: filter the store by
    (run, variable, date range) — all partition/filter-pruned at the scan
    — reduce with the configured method, pivot basins into columns."""
    import datetime

    from snowav_spark.ops import methods
    from snowav_spark.sinks import ResultsStore

    start = datetime.date.fromisoformat(q["start_date"])
    end = datetime.date.fromisoformat(q["end_date"])
    store = ResultsStore(spark, q["store_path"])
    df = store.read().filter(
        (F.col("run_id") == q["run_id"])
        & (F.col("variable") == q["variable"])
        & (F.col("date") >= F.lit(start))
        & (F.col("date") < F.lit(end))
    )
    method = q["method"]
    if method == "daily":
        # per-day basin totals (band = -1): rows = day, cols = basins
        reduced = methods.daily_series(
            df.filter(F.col("band") == -1),
            ["basin_id"],
            "date",
            {"v": F.round(F.sum("value"), 6)},
        )
        frame = (
            methods.pivot_frame(
                reduced, "day", "basin_id", q["basins"], F.first("v")
            )
            .orderBy("day")
            .toPandas()
        )
    else:
        groups = ["band", "basin_id"]
        if method == "end":
            reduced = methods.end_value(df, groups, "value", "date").select(
                *groups, F.col("end_value").alias("v")
            )
        elif method == "sum":
            reduced = methods.range_sum(
                df, groups, "value", "date", start, end,
                aggs={"v": F.round(F.sum("value"), 6)},
            )
        elif method == "difference":
            reduced = methods.difference(df, groups, "value", "date").select(
                *groups, F.col("delta").alias("v")
            )
        else:
            print(f"unknown query method: {method}", file=sys.stderr)
            return 2
        frame = (
            methods.pivot_frame(
                reduced, "band", "basin_id", q["basins"], F.first("v")
            )
            .orderBy("band")
            .toPandas()
        )
    if q["output_csv"]:
        frame.to_csv(q["output_csv"], index=False)
        print(f"query result written: {q['output_csv']}")
    else:
        print(frame.to_string(index=False))
    return 0


def parse_spec(path: str) -> tuple[pipeline.PipelineSpec, dict]:
    cp = configparser.ConfigParser()
    if not cp.read(path):
        raise FileNotFoundError(f"config not found: {path}")
    s = cp["snowav"]

    def req(key: str, *aliases: str) -> str:
        """Fetch a key, accepting the reference CoreConfig.ini spellings
        (ref:snowav/config/CoreConfig.ini: run_name, plotorder, run_dirs)
        as aliases so a reference-style config ports by renaming nothing."""
        for k in (key, *aliases):
            if k in s:
                return s[k]
        raise KeyError(f"[snowav] needs one of: {key}, {', '.join(aliases)}")

    spec = pipeline.PipelineSpec(
        run_id=req("run_id", "run_name"),
        edges=[float(e) for e in req("edges").split(",")],
        basins=[b.strip() for b in req("basins", "plotorder").split(",")],
        store_path=s["store_path"],
    )
    extras = {
        # grid_dir: <variable>_<date>.csv grids; nc_dir: NetCDF model
        # output (classic or NetCDF-4) — the reference's run_dirs point
        # at the latter (ref:snowav/framework/outputs.py)
        "grid_dir": (
            req("grid_dir", "nc_dir", "run_dirs")
            if "nc_dir" not in s and "zarr_dir" not in s
            else None
        ),
        "nc_dir": s.get("nc_dir"),
        "zarr_dir": s.get("zarr_dir"),
        "nc_variables": s.get("nc_variables"),
        "topo_parquet": s.get("topo_parquet"),
        "report_variable": s.get("report_variable"),
        "report_csv": s.get("report_csv"),
        "report_md": s.get("report_md"),
        "report_tex": s.get("report_tex"),
        "report_figs_dir": s.get("report_figs_dir"),
        "results_db": s.get("results_db"),
        "incremental": s.getboolean("incremental", fallback=False),
    }
    return spec, extras


def curate_main(argv: list[str]) -> int:
    """``python -m snowav_spark curate`` — run the training-corpus
    curation pipeline (pipeline_llm.curate) over a parquet documents
    table and persist corpus / survivor-map / packed assignments."""
    ap = argparse.ArgumentParser(prog="snowav_spark curate")
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument("--langs", default=None, help="comma list, e.g. en,de")
    ap.add_argument("--jaccard", type=float, default=0.5)
    ap.add_argument("--capacity", type=int, default=512)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument(
        "--stats",
        action="store_true",
        help="report per-stage row counts via DataFrame.observe — the "
        "counters ride the corpus write, zero extra scans",
    )
    ap.add_argument(
        "--input-format",
        choices=("parquet", "jsonl", "arrow"),
        default="parquet",
        help="documents input format: parquet, JSONL (corrupt lines "
        "quarantined to <output>/quarantine), or Arrow IPC/Feather "
        "(snowav_arrow source)",
    )
    ap.add_argument(
        "--corpus-format",
        choices=("parquet", "jsonl"),
        default="parquet",
        help="corpus output format (jsonl = newline-delimited JSON, the "
        "common trainer ingestion format)",
    )
    ap.add_argument(
        "--text-index",
        action="store_true",
        help="also build the persisted inverted index over the curated "
        "corpus (<output>/text_index) — retrieval-ready in the same run",
    )
    ap.add_argument(
        "--index-buckets", type=int, default=64,
        help="term-hash partition count of the --text-index layout "
        "(grow with the corpus for constant per-bucket postings)",
    )
    args = ap.parse_args(argv)

    from snowav_spark.pipeline_llm import CurationConfig, curate

    spark = get_spark(app_name="snowav_spark:curate")
    cfg = CurationConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        keep_langs=tuple(args.langs.split(",")) if args.langs else None,
        jaccard_threshold=args.jaccard,
        pack_capacity=args.capacity,
        pack_shards=args.shards,
    )
    if args.input_format == "jsonl":
        from snowav_spark.sources import textual

        parsed = textual.read_jsonl(spark, args.input)
        docs, bad = textual.split_quarantine(parsed)
        bad.write.mode("overwrite").json(f"{args.output}/quarantine")
    elif args.input_format == "arrow":
        from snowav_spark import sources as _sources

        _sources.register(spark)
        docs = spark.read.format("snowav_arrow").load(args.input)
    else:
        docs = spark.read.parquet(args.input)
    res = curate(
        docs, cfg,
        count_stages="observe" if args.stats else False,
    )
    # corpus and survivors share the expensive clean/gate/dedup lineage,
    # and packed derives from corpus — persist both so the three writes
    # (plus optional stage counts) execute that lineage once, not 3-5×.
    res.corpus.persist()
    res.survivors_map.persist()
    try:
        if args.corpus_format == "jsonl":
            res.corpus.write.mode("overwrite").json(f"{args.output}/corpus")
        else:
            res.corpus.write.mode("overwrite").parquet(
                f"{args.output}/corpus"
            )
        res.survivors_map.write.mode("overwrite").parquet(
            f"{args.output}/survivors"
        )
        # packed assignments partitioned by shard: the trainer reads one
        # shard's bins independently
        res.packed.write.mode("overwrite").partitionBy("shard").parquet(
            f"{args.output}/packed"
        )
        if args.text_index:
            # the curated corpus is already persisted, so the index
            # build's tokenize pass reads it from cache, not the lineage
            from snowav_spark.ops import text as text_ops

            text_ops.build_text_index(
                res.corpus, args.id_col, args.text_col,
                f"{args.output}/text_index", n_buckets=args.index_buckets,
            )
    finally:
        res.corpus.unpersist()
        res.survivors_map.unpersist()
    import json

    stages = res.observed_counts() if args.stats else {}
    print(json.dumps({"stages": stages, "output": args.output}))
    return 0


def curate_stream_main(argv: list[str]) -> int:
    """``python -m snowav_spark curate-stream`` — one availableNow
    catch-up pass of the streaming curation pipeline over a GROWING
    documents directory: clean/redact → quality gate → in-horizon exact
    dedup → near-dup band-ownership flag → curated-corpus append, with
    an optional persisted inverted index kept current in the same pass.
    Re-run on a schedule; each pass drains the backlog and stops.
    Window rows emit when the watermark passes their end, so the newest
    window's docs surface on the NEXT pass."""
    ap = argparse.ArgumentParser(prog="snowav_spark curate-stream")
    ap.add_argument(
        "--input", required=True,
        help="growing directory of documents parquet files",
    )
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--ts-col", default="ts", help="event-time column")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.0)
    ap.add_argument(
        "--watermark", default="1 hour",
        help="late-data horizon; also bounds the dedup state",
    )
    ap.add_argument(
        "--window", default="1 hour",
        help="emission window length (rows emit when it closes)",
    )
    ap.add_argument(
        "--text-index", action="store_true",
        help="maintain the persisted inverted index "
        "(<output>/text_index) in the same pass",
    )
    ap.add_argument("--index-buckets", type=int, default=64)
    ap.add_argument("--timeout", type=int, default=600)
    args = ap.parse_args(argv)

    from snowav_spark.pipeline_llm import curate_stream_pass

    spark = get_spark(app_name="snowav_spark:curate-stream")
    corpus = curate_stream_pass(
        spark,
        args.input,
        args.output,
        ts_col=args.ts_col,
        id_col=args.id_col,
        text_col=args.text_col,
        min_quality=args.min_quality,
        watermark=args.watermark,
        window_len=args.window,
        text_index=args.text_index,
        n_buckets=args.index_buckets,
        timeout=args.timeout,
    )
    # a pass whose docs all sit in the newest (still-open) window emits
    # ZERO rows — the documented normal first-run case; the sink dir
    # then has no readable parquet, which must report as an empty pass,
    # not crash
    from pyspark.errors import AnalysisException

    try:
        n = spark.read.parquet(corpus).count()
    except AnalysisException:
        n = 0
    print(f"curated corpus rows so far: {n}")
    if n == 0:
        print(
            "(no window has closed yet — rows emit once newer arrivals "
            "advance the watermark past their window; re-run after the "
            "next drop)"
        )
    return 0


def compact_main(argv: list[str]) -> int:
    """``python -m snowav_spark compact`` — the table-maintenance job:
    rewrite a fragmented columnar dataset to target file sizes
    (sinks.compact_partitions)."""
    ap = argparse.ArgumentParser(prog="snowav_spark compact")
    ap.add_argument("--path", required=True, help="dataset directory")
    ap.add_argument("--format", choices=("parquet", "orc"), default="parquet")
    ap.add_argument(
        "--partition-by",
        default=None,
        help="comma list of partition columns (must match the layout)",
    )
    ap.add_argument("--target-rows", type=int, default=1_000_000)
    args = ap.parse_args(argv)

    from snowav_spark import sinks

    spark = get_spark(app_name="snowav_spark:compact")
    parts = tuple(
        c for c in (args.partition_by or "").split(",") if c
    )
    n = sinks.compact_partitions(
        spark,
        args.path,
        fmt=args.format,
        partition_by=parts,
        target_rows_per_file=args.target_rows,
    )
    print(json.dumps({"path": args.path, "files_after": n}))
    return 0


def index_main(argv: list[str]) -> int:
    """``python -m snowav_spark index`` — build / search / delete /
    compact the persisted retrieval layouts (IVF-PQ ANN over an
    embedding column, inverted text index over a document column) from
    the shell.  The
    at-rest forms the engine serves at 100 TB, wired to one command so
    a layout can be stood up and probed without writing Python."""
    ap = argparse.ArgumentParser(prog="snowav_spark index")
    ap.add_argument(
        "action",
        choices=(
            "build-ann", "search-ann", "build-text", "search-text",
            "compact-ann", "compact-text", "delete-ann", "delete-text",
            "build-dedup", "ingest-dedup", "delete-dedup",
            "compact-dedup",
        ),
    )
    ap.add_argument("--index", required=True, help="index directory")
    ap.add_argument("--source", help="parquet corpus (build actions)")
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--n-cells", type=int, default=16)
    ap.add_argument("--m", type=int, default=8)
    ap.add_argument("--k-codes", type=int, default=16)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--train-fraction", type=float, default=1.0)
    ap.add_argument("--k", type=int, default=10, help="top-k (search)")
    ap.add_argument("--nprobe", type=int, default=4)
    ap.add_argument(
        "--query-id", type=int, help="search-ann: corpus row to use as query"
    )
    ap.add_argument(
        "--terms", help="search-text: comma-separated query terms"
    )
    ap.add_argument(
        "--rerank", action="store_true",
        help="search-ann: exact cosine re-rank against --source",
    )
    ap.add_argument(
        "--ids",
        help="delete actions: comma-separated ids to tombstone "
        "(compact later folds them away physically)",
    )
    ap.add_argument(
        "--metadata",
        help="build actions: comma-separated source columns stored "
        "next to the index rows for filtered search",
    )
    ap.add_argument(
        "--where",
        help="search actions: SQL predicate over the index's stored "
        "metadata columns",
    )
    ap.add_argument(
        "--output",
        help="ingest-dedup: where the batch's dedup SURVIVORS land "
        "(the admitted documents)",
    )
    ap.add_argument(
        "--est-threshold", type=float, default=0.8,
        help="ingest-dedup: estimated-Jaccard near-dup admission bar",
    )
    args = ap.parse_args(argv)

    from snowav_spark.ops import quantize, text as text_ops

    spark = get_spark(app_name=f"snowav_spark:index:{args.action}")
    if args.action in ("build-ann", "build-text") and not args.source:
        ap.error("--source is required for build actions")
    src = spark.read.parquet(args.source) if args.source else None

    meta_cols = tuple(
        c.strip() for c in args.metadata.split(",")
    ) if args.metadata else ()
    if args.action == "build-ann":
        quantize.build_ivfpq_index(
            src, args.id_col, args.vec_col, args.index,
            n_cells=args.n_cells, m=args.m, k=args.k_codes,
            dim=args.dim, train_fraction=args.train_fraction,
            metadata=meta_cols,
        )
        print(json.dumps({"index": args.index, "built": "ivfpq"}))
    elif args.action == "build-text":
        text_ops.build_text_index(
            src, args.id_col, args.text_col, args.index,
            n_buckets=args.n_buckets, doc_meta=meta_cols,
        )
        print(json.dumps({"index": args.index, "built": "text"}))
    elif args.action == "search-ann":
        if args.query_id is None or src is None:
            ap.error("search-ann needs --source and --query-id")
        qrow = src.filter(
            src[args.id_col] == args.query_id
        ).select(args.vec_col).collect()
        if not qrow:
            ap.error(f"query id {args.query_id} not in --source")
        qv = [float(x) for x in qrow[0][0]]
        out = quantize.search_ivfpq_index(
            spark, args.index, qv, args.id_col, k_out=args.k,
            nprobe=args.nprobe, rerank=src if args.rerank else None,
            rerank_vec=args.vec_col, where=args.where,
        )
        for r in out.collect():
            print(json.dumps(r.asDict()))
    elif args.action == "search-text":
        if not args.terms:
            ap.error("search-text needs --terms")
        out = text_ops.search_text_index(
            spark, args.index, args.terms.split(","), k=args.k,
            where=args.where,
        )
        for r in out.collect():
            print(json.dumps(r.asDict()))
    elif args.action == "delete-ann":
        if not args.ids:
            ap.error("delete-ann needs --ids")
        n = quantize.delete_from_ivfpq_index(
            spark, args.index,
            [int(i) for i in args.ids.split(",")], args.id_col,
        )
        print(json.dumps({"index": args.index, "tombstoned": n}))
    elif args.action == "delete-text":
        if not args.ids:
            ap.error("delete-text needs --ids")
        n = text_ops.delete_from_text_index(
            spark, args.index, [int(i) for i in args.ids.split(",")]
        )
        print(json.dumps({"index": args.index, "tombstoned": n}))
    elif args.action == "build-dedup":
        from pyspark.sql import functions as F

        from snowav_spark.ops import dedup as dedup_ops

        if src is None:
            ap.error("--source is required for build actions")
        id_c = args.id_col if args.id_col != "vec_id" else "doc_id"
        idx = dedup_ops.dedup_index(src, id_c, args.text_col)
        # co-locate (band, bucket) so arriving batches equi-join
        # against clustered row groups; band alone as the directory
        # partition (bucket is a 32-bit hash — one dir per value would
        # be millions of directories)
        (
            idx.repartition(F.col("band"), F.col("bucket"))
            .sortWithinPartitions("bucket")
            .write.mode("overwrite")
            .partitionBy("band")
            .parquet(args.index)
        )
        print(json.dumps({"index": args.index, "built": "dedup"}))
    elif args.action == "ingest-dedup":
        from snowav_spark import sinks
        from snowav_spark.ops import dedup as dedup_ops

        if src is None or not args.output:
            ap.error("ingest-dedup needs --source and --output")
        id_c = args.id_col if args.id_col != "vec_id" else "doc_id"
        # RETRY SAFETY: drop the batch's OWN ids from the loaded index
        # before deduping.  A retry after a crashed (or merely
        # unacknowledged) previous attempt finds its own rows already
        # indexed; without this exclusion the whole batch would
        # self-suppress, and the --output overwrite would clobber the
        # survivors with an EMPTY dataset.  Ids are unique across the
        # corpus by the dedup_index contract, so the anti-join removes
        # exactly the rows a previous attempt of THIS batch created;
        # duplicates against the REST of the corpus still reject, the
        # recomputed survivors are identical, and the index append
        # converges by digest — every step is a deterministic rewrite.
        index = dedup_ops.load_dedup_index(spark, args.index).join(
            src.select(id_c).distinct(), id_c, "left_anti"
        )
        fresh = dedup_ops.incremental_dedup(
            src, index, id_c, args.text_col,
            est_threshold=args.est_threshold,
        ).localCheckpoint(eager=True)  # survivors computed once:
        # the corpus write and the index append must agree exactly
        n = fresh.count()
        fresh.write.mode("overwrite").parquet(args.output)
        digest = sinks.content_digest(fresh, id_c, args.text_col)
        sinks.idempotent_append(
            dedup_ops.dedup_index(fresh, id_c, args.text_col),
            args.index,
            digest,
            partition_by=("band",),
            sort_within=("bucket",),  # keep build-dedup's row-group
            # clustering so the (band, bucket) equi-join stays pruned
        )
        print(json.dumps({
            "index": args.index, "admitted": n,
            "rejected": src.count() - n, "survivors": args.output,
        }))
    elif args.action == "delete-dedup":
        from snowav_spark.ops import dedup as dedup_ops

        if not args.ids:
            ap.error("delete-dedup needs --ids")
        n = dedup_ops.delete_from_dedup_index(
            spark, args.index, [int(i) for i in args.ids.split(",")]
        )
        print(json.dumps({"index": args.index, "tombstoned": n}))
    elif args.action == "compact-dedup":
        from snowav_spark.ops import dedup as dedup_ops

        n = dedup_ops.compact_dedup_index(spark, args.index)
        print(json.dumps({"index": args.index, "files_after": n}))
    elif args.action == "compact-ann":
        n = quantize.compact_ivfpq_index(spark, args.index)
        print(json.dumps({"index": args.index, "files_after": n}))
    else:
        n = text_ops.compact_text_index(spark, args.index)
        print(json.dumps({"index": args.index, "files_after": n}))
    return 0


def convert_main(argv: list[str]) -> int:
    """``python -m snowav_spark convert`` — land any supported source
    as parquet, the switch-over path for a corpus arriving in a foreign
    container: Zarr v2/v3 stores (``--from zarr``, chunk-partitioned),
    NetCDF model output (``--from netcdf``, slab-partitioned), Arrow
    IPC/Feather (``--from arrow``, batches as-is), JSONL with corrupt-
    line quarantine (``--from jsonl``), or parquet itself (re-layout).
    ``--zorder c1,c2`` writes the output clustered on the Z-order curve
    of those columns (multi-dimensional row-group skipping);
    ``--partition-by`` uses plain hive partitioning instead.  One scan,
    one write — the conversion inherits every source's distributed
    partitioning."""
    ap = argparse.ArgumentParser(prog="snowav_spark convert")
    ap.add_argument("--from", dest="src_fmt", required=True,
                    choices=("zarr", "netcdf", "arrow", "jsonl", "parquet"))
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--zorder", help="comma list: z-order cluster columns")
    ap.add_argument(
        "--partition-by", help="comma list: hive partition columns"
    )
    ap.add_argument("--n-files", type=int, default=8,
                    help="target file count for --zorder layouts")
    args = ap.parse_args(argv)
    if args.zorder and args.partition_by:
        ap.error("--zorder and --partition-by are mutually exclusive")

    from snowav_spark import ingest, sinks
    from snowav_spark import sources as sources_mod

    spark = get_spark(app_name=f"snowav_spark:convert:{args.src_fmt}")
    sources_mod.register(spark)
    if args.src_fmt == "zarr":
        df = spark.read.format("snowav_zarr").load(args.input)
    elif args.src_fmt == "netcdf":
        df = spark.read.format("snowav_netcdf").load(args.input)
    elif args.src_fmt == "arrow":
        df = spark.read.format("snowav_arrow").load(args.input)
    elif args.src_fmt == "jsonl":
        from snowav_spark.sources import textual

        parsed = textual.read_jsonl(spark, args.input)
        df, bad = textual.split_quarantine(parsed)
        bad.write.mode("overwrite").json(f"{args.output}.quarantine")
    else:
        df = spark.read.parquet(args.input)

    if args.zorder:
        sinks.write_zordered(
            df, args.output, args.zorder.split(","), n_files=args.n_files
        )
    elif args.partition_by:
        df.write.mode("overwrite").partitionBy(
            *args.partition_by.split(",")
        ).parquet(args.output)
    else:
        df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"output": args.output, "rows": n}))
    return 0


def sql_main(argv: list[str]) -> int:
    """``python -m snowav_spark sql`` — ad-hoc Spark SQL from the shell.

    Registers every ``<name>.parquet`` under ``--tables`` as a temp view
    (plus ``results`` for a ``--store`` results-store path) and runs the
    query — SQL text and the DataFrame API compile to the same Catalyst
    plan, so everything the engine optimizes (pushdown, pruning,
    broadcast selection, AQE) applies to user SQL unchanged.  Output
    prints as JSON lines (bounded by --limit) or lands as parquet/CSV
    via --output; ``--explain`` prints the optimized physical plan
    instead of running (the plan-audit view of a user query)."""
    ap = argparse.ArgumentParser(prog="snowav_spark sql")
    ap.add_argument("-e", "--query", required=True, help="SQL text")
    ap.add_argument(
        "--tables",
        help="directory whose <name>.parquet datasets become temp views",
    )
    ap.add_argument(
        "--store", help="results-store path registered as view `results`"
    )
    ap.add_argument(
        "--output", help="write the full result here instead of printing"
    )
    ap.add_argument(
        "--format", default="parquet", choices=("parquet", "csv"),
        help="--output format",
    )
    ap.add_argument(
        "--limit", type=int, default=100,
        help="max rows printed without --output (never applied to "
        "--output writes)",
    )
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args(argv)
    if not args.tables and not args.store:
        ap.error("need --tables and/or --store to register views")

    from snowav_spark import io as io_mod

    spark = get_spark(app_name="snowav_spark:sql")
    if args.tables:
        import glob as _glob

        names = sorted(
            os.path.basename(p)[: -len(".parquet")]
            for p in _glob.glob(os.path.join(args.tables, "*.parquet"))
        )
        if not names:
            ap.error(f"no <name>.parquet datasets under {args.tables}")
        io_mod.register_temp_views(spark, args.tables, tuple(names))
    if args.store:
        spark.read.parquet(args.store).createOrReplaceTempView("results")

    df = spark.sql(args.query)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.output:
        w = df.write.mode("overwrite")
        if args.format == "csv":
            w.option("header", True).csv(args.output)
        else:
            w.parquet(args.output)
        print(json.dumps({"output": args.output, "format": args.format}))
        return 0
    for r in df.limit(args.limit).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def explain_main(argv: list[str]) -> int:
    """``python -m snowav_spark explain <key> [...]`` — print the
    optimized physical plan for any contract query key, the same
    explain output the plan audits assert on.  The cluster-side debug
    loop: a regressed query's first diagnostic is its plan (did the
    broadcast survive? is the filter pushed? did a window sneak in?),
    and this makes that one command against any fixture directory."""
    ap = argparse.ArgumentParser(prog="snowav_spark explain")
    ap.add_argument("keys", nargs="+", help="contract query key(s)")
    ap.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01", help="fixture dir"
    )
    ap.add_argument(
        "--mode",
        choices=("formatted", "simple", "extended", "cost", "codegen"),
        default="formatted",
    )
    args = ap.parse_args(argv)

    from snowav_spark import contract

    unknown = [k for k in args.keys if k not in contract.QUERIES]
    if unknown:
        known = ", ".join(sorted(contract.QUERIES))
        print(f"unknown key(s): {unknown}\nknown: {known}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="snowav_spark:explain")
    for k in args.keys:
        print(f"=== {k} ===")
        contract.QUERIES[k](spark, args.sf_dir).explain(args.mode)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "curate":
        return curate_main(argv[1:])
    if argv and argv[0] == "curate-stream":
        return curate_stream_main(argv[1:])
    if argv and argv[0] == "compact":
        return compact_main(argv[1:])
    if argv and argv[0] == "explain":
        return explain_main(argv[1:])
    if argv and argv[0] == "index":
        return index_main(argv[1:])
    if argv and argv[0] == "sql":
        return sql_main(argv[1:])
    if argv and argv[0] == "convert":
        return convert_main(argv[1:])
    ap = argparse.ArgumentParser(prog="snowav_spark")
    ap.add_argument("-f", "--config", required=True, help="INI config path")
    args = ap.parse_args(argv)

    q = parse_query(args.config)
    if q is not None:  # EP3: query/figures-only — no reprocessing
        spark = get_spark(app_name=f"snowav_spark:query:{q['run_id']}")
        return query_main(spark, q)

    spec, extras = parse_spec(args.config)
    spark = get_spark(app_name=f"snowav_spark:{spec.run_id}")
    sources.register(spark)

    nc_dir = extras["nc_dir"]
    if not nc_dir and extras["grid_dir"]:
        # a reference-style `run_dirs` points at NetCDF model output,
        # not CSV grids — sniff the directory and route accordingly
        import glob as _glob

        if os.path.isdir(extras["grid_dir"]) and _glob.glob(
            os.path.join(extras["grid_dir"], "*.nc")
        ):
            nc_dir = extras["grid_dir"]
    if nc_dir:
        rd = spark.read.format("snowav_netcdf")
        if extras["nc_variables"]:
            rd = rd.option("variables", extras["nc_variables"])
        raster = rd.load(nc_dir)
    elif extras["zarr_dir"]:
        # zarr_dir: a Zarr v2 group of (t, y, x) variables + a CF time
        # member — chunk-partitioned scan, time dim broadcast (EP1 is
        # container-agnostic across CSV grids / NetCDF / Zarr)
        raster = ingest.read_zarr_outputs(spark, extras["zarr_dir"])
    else:
        raster = spark.read.format("snowav_raster").load(extras["grid_dir"])
    if extras["topo_parquet"]:
        topo = spark.read.parquet(extras["topo_parquet"])
    else:
        # no topo supplied: derive grid dims from the first grid and use
        # the synthetic gradient topo (tests / demo runs)
        ymax, xmax = raster.agg(F.max("y"), F.max("x")).first()
        topo = synthetic_topo(spark, ymax + 1, xmax + 1, spec.edges)

    store = pipeline.run(
        spark, spec, raster, topo, incremental=extras["incremental"]
    )
    n = store.read().count()
    print(f"results rows in store: {n}")

    if extras["results_db"]:
        # the reference's summary-database artifact
        # (ref:snowav/database/tables.py) — plain-SQL handoff for users
        from snowav_spark import sinks as _sinks

        n_db = _sinks.export_sqlite(
            store.read(), extras["results_db"], "results"
        )
        print(f"sqlite export: {n_db} rows -> {extras['results_db']}")

    if (
        extras["report_variable"]
        or extras["report_md"]
        or extras["report_tex"]
    ):
        import datetime

        dates = [
            r[0]
            for r in store.read().select("date").distinct().collect()
        ]
        start, end = min(dates), max(dates) + datetime.timedelta(days=1)
        if extras["report_variable"] and extras["report_csv"]:
            frame = store.collect_frame(
                spec.run_id, extras["report_variable"], spec.basins, start, end
            )
            frame.to_csv(extras["report_csv"], index=False)
            print(f"report written: {extras['report_csv']}")
        figs_dir = extras.get("report_figs_dir")
        frames = fig_names = None
        if figs_dir and extras["report_md"] and extras["report_tex"]:
            # both formats: collect the store and render the SVGs ONCE,
            # then hand the shared frames/names to each renderer
            from snowav_spark.report import _frames, write_figures

            frames = _frames(store, spec, start, end)
            fig_names = write_figures(
                store, spec, start, end, figs_dir, frames=frames
            )
        if extras["report_md"]:
            from snowav_spark.report import write_report

            write_report(
                store, spec, start, end, extras["report_md"],
                figs_dir=figs_dir, frames=frames, fig_names=fig_names,
            )
            print(f"markdown report written: {extras['report_md']}")
        if extras["report_tex"]:
            from snowav_spark.report import compile_pdf, write_latex

            write_latex(
                store, spec, start, end, extras["report_tex"],
                figs_dir=figs_dir, frames=frames, fig_names=fig_names,
            )
            print(f"latex report written: {extras['report_tex']}")
            pdf = compile_pdf(extras["report_tex"])
            if pdf:
                print(f"pdf compiled: {pdf}")
            else:
                print(
                    "pdflatex not found — finish with: pdflatex"
                    f" -interaction=nonstopmode {extras['report_tex']}"
                )
    return 0


if __name__ == "__main__":
    sys.exit(main())
