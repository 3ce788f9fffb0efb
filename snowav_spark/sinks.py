"""The results store: partitioned parquet sink with the reference's
idempotent re-run and incremental-append semantics.

Reference parity: the reference writes long-format rows into SQLite/MySQL
via SQLAlchemy (ref:snowav/database/database.py::insert) and implements
re-runs by DELETEing rows for (run_name, date range) before inserting
(ref:database.py::delete); its daily AWSM coupling appends only dates not
yet present (existing-records check).  SURVEY.md §2.1/§3 EP2.

Spark-first mapping:

- store = parquet partitioned by ``(run_id, date)`` — partition pruning
  makes every date-ranged read touch only the requested days, which is the
  100 TB access pattern;
- delete-then-insert → **dynamic partition overwrite** (only partitions
  present in the written frame are replaced; engine default conf);
- existing-records check → **anti-join against the store's partition
  values** (reading just partition columns costs metadata, not data).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from snowav_spark.io import hadoop_glob_matches


class ResultsStore:
    """Partitioned long-format results store (the reference's Results
    table re-expressed as a parquet lake)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._schema = None  # inferred by the first read()

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Idempotent write: with the engine's dynamic partitionOverwrite
        conf, 'overwrite' replaces only the (run_id, date) partitions
        present in ``df`` — the reference's delete-then-insert in one
        atomic-per-partition action."""
        (
            df.write.mode(mode)
            .partitionBy("run_id", "date")
            .parquet(self.path)
        )

    def read(self) -> DataFrame:
        """The store as a DataFrame.  The schema is inferred from a
        parquet footer once; every read still lists the partitions."""
        if self._schema is None:
            self._schema = self.spark.read.parquet(self.path).schema
        return self.spark.read.schema(self._schema).parquet(self.path)

    def existing_dates(self, run_id: str) -> DataFrame:
        """Distinct dates already present for a run — partition-column-only
        scan (no data files read beyond footers)."""
        return (
            self.read()
            .filter(F.col("run_id") == run_id)
            .select("date")
            .distinct()
        )

    def _has_partitions(self) -> bool:
        """First-use guard: True once a write has landed a partition.
        Writing an empty frame leaves a directory with none, and
        ``spark.read.parquet`` cannot infer a schema from that."""
        return hadoop_glob_matches(self.spark, f"{self.path}/run_id=*")

    def append_missing(self, df: DataFrame, run_id: str) -> None:
        """EP2 incremental semantics: write only the rows whose date is
        not yet in the store for this run.  The anti-join against the
        stored dates runs inside the write, which is the only action:
        when every date is already stored the write is empty, and an
        empty dynamic partition overwrite replaces no partition, so
        re-running the same day twice is a no-op."""
        if self._has_partitions():
            df = df.join(self.existing_dates(run_id), "date", "left_anti")
        self.write(df)

    def merge_upsert(self, updates: DataFrame, keys: tuple[str, ...]) -> None:
        """PARTITION-SCOPED merge on the parquet store: within the
        (run_id, date) partitions present in the update, rows matching
        ``keys`` are replaced and everything else survives; partitions
        the update doesn't touch are never read or written.

        This is deliberately NOT global MERGE INTO: key matching is
        scoped to the update's partition footprint, which is what keeps
        the cost proportional to the update, not the store.  Two
        consequences callers must own (they are the price of pruning):

        - a store row whose key matches an update survives if it lives
          in a partition the update doesn't touch (a key that "moves"
          to a new date leaves its old-date row behind);
        - a matching key in a touched partition is dropped even when the
          replacing row lands in a different touched partition.

        Keys that can migrate across partitions therefore need the
        partition columns included in ``keys`` (making the match
        partition-local and unambiguous) or a full-store rewrite.

        The scale shape: partition pruning first — only partitions
        PRESENT IN THE UPDATE are ever read (a semi-join of the store
        against the update's distinct partition values, which the scan
        prunes on), then an anti-join on the business keys drops the
        superseded rows, union with the updates, and dynamic partition
        overwrite writes back just those partitions."""
        if not self._has_partitions():
            self.write(updates)
            return
        store = self.read()
        parts = updates.select("run_id", "date").distinct()
        touched = store.join(F.broadcast(parts), ["run_id", "date"], "semi")
        survivors = touched.join(
            updates.select(*keys).distinct(), list(keys), "left_anti"
        )
        self.write(survivors.unionByName(updates))

    def collect_frame(
        self,
        run_id: str,
        variable: str,
        basins: list[str],
        start,
        end,
    ):
        """The reference's ``collect()`` read path: filter the store by
        (run, variable, date range) — all pruned at the scan — and pivot
        bands × basins into a driver-sized pandas report frame."""
        df = self.read().filter(
            (F.col("run_id") == run_id)
            & (F.col("variable") == variable)
            & (F.col("date") >= F.lit(start))
            & (F.col("date") < F.lit(end))
        )
        # pivot as one conditional sum per basin (pivot() shuffles twice);
        # the few band rows sort on the driver, not in a range shuffle
        wide = df.groupBy("band").agg(*(
            F.round(F.sum(F.when(F.col("basin_id") == b, F.col("value"))), 6)
            .alias(b) for b in basins
        ))
        return wide.toPandas().sort_values(
            "band", na_position="first", ignore_index=True
        )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: co-locates future joins/aggregations on
    ``bucket_col`` so they run exchange-free (SURVEY §4 / prompt:
    'bucketing for co-located joins').

    At 100 TB, two fact tables bucketed identically on their join key
    sort-merge join with ZERO shuffle — the single biggest join win
    available by layout alone.  Bucket count should match target
    parallelism (buckets are the unit of join task assignment).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_columnar(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
    max_records_per_file: int = 0,
) -> None:
    """Format-agnostic columnar write (parquet or ORC — both ship with
    Spark and both carry column stats + predicate pushdown).  ORC matters
    for interop with Hive-era lakes; everything downstream (partition
    pruning, filter pushdown, column pruning) works identically, which
    test_columnar_sources asserts on the ORC plan.
    ``max_records_per_file`` > 0 caps file size task-locally (Spark's
    maxRecordsPerFile) — the file-sizing backstop compaction relies on."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format: {fmt}")
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def read_columnar(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar format: {fmt}")
    return spark.read.format(fmt).load(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    target_rows_per_file: int = 1_000_000,
    transform=None,
    sort_within: tuple[str, ...] = (),
) -> int:
    """Small-files compaction — the table-maintenance job every streaming
    or incremental-append lake needs at 100 TB: micro-batch appends leave
    thousands of KB-sized files per partition, and scan cost becomes
    task-scheduling overhead instead of IO.

    Rewrites the dataset with files re-sized to ``target_rows_per_file``.
    With ``partition_by``, shuffle keys are (partition cols, salt) where
    each partition value's salt domain is ceil(rows/target) — computed
    from one tiny per-partition count — so a 10M-row partition spreads
    over ~10 write tasks while a 10-row partition stays on one; hashing
    the partition columns alone would funnel every partition value
    through a single task regardless of size.  maxRecordsPerFile backs
    the salt up: even when two salt groups hash into the same task, no
    output file exceeds the target row count.

    The swap stages into a sibling directory (write staged → move old →
    move staged → delete old).  LOCAL FILESYSTEM ONLY — the swap uses
    os/shutil renames, validated up front, so an object-store URI fails
    before any write happens.  Single-writer assumption; a crash between
    the two moves leaves the data intact at ``path + '._compact_old'``,
    which the next invocation detects and restores before proceeding.
    Returns the number of files after compaction.

    On a real cluster this is the nightly OPTIMIZE job (object-store
    lakes want the table format's transactional variant); the rewrite
    cost is one scan + one write of the live partitions, independent of
    how fragmented the input was.
    """
    import os
    import shutil

    staged = path.rstrip("/") + "._compact_staged"
    old = path.rstrip("/") + "._compact_old"
    if os.path.isdir(old) and not os.path.isdir(path):
        shutil.move(old, path)  # crash recovery: prior swap died mid-move
    elif os.path.isdir(old):
        # prior run crashed AFTER the staged→path move (the compacted
        # data is live) but before deleting the backup: drop the stale
        # backup now — otherwise the shutil.move(path, old) below would
        # nest the live tree INSIDE the stale directory
        shutil.rmtree(old)
    if not os.path.isdir(path):
        raise ValueError(
            f"compact_partitions requires an existing local directory, "
            f"got {path!r} (object-store paths need a transactional "
            f"table format, not a rename-based swap)"
        )
    shutil.rmtree(staged, ignore_errors=True)  # stale prior attempt

    df = read_columnar(spark, path, fmt)
    if transform is not None:
        # layout migration hook: e.g. dropping a streaming layout's
        # ``_batch`` bookkeeping column while folding it back to the
        # batch serving layout (compact_ivfpq_index / compact_text_index)
        df = transform(df)
    n = df.count()
    n_files = max(1, -(-n // target_rows_per_file))
    if partition_by:
        buckets = (
            df.groupBy(*partition_by)
            .agg(F.count("*").alias("_rows"))
            .select(
                *partition_by,
                F.greatest(
                    F.lit(1),
                    F.ceil(F.col("_rows") / F.lit(target_rows_per_file)),
                ).cast("int").alias("_buckets"),
            )
        )
        out = (
            df.join(F.broadcast(buckets), list(partition_by))
            .withColumn("_salt", (F.rand(17) * F.col("_buckets")).cast("int"))
            .repartition(
                n_files, *[F.col(c) for c in partition_by], F.col("_salt")
            )
            .drop("_buckets", "_salt")
        )
    else:
        out = df.repartition(n_files)

    if sort_within:
        # restore intra-file clustering the salt shuffle destroyed
        # (e.g. the inverted index's term-sorted row groups)
        out = out.sortWithinPartitions(*sort_within)
    write_columnar(
        out, staged, fmt, partition_by,
        max_records_per_file=target_rows_per_file,
    )
    # carry sidecar DIRECTORIES (underscore/dot-prefixed — invisible to
    # Spark's read of the parent, e.g. _ivf_centroids, _corpus_stats)
    # into STAGED before the swap: without this, compacting any
    # sidecar-carrying layout silently dropped its sidecars — and
    # copying BEFORE the swap (rather than moving out of the backup
    # after it) keeps `old` fully redundant at every instant, so the
    # crash-recovery rmtree above can never destroy the only copy
    for name in os.listdir(path):
        src = os.path.join(path, name)
        if (
            name.startswith(("_", "."))
            and os.path.isdir(src)
            and not os.path.isdir(os.path.join(staged, name))
        ):
            shutil.copytree(src, os.path.join(staged, name))
    shutil.move(path, old)
    shutil.move(staged, path)
    shutil.rmtree(old)
    return sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(f".{fmt}")
    )


def content_digest(df: DataFrame, *cols: str) -> str:
    """Order-insensitive content digest of ``df`` over ``cols`` — the
    identity of a batch for :func:`idempotent_append`.  Three
    independent multiset combiners of the per-row xxhash64, computed in
    ONE map-side-combined aggregation (distributed, never collects
    rows): ``<sum hex>-<xor hex>-<rowcount>``.  Sum alone is a weak
    multiset combiner (ADVICE r10): a sum collision between two
    genuinely different batches would let the append sweep delete the
    earlier batch's committed files.  Requiring sum AND xor AND row
    count to all collide makes that practically impossible, and the row
    count in the digest (hence in every ``append-<digest>-…`` file
    name) means even a full hash collision cannot sweep a
    different-sized batch's files.  The sum runs in decimal(38,0):
    int64 would overflow under ANSI mode after a few billion rows'
    worth of hash mass.

    FORMAT BREAK (r10 → r11, ADVICE r10): before the strengthening the
    digest was the bare ``<sum hex>`` — the first dash-separated field
    of today's format.  A dataset whose last append committed under the
    old format therefore carries ``append-<sum hex>-<seq>.parquet``
    files that the new digest neither name-matches nor sweeps, so a
    retried re-append of the SAME content would have duplicated the
    batch.  :func:`idempotent_append` closes this by also sweeping
    legacy-named files whose sum field matches this digest's — see the
    legacy-sweep note there."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    row = df.select(
        F.sum(h.cast("decimal(38,0)")).alias("s"),
        F.bit_xor(h).alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    mask = (1 << 63) - 1
    return (
        f"{int(row.s or 0) & mask:x}-{int(row.x or 0) & mask:x}-{row.n}"
    )


def idempotent_append(
    df: DataFrame,
    path: str,
    digest: str,
    partition_by: tuple[str, ...] = (),
    sort_within: tuple[str, ...] = (),
) -> int:
    """Append ``df`` to a (possibly partitioned) parquet dataset such
    that a crashed-then-RETRIED append of the same content converges to
    exactly one copy — the structural fix for the blind-append retry
    hazard (a plain ``mode("append")`` that crashes mid-write and
    retries leaves two copies, silently).

    Mechanism: every file this batch produces has a DETERMINISTIC name
    ``append-<digest>-<seq>.parquet`` inside its partition directory.
    The batch is staged (full rewrite each attempt), any files of the
    same digest from a previous partial attempt are deleted, then the
    staged files move into place via atomic os.replace.  Any crash at
    any point leaves a state the next attempt repairs: stale staged
    trees are discarded, partial digest files are swept before the
    move, and a retry AFTER success rewrites byte-identical files over
    themselves.  Appends of genuinely different content have different
    digests and never collide.

    LOCAL FILESYSTEM ONLY (the compact_partitions rule — renames):
    object-store layouts should use the streaming ``batch_id`` layout,
    whose dynamic partition overwrite is the cloud-side equivalent.
    Concurrent readers may observe a partially-moved batch (same as any
    non-transactional append); concurrent WRITERS of different batches
    are safe (distinct digests → distinct file names and staging dirs),
    but two SIMULTANEOUS attempts of the SAME batch race on their
    shared staging dir — single writer per digest (retries are
    sequential by nature; a scheduler that can double-fire the same
    batch concurrently needs its own mutual exclusion, same as
    compact_partitions' single-writer assumption).  Returns the number
    of files committed."""
    import os
    import shutil

    root = path.rstrip("/")
    if not os.path.isdir(root):
        raise ValueError(
            f"idempotent_append requires an existing local directory, "
            f"got {path!r} (object-store paths: use the batch_id "
            "streaming layout instead of rename-based appends)"
        )
    staged = f"{root}._append_{digest}_staged"
    shutil.rmtree(staged, ignore_errors=True)
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(staged)
    # sweep remnants of a previous partial attempt of THIS digest —
    # its file split may differ from this attempt's, so name-overwrite
    # alone could leave orphan tails.  Sweep ONLY the partition dirs
    # this staged batch produced: the partition SET is deterministic
    # (content-derived values), so any earlier attempt of the same
    # digest wrote a subset of these dirs — an O(batch) listing, never
    # an O(index) tree walk.  This also keeps the sweep out of sidecar
    # datasets (_doc_meta, _corpus_stats …), whose own idempotent
    # appends may share this digest.
    prefix = f"append-{digest}-"
    # Legacy sweep (ADVICE r10): pre-r11 digests were the bare sum-hex —
    # the first field of today's sum-xor-count format — so an attempt
    # committed under the old format left ``append-<sum>-<seq>.parquet``
    # files this prefix no longer matches, and a retry would duplicate
    # the batch.  Sweep those too, but ONLY exact legacy names
    # (<sum>-<digits>.parquet): the seq-is-digits anchor keeps a
    # DIFFERENT new-format digest that merely shares the sum field (its
    # next field is xor hex, 16 chars, never bare digits of a small
    # seq … still possible in principle, so anchor on the FULL name
    # shape) from being swept by content that only sum-collides.
    import re

    legacy_pat = None
    sum_field = digest.split("-", 1)[0]
    if sum_field != digest:  # new-format digest: its legacy twin exists
        legacy_pat = re.compile(
            rf"^append-{re.escape(sum_field)}-\d+\.parquet$"
        )
    batch: list[tuple[str, list[str]]] = []
    for dirpath, _, files in os.walk(staged):
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            batch.append((os.path.relpath(dirpath, staged), parts))
    for rel, _ in batch:
        dest_dir = root if rel == "." else os.path.join(root, rel)
        if os.path.isdir(dest_dir):
            for f in os.listdir(dest_dir):
                if f.startswith(prefix) or (
                    legacy_pat and legacy_pat.match(f)
                ):
                    os.remove(os.path.join(dest_dir, f))
    moved = 0
    for rel, parts in batch:
        dest_dir = root if rel == "." else os.path.join(root, rel)
        os.makedirs(dest_dir, exist_ok=True)
        for f in parts:
            os.replace(
                os.path.join(staged, "" if rel == "." else rel, f),
                os.path.join(dest_dir, f"{prefix}{moved}.parquet"),
            )
            moved += 1
    shutil.rmtree(staged, ignore_errors=True)
    return moved


def write_csv_report(df: DataFrame, path: str) -> None:
    """CSV export analog of ref:snowav/plotting/write_properties.py —
    coalesced to one file because report tables are driver-sized by
    construction (never use for big frames)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def _zorder_norm(df: DataFrame, col: str) -> Column:
    """Order-preserving numeric form of a z-order column: dates → epoch
    days, timestamps → epoch micros, numerics → double.  Strings are
    rejected (no order-preserving fixed-width encoding exists without a
    dictionary pass; a hash would destroy the locality z-order is for)."""
    dt = dict(df.dtypes)[col]
    if dt == "date":
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if dt.startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp")).cast("double")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or (
        dt.startswith("decimal")
    ):
        return F.col(col).cast("double")
    raise ValueError(f"zorder column {col!r} has unsupported type {dt}")


def morton_key(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 16,
    clamp: tuple[float, float] = (0.001, 0.999),
) -> Column:
    """Z-order (Morton) key over ``cols``: each column is binned into
    ``2**bits_per_col`` equi-width buckets between its ``clamp``
    quantiles (ONE distributed ``percentile_approx`` pass — quantile
    bounds, not min/max, so a single outlier cannot flatten the whole
    column into one bucket), then the bucket bits are interleaved
    round-robin — a pure codegen expression tree (width_bucket/
    shift/and/or), no UDF.  Dates and timestamps normalize to epoch
    numbers first (``_zorder_norm``); NULL cells land in bucket 0 (the
    curve origin — NULLs cluster together, which is also what their
    footer stats want; without that a single NULL would poison the
    whole interleaved key to NULL).

    Interleaving makes the 1-D sort order locality-preserving in EVERY
    keyed dimension at once: rows close in any column land in few files,
    so parquet min/max footer stats prune multi-dimensional predicates —
    lexicographic sort only ever prunes its leading column.
    ``bits_per_col · len(cols)`` must stay ≤ 63 (the key is one long).
    """
    if not cols:
        raise ValueError("zorder needs at least one column")
    total = bits_per_col * len(cols)
    if total > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits_per_col} bits = {total} exceeds "
            "the 63-bit z-value"
        )
    nb = 1 << bits_per_col
    lo_q, hi_q = clamp
    norms = {c: _zorder_norm(df, c) for c in cols}
    bounds_row = df.agg(
        *[
            F.percentile_approx(
                norms[c], F.array(F.lit(lo_q), F.lit(hi_q)), 10_000
            ).alias(c)
            for c in cols
        ]
    ).first()
    buckets: list[Column] = []
    for c in cols:
        b = bounds_row[c]
        lo, hi = (b[0], b[1]) if b is not None else (None, None)
        if lo is None or hi is None or not (hi > lo):
            # all-NULL or constant column: zero contribution, still a
            # valid (degenerate) dimension — not a crash
            buckets.append(F.lit(0).cast("long"))
            continue
        raw = F.width_bucket(norms[c], F.lit(lo), F.lit(hi), F.lit(nb))
        # width_bucket: 0 below lo, nb+1 above hi, NULL for NULL —
        # coalesce BEFORE the clamp (least/greatest skip NULLs, so a
        # NULL raw would clamp to the TOP bucket otherwise), then clamp
        # outliers into the edge buckets; NULLs land in bucket 0
        buckets.append(
            F.greatest(
                F.lit(1), F.least(F.lit(nb), F.coalesce(raw, F.lit(0)))
            ).cast("long")
            - 1
        )
    z = F.lit(0).cast("long")
    for i in range(bits_per_col):
        for j, s in enumerate(buckets):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits_per_col: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of ``cols``
    — the data-layout optimization for tables filtered on SEVERAL
    dimensions (user AND day, basin AND band): range-partition on the
    Morton key (sampled split points, no single-reducer sort), sort
    within partitions, one file per partition.  Readers then skip whole
    files from footer min/max stats for predicates on ANY of ``cols``.
    The key is layout-only — it is dropped from the written schema, so
    the files are plan-compatible with an unclustered write.

    Measured (SCALE.md round-7 z-order probe, sf0.1 lineitem, 64
    files, ~10% box on l_partkey × l_suppkey; the script was removed,
    see ``git show 7d3674f:tools/probe_zorder.py``): the 2-D box
    touches 9/64 row groups; a suppkey-only predicate touches 19/64
    where a partkey-sorted layout touches 64/64.  The honest tradeoff:
    a partkey-only predicate reads 29/64 under z-order vs 7/64 under
    the dedicated sort — interleaving spends leading-column resolution
    to buy it on every other column."""
    keyed = df.withColumn("_zkey", morton_key(df, cols, bits_per_col))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroup_overlap(path: str, box: dict[str, tuple]) -> tuple[int, int]:
    """Count parquet row groups whose footer min/max stats overlap a
    k-dimensional box predicate: ``(overlapping, total)``.  Driver-side
    FOOTER scan only (KBs per file) — this is the same decision Spark's
    parquet reader makes per row group from pushed filters, surfaced so
    tests and probes can measure a layout's skipping rate without timing
    noise.  Row groups lacking stats count as overlapping (the reader
    must read them)."""
    import glob
    import os

    import pyarrow.parquet as pqt

    overlap = total = 0
    for f in sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ):
        md = pqt.ParquetFile(f).metadata
        names = [
            md.row_group(0).column(i).path_in_schema
            for i in range(md.num_columns)
        ] if md.num_row_groups else []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            total += 1
            hit = True
            for col, (lo, hi) in box.items():
                st = g.column(names.index(col)).statistics
                if st is None or not st.has_min_max:
                    continue
                if st.max < lo or st.min > hi:
                    hit = False
                    break
            if hit:
                overlap += 1
    return overlap, total


# ---------------------------------------------------------------------------
# SQLite export — the reference's queryable summary-database artifact
# ---------------------------------------------------------------------------

_SQLITE_TYPES = {
    "tinyint": "INTEGER", "smallint": "INTEGER", "int": "INTEGER",
    "bigint": "INTEGER", "boolean": "INTEGER",
    "float": "REAL", "double": "REAL",
    "date": "TEXT", "timestamp": "TEXT", "timestamp_ntz": "TEXT",
    "string": "TEXT",
}


def export_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "replace",
    max_rows: int = 5_000_000,
    batch: int = 10_000,
) -> int:
    """Export a SUMMARY-sized frame to a SQLite table; returns row count.

    Reference parity: ref:snowav/database/tables.py stores results in
    SQLite/MySQL via SQLAlchemy so downstream users can query them with
    plain SQL.  Here the distributed store is parquet (SURVEY §2.1); this
    is the handoff artifact for those users — stdlib sqlite3, no JDBC
    driver or SQLAlchemy needed.

    Scale framing: the results store is (run, date, basin, band,
    variable) — thousands of rows by construction — so a DRIVER-side
    export is the right tool.  Rows stream via toLocalIterator (one
    partition in driver memory at a time, executemany per ``batch``);
    ``max_rows`` refuses accidental exports of fact-sized frames, which
    belong in parquet.  ``mode``: replace | append.
    """
    import datetime
    import decimal
    import sqlite3

    if mode not in ("replace", "append"):
        raise ValueError(f"mode must be replace|append, got {mode!r}")
    cols = [
        (f.name, _SQLITE_TYPES.get(f.dataType.simpleString(), "TEXT"))
        for f in df.schema.fields
    ]

    def cell(v):
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (list, tuple, dict)):
            return repr(v)
        return v

    con = sqlite3.connect(db_path)
    try:
        q = '"' + table.replace('"', '""') + '"'
        if mode == "replace":
            con.execute(f"DROP TABLE IF EXISTS {q}")
        con.execute(
            f"CREATE TABLE IF NOT EXISTS {q} ("
            + ", ".join(f'"{c}" {t}' for c, t in cols)
            + ")"
        )
        ins = f"INSERT INTO {q} VALUES ({', '.join('?' * len(cols))})"
        # single pass: count while streaming (one Spark job, and the
        # returned count is the rows actually inserted); max_rows aborts
        # mid-stream and rolls back rather than pre-counting with a
        # second job over the whole lineage
        n = 0
        buf = []
        for row in df.toLocalIterator():
            n += 1
            if n > max_rows:
                con.rollback()
                raise ValueError(
                    f"export_sqlite: more than max_rows={max_rows} rows — "
                    "SQLite is the summary handoff, keep fact tables in "
                    "parquet"
                )
            buf.append(tuple(cell(v) for v in row))
            if len(buf) >= batch:
                con.executemany(ins, buf)
                buf.clear()
        if buf:
            con.executemany(ins, buf)
        con.commit()
    finally:
        con.close()
    return n


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
) -> None:
    """Distributed JDBC export — the reference's OTHER results backend
    (ref:snowav/database/database.py connects to MySQL via SQLAlchemy;
    here Spark's JDBC writer ships rows executor-parallel, no driver
    bottleneck).  Pass the driver's coordinates in ``properties``
    (e.g. {"driver": "com.mysql.cj.jdbc.Driver", "user": ..,
    "password": ..}) and have the jar on spark.jars.

    Scale framing: unlike export_sqlite (driver-side handoff artifact),
    this writes from EXECUTORS — ``partition_column`` +
    ``num_partitions`` bound concurrent connections via a repartition,
    so a wide results frame does not open a connection per shuffle
    partition.  No JDBC driver ships in this container, so the test is
    gated on driver availability; the call shape is Spark-standard.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    out = (
        df.repartition(num_partitions, partition_column)
        if partition_column
        else df.coalesce(num_partitions)
    )
    out.write.mode(mode).jdbc(url, table, properties=properties or {})


def read_sqlite(spark: SparkSession, db_path: str, query: str) -> DataFrame:
    """Read a SQLite query result back as a DataFrame (driver-side —
    summary tables only, same bound as export_sqlite's purpose).  An
    empty result returns an empty all-string frame (SQLite result sets
    carry no column types to infer from)."""
    import sqlite3

    from pyspark.sql.types import StringType, StructField, StructType

    con = sqlite3.connect(db_path)
    try:
        cur = con.execute(query)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    if not rows:
        return spark.createDataFrame(
            [], StructType([StructField(n, StringType()) for n in names])
        )
    return spark.createDataFrame(rows, names)
