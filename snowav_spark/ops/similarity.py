"""Similarity search over embedding columns (SURVEY.md §2.6 EXT):
brute-force cosine top-k as the exact baseline, batch k-NN join, and an
LSH-bucketed approximate path for scale.

Embeddings are ``array<float>`` columns; all arithmetic uses higher-order
functions (``zip_with`` + ``aggregate``) with explicit double casts so the
fold order — and therefore every bit of the result — is identical across
engines and partitionings.  No UDF anywhere: a 64-dim dot product compiles
to a JVM loop inside codegen.

Scale notes: brute-force k-NN is O(Q·N·d) — fine when Q (queries) is
small and N is sheer (the common "score a batch of queries against the
corpus" shape; broadcast the queries, never shuffle the corpus).  For
N×N all-pairs at 100 TB, bucket first (LSH random hyperplanes) so the
self-join is per-bucket, then verify exact cosine within candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with double accumulation in deterministic left-to-right
    order (aggregate is a sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """Euclidean norm with the same deterministic fold."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# (session, plan-hash, query_id) → fetched query vector, so repeated top-k
# calls don't re-run the one-row lookup job.
_QUERY_VEC_CACHE: dict[tuple, list[float]] = {}

# Pending hot-bucket observations: (Observation, max_bucket).  Bounded —
# a pipeline that constructs thousands of plans and never executes them
# must not grow driver state; the oldest unexecuted observations simply
# age out (their plans were never run, so there was nothing to warn on).
from collections import deque as _deque

_HOT_BUCKET_OBS: _deque = _deque(maxlen=64)


def _observation_row(obs) -> dict | None:
    """Non-blocking read of an Observation: the completed metrics row,
    or None while the observed plan has not finished an action.  Uses
    the JVM handle's getRowOrEmpty (classic mode; Connect has no _jo) —
    guarded so an API change degrades to 'telemetry stays pending', not
    a crash in a dedup pipeline."""
    try:
        jo = obs._jo
        if jo is None or not jo.getRowOrEmpty().isDefined():
            return None
        return obs.get  # completed → returns immediately
    except Exception:
        return None


def drain_hot_bucket_telemetry(wait_secs: float = 0.0) -> int:
    """Harvest completed hot-bucket observations and WARN for each run
    whose largest (tbl, bk) bucket exceeded its max_bucket cap — i.e.
    salting ENGAGED and changed results (cross-sub-bucket pairs ride
    the representative chain instead of being emitted exhaustively).

    Non-blocking by default: observations whose plans have not executed
    yet stay queued and are re-checked on the next
    :func:`_bounded_cobucket_pairs` call, so long pipelines emit their
    warnings as they go with zero extra Spark jobs (ADVICE r11: the
    old eager probe cost a full groupBy pass over the hashed keys at
    every plan CONSTRUCTION).  ``wait_secs`` bounds an optional wait
    for stragglers — tests and batch drivers call
    ``drain_hot_bucket_telemetry(wait_secs=5)`` right after their
    action for deterministic telemetry.  Returns the number of
    engagements warned."""
    import logging
    import time

    log = logging.getLogger("snowav_spark.similarity")
    deadline = time.monotonic() + wait_secs
    warned = 0
    still_pending = []
    while _HOT_BUCKET_OBS:
        obs, cap = _HOT_BUCKET_OBS.popleft()
        row = _observation_row(obs)
        while row is None and time.monotonic() < deadline:
            time.sleep(0.05)
            row = _observation_row(obs)
        if row is None:
            still_pending.append((obs, cap))
            continue
        max_bn = row.get("max_bucket_n") or 0
        if max_bn > cap:
            log.warning(
                "bounded_cobucket_pairs: largest (tbl, bk) bucket holds "
                "%d members > max_bucket=%d — salting engaged: its "
                "pairs were emitted within %d-member sub-buckets plus a "
                "representative chain (connectivity preserved, "
                "exhaustive within-bucket pairs are not)",
                max_bn, cap, cap,
            )
            warned += 1
    _HOT_BUCKET_OBS.extend(still_pending)
    return warned


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec: str,
    query_id: int,
    k: int,
) -> DataFrame:
    """Brute-force cosine top-k against one stored query vector.

    The one-row query side is broadcast (a BroadcastNestedLoopJoin that
    degenerates to a map); scoring is a projection over the corpus; the
    top-k is TakeOrdered — no shuffle of the corpus at any point.
    Similarities are rounded BEFORE ranking so the cut is identical in
    every engine; ties break on id.
    """
    # A query vector is a tiny constant: fetch it once (cached per query)
    # and inline it as ONE array literal expression — the scoring pass is
    # then a pure projection with no broadcast sub-job, and the literal is
    # built in a single expression parse instead of 64 py4j lit() calls.
    # repr() round-trips doubles exactly, so the literal is bit-identical
    # to the stored float32 widened to double.
    key = (id(df.sparkSession), df.semanticHash(), query_id)
    vals = _QUERY_VEC_CACHE.get(key)
    if vals is None:
        row = df.filter(F.col(id_col) == query_id).select(vec).first()
        if row is None:
            raise ValueError(f"query id {query_id} not found")
        vals = [float(v) for v in row[0]]
        _QUERY_VEC_CACHE[key] = vals
    # Widen the corpus to flat double columns (codegen) and fold the
    # query in as constants: dot = Σ aᵢ·qᵢ becomes one arithmetic chain
    # with half its operands literal.  The query norm is computed in
    # Python with the same left-to-right order — IEEE doubles, so
    # bit-identical to the engine-side fold.
    dim = len(vals)
    widened = _widen(
        df.filter(F.col(id_col) != query_id), id_col, vec, dim, "a"
    )
    q_norm_sq = 0.0
    for v in vals:
        q_norm_sq += v * v
    import math

    q_norm = math.sqrt(q_norm_sq)
    dot_sql = " + ".join(
        f"a{i} * CAST('{v!r}' AS DOUBLE)" for i, v in enumerate(vals)
    )
    scored = widened.selectExpr(
        id_col,
        f"ROUND(({dot_sql}) / (anrm * CAST('{q_norm!r}' AS DOUBLE)), 6)"
        " AS cos_sim",
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec: str,
    k: int,
) -> DataFrame:
    """Batch k-NN join: for every query vector, its k nearest corpus
    vectors by cosine.  Queries broadcast; per-query top-k via a window
    over the scored pairs (the scored frame is |Q|·|N| rows — bucket
    first at scale, see lsh_buckets)."""
    dim = len(queries.select(vec).first()[0])
    q = _widen(queries, id_col, vec, dim, "q").withColumnRenamed(
        id_col, "query_id"
    )
    c = _widen(corpus, id_col, vec, dim, "c").withColumnRenamed(
        id_col, "neighbor_id"
    )
    scored = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _wide_dot("c", "q", dim) / (F.col("cnrm") * F.col("qnrm")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rn").alias("rank"))
    )


def _widen(df: DataFrame, id_col: str, vec: str, dim: int, prefix: str) -> DataFrame:
    """Flatten an array<float> column into `dim` double columns plus the
    precomputed norm.  Everything — extraction, squares, the norm's
    left-to-right sum — is flat column arithmetic inside whole-stage
    codegen; the higher-order-function fold, being interpreted per
    element, is ~30× slower.  The + chain folds left-to-right exactly like
    ``aggregate``/``list_sum``, so results are bit-equal to the array
    forms.  Built with selectExpr so the whole projection is ONE parsed
    expression set, not hundreds of py4j Column calls."""
    wide = df.selectExpr(
        id_col,
        *[
            f"CAST(element_at({vec}, {i + 1}) AS DOUBLE) AS {prefix}{i}"
            for i in range(dim)
        ],
    )
    nrm_sql = " + ".join(f"{prefix}{i} * {prefix}{i}" for i in range(dim))
    return wide.selectExpr(
        id_col,
        f"SQRT({nrm_sql}) AS {prefix}nrm",
        *[f"{prefix}{i}" for i in range(dim)],
    )


def _wide_dot(prefix_a: str, prefix_b: str, dim: int) -> Column:
    """Σ aᵢ·bᵢ as a flat left-to-right + chain — identical fold order to
    the sequential list_sum/aggregate forms, so results are bit-equal."""
    return F.expr(
        " + ".join(f"{prefix_a}{i} * {prefix_b}{i}" for i in range(dim))
    )


def cosine_pairs_above(
    df: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    dim: int = 64,
    broadcast_side: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    cosine ≥ threshold.  Exact N² scoring — the verification stage; at
    scale run it per LSH bucket instead of globally (dedup_pairs_lsh).

    Vectors are widened to flat double columns first so the N² dot product
    stays in whole-stage codegen (no interpreted lambdas in the hot loop);
    the left-to-right fold order matches the array form bit-for-bit.

    ``broadcast_side=True`` (default) is for the intended small-N regime
    (capped inputs, per-bucket verification): it pins one side as a
    broadcast so the cross join never shuffles the pair space.  Pass
    False for inputs that might exceed broadcast size — the planner then
    picks the join strategy, trading speed for not OOMing the driver.
    """
    # Spread the streamed side across the cluster: a capped/limited input
    # arrives as ONE partition, which would serialize the whole N² stage
    # into a single task; the repartition costs one tiny shuffle of N rows
    # against an N² compute win.
    par = df.sparkSession.sparkContext.defaultParallelism or 8
    a = (
        _widen(df, id_col, vec, dim, "a")
        .withColumnRenamed(id_col, "id_a")
        .repartition(par)
    )
    b = _widen(df, id_col, vec, dim, "b").withColumnRenamed(id_col, "id_b")
    if broadcast_side:
        b = F.broadcast(b)
    cos = _wide_dot("a", "b", dim) / (F.col("anrm") * F.col("bnrm"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def capped_exact_pairs(
    df: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    cap: int = 4096,
    dim: int = 64,
) -> DataFrame:
    """:func:`cosine_pairs_above` behind an input cap — the exact N²
    verification stage bounded to the ``cap`` smallest ids so it stays
    constant-cost at any corpus size.

    NO SILENT CAPS (the curate --stats rule): when the cap binds, a
    WARNING names the truncation — pairs are computed over the ``cap``
    smallest ids only — so a caller at sf≥1 sees partial coverage
    instead of mistaking it for the corpus.  The full-corpus path is
    :func:`dedup_pairs_lsh` (linear, banded).  The cap probe is a
    ``limit(cap+1).count()`` — CONSTANT cost at any corpus size (an
    exact full count here would make this builder scan the whole table
    eagerly, which plan-only tooling like ``explain`` would pay too;
    round-9 review finding)."""
    import logging

    probed = df.limit(cap + 1).count()
    if probed > cap:
        logging.getLogger("snowav_spark.similarity").warning(
            "capped_exact_pairs: exact N^2 stage input capped to %d "
            "rows (input has more; counted at least %d) — pairs cover "
            "the %d smallest %s only; use dedup_pairs_lsh for "
            "full-corpus near-dup",
            cap, probed, cap, id_col,
        )
    return cosine_pairs_above(
        df.orderBy(id_col).limit(cap), id_col, vec, threshold, dim=dim
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec: str,
    hyperplanes: list[list[float]],
) -> DataFrame:
    """Random-hyperplane LSH bucketing: bucket id = sign bits of the dot
    products with `hyperplanes` (generated driver-side with a fixed seed,
    inlined as literals → pure projection, no join, no shuffle).

    Follow with a groupBy/self-join on `bucket` to restrict any N² stage
    to co-bucketed candidates — the linear-time ANN path at 100 TB.
    """
    bits = []
    for j, hp in enumerate(hyperplanes):
        hp_col = F.array(*[F.lit(float(x)) for x in hp])
        bits.append(
            F.when(dot(F.col(vec), hp_col) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        )
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.select(
        F.col(id_col), F.col(vec), bucket.cast("int").alias("bucket")
    )


def random_hyperplanes(tables: int, bits: int, dim: int, seed: int = 42):
    """Deterministic hyperplane sets for LSH (fixed seed → reproducible
    buckets across runs and engines)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        [[float(x) for x in rng.randn(dim)] for _ in range(bits)]
        for _ in range(tables)
    ]


def dedup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    tables: int = 10,
    bits: int = 3,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Scale-safe embedding near-duplicate pairs: LSH candidate
    restriction, then exact cosine verification within candidates only.

    ``max_bucket`` guards against hot buckets (the LSH analog of
    jaccard_pairs' ``max_df``), ON BY DEFAULT: candidate cost is
    Σ n_bucket², so one degenerate bucket — a corpus with thousands of
    identical embeddings lands them ALL in one bucket in EVERY table —
    re-creates the quadratic blowup.  Oversized buckets are SALTED
    into ≤max_bucket sub-buckets (cost n·max_bucket, linear) with a
    representative chain; see lsh_candidate_pairs.

    Pair-loss semantics when the cap binds (it binds ONLY on buckets
    exceeding max_bucket; smaller buckets are byte-identical to the
    uncapped path): cross-sub-bucket pairs between NON-representative
    members of one hot bucket are not emitted — that loss is what
    bounds the cost, exactly as any candidate cap must.  What the
    chain guarantees instead is CLUSTER CONNECTIVITY: a true duplicate
    cluster resolves to one connected component downstream
    (graph.resolve_duplicates / drop_near_dups), so dedup KEEPS the
    right survivors even on the pathological corpus.  Callers that
    need the exhaustive pair list over skewed data pass ``None`` and
    accept the quadratic bucket.

    Plan shape (this is the 100 TB path; contrast cosine_pairs_above's
    global crossJoin):
      1. widen once; compute `tables` bucket ids as flat sign-bit
         arithmetic (whole-stage codegen, no interpreted lambdas);
      2. explode to (table, bucket, id) and self-join on (table, bucket)
         — the only shuffle keys; cost is Σ_t Σ_b n_b², not N²;
      3. distinct candidate pairs, join back the widened vectors, exact
         rounded cosine, filter ≥ threshold.

    Recall/pruning tradeoff is (bits, tables): a pair at angle θ
    co-buckets in one table with p = (1−θ/π)^bits.  For realistic
    near-dup thresholds (cos ≥ 0.85) use bits≈8–16 for strong pruning;
    at low thresholds (0.4) sign-LSH can only reach high recall with
    coarse buckets (defaults: bits=3, tables=10 → expected recall ≈0.94
    at cos=0.4), which prunes little — that regime is the exact key's
    job.  Tests assert both regimes (tests/test_llm_ops.py).

    Sizing at scale: candidate cost is Σ n_bucket², so GROW bits with the
    corpus — bits ≈ log2(N / B) for target bucket size B keeps occupancy
    (and therefore cost per row) constant; fixed bits would double
    occupancy per corpus doubling and re-create a quadratic term
    (measured in tools/scale_probe.py; the bits↔candidate-count frontier
    is measured in tools/lsh_frontier.py and tabulated in SCALE.md).
    """
    cand = lsh_candidate_pairs(
        df, id_col, vec, tables=tables, bits=bits, dim=dim, seed=seed,
        max_bucket=max_bucket,
    )
    return _verify_pairs(cand, df, id_col, vec, dim, threshold)


def _verify_pairs(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    vec: str,
    dim: int,
    threshold: float,
) -> DataFrame:
    """Exact rounded-cosine verification of candidate ``(id_a, id_b)``
    pairs against the widened vector table — the shared verify stage of
    dedup_pairs_lsh and semdedup_pairs.

    Broadcast-hint gate (r12, guide §3.1 "estimates are often badly
    wrong ... use an explicit broadcast hint when you know a side is
    small"): the agg-form candidate stage reaches this join through a
    Window → Aggregate → Generate chain whose Catalyst size estimate
    SHRINKS below the input scan's (measured at sf0.1: 0.55 MB est for
    a 1.46M-row / 64 MB-at-runtime pair set, vs 17.8 MB est for the
    2 MB-at-runtime widened vectors), so for any corpus whose scan
    estimate is ≲ 14 MB the planner broadcasts the PAIRS — the one side
    guaranteed to be quadratic in bucket occupancy.  At bench scale
    that is a measured 6× slowdown; at a few-MB-larger corpus it is a
    multi-GB broadcast, i.e. a job-killing cliff.  The hint forces the
    side we can BOUND — the vector table widens the scan by a constant
    factor — whenever the scan's own optimizer estimate is within 8× of
    the session's autoBroadcastJoinThreshold: at the fixture this is
    the exact decision the planner would make with correct pair-side
    stats, and the 8× margin covers the window where the pair
    UNDER-estimate (measured 0.7× of the scan estimate) still sits
    below the threshold while the scan estimate has grown past it.
    Past the window nothing is hinted and both joins plan as sort-merge
    on the pair keys — the correct 100 TB shape.  Disabled thresholds
    (≤ 0) disable the hint too.  Driver-side plan statistics only — no
    job, no data read."""
    spark = df.sparkSession
    a = _widen(df, id_col, vec, dim, "a").withColumnRenamed(id_col, "id_a")
    b = _widen(df, id_col, vec, dim, "b").withColumnRenamed(id_col, "id_b")
    try:
        auto = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(
                spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            )
        )
        est = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
        ) if auto > 0 else None
    except Exception:  # fail OPEN: a stats/conf probe must never be
        auto, est = 0, None  # able to fail query construction itself
    if auto > 0 and est is not None and est <= 8 * auto:
        a, b = F.broadcast(a), F.broadcast(b)
    cos = _wide_dot("a", "b", dim) / (F.col("anrm") * F.col("bnrm"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec: str,
    tables: int = 10,
    bits: int = 3,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Candidate stage of ``dedup_pairs_lsh``: distinct (id_a, id_b) pairs
    that co-bucket in ≥1 table (within a salted sub-bucket when a
    bucket exceeds ``max_bucket`` — see the skew-guard comment below).
    Public so the pruning frontier can be measured on the exact
    production path (tools/lsh_frontier.py).

    NULL / wrong-length vectors are dropped before the bucket UDF — a
    single None in an Arrow batch turns the matmul input ragged and
    crashes the executor (tools/fuzz_fixtures.py nulls variant)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    df = df.filter(F.col(vec).isNotNull() & (F.size(F.col(vec)) == dim))
    hyperplanes = random_hyperplanes(tables, bits, dim, seed)
    # Bucket ids via ONE Arrow-vectorized pandas_udf: an (n×dim)·(dim×P)
    # numpy matmul per batch, P = tables·bits sign bits packed into
    # `tables` bucket ids.  Expressing the same thing as tables·bits flat
    # codegen projections builds a Catalyst tree big enough to OOM a
    # default-sized driver during optimization, and the interpreted
    # higher-order-function fold is ~30× slower per row; the matmul is the
    # fastest and smallest-plan form.  Deterministic (fixed seed, fixed
    # float64 matmul).
    hp_mat = np.array(
        [hp for hps in hyperplanes for hp in hps], dtype=np.float64
    ).T  # dim × (tables·bits)
    weights = np.array([1 << j for j in range(bits)], dtype=np.int32)

    def _bucket_ids(vecs):  # pd.Series -> pd.Series (hints omitted: pd is
        # a local import and string-hint inference can't resolve it)
        m = np.asarray(vecs.tolist(), dtype=np.float64)  # batch × dim
        sign = (m @ hp_mat) >= 0.0  # batch × tables·bits
        packed = sign.reshape(len(m), tables, bits).astype(np.int32) @ weights
        return pd.Series(list(packed))

    bucket_ids = pandas_udf(_bucket_ids, "array<int>")

    # (table, bucket, id) — the vector payload does NOT ride along; the
    # self-join shuffles ids only, vectors re-attach after distinct().
    keys = df.select(
        F.col(id_col), F.posexplode(bucket_ids(F.col(vec))).alias("tbl", "bk")
    )
    return _bounded_cobucket_pairs(keys, id_col, max_bucket)


def _bounded_cobucket_pairs(
    keys: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-located in a ``(tbl, bk)`` key —
    the candidate stage shared by LSH banding and SemDeDup-style
    clustering, with the hot-bucket skew guard.

    ``max_bucket=None`` is the plain self-join on ``(tbl, bk)``: exact,
    but quadratic in the largest bucket.  Tests use it as the reference.

    With ``max_bucket`` set (ON by default in every caller): a
    degenerate bucket — e.g. thousands of identical embeddings — would
    make the self-join quadratic in that bucket.  SALT, don't drop:
    members get a row_number slot within their bucket and sub-buckets
    of ≤max_bucket emit their pairs independently (cost n·max_bucket,
    linear in n), while a REPRESENTATIVE CHAIN (each sub-bucket's first
    member paired with the previous sub-bucket's first, +n/max_bucket
    pairs) keeps a true duplicate cluster CONNECTED across sub-buckets —
    dropping the bucket instead would zero recall on exactly the densest
    duplicates, the rows a dedup pass exists for.  The per-bucket
    row_number sorts one bucket in one task: O(n log n) once beats
    O(n²) candidates.  Buckets of ≤max_bucket are one sub-bucket, so
    their pairs equal the plain self-join's.

    Pair generation is a single consumer of the salted subtree: each
    ``(tbl, bk, _sub)`` group's ids are collected into one sorted array
    and the pairs stream out of two nested generators (see the comments
    in the body).  The round-12 A/B against a self-join over the same
    salted rows is recorded in OPTIMIZATION_r12.md and SCALE.md; its
    script was removed (``git show 7d3674f:tools/probe_cobucket_exchange.py``).

    No-silent-caps telemetry (ADVICE r10, made LAZY per ADVICE r11's
    medium finding): when salting ENGAGES it changes results — cross-
    sub-bucket pairs are represented through the chain, not emitted
    directly — so engagement must be warned.  The r10 version probed
    eagerly at plan-CONSTRUCTION time (an extra full groupBy pass over
    the hashed keys on every at-scale call, even when the returned
    DataFrame was never executed).  Now the detection rides the plan
    itself: a ``count() over (partition by tbl, bk)`` window shares the
    exchange the row_number salting already pays, and an ``observe``
    node collects ``max(_bn)`` during whatever action the CALLER runs —
    zero jobs at construction, zero extra passes at execution.  The
    warning is emitted by :func:`drain_hot_bucket_telemetry`, which
    runs non-blockingly at the start of every subsequent call here (so
    long pipelines surface engagements as they go) and can be invoked
    directly — tests and batch drivers call it with a bounded wait
    after their action.  Only ``max`` is observed: it is the aggregate
    that stays correct however often the CollectMetrics node's rows
    are counted."""
    if max_bucket is None:
        pairs = (
            keys.select(F.col(id_col).alias("id_a"), "tbl", "bk")
            .join(
                keys.select(F.col(id_col).alias("id_b"), "tbl", "bk"),
                ["tbl", "bk"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
        )
        return pairs.select("id_a", "id_b").distinct()
    drain_hot_bucket_telemetry()
    from pyspark.sql import Observation

    obs = Observation()  # auto-named: unique per call, never collides
    ordered = Window.partitionBy("tbl", "bk").orderBy(id_col)
    slot = F.row_number().over(ordered) - 1
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("tbl", "bk"))
    # The previous sub-bucket's representative sits exactly max_bucket
    # rows back in slot order, so the chain partner is a LAG over the
    # SAME window spec the row_number already pays -- merged into the
    # existing Window node, no join of the representative rows.
    salted = keys.select(
        F.col(id_col),
        "tbl",
        "bk",
        (slot / max_bucket).cast("int").alias("_sub"),
        (slot % max_bucket == 0).alias("_rep"),
        F.lag(F.col(id_col), max_bucket).over(ordered).alias("_prev"),
        bucket_n.alias("_bn"),
    ).observe(obs, F.max("_bn").alias("max_bucket_n"))
    _HOT_BUCKET_OBS.append((obs, max_bucket))
    # Collect each (tbl, bk, _sub) group's ids into one sorted array
    # (guide §2.4 share one exchange / §7.2 duplicated subtrees).  The
    # aggregation's grouping keys are a SUPERSET of the window's
    # hashpartitioning(tbl, bk), so it pipelines in the window's stage,
    # and a group holds ≤ max_bucket ids (≤ 32 KB at 4096) by
    # construction of the salting, so its state stays bounded even on a
    # degenerate bucket.  The group's representative is its min id
    # (slot order IS id order); _prevrep is that representative's lag,
    # the previous sub-bucket's representative.
    subs = salted.groupBy("tbl", "bk", "_sub").agg(
        F.sort_array(F.collect_list(id_col)).alias("_ids"),
        F.min(F.when(F.col("_rep"), F.col("_prev"))).alias("_prevrep"),
    )
    # Spread the generation stage (guide §2.5): pipelined on the
    # window's (tbl, bk) exchange, a hot bucket's sub-bucket arrays
    # would sit in ONE task and the O(n²) pair generation would run
    # ~n_subs× under-parallel exactly in the salted regime.  One
    # exchange of the COMPACT arrays (each id crosses once — orders
    # less than the pair stream) re-keys by (tbl, bk, _sub); the
    # explicit partition count pins the spread against AQE byte-based
    # coalescing (the arrays are KBs; the generated pairs are not) and
    # scales with the session's cores, not a constant.
    subs = subs.repartition(
        salted.sparkSession.sparkContext.defaultParallelism,
        "tbl", "bk", "_sub",
    )
    # Pairs stream out of two nested generators (never an O(n²)
    # in-memory array):
    #   g1: posexplode the group -> (i, id_a);
    #   g2: explode the ids AFTER position i as id_b (within pairs);
    #       the i=0 row's list additionally carries _prevrep, so the
    #       chain pair rides the same explode — least/greatest then
    #       orients every pair (within pairs are already ascending; only
    #       the chain element arrives reversed).
    # All plain built-ins: an earlier form built (id_a, id_b) STRUCTS
    # via transform/filter higher-order lambdas, whose interpreted
    # per-element evaluation cost ~4× the whole kernel at bench scale —
    # slice + explode + least/greatest codegen instead (guide §4.1
    # prefer built-ins; measured numbers in OPTIMIZATION_r12.md).
    g1 = subs.select(
        "_ids",
        "_prevrep",
        F.posexplode("_ids").alias("_i", "id_a"),
    )
    tail = F.slice(
        F.col("_ids"),
        F.col("_i") + F.lit(2),
        F.greatest(F.lit(0), F.size("_ids") - F.col("_i") - F.lit(1)),
    )
    id_bs = F.when(
        (F.col("_i") == 0) & F.col("_prevrep").isNotNull(),
        F.concat(tail, F.array(F.col("_prevrep"))),
    ).otherwise(tail)
    pairs = (
        g1.select("id_a", F.explode(id_bs).alias("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return pairs.distinct()


def ann_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec: str,
    query_id: int,
    k: int,
    hyperplanes: list[list[float]],
) -> DataFrame:
    """Approximate top-k: LSH-bucket the corpus, score only the query's
    bucket.  Recall < 1 by construction (rows-only in the contract); the
    exact twin is cosine_topk.

    Skew note (the dedup_pairs_lsh guard does not apply here): a
    degenerate hot bucket makes this LINEAR in the bucket size — one
    scored projection + TakeOrdered, the same cost shape as the exact
    brute-force twin, never quadratic — so the worst case is 'no
    speedup', not a blowup.  Size ``bits`` with the corpus (occupancy
    ≈ N/2^bits) to keep the probed bucket small."""
    bucketed = lsh_buckets(df, id_col, vec, hyperplanes)
    qb = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(vec).alias("_qv"), F.col("bucket").alias("_qb")
    )
    cand = bucketed.crossJoin(F.broadcast(qb)).filter(
        (F.col("bucket") == F.col("_qb")) & (F.col(id_col) != query_id)
    )
    return (
        cand.select(
            id_col,
            F.round(cosine(F.col(vec), F.col("_qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


# -- IVF (inverted-file) ANN ------------------------------------------------
#
# The other classic ANN scale path next to hyperplane LSH: partition the
# vector space into Voronoi cells around k centroids (built with a couple
# of distributed Lloyd iterations), store each vector under its nearest
# cell, and search only the `nprobe` cells nearest the query.  At 100 TB
# the cell id is a *partition column*: writing the corpus partitioned by
# cell turns probing into partition pruning — the scan never touches the
# other cells' bytes.  Index build is an offline pass: one broadcast
# assignment + one groupBy-avg per Lloyd iteration, both single-shuffle.


def ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec: str,
    n_cells: int = 64,
    iters: int = 2,
    dim: int = 64,
):
    """k-means centroids as a plain list-of-lists (broadcast-scale:
    n_cells × dim floats).

    Seeds are the ``n_cells`` vectors with smallest md5(id) — a
    deterministic pseudo-random sample, so the index is reproducible
    across runs and engines.  Each Lloyd iteration is one broadcast
    assignment plus one groupBy: per-dimension ``avg`` — a single
    map-side-combined shuffle of n_cells × dim partial sums.

    NULL / wrong-length vectors are dropped (same rationale as
    lsh_candidate_pairs — they crash the Arrow matmul path).
    """
    import numpy as np

    df = df.filter(F.col(vec).isNotNull() & (F.size(F.col(vec)) == dim))
    seeds = (
        df.select(vec, F.md5(F.col(id_col).cast("string")).alias("_h"))
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    cents = np.asarray([list(r[0]) for r in seeds], dtype=np.float64)
    for _ in range(iters):
        assigned = df.select(
            _cell_of(vec, cents).alias("cell"), F.col(vec)
        )
        # Update via posexplode to (cell, dim_idx) and ONE avg, instead
        # of dim separate avg(vec[i]) aggregates: the dim-wide
        # aggregate buffer ran ~4× slower per iteration (measured at
        # bench scale), while the exploded form is a slim pipelined
        # Generate + single-buffer hash agg, map-side combined to
        # ≤ n_cells·dim rows per partition either way.  Bit-identical:
        # same doubles accumulate in the same per-partition row order,
        # and an empty cell still has no group row (keeps its previous
        # centroid).
        rows = (
            assigned.select(
                "cell",
                F.posexplode(F.col(vec).cast("array<double>")).alias(
                    "_i", "_x"
                ),
            )
            .groupBy("cell", "_i")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new: dict = {}
        for r in rows:
            new.setdefault(r["cell"], [None] * dim)[r["_i"]] = r["_m"]
        for cell, vals in new.items():
            cents[cell] = vals
    return [[float(x) for x in c] for c in cents]


_HIER_MIN_CELLS = 512


def _hier_router(cents, p: int, c_coarse: int = 2):
    """Two-level (coarse-quantized) nearest-cell router — the standard
    IVF practice that keeps assignment SUB-quadratic when the cell
    count grows with the corpus (round-10 scale fix: the flat
    batch×k distance matmul is O(N·k); with the constant-occupancy
    rule k ∝ N that term is O(N²) and measured 2.8× per corpus
    doubling at 200k vectors).

    Driver-side numpy groups the k fine centroids under
    kc ≈ √(c_coarse·k) coarse centroids (3 deterministic Lloyd rounds
    over the k×dim centroid table — KBs); per batch, a row routes to
    its ``c_coarse`` nearest coarse groups and computes fine distances
    ONLY within them: ≈ kc + c_coarse·k/kc ≈ 2√(c_coarse·k) distances
    per row instead of k (5000 → ~200 at k=5000).  Routing is
    approximate — a true nearest fine cell in an unprobed coarse group
    is missed — which is the same recall knob nprobe already is; the
    scale probe measures final planted-pair recall and it holds at
    1.000 (SCALE.md round 10).

    Returns a function (batch×dim float64) -> (batch×p) fine indices.
    """
    import numpy as np

    c = np.asarray(cents, dtype=np.float64)
    k = len(c)
    kc = int(np.ceil(np.sqrt(max(c_coarse, 1) * k)))
    idx = np.linspace(0, k - 1, kc).astype(int)
    cc = c[idx].copy()
    for _ in range(3):
        d = (cc * cc).sum(1)[None, :] - 2.0 * (c @ cc.T)
        g = d.argmin(1)
        for j in range(kc):
            m = g == j
            if m.any():
                cc[j] = c[m].mean(0)
    d = (cc * cc).sum(1)[None, :] - 2.0 * (c @ cc.T)
    g = d.argmin(1)
    members = [np.where(g == j)[0] for j in range(kc)]
    keep = [j for j in range(kc) if len(members[j])]
    cc = cc[keep]
    members = [members[j] for j in keep]
    kc = len(keep)
    cc_sq = (cc * cc).sum(1)
    c_sq = (c * c).sum(1)
    cg = min(c_coarse, kc)
    pp = min(p, k)

    def route(m):
        n = len(m)
        dc = cc_sq[None, :] - 2.0 * (m @ cc.T)
        if cg < kc:
            top = np.argpartition(dc, cg - 1, 1)[:, :cg]
        else:
            top = np.tile(np.arange(kc), (n, 1))
        cand_d = np.full((n, cg * pp), np.inf)
        cand_i = np.full((n, cg * pp), -1, dtype=np.int64)
        for j in range(kc):
            rows, slot = np.where(top == j)
            if not len(rows):
                continue
            f = members[j]
            dfine = c_sq[f][None, :] - 2.0 * (m[rows] @ c[f].T)
            pj = min(pp, len(f))
            if pj < len(f):
                sel = np.argpartition(dfine, pj - 1, 1)[:, :pj]
            else:
                sel = np.tile(np.arange(len(f)), (len(rows), 1))
            dsel = dfine[np.arange(len(rows))[:, None], sel]
            base = slot * pp
            for t in range(pj):
                cand_d[rows, base + t] = dsel[:, t]
                cand_i[rows, base + t] = f[sel[:, t]]
        fin = np.argpartition(cand_d, pp - 1, 1)[:, :pp]
        out = cand_i[np.arange(n)[:, None], fin]
        # rows whose probed groups held < p fine cells leave -1 slots:
        # backfill with the row's best candidate (a duplicate probe is
        # a no-op downstream; a -1 bucket would be a spurious key)
        if (out < 0).any():
            best = cand_i[
                np.arange(n), cand_d.argmin(1)
            ]
            out = np.where(out < 0, best[:, None], out)
        return out

    return route


def _cell_of(vec: str, cents) -> Column:
    """Nearest-centroid id via one Arrow-vectorized matmul per batch
    (same rationale as dedup_pairs_lsh's bucket UDF: a k×dim distance
    computation as flat codegen would blow up the Catalyst tree).
    Above _HIER_MIN_CELLS the flat batch×k matmul hands over to the
    two-level router (see :func:`_hier_router`) — small cell counts
    keep the exact flat argmin bit-for-bit.

    The UDF is PURE but registered ``asNondeterministic()``: when a
    downstream operator derives a predicate over the assigned cell —
    the residual path's broadcast join infers ``isnotnull(cell)``, the
    IVF probe filters ``cell IN (probed)`` — Catalyst pushes the
    inferred filter below the projection and DUPLICATES the expression,
    executing the full Arrow matmul twice per row (two stacked
    ArrowEvalPython nodes computing the same ``_assign``, see
    plans/r12/ivfpq_residuals_r12.txt).  Nondeterministic registration
    only removes that optimizer freedom (no duplication, no pushdown
    THROUGH the projection); every value is unchanged and the
    null/length guards the callers apply BEFORE this projection stay
    below it (r12, guide §4.2 evaluate expensive UDFs once)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(cents, dtype=np.float64)  # k × dim
    if len(c) >= _HIER_MIN_CELLS:
        route = _hier_router(cents, 1, c_coarse=2)

        def _assign(vs):
            m = np.asarray(vs.tolist(), dtype=np.float64)
            return pd.Series(route(m)[:, 0].astype("int32"))

        return pandas_udf(_assign, "int").asNondeterministic()(F.col(vec))
    c_sq = (c * c).sum(axis=1)  # ‖c‖² per centroid

    def _assign(vs):  # pd.Series of list<float> -> pd.Series[int]
        m = np.asarray(vs.tolist(), dtype=np.float64)  # batch × dim
        # argmin ‖v−c‖² = argmin ‖c‖² − 2 v·c  (‖v‖² constant per row)
        d = c_sq[None, :] - 2.0 * (m @ c.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return pandas_udf(_assign, "int").asNondeterministic()(F.col(vec))


def ivf_assign(
    df: DataFrame, id_col: str, vec: str, cents
) -> DataFrame:
    """Corpus + its IVF cell id.  At scale, persist this partitioned by
    ``cell`` so probes prune at the file level.  NULL / ragged vectors
    are unindexable and dropped (would crash the Arrow matmul)."""
    dim = len(cents[0])
    df = df.filter(F.col(vec).isNotNull() & (F.size(F.col(vec)) == dim))
    return df.withColumn("cell", _cell_of(vec, cents))


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec: str,
    threshold: float,
    n_cells: int = 64,
    iters: int = 2,
    dim: int = 64,
    max_cluster: int = 4096,
    nprobe: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then run the
    exact cosine verification WITHIN clusters only — the clustering
    restricts the quadratic stage the same way LSH banding does in
    :func:`dedup_pairs_lsh`, but with data-adaptive regions instead of
    random hyperplanes (better candidate quality on clustered corpora,
    at the cost of the k-means passes).

    Scale shape: centroids are a broadcast-scale list (deterministic
    md5-seeded Lloyd, :func:`ivf_centroids`); assignment is one
    Arrow-vectorized matmul projection; the in-cluster self-join
    shuffles ids only and reuses the SAME bounded-cobucket kernel as
    the LSH path (``max_cluster`` salting + representative chain), so
    a degenerate cluster stays linear and connected.  Recall < 1 by
    construction (a pair split across every probed cluster boundary is
    missed); ``nprobe`` is the recall knob — each vector joins its
    nprobe nearest cells, so a boundary pair co-buckets whenever ANY of
    their probed cells overlap, at ~nprobe× candidate cost.  Grow
    ``n_cells`` sub-linearly with the corpus so cluster occupancy, and
    with it both recall and cost per row, stays constant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = ivf_centroids(df, id_col, vec, n_cells, iters, dim)
    df = df.filter(F.col(vec).isNotNull() & (F.size(F.col(vec)) == dim))
    c = np.asarray(cents, dtype=np.float64)
    c_sq = (c * c).sum(axis=1)
    p = min(nprobe, len(cents))

    if len(cents) >= _HIER_MIN_CELLS:
        # constant-occupancy sizing makes the flat batch×k probe
        # matmul O(N²) overall — route through the two-level
        # quantizer instead (≈2√(ck) distances per row).  Measured at
        # 100k/200k vectors: ~3× faster than flat with planted-pair
        # recall 0.993–0.996 (vs 1.000 flat); probing an extra coarse
        # group (c=p+1) recovered nothing — the residual misses are
        # fine-probe overlap at cluster boundaries, i.e. the nprobe
        # knob, not coarse routing — so the cheaper c=max(2,p) stays.
        route = _hier_router(cents, p, c_coarse=max(2, p))

        def _probes(vs):
            m = np.asarray(vs.tolist(), dtype=np.float64)
            return pd.Series(list(route(m).astype("int64")))
    else:
        def _probes(vs):  # pd.Series of list<float> -> list[int] rows
            m = np.asarray(vs.tolist(), dtype=np.float64)
            d = c_sq[None, :] - 2.0 * (m @ c.T)
            top = np.argpartition(d, p - 1, axis=1)[:, :p].astype("int64")
            return pd.Series(list(top))

    keys = df.select(
        F.col(id_col),
        F.lit(0).alias("tbl"),
        F.explode(
            pandas_udf(_probes, "array<long>")(F.col(vec))
        ).alias("bk"),
    )
    cand = _bounded_cobucket_pairs(keys, id_col, max_cluster)
    return _verify_pairs(cand, df, id_col, vec, dim, threshold)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec: str,
    query_id: int,
    k: int,
    n_cells: int = 64,
    nprobe: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: exact search restricted to the nprobe
    cells nearest the query.  nprobe = n_cells degrades gracefully to the
    exact brute-force answer (asserted in tests)."""
    import numpy as np

    cents = ivf_centroids(df, id_col, vec, n_cells, iters, dim)
    qrow = df.filter(F.col(id_col) == query_id).select(vec).collect()
    qv = list(qrow[0][0])
    probe = _probe_cells(cents, qv, nprobe)
    cand = ivf_assign(df, id_col, vec, cents).filter(
        F.col("cell").isin(probe) & (F.col(id_col) != query_id)
    )
    return _cosine_score_topk(cand, qv, id_col, vec, k)


def _probe_cells(cents, query_vec, nprobe: int) -> list[int]:
    """The nprobe cell ids nearest the query (driver-side numpy over the
    KB-sized centroid table; stable argsort pins ties)."""
    import numpy as np

    c = np.asarray(cents, dtype=np.float64)
    qv = np.asarray(list(query_vec), dtype=np.float64)
    if c.shape[1] != qv.shape[0]:
        raise ValueError(
            f"query vector dim {qv.shape[0]} != index dim {c.shape[1]}"
        )
    d = (c * c).sum(axis=1) - 2.0 * (c @ qv)
    return [int(i) for i in np.argsort(d, kind="stable")[:nprobe]]


def _cosine_score_topk(
    cand: DataFrame, query_vec, id_col: str, vec: str, k: int
) -> DataFrame:
    """Exact cosine vs an inlined query literal over candidate rows,
    rounded before ranking, ties on id — the scoring half shared by the
    in-memory and persisted IVF search paths."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col(id_col),
        F.round(
            dot(F.col(vec), qlit) / (norm(F.col(vec)) * norm(qlit)), 6
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc(id_col)).limit(k)


def random_projection(
    df: DataFrame,
    id_col: str,
    vec: str,
    dim: int,
    out_dim: int,
    seed: int = 42,
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``dim``-d vectors
    to ``out_dim`` dimensions with a fixed ±1/√out_dim sign matrix —
    pairwise distances are preserved in expectation (JL), so every
    downstream distance-based operator (LSH bucketing, k-means, PQ)
    runs on vectors out_dim/dim the size at proportionally lower cost.

    The sign matrix is seed-deterministic (reproducible across runs,
    engines, partitionings) and INLINED as literal expressions — the
    projection is one whole-stage-codegen pass: dim casts + out_dim
    dot products, no join, no UDF, no shuffle.  Rows with NULL or
    wrong-length vectors are dropped (same guard as cluster.kmeans).
    """
    import math

    import numpy as np

    # helper column _rpv and out_col are injected into the plan — a
    # pre-existing column with either name would silently give wrong
    # projections or an ambiguous-column error deep in codegen, so
    # refuse loudly up front (same precondition style as keep_best).
    clashes = sorted(set(df.columns) & {out_col, "_rpv"})
    if clashes:
        raise ValueError(
            "random_projection: input columns collide with helper/"
            f"output names: {clashes}"
        )

    rng = np.random.RandomState(seed)
    scale = 1.0 / math.sqrt(out_dim)
    signs = rng.choice([-scale, scale], size=(out_dim, dim))
    # dot products as array-lambda folds (ops/arrmath.py), not
    # out_dim×dim unrolled scalar chains: past a few hundred terms the
    # unrolled form blows janino's method limit and codegen silently
    # degrades to interpreted rows (measured on quantize.pq_encode);
    # bit-identity of the fold is derived once in arrmath.
    from snowav_spark.ops import arrmath

    wide = df.filter(
        F.col(vec).isNotNull() & (F.size(F.col(vec)) == dim)
    ).selectExpr("*", f"CAST({vec} AS array<double>) AS _rpv")
    outs = [arrmath.dot_sql("_rpv", signs[j]) for j in range(out_dim)]
    keep = [c for c in df.columns]
    return wide.selectExpr(
        *keep, f"array({', '.join(outs)}) AS {out_col}"
    )


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec: str,
    path: str,
    n_cells: int = 64,
    iters: int = 2,
    dim: int = 64,
) -> list:
    """Persist the IVF index AS A PARQUET LAYOUT: rows partitioned by
    their cell id, centroids in an underscore-prefixed parquet sidecar
    (``_ivf_centroids`` — underscore paths are invisible to Spark's
    file listing of the parent, and writing it THROUGH Spark keeps the
    whole index portable to any filesystem Spark can write: local,
    HDFS, object stores).  This is the 100 TB serving form the
    in-memory :func:`ivf_topk` docstring promises: a probe reads ONLY
    the nprobe cell directories — partition pruning does the
    inverted-file part, no search service required.  Returns the
    centroids (also written to the sidecar)."""
    cents = ivf_centroids(df, id_col, vec, n_cells, iters, dim)
    ivf_assign(df, id_col, vec, cents).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)
    from snowav_spark.io import local_df

    # one slice (io.local_df): schema pinned to what inference yielded
    # (python int -> bigint) so the stored sidecar schema is unchanged
    side = local_df(
        df.sparkSession,
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cell bigint, centroid array<double>",
    )
    side.write.mode("overwrite").parquet(
        path.rstrip("/") + "/_ivf_centroids"
    )
    return cents


def search_ivf_index(
    spark,
    path: str,
    query_vec,
    id_col: str,
    vec: str,
    k: int = 10,
    nprobe: int = 8,
) -> DataFrame:
    """Top-k cosine search against a :func:`build_ivf_index` layout.
    Cell selection is driver-side numpy over the sidecar centroids
    (KB-sized; a wrong-length query fails fast with a dim-mismatch
    error); the scan then carries ``cell IN (probed)`` as a PARTITION
    filter, so at any corpus size the job reads nprobe directories,
    not the index.  ``nprobe >= n_cells`` degrades gracefully to exact
    brute force."""
    side = (
        spark.read.parquet(path.rstrip("/") + "/_ivf_centroids")
        .orderBy("cell")
        .collect()
    )
    cents = [list(r.centroid) for r in side]
    probe = _probe_cells(cents, query_vec, nprobe)
    # explicit cell-directory paths: listing O(nprobe), not O(n_cells)
    from snowav_spark.io import read_pruned_partitions

    cand = read_pruned_partitions(spark, path, "cell", probe).filter(
        F.col("cell").isin(probe)
    )
    return _cosine_score_topk(cand, query_vec, id_col, vec, k)
