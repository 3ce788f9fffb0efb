"""Semantic tests for the LLM-pipeline operators: planted near-duplicates
must be found by MinHash-LSH, SimHash must separate similar from dissimilar
docs, LSH-ANN must agree with brute force on its own bucket, and the
multimodal mapInPandas plumbing must round-trip binary payloads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowav_spark.ops import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def planted(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # one-token edit → high Jaccard
    other = "completely different words about spark catalyst tungsten shuffles and joins"
    return spark.createDataFrame(
        [(0, base), (1, near), (2, other), (3, other + " plus extra tail tokens here")],
        ["doc_id", "text"],
    )


def test_jaccard_pairs_finds_planted(planted):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(planted, "doc_id", "text", n=3).collect()
    }
    assert pairs[(0, 1)] > 0.6  # one-word edit: most shingles shared
    assert pairs.get((0, 2), 0.0) == 0.0 or (0, 2) not in pairs


def test_minhash_lsh_finds_planted(planted):
    got = dedup.minhash_lsh_pairs(
        planted, "doc_id", "text", num_hashes=32, bands=16, est_threshold=0.4
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in got}
    assert (0, 1) in found  # planted near-dup must surface
    assert (0, 2) not in found  # unrelated docs must not


def test_simhash_distance_property(spark, planted):
    fps = {r.doc_id: r.simhash for r in dedup.simhash(planted, "doc_id", "text").collect()}
    df = spark.createDataFrame(
        [(fps[0], fps[1], fps[2])], ["a", "b", "c"]
    ).select(
        dedup.hamming64(F.col("a"), F.col("b")).alias("near"),
        dedup.hamming64(F.col("a"), F.col("c")).alias("far"),
    )
    row = df.collect()[0]
    assert row.near < row.far  # similar docs → closer fingerprints


def test_exact_dedup_keeps_one(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique text")], ["id", "text"]
    )
    kept = dedup.drop_exact_dups(df, "text", "id").collect()
    assert sorted(r.id for r in kept) == [1, 3]  # min-id keeper, dup dropped


def test_knn_join_self_consistency(spark, sf_dir):
    from snowav_spark.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.knn_join(
        emb.filter(F.col("vec_id") < 3), emb, "vec_id", "embedding", 4
    )
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, nbrs in by_q.items():
        assert len(nbrs) == 4
        sims = [r.cos_sim for r in sorted(nbrs, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)  # ranked descending
        assert all(r.neighbor_id != qid for r in nbrs)  # self excluded


def test_ann_lsh_subset_of_bruteforce_bucket(spark, sf_dir):
    """Every ANN hit must score identically to the brute-force path."""
    import random

    from snowav_spark.io import load_table

    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(2)]
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        r.vec_id: r.cos_sim
        for r in similarity.cosine_topk(emb, "vec_id", "embedding", 0, 500).collect()
    }
    approx = similarity.ann_lsh_topk(
        emb, "vec_id", "embedding", 0, 10, planes
    ).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[r.vec_id] == r.cos_sim  # same scoring, reduced candidates


def test_multimodal_plumbing_roundtrip(spark, sf_dir):
    from snowav_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = multimodal.attach_fake_media(docs, "doc_id", "text")
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 50
    assert all(r.n_bytes == 16 for r in rows)  # md5 → 16-byte payloads
    assert all(r.head_hash for r in rows)
    # frame sampling expands 1→N by duration
    vids = media.withColumn("duration_ms", F.lit(2500)).withColumn(
        "kind", F.lit("video")
    )
    frames = multimodal.frame_sample_stub(vids.limit(3), every_ms=1000)
    assert frames.count() == 9  # 3 videos × ceil(2500/1000)=3 offsets


def test_tfidf_ranks_rare_terms_highest(spark):
    from snowav_spark.ops import text as t

    df = spark.createDataFrame(
        [
            (0, "common common common rare"),
            (1, "common common other other"),
            (2, "common unique words here"),
        ],
        ["doc_id", "text"],
    )
    top = t.tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    by_doc = {r.doc_id: r.word for r in top}
    # 'common' appears in every doc → idf 0; rare terms must win
    assert by_doc[0] == "rare"
    assert by_doc[1] == "other"


def test_bm25_prefers_matching_docs(spark):
    from snowav_spark.ops import text as t

    df = spark.createDataFrame(
        [
            (0, "spark shuffles data across the cluster"),
            (1, "pandas frames live on one machine"),
            (2, "spark spark spark tuning guide"),
        ],
        ["doc_id", "text"],
    )
    scores = {r.doc_id: r.bm25 for r in t.bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
    assert 1 not in scores  # no query term → no row
    assert scores[2] > scores[0]  # higher tf → higher score


def _tiny_png(w: int, h: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal valid solid-color RGB PNG, pure stdlib (zlib + struct)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = b"".join(b"\x00" + bytes(rgb) * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_decode_stub_raises():
    # video codecs are never wired in this container (wav IS wired via
    # the stdlib since round 5 — garbage wav bytes raise a decode error,
    # which audio_features maps to a null-feature row)
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"bytes", "mp4")
    with pytest.raises(Exception):
        multimodal.decode_media(b"RIFFxxxxWAVEgarbage", "wav")
    if not _has_pil():
        # image formats are PIL-gated: absent PIL → NotImplementedError
        with pytest.raises(NotImplementedError):
            multimodal.decode_media(b"bytes", "png")


@pytest.mark.skipif(not _has_pil(), reason="Pillow not installed")
def test_decode_real_png_via_pil(spark):
    """When Pillow is importable the decode gate graduates: a real PNG
    decodes to its pixel array and the non-fake extract_features path
    computes pixel-sum features end-to-end through mapInPandas."""
    import numpy as np

    png = _tiny_png(4, 3, (10, 20, 30))
    arr = multimodal.decode_media(png, "png")
    assert arr.shape == (3, 4, 3)
    assert (arr == np.array([10, 20, 30], dtype=np.uint8)).all()

    df = spark.createDataFrame(
        [(1, "image", "png", 4, 3, None, bytearray(png))],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.extract_features(df, fake=False).collect()
    assert len(feats) == 1
    assert feats[0].n_bytes == len(png)
    assert feats[0].byte_sum == int(arr.astype(np.int64).sum())


def test_extract_features_real_path_gated_without_pil(spark):
    """Without Pillow the real path must fail loudly (NotImplementedError
    from the decode gate), never silently fall back to byte features."""
    if _has_pil():
        pytest.skip("Pillow installed; gate does not apply")
    from py4j.protocol import Py4JJavaError

    png = _tiny_png(2, 2, (1, 2, 3))
    df = spark.createDataFrame(
        [(1, "image", "png", 2, 2, None, bytearray(png))],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception) as ei:
        multimodal.extract_features(df, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )


def test_dedup_lsh_recall_vs_exact(spark, sf_dir):
    """The scale path (LSH candidates → exact verify) must recover ≥0.9 of
    the exact N² pairs at threshold 0.4 on the fixture, with no spurious
    pairs (verification is exact, so precision is 1 by construction)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_above(
            emb, "vec_id", "embedding", 0.4
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in similarity.dedup_pairs_lsh(
            emb, "vec_id", "embedding", 0.4
        ).collect()
    }
    assert not got - exact  # exact verify ⇒ no false positives
    assert len(got & exact) / len(exact) >= 0.9


def test_dedup_lsh_prunes_in_high_sim_regime(spark):
    """In the regime LSH is built for (near-dup clusters, cos ≥ 0.9),
    fine buckets (bits=8) prune the candidate set far below N²/2 while
    keeping every true pair."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(40):  # 40 clusters of 3 near-identical vectors
        center = rng.randn(64)
        for _ in range(3):
            v = center + 0.05 * rng.randn(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    for _ in range(120):  # plus 120 unrelated vectors
        rows.append((vid, [float(x) for x in rng.randn(64)]))
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs_above(
            df, "vec_id", "embedding", 0.9
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in similarity.dedup_pairs_lsh(
            df, "vec_id", "embedding", 0.9, tables=8, bits=8
        ).collect()
    }
    assert exact  # the planted clusters must produce true pairs
    assert got == exact  # full recall at high similarity, exact verify


def test_jaccard_max_df_drops_hot_shingle(spark):
    """A corpus-wide boilerplate shingle must not blow up the self-join:
    with max_df set below N, the hot shingle is dropped and unrelated
    docs no longer pair up through it."""
    boiler = "standard legal header line attached everywhere"
    docs = [
        (i, f"{boiler} unique body text number {i} with words {i * 7}")
        for i in range(10)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    uncapped = dedup.jaccard_pairs(df, "doc_id", "text", n=3).collect()
    capped = dedup.jaccard_pairs(
        df, "doc_id", "text", n=3, max_df=5
    ).collect()
    # every doc shares the boilerplate shingles → all 45 pairs uncapped
    assert len(uncapped) == 45
    # capped: boilerplate shingles have df=10 > 5 → dropped → no pairs
    # survive (bodies are disjoint)
    assert len(capped) == 0


# -- dedup resolution (connected components) --------------------------------


def test_connected_components_chain_and_islands(spark):
    """A~B~C chain collapses to one component labeled min-id; disjoint
    pair keeps its own label; isolated nodes are absent."""
    from snowav_spark.ops import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r.node: r.label for r in graph.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A worst-case path graph (diameter = n-1) still converges to a
    single min-labeled component within max_iter."""
    from snowav_spark.ops import graph

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    labels = {
        r.node: r.label for r in graph.connected_components(edges).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == n + 1


def test_drop_near_dups_keeps_canonical(spark):
    from snowav_spark.ops import graph

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id
        for r in graph.drop_near_dups(df, pairs, "doc_id", "id_a", "id_b").collect()
    )
    # clusters {0,1,2} and {4,5} keep min ids 0 and 4; 3 untouched
    assert kept == [0, 3, 4]


# -- sequence packing -------------------------------------------------------


def test_pack_sequences_respects_capacity_and_covers_all(spark):
    from snowav_spark.ops import packing

    rows = [(i, 50 + (i * 37) % 400) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    packed = packing.pack_sequences(
        df, "doc_id", "n_tokens", capacity=512, n_shards=4
    )
    pdf = packed.toPandas()
    assert sorted(pdf["doc_id"]) == [r[0] for r in rows]  # every doc placed
    fills = pdf.groupby(["shard", "bin"])["n_tokens"].sum()
    assert (fills <= 512).all()
    # offsets within a bin are disjoint and within capacity
    for (_, _), grp in pdf.groupby(["shard", "bin"]):
        grp = grp.sort_values("offset")
        end = (grp["offset"] + grp["n_tokens"]).to_numpy()
        assert (grp["offset"].to_numpy()[1:] >= end[:-1]).all()
        assert (end <= 512).all()


def test_pack_sequences_tree_matches_linear_scan_ffd(spark):
    """The segment-tree first-fit must be BIT-IDENTICAL to the reference
    linear-scan FFD (the r5 speedup changed the search, not the
    algorithm) — including oversized and zero-length docs."""
    import numpy as np

    from snowav_spark.ops import packing

    rng = np.random.RandomState(7)
    lens = list(rng.randint(0, 700, size=400))  # includes >512 and 0
    rows = [(i, int(l)) for i, l in enumerate(lens)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = (
        packing.pack_sequences(df, "doc_id", "n_tokens", 512, n_shards=1)
        .toPandas()
        .sort_values("doc_id")
    )

    # reference: the original linear-scan FFD
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    fill, ref = [], {}
    for did, ln in order:
        for b, f in enumerate(fill):
            if f + ln <= 512:
                ref[did] = (b, f)
                fill[b] = f + ln
                break
        else:
            ref[did] = (len(fill), 0)
            fill.append(ln)
    for _, r in got.iterrows():
        assert (r["bin"], r["offset"]) == ref[r["doc_id"]], r["doc_id"]


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    from snowav_spark.ops import packing

    df = spark.createDataFrame(
        [(0, 600), (1, 100), (2, 100)], ["doc_id", "n_tokens"]
    )
    pdf = packing.pack_sequences(
        df, "doc_id", "n_tokens", capacity=512, n_shards=1
    ).toPandas()
    big_bin = pdf.loc[pdf["doc_id"] == 0, "bin"].iloc[0]
    others = pdf.loc[pdf["doc_id"] != 0, "bin"]
    assert (others != big_bin).all()


def test_packing_stats_fill(spark):
    from snowav_spark.ops import packing

    df = spark.createDataFrame(
        [(i, 256) for i in range(8)], ["doc_id", "n_tokens"]
    )
    packed = packing.pack_sequences(
        df, "doc_id", "n_tokens", capacity=512, n_shards=1
    )
    row = packing.packing_stats(packed, "n_tokens", 512).collect()[0]
    assert row.n_bins == 4 and row.n_docs == 8
    assert row.avg_fill == 1.0 and row.wasted_tokens == 0


# -- text cleaning / PII redaction ------------------------------------------


def test_redact_pii_patterns(spark):
    from snowav_spark.ops import text as t

    df = spark.createDataFrame(
        [
            (0, "mail bob@example.com or +1 (555) 123-4567 at 10.0.0.1"),
            (1, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.red
        for r in df.select(
            "doc_id", t.redact_pii(F.col("text")).alias("red")
        ).collect()
    }
    assert "<EMAIL>" in got[0] and "<PHONE>" in got[0] and "<IPV4>" in got[0]
    assert "bob@" not in got[0] and "555" not in got[0]
    assert got[1] == "no pii here"


def test_clean_text_normalizes(spark):
    from snowav_spark.ops import text as t

    df = spark.createDataFrame(
        [(0, "  Hello,   WORLD! visit https://x.example/path?q=1 now  ")],
        ["doc_id", "text"],
    )
    got = df.select(t.clean_text(F.col("text")).alias("c")).collect()[0].c
    assert got == "hello world visit now"


# -- IVF ANN ----------------------------------------------------------------


def test_ivf_full_probe_matches_exact(spark, sf_dir):
    """nprobe = n_cells searches every cell → identical to brute force."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = [
        (r[0], r.cos_sim)
        for r in similarity.cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()
    ]
    ivf = [
        (r.vec_id, r.cos_sim)
        for r in similarity.ivf_topk(
            emb, "vec_id", "embedding", 0, 10, n_cells=8, nprobe=8, iters=1
        ).collect()
    ]
    assert [i for i, _ in ivf] == [i for i, _ in exact]


def test_ivf_partial_probe_recall(spark, sf_dir):
    """Probing a quarter of the cells must still recover most of the true
    top-10 (the query's own cell holds its nearest neighbors)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        r[0]
        for r in similarity.cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()
    }
    got = {
        r.vec_id
        for r in similarity.ivf_topk(
            emb, "vec_id", "embedding", 0, 10, n_cells=16, nprobe=4, iters=1
        ).collect()
    }
    assert len(got & exact) / len(exact) >= 0.5


def test_ivf_assign_cells_cover_corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", n_cells=8, iters=1)
    assigned = similarity.ivf_assign(emb, "vec_id", "embedding", cents)
    assert assigned.count() == emb.count()
    n_used = assigned.select("cell").distinct().count()
    assert 2 <= n_used <= 8  # centroids spread the corpus across cells


def test_dedup_lsh_max_bucket_guard(spark):
    """A dense direction (many co-bucketed vectors) must be BOUNDED by
    max_bucket without zeroing recall: oversized buckets salt into
    ≤max_bucket sub-buckets (candidates ~n·max_bucket, not n²) and the
    representative chain keeps the cluster connected — the r8 drop
    semantics returned ZERO pairs here, losing exactly the densest
    duplicates."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    hot = rng.randn(64)
    for i in range(60):  # dense cluster: everything near one direction
        rows.append((i, [float(x) for x in hot + 0.02 * rng.randn(64)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    uncapped = similarity.dedup_pairs_lsh(
        df, "vec_id", "embedding", 0.9, tables=8, bits=2, max_bucket=None
    ).count()
    capped = similarity.dedup_pairs_lsh(
        df, "vec_id", "embedding", 0.9, tables=8, bits=2, max_bucket=10
    )
    n_capped = capped.count()
    # bounded: ≤ (60/10)·C(10,2)·(a few distinct sub-splits across
    # tables) + chain — far below the ~C(60,2) uncapped pair count …
    assert uncapped > 1000
    assert 0 < n_capped < uncapped
    # … yet still CONNECTED: one component, so dedup keeps 1 of 60
    from snowav_spark.ops import graph

    comp = graph.connected_components(capped, "id_a", "id_b")
    assert comp.select("label").distinct().count() == 1
    # with a cap above the cluster size nothing salts: exact equality
    loose = similarity.dedup_pairs_lsh(
        df, "vec_id", "embedding", 0.9, tables=8, bits=2, max_bucket=60
    ).count()
    assert loose == uncapped


def test_repetition_stats_planted(spark):
    from snowav_spark.ops import text as t

    rows = [
        (0, "spam spam spam spam spam spam spam spam"),   # one shingle
        (1, "every word here is completely different okay"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in t.repetition_stats(df, "doc_id", "text").collect()}
    assert got[0].dup_frac > 0.8      # all shingles identical
    assert got[1].dup_frac == 0.0     # all shingles unique


def test_quality_flags_rules(spark):
    from snowav_spark.ops import text as t

    rows = [
        (0, "a perfectly ordinary sentence with several reasonable words"),
        (1, "ok"),                                    # too few words
        (2, "#### @@@@ <<<< >>>> ^^^^ ~~~~ |||| ####"),  # symbol soup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in t.quality_flags(df, "doc_id", "text").collect()}
    assert got[0].keep
    assert not got[1].ok_word_count and not got[1].keep
    assert not got[2].ok_symbols and not got[2].keep


def test_jaccard_max_df_error_is_one_sided(spark):
    """With sizes computed before the cap, a capped score can never
    EXCEED the true Jaccard — the cap must not invent duplicate pairs."""
    boiler = "shared boilerplate header line present in every document"
    docs = [
        (i, f"{boiler} body {i} " + " ".join(f"tok{i}_{j}" for j in range(6)))
        for i in range(8)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    true_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(df, "doc_id", "text", n=3).collect()
    }
    capped_j = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(
            df, "doc_id", "text", n=3, max_df=4
        ).collect()
    }
    for pair, j in capped_j.items():
        assert j <= true_j[pair] + 1e-9


def test_ivf_cell_partition_pruning(spark, sf_dir, tmp_path):
    """The SCALE.md claim behind IVF: with the corpus persisted
    partitioned by cell, probing nprobe cells prunes at the FILE level —
    the scan never opens the other cells' data."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, "vec_id", "embedding", n_cells=8, iters=1)
    path = str(tmp_path / "ivf")
    similarity.ivf_assign(emb, "vec_id", "embedding", cents).write.partitionBy(
        "cell"
    ).parquet(path)

    indexed = spark.read.parquet(path)
    all_cells = [r.cell for r in indexed.select("cell").distinct().collect()]
    probe = sorted(all_cells)[:2]
    probed = indexed.filter(F.col("cell").isin([int(c) for c in probe]))
    # plan-level evidence: the cell predicate lands in PartitionFilters
    # (file-level pruning), not a post-scan Filter over all partitions
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    n_probed = probed.count()
    n_manual = indexed.filter(
        F.col("cell").isin([int(c) for c in probe])
    ).count()
    assert 0 < n_probed == n_manual < indexed.count()


def test_decontaminate_flags_leaked_doc(spark):
    # eval doc 100 shares its full text with train doc 0; train doc 1 is clean
    leaked = "alpha beta gamma delta epsilon zeta eta theta"
    clean = "one two three four five six seven eight nine"
    train = spark.createDataFrame([(0, leaked), (1, clean)], ["doc_id", "text"])
    eval_df = spark.createDataFrame([(100, leaked)], ["doc_id", "text"])
    hits = {
        r.doc_id: r.hit_grams
        for r in dedup.decontaminate(train, eval_df, "doc_id", "text", n=5).collect()
    }
    # 8 tokens → 4 distinct 5-grams, all shared
    assert hits == {0: 4}


def test_decontaminate_broadcast_off_matches(spark):
    leaked = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame([(0, leaked)], ["doc_id", "text"])
    eval_df = spark.createDataFrame([(100, leaked)], ["doc_id", "text"])
    a = dedup.decontaminate(train, eval_df, "doc_id", "text", broadcast_eval=True)
    b = dedup.decontaminate(train, eval_df, "doc_id", "text", broadcast_eval=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_incremental_dedup_gates(spark):
    corpus_texts = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "completely different words about spark catalyst tungsten shuffles"),
    ]
    corpus = spark.createDataFrame(corpus_texts, ["doc_id", "text"])
    index = dedup.dedup_index(corpus, "doc_id", "text", num_hashes=16, bands=8)
    new = spark.createDataFrame(
        [
            (10, corpus_texts[0][1]),  # exact dup of corpus -> dropped
            (11, corpus_texts[0][1].replace("dog", "cat")),  # near dup -> dropped
            (12, "entirely fresh content one two three four five six seven"),
            (13, "entirely fresh content one two three four five six seven"),  # batch dup
        ],
        ["doc_id", "text"],
    )
    out = dedup.incremental_dedup(
        new, index, "doc_id", "text", num_hashes=16, bands=8, est_threshold=0.5
    )
    assert sorted(r.doc_id for r in out.collect()) == [12]
    assert out.columns == ["doc_id", "text"]


def test_incremental_dedup_empty_index_passthrough(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    index = dedup.dedup_index(empty, "doc_id", "text", num_hashes=16, bands=8)
    new = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    out = dedup.incremental_dedup(new, index, "doc_id", "text", num_hashes=16, bands=8)
    assert [r.doc_id for r in out.collect()] == [1]


def test_chunk_docs_windows_and_short_doc(spark):
    from snowav_spark.ops import text as text_ops

    words = " ".join(f"w{i}" for i in range(60))  # 60 tokens
    df = spark.createDataFrame(
        [(1, words), (2, "just three tokens"), (3, None)], ["doc_id", "text"]
    )
    got = text_ops.chunk_docs(df, "doc_id", "text", size=50, stride=25)
    rows = {(r.doc_id, r.chunk_id): r for r in got.collect()}
    # 60 tokens → starts 0 and 25 → chunks of 50 and 35 tokens
    assert rows[(1, 0)].n_tokens == 50
    assert rows[(1, 1)].n_tokens == 35
    assert rows[(1, 0)].chunk_text.startswith("w0 ")
    assert rows[(1, 1)].chunk_text.startswith("w25 ")
    # overlap: tokens 25..49 appear in both chunks
    assert "w30" in rows[(1, 0)].chunk_text and "w30" in rows[(1, 1)].chunk_text
    # short doc → exactly one chunk with every token
    assert rows[(2, 0)].n_tokens == 3
    assert (2, 1) not in rows
    # NULL text → no chunks at all, never a bogus all-NULL row.  The SQL
    # oracle needs an explicit WHERE text IS NOT NULL to match: DuckDB's
    # greatest() ignores NULLs, so nch would be 1 for a NULL-text doc.
    assert not any(d == 3 for d, _ in rows)
    # full coverage: every token of doc 1 lands in some chunk
    covered = set()
    for (d, _), r in rows.items():
        if d == 1:
            covered.update(r.chunk_text.split(" "))
    assert covered == set(words.split(" "))


def test_minhash_portable_finds_planted(planted):
    got = dedup.minhash_lsh_pairs_portable(
        planted, "doc_id", "text", num_hashes=16, bands=4, est_threshold=0.4
    ).collect()
    found = {(r.doc_a, r.doc_b) for r in got}
    assert (0, 1) in found  # planted near-dup must surface
    assert (0, 2) not in found  # unrelated docs must not
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in got}
    assert 0.0 <= est[(0, 1)] <= 1.0


def test_simhash_portable_separates(planted):
    fps = {
        r.doc_id: r.fp
        for r in dedup.simhash_portable(planted, "doc_id", "text", bits=32).collect()
    }
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))
    assert all(len(fp) == 32 for fp in fps.values())
    # one-token edit → near-identical fingerprints; unrelated docs far
    assert ham(fps[0], fps[1]) < ham(fps[0], fps[2])
    assert ham(fps[0], fps[1]) <= 8


def test_chunk_docs_oracle_parity_with_null_text(spark):
    """The q_chunk_docs DuckDB oracle must agree with chunk_docs even when
    a document has NULL text.  DuckDB's greatest() ignores NULL arguments,
    so without the oracle's explicit WHERE text IS NOT NULL a NULL-text
    doc would yield nch=1 and one bogus all-NULL chunk row — this test
    pins the dialect divergence fixed per ADVICE round 3."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from snowav_spark.ops import text as text_ops
    from snowav_spark.testing import compare

    words = " ".join(f"w{i}" for i in range(60))
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": [words, "just three tokens", None]}
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    sdf = spark.createDataFrame(pdf)
    got = text_ops.chunk_docs(sdf, "doc_id", "text", size=50, stride=25)
    problems = compare(got, con, entrymod.oracle_sql()["q_chunk_docs"])
    assert not problems, problems


def test_pii_audit_planted(spark):
    from snowav_spark.ops import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or call 555-123-4567"),
            (2, "server at 192.168.0.1 and 10.0.0.254 replied"),
            (3, "plain text with no pii at all"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text_ops.pii_audit(df, "doc_id", "text").collect()}
    assert rows[1].n_email == 1 and rows[1].n_phone == 1 and rows[1].n_ip == 0
    assert "<EMAIL>" in rows[1].text and "<PHONE>" in rows[1].text
    assert "bob.smith" not in rows[1].text and "555-123-4567" not in rows[1].text
    assert rows[2].n_ip == 2 and rows[2].text.count("<IP>") == 2
    assert "192.168.0.1" not in rows[2].text
    assert rows[3].text == "plain text with no pii at all"
    assert rows[3].n_email == rows[3].n_ip == rows[3].n_phone == 0
    # NULL text → NULL through and through (both engines agree)
    assert rows[4].text is None and rows[4].n_email is None


def test_pii_audit_oracle_parity_planted(spark):
    """Spark pii_audit vs the q_pii_redact DuckDB oracle on PLANTED PII
    (the fixture corpus contains none, so the driver row alone never
    exercises a real match — this pins Java-regex / RE2 agreement on the
    shared patterns)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from snowav_spark.ops import text as text_ops
    from snowav_spark.testing import compare

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "mail a@b.io then mail c.d%e@f-g.h.com twice",
                "ip 1.2.3.4 phone +555 867 5309 mixed 10.20.30.40",
                "nothing here",
                None,
            ],
        }
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    got = text_ops.pii_audit(spark.createDataFrame(pdf), "doc_id", "text")
    problems = compare(got, con, entrymod.oracle_sql()["q_pii_redact"])
    assert not problems, problems


def test_ngram_doc_freq_planted(spark):
    from snowav_spark.ops import text as text_ops

    boiler = "subscribe to our newsletter for more"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} cats are great"),
            (2, f"dogs are loyal {boiler}"),
            (3, f"{boiler} {boiler}"),  # within-doc repeat counts once
            (4, "too short"),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    top = text_ops.ngram_doc_freq(df, "doc_id", "text", n=5, k=3).collect()
    assert top[0].ngram == "subscribe to our newsletter for"
    assert top[0].n_docs == 3  # doc 3's repeat collapsed by array_distinct
    # deterministic tie-break: n_docs desc, then ngram asc
    assert [r.n_docs for r in top] == sorted(
        [r.n_docs for r in top], reverse=True
    )


def test_token_budget_null_and_counts(spark):
    from snowav_spark.ops import text as text_ops

    df = spark.createDataFrame(
        [
            ("web", "en", "three token doc"),
            ("web", "en", "two tokens"),
            ("web", "de", None),  # NULL text → doc counted, 0 tokens/chars
            ("books", "en", "x"),
        ],
        ["source", "lang", "text"],
    )
    rows = {
        (r.source, r.lang): r
        for r in text_ops.token_budget(df, ["source", "lang"], "text").collect()
    }
    assert rows[("web", "en")].n_docs == 2
    assert rows[("web", "en")].n_tokens == 5
    assert rows[("web", "en")].n_chars == len("three token doc") + len("two tokens")
    assert rows[("web", "de")].n_docs == 1
    assert rows[("web", "de")].n_tokens == 0 and rows[("web", "de")].n_chars == 0
    assert rows[("books", "en")].n_tokens == 1


def test_dup_histogram_planted(spark):
    from snowav_spark.ops import dedup as dedup_ops

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["a"] * 3 + ["b"] * 3 + ["c"] * 2 + ["d", "e", "f"]
        )],
        ["doc_id", "text"],
    )
    hist = {
        r.cluster_size: r.n_clusters
        for r in dedup_ops.dup_size_histogram(df, "text").collect()
    }
    # two clusters of 3 (a,b), one of 2 (c), three singletons (d,e,f)
    assert hist == {1: 3, 2: 1, 3: 2}


def test_unigram_logprob_scores_common_tokens_higher(spark):
    from snowav_spark.ops import text as T

    # corpus: "a" appears 4/6 tokens, "rare"/"word" once each
    df = spark.createDataFrame(
        [(1, "a a a rare"), (2, "a word"), (3, None)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in T.unigram_logprob(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2}  # NULL text contributes nothing
    assert rows[1].n_tokens == 4 and rows[2].n_tokens == 2
    # doc 1 is 3/4 high-probability tokens -> higher mean logp than doc 2
    assert rows[1].avg_logp > rows[2].avg_logp
    import math

    # exact check: p(a)=4/6, p(rare)=p(word)=1/6
    exp1 = (3 * math.log(4 / 6) + math.log(1 / 6)) / 4
    assert abs(rows[1].avg_logp - round(exp1, 6)) < 1e-9


def test_oov_rate_against_top_vocab(spark):
    from snowav_spark.ops import text as T

    # vocab_size=1 -> vocabulary is exactly {"a"} (most frequent)
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c d"), (3, "a")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in T.oov_rate(df, "doc_id", "text", vocab_size=1).collect()
    }
    assert rows[1].n_oov == 1 and rows[1].n_tokens == 3
    assert rows[2].n_oov == 2 and rows[2].oov_frac == 1.0
    assert rows[3].n_oov == 0 and rows[3].oov_frac == 0.0


def test_oov_vocab_boundary_tiebreak(spark):
    from snowav_spark.ops import text as T

    # "x" and "y" tie at count 2; vocab_size=1 must pick "x" (token asc)
    df = spark.createDataFrame(
        [(1, "x y"), (2, "y x")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in T.oov_rate(df, "doc_id", "text", vocab_size=1).collect()
    }
    assert rows[1].n_oov == 1 and rows[2].n_oov == 1


def test_build_and_search_ivf_index(spark, sf_dir, tmp_path):
    """Persisted IVF layout e2e: build writes cell-partitioned parquet +
    a centroid sidecar; full-probe search equals brute-force exact; a
    partial probe carries the cell predicate as a PartitionFilter."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    cents = similarity.build_ivf_index(
        emb, "vec_id", "embedding", path, n_cells=8, iters=1
    )
    assert len(cents) >= 1
    qrow = emb.filter(F.col("vec_id") == 7).select("embedding").collect()
    qv = list(qrow[0][0])

    # full probe == exact brute force (self excluded on the exact side)
    got = [
        (r.vec_id, r.cos_sim)
        for r in similarity.search_ivf_index(
            spark, path, qv, "vec_id", "embedding", k=6, nprobe=len(cents)
        ).collect()
    ]
    exact = [
        (r.vec_id, r.cos_sim)
        for r in similarity.cosine_topk(
            emb, "vec_id", "embedding", query_id=7, k=6
        ).collect()
    ]
    exact_no_self = [(i, c) for i, c in exact if i != 7][:5]
    got_no_self = [(i, c) for i, c in got if i != 7][:5]
    assert got_no_self == exact_no_self

    # partial probe prunes at the file level
    probed = similarity.search_ivf_index(
        spark, path, qv, "vec_id", "embedding", k=5, nprobe=2
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert probed.count() == 5


def test_minhash_signature_matches_banding_aggregate(spark):
    """The no-explode projection form and the explode+min aggregate form
    derive the SAME signature (identical murmur3+min values).  Regression
    for a two-parameter transform lambda: PySpark binds a second lambda
    parameter to the ARRAY INDEX, silently shadowing the captured seed —
    every signature element then collapses to one seed-less min."""
    from pyspark.sql import functions as F

    rows = [
        (0, " ".join(f"w{i}" for i in range(40))),
        (1, " ".join(f"x{i}" for i in range(25))),
        (2, "too short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    proj = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", F.split("text", " ").alias("_toks")
        )
        .select(
            "doc_id",
            dedup.minhash_signature(F.col("_toks"), 32, 3).alias("sig"),
        )
        .collect()
    }
    agg = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_bands(df, "doc_id", "text", 32, 8, 3)
        .select("doc_id", "sig")
        .distinct()
        .collect()
    }
    for doc_id, sig in agg.items():
        assert proj[doc_id] == sig, doc_id
    # a real signature varies across seeds
    assert len(set(proj[0])) > 16
    # sub-shingle-length doc: empty shingle set → all-NULL signature in
    # the projection form, no row at all in the explode form
    assert 2 not in agg and all(v is None for v in proj[2])


def test_text_index_search_matches_adhoc_bm25(spark, sf_dir, tmp_path):
    """The persisted inverted index returns BIT-IDENTICAL BM25 scores to
    the full-corpus ad-hoc scorer (same formula, same rounding), while
    reading only the query terms' bucket partitions (plan-asserted)."""
    from snowav_spark.ops import text as t

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "textidx")
    t.build_text_index(docs, "doc_id", "text", path, n_buckets=16)

    query = ["the", "data", "model"]
    got = {
        r.doc_id: r.bm25
        for r in t.search_text_index(spark, path, query, k=1000).collect()
    }
    adhoc = {
        r.doc_id: r.bm25
        for r in t.bm25_scores(docs, "doc_id", "text", query).collect()
    }
    assert got == adhoc and len(got) > 0

    # pruning: the scan carries bucket IN (...) as a PartitionFilter
    pruned = t.search_text_index(spark, path, ["data"], k=5)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_text_index_stats_ride_postings_pass(spark, tmp_path):
    """r12: the _corpus_stats sidecar is fed by an observation on the
    postings pass instead of a second tokenize scan.  The values must
    match a direct computation EXACTLY — the observation sits before
    the explode/groupBy, so every non-NULL-text doc is counted once
    with its full token length, and a NULL-text doc stays excluded from
    the collection entirely."""
    from snowav_spark.ops import text as t

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta"),
            (2, ""),  # splits to [""]: one empty token, dl = 1
            (3, None),  # excluded from the collection
            (4, "gamma"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "tix_stats")
    t.build_text_index(docs, "doc_id", "text", path, n_buckets=4)
    stats = spark.read.parquet(path + "/_corpus_stats").collect()
    assert len(stats) == 1
    row = stats[0]
    want = (
        docs.filter(F.col("text").isNotNull())
        .select(F.size(t.tokens(F.col("text"))).cast("long").alias("dl"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("s"))
        .collect()[0]
    )
    assert (row.n_docs, row.sum_dl, row.n_buckets) == (want.n, want.s, 4)
    assert (row.n_docs, row.sum_dl) == (3, 5)  # doc 3 not counted


def test_text_index_append_matches_full_rebuild(spark, tmp_path):
    """Appending documents must leave retrieval indistinguishable from a
    full rebuild over the union: postings land in the right buckets and
    the merged stats sidecar (n_docs, avg_dl) drives identical scores."""
    from snowav_spark.ops import text as t

    first = spark.createDataFrame(
        [
            (1, "spark engines process data at scale"),
            (2, "ducks swim in the lake"),
            (3, "data pipelines clean data daily"),
        ],
        ["doc_id", "text"],
    )
    second = spark.createDataFrame(
        [
            (4, "spark data shuffles hurt at scale"),
            (5, "the lake is calm today"),
        ],
        ["doc_id", "text"],
    )
    grown = str(tmp_path / "grown")
    t.build_text_index(first, "doc_id", "text", grown, n_buckets=8)
    t.append_to_text_index(second, "doc_id", "text", grown)

    rebuilt = str(tmp_path / "rebuilt")
    t.build_text_index(
        first.union(second), "doc_id", "text", rebuilt, n_buckets=8
    )
    for query in (["data"], ["spark", "lake"], ["the", "scale"]):
        g = [
            (r.doc_id, r.bm25)
            for r in t.search_text_index(spark, grown, query, k=10).collect()
        ]
        rbt = [
            (r.doc_id, r.bm25)
            for r in t.search_text_index(spark, rebuilt, query, k=10).collect()
        ]
        assert g == rbt and len(g) > 0


def test_text_index_metadata_filtered_search(spark, tmp_path):
    """search_text_index(where=…) post-filters by the _doc_meta sidecar:
    scores equal the unfiltered run (df/avg_dl stay collection-level),
    only matching docs survive, appends carry their metadata rows, and
    a metadata-less index refuses the filter loudly."""
    import pytest

    from snowav_spark.ops import text as t

    docs = spark.createDataFrame(
        [
            (1, "spark engines process data at scale", "en"),
            (2, "datos y tablas en el lago", "es"),
            (3, "data pipelines clean data daily", "en"),
            (4, "el lago de data es tranquilo", "es"),
        ],
        ["doc_id", "text", "lang"],
    )
    path = str(tmp_path / "metaidx")
    t.build_text_index(
        docs, "doc_id", "text", path, n_buckets=8, doc_meta=("lang",)
    )
    unfiltered = {
        r.doc_id: r.bm25
        for r in t.search_text_index(spark, path, ["data"], k=10).collect()
    }
    en = {
        r.doc_id: r.bm25
        for r in t.search_text_index(
            spark, path, ["data"], k=10, where="lang = 'en'"
        ).collect()
    }
    assert set(en) == {1, 3}
    # post-filter semantics: identical scores, just restricted
    assert all(en[d] == unfiltered[d] for d in en)

    # append carries metadata: the new doc is filterable immediately
    t.append_to_text_index(
        spark.createDataFrame(
            [(5, "more data arrives in spark", "en")],
            ["doc_id", "text", "lang"],
        ),
        "doc_id", "text", path,
    )
    en2 = {
        r.doc_id
        for r in t.search_text_index(
            spark, path, ["data"], k=10, where="lang = 'en'"
        ).collect()
    }
    assert en2 == {1, 3, 5}

    # no sidecar -> loud refusal, not a silent unfiltered result
    bare = str(tmp_path / "bareidx")
    t.build_text_index(docs, "doc_id", "text", bare, n_buckets=8)
    with pytest.raises(ValueError, match="_doc_meta"):
        t.search_text_index(
            spark, bare, ["data"], k=10, where="lang = 'en'"
        ).collect()


def test_dedup_index_tombstones_reopen_content(spark, tmp_path):
    """Dedup-index takedown semantics (INVERTED polarity vs the
    retrieval indexes): tombstoning a doc's index rows lets equivalent
    content re-enter on the next ingest, while untouched docs keep
    suppressing their twins; re-delete is a no-op; compaction folds the
    rows away and retires the sidecar."""
    import os

    from snowav_spark.ops import dedup

    text_a = "the quick brown fox jumps over the lazy dog near the bank"
    text_b = "completely different content about spark catalyst tungsten"
    corpus = spark.createDataFrame(
        [(1, text_a), (2, text_b)], ["doc_id", "text"]
    )
    path = str(tmp_path / "dix")
    dedup.dedup_index(corpus, "doc_id", "text").write.parquet(path)

    batch = spark.createDataFrame(
        [(10, text_a), (11, text_b)], ["doc_id", "text"]
    )
    # both twins suppressed against the live index
    kept = dedup.incremental_dedup(
        batch, dedup.load_dedup_index(spark, path), "doc_id", "text"
    )
    assert kept.count() == 0

    # takedown doc 1: its content may re-enter; doc 2 still suppresses
    assert dedup.delete_from_dedup_index(spark, path, [1, 99]) == 1
    assert dedup.delete_from_dedup_index(spark, path, [1]) == 0
    kept = dedup.incremental_dedup(
        batch, dedup.load_dedup_index(spark, path), "doc_id", "text"
    )
    assert [r.doc_id for r in kept.collect()] == [10]

    # compaction: physical fold + sidecar retirement
    dedup.compact_dedup_index(spark, path)
    assert not os.path.isdir(path + "/_tombstones")
    remaining = {
        r.doc_id for r in spark.read.parquet(path).select("doc_id").collect()
    }
    assert remaining == {2}


def test_text_index_meta_batch_replay_idempotent(spark, tmp_path):
    """Streaming (_batch) layout with doc_meta: an at-least-once REPLAY
    of an append rewrites its own meta partition instead of duplicating
    rows, and filtered search stays correct over old + new docs."""
    from snowav_spark.ops import text as t

    a = spark.createDataFrame(
        [(1, "spark data engines", "en"), (2, "datos del lago", "es")],
        ["doc_id", "text", "lang"],
    )
    b = spark.createDataFrame(
        [(3, "more spark data arrives", "en")],
        ["doc_id", "text", "lang"],
    )
    path = str(tmp_path / "metastream")
    t.build_text_index(
        a, "doc_id", "text", path, n_buckets=4, batch_id=0,
        doc_meta=("lang",),
    )
    t.append_to_text_index(b, "doc_id", "text", path, batch_id=1)
    # replay batch 1 (at-least-once): meta must NOT duplicate
    t.append_to_text_index(b, "doc_id", "text", path, batch_id=1)
    meta = spark.read.parquet(path + "/_doc_meta")
    assert meta.count() == 3
    assert meta.filter(F.col("doc_id") == 3).count() == 1
    en = {
        r.doc_id
        for r in t.search_text_index(
            spark, path, ["data"], k=10, where="lang = 'en'"
        ).collect()
    }
    assert en == {1, 3}

    # delete + compact: the meta sidecar folds flat (no _batch, no
    # tombstoned doc rows) alongside the postings
    t.delete_from_text_index(spark, path, [2])
    t.compact_text_index(spark, path)
    meta = spark.read.parquet(path + "/_doc_meta")
    assert "_batch" not in meta.columns
    assert {r.doc_id for r in meta.collect()} == {1, 3}
    en = {
        r.doc_id
        for r in t.search_text_index(
            spark, path, ["data"], k=10, where="lang = 'en'"
        ).collect()
    }
    assert en == {1, 3}


def test_text_index_delete_tombstones_then_compact(spark, tmp_path):
    """Delete lifecycle: tombstoned docs vanish from search IMMEDIATELY
    and scores over survivors equal a fresh rebuild on the surviving
    corpus (negative stats partials keep avg_dl/n_docs exact); re-delete
    is a no-op; compaction physically drops the rows and retires the
    sidecar; a post-compact re-append makes the id live again."""
    import os

    from snowav_spark.ops import text as t

    docs = spark.createDataFrame(
        [
            (1, "spark engines process data at scale"),
            (2, "ducks swim in the lake"),
            (3, "data pipelines clean data daily"),
            (4, "spark data shuffles hurt at scale"),
            (5, "the lake is calm today"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "delidx")
    t.build_text_index(docs, "doc_id", "text", path, n_buckets=8)

    n = t.delete_from_text_index(spark, path, [2, 5, 99])
    assert n == 2  # id 99 absent from the index: ignored

    survivors = docs.filter(~F.col("doc_id").isin(2, 5))
    rebuilt = str(tmp_path / "delidx_rebuilt")
    t.build_text_index(survivors, "doc_id", "text", rebuilt, n_buckets=8)
    for query in (["data"], ["the", "lake"], ["spark", "scale"]):
        got = [
            (r.doc_id, r.bm25)
            for r in t.search_text_index(spark, path, query, k=10).collect()
        ]
        want = [
            (r.doc_id, r.bm25)
            for r in t.search_text_index(
                spark, rebuilt, query, k=10
            ).collect()
        ]
        assert got == want
        assert all(d not in (2, 5) for d, _ in got)
    # the lake query must still return something (doc 2/5 gone, none left
    # with "lake" -> check a query with survivors instead)
    assert len(
        t.search_text_index(spark, path, ["data"], k=10).collect()
    ) > 0

    # idempotent: re-deleting subtracts nothing
    assert t.delete_from_text_index(spark, path, [2, 5]) == 0
    stats = spark.read.parquet(path + "/_corpus_stats")
    assert stats.agg(F.sum("n_docs")).first()[0] == 3

    # compaction folds the tombstones away physically
    t.compact_text_index(spark, path)
    assert not os.path.isdir(path + "/_tombstones")
    remaining = {
        r.doc_id
        for r in spark.read.parquet(path).select("doc_id").distinct().collect()
    }
    assert remaining == {1, 3, 4}
    merged = spark.read.parquet(path + "/_corpus_stats")
    assert merged.count() == 1 and merged.first().n_docs == 3
    # search still equals the rebuild after the physical fold
    got = [
        (r.doc_id, r.bm25)
        for r in t.search_text_index(spark, path, ["data"], k=10).collect()
    ]
    want = [
        (r.doc_id, r.bm25)
        for r in t.search_text_index(spark, rebuilt, ["data"], k=10).collect()
    ]
    assert got == want

    # post-compact re-append: the id is live again
    t.append_to_text_index(
        spark.createDataFrame([(2, "ducks swim in the lake")],
                              ["doc_id", "text"]),
        "doc_id", "text", path,
    )
    back = t.search_text_index(spark, path, ["ducks"], k=10).collect()
    assert [r.doc_id for r in back] == [2]


def test_ivfpq_delete_tombstones_then_compact(spark, sf_dir, tmp_path):
    """IVF-PQ delete lifecycle: tombstoned ids vanish from both the ADC
    and re-ranked search immediately; re-delete is a no-op; compaction
    drops the code rows physically and retires the sidecar."""
    import os

    from snowav_spark.ops import quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "delivf")
    quantize.build_ivfpq_index(
        emb, "vec_id", "embedding", path, n_cells=4, m=8, k=4, iters=1
    )
    qid = emb.orderBy("vec_id").first().vec_id
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == qid).first().embedding]

    # the query's own vector self-hits at rank 0 before deletion
    pre = quantize.search_ivfpq_index(
        spark, path, q, "vec_id", k_out=5, nprobe=4
    ).collect()
    assert pre[0].vec_id == qid

    assert quantize.delete_from_ivfpq_index(spark, path, [qid]) == 1
    assert quantize.delete_from_ivfpq_index(spark, path, [qid]) == 0

    post = quantize.search_ivfpq_index(
        spark, path, q, "vec_id", k_out=5, nprobe=4
    ).collect()
    assert all(r.vec_id != qid for r in post)
    rr = quantize.search_ivfpq_index(
        spark, path, q, "vec_id", k_out=5, nprobe=4,
        rerank=emb, rerank_depth=50,
    ).collect()
    assert all(r.vec_id != qid for r in rr) and len(rr) == 5

    n_before = spark.read.parquet(path).count()
    quantize.compact_ivfpq_index(spark, path)
    assert not os.path.isdir(path + "/_tombstones")
    assert spark.read.parquet(path).count() == n_before - 1
    assert (
        spark.read.parquet(path).filter(F.col("vec_id") == qid).count() == 0
    )


def test_rrf_fuse_combines_and_handles_missing(spark):
    """RRF math: a doc ranked 1st in both lists beats a doc ranked 1st
    in one and absent from the other; exact 1/(60+r) sums; depth
    truncation drops ranks beyond it."""
    from snowav_spark.ops import text as t

    a = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], ["doc_id", "s1"]
    )
    b = spark.createDataFrame(
        [(1, 0.9), (4, 0.8), (2, 0.7)], ["doc_id", "s2"]
    )
    got = {
        r.doc_id: r.rrf
        for r in t.rrf_fuse(
            [(a, "s1"), (b, "s2")], "doc_id", k_rrf=60, depth=2, k_out=10
        ).collect()
    }
    # depth=2: doc 3 (rank 3 in a) and doc 2's rank-3 entry in b are cut
    assert got[1] == round(1 / 61 + 1 / 61, 6)
    assert got[2] == round(1 / 62, 6)
    assert got[4] == round(1 / 62, 6)
    assert 3 not in got
    assert got[1] > got[2] == got[4]


def test_compact_text_index_folds_streamed_layout(spark, tmp_path):
    """A streamed inverted-index layout compacts to the batch serving
    layout: stats partials merged exactly (integer sums), searches
    identical, batch appends work afterwards."""
    from snowav_spark.ops import text as t

    a = spark.createDataFrame(
        [(1, "spark data at scale"), (2, "ducks on the lake")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(3, "data pipelines clean data"), (4, "the lake is calm")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "tix_stream")
    t.build_text_index(a, "doc_id", "text", path, n_buckets=8, batch_id=0)
    t.append_to_text_index(b, "doc_id", "text", path, batch_id=1)

    def search(q):
        return [
            (r.doc_id, r.bm25)
            for r in t.search_text_index(spark, path, q, k=10).collect()
        ]

    before = {q: search([q]) for q in ("data", "lake", "spark")}
    t.compact_text_index(spark, path)
    stats = spark.read.parquet(path + "/_corpus_stats").collect()
    assert len(stats) == 1 and stats[0].n_docs == 4
    assert "_batch" not in spark.read.parquet(path).columns
    for q, want in before.items():
        assert search([q]) == want

    t.append_to_text_index(
        spark.createDataFrame([(5, "calm data lake")], ["doc_id", "text"]),
        "doc_id", "text", path,
    )
    got = dict(search(["data"]))
    assert 5 in got


def test_batch_append_retry_idempotent(spark, tmp_path):
    """VERDICT r8 item 3: batch (batch_id=None) appends are now
    STRUCTURALLY idempotent.  Three retry shapes must all converge to
    the single-shot index: (a) retry after unacknowledged success,
    (b) retry after a crash that wrote postings but not the stats
    partial, (c) retry after a partial postings move.  'Converge'
    means: identical BM25 scores to one clean append, and stats
    sidecar partials sum to the true corpus."""
    import glob
    import os

    from snowav_spark.ops import text as t

    base = spark.createDataFrame(
        [
            (1, "spark engines process data at scale"),
            (2, "ducks swim in the lake"),
            (3, "data pipelines clean data daily"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (4, "spark data shuffles hurt at scale"),
            (5, "the lake is calm today"),
        ],
        ["doc_id", "text"],
    )

    def build_and_append(path, n_appends, sabotage=None):
        t.build_text_index(base, "doc_id", "text", path, n_buckets=8)
        for i in range(n_appends):
            t.append_to_text_index(batch, "doc_id", "text", path)
            if sabotage and i == 0:
                sabotage(path)

    def scores(path):
        return sorted(
            (r.doc_id, round(r.bm25, 6))
            for r in t.search_text_index(
                spark, path, ["spark", "data", "lake"], k=10
            ).collect()
        )

    clean = str(tmp_path / "clean")
    build_and_append(clean, 1)
    want = scores(clean)
    assert len(want) > 0

    # (a) full double-append: the retry rewrites its own digest files
    twice = str(tmp_path / "twice")
    build_and_append(twice, 2)
    assert scores(twice) == want
    stats = spark.read.parquet(twice + "/_corpus_stats")
    total = stats.groupBy().sum("n_docs").collect()[0][0]
    assert total == 5  # 3 base + 2 batch, counted ONCE

    # (b) crash between postings and stats partial: delete the batch's
    # stats file, then retry
    def drop_stats(path):
        for f in glob.glob(path + "/_corpus_stats/append-*.parquet"):
            os.remove(f)

    crashed = str(tmp_path / "crashed")
    build_and_append(crashed, 2, sabotage=drop_stats)
    assert scores(crashed) == want

    # (c) partial postings move: delete SOME of the batch's posting
    # files (one bucket directory's worth), then retry
    def drop_some_postings(path):
        files = sorted(
            glob.glob(path + "/bucket=*/append-*.parquet")
        )
        assert files, "expected digest-named posting files"
        os.remove(files[0])

    partial = str(tmp_path / "partial")
    build_and_append(partial, 2, sabotage=drop_some_postings)
    assert scores(partial) == want


def test_ivfpq_batch_append_retry_idempotent(spark, sf_dir, tmp_path):
    """The vector-index twin of the text retry test: re-appending the
    same batch (retry after unacknowledged success) leaves exactly one
    copy of its code rows."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import quantize as q

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 100)
    batch = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
    )
    n_batch = batch.count()
    path = str(tmp_path / "ivfpq")
    q.build_ivfpq_index(
        base, "vec_id", "embedding", path, n_cells=2, m=8, k=2, iters=1
    )
    n1 = q.append_to_ivfpq_index(batch, "vec_id", "embedding", path)
    n2 = q.append_to_ivfpq_index(batch, "vec_id", "embedding", path)
    assert n1 == n2 == n_batch
    codes = spark.read.parquet(path)
    assert codes.filter("vec_id >= 100").count() == n_batch  # one copy
    assert codes.count() == 100 + n_batch


def test_capped_exact_pairs_warns_when_cap_binds(spark, caplog):
    """VERDICT r8 item 5 (no silent caps): the exact N² dedup stage
    must announce capped_rows/total_rows when its 4096-id cap binds —
    and stay quiet when it doesn't."""
    import logging

    from pyspark.sql import functions as F

    from snowav_spark.ops import similarity

    big = spark.range(5000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    with caplog.at_level(logging.WARNING, "snowav_spark.similarity"):
        similarity.capped_exact_pairs(
            big, "vec_id", "embedding", 0.99, cap=4096, dim=2
        )
    assert any(
        "capped to 4096 rows" in r.getMessage()
        for r in caplog.records
    )
    caplog.clear()
    small = big.limit(100)
    with caplog.at_level(logging.WARNING, "snowav_spark.similarity"):
        similarity.capped_exact_pairs(
            small, "vec_id", "embedding", 0.99, cap=4096, dim=2
        )
    assert not caplog.records


def test_lsh_hot_bucket_salting_bounded_and_connected(spark):
    """VERDICT r8 item 6: a degenerate corpus (thousands of identical
    embeddings → one bucket in EVERY table) must not re-create the N²
    self-join.  The salting guard caps candidate pairs at
    ~n·max_bucket AND keeps the duplicate cluster CONNECTED via the
    representative chain, so downstream connected-components dedup
    still collapses it to one component — the old drop-the-bucket
    guard zeroed recall on exactly these rows."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import graph, similarity

    n = 2000
    cap = 100
    dups = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    cand = similarity.lsh_candidate_pairs(
        dups, "vec_id", "embedding",
        tables=2, bits=2, dim=8, max_bucket=cap,
    )
    n_pairs = cand.count()
    # within-sub-bucket pairs: (n/cap)·C(cap,2) per table, deduped
    # across tables (identical buckets), + chain pairs
    bound = (n // cap) * cap * (cap - 1) // 2 + n // cap
    assert 0 < n_pairs <= bound
    assert n_pairs < n * (n - 1) // 4  # far from quadratic
    # connectivity: exact-verified pairs resolve to ONE component
    pairs = similarity.dedup_pairs_lsh(
        dups, "vec_id", "embedding", 0.99,
        tables=2, bits=2, dim=8, max_bucket=cap,
    ).select(F.col("id_a"), F.col("id_b"))
    comp = graph.connected_components(pairs, "id_a", "id_b")
    assert comp.select("label").distinct().count() == 1


def test_salting_warns_when_bucket_exceeds_cap(spark, caplog):
    """ADVICE r10 (no silent caps), made LAZY per ADVICE r11: salting
    changes results — cross-sub-bucket pairs ride the representative
    chain instead of being emitted — so engaging it must WARN; the
    detection now rides the executed plan (an observe over the salting
    window's own bucket counts) and surfaces via
    drain_hot_bucket_telemetry, staying quiet when nothing salts."""
    import logging

    from pyspark.sql import functions as F

    from snowav_spark.ops import similarity

    n, cap = 500, 50
    dups = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    with caplog.at_level(logging.WARNING, "snowav_spark.similarity"):
        similarity.lsh_candidate_pairs(
            dups, "vec_id", "embedding",
            tables=2, bits=2, dim=8, max_bucket=cap,
        ).count()
        assert similarity.drain_hot_bucket_telemetry(wait_secs=10) == 1
    assert any(
        "salting engaged" in r.getMessage() and f"max_bucket={cap}" in
        r.getMessage()
        for r in caplog.records
    )
    caplog.clear()
    with caplog.at_level(logging.WARNING, "snowav_spark.similarity"):
        similarity.lsh_candidate_pairs(
            dups, "vec_id", "embedding",
            tables=2, bits=2, dim=8, max_bucket=2 * n * 2,
        ).count()
        assert similarity.drain_hot_bucket_telemetry(wait_secs=10) == 0
    assert not caplog.records


def test_salting_telemetry_runs_no_jobs_at_plan_construction(spark):
    """ADVICE r11 (medium): constructing an LSH candidate-pairs plan
    must launch ZERO Spark jobs — the r10 eager hot-bucket probe ran a
    full groupBy pass over the hashed keys at construction time, even
    when the returned DataFrame was never executed.  Detection now
    rides the plan itself (observe on the salting window's bucket
    counts), so construction is free and the warning still fires once
    the caller actually runs the plan."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import similarity

    dups = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    group = "no-jobs-at-construction-probe"
    sc = spark.sparkContext
    sc.setJobGroup(group, "plan construction must be lazy")
    try:
        plan = similarity.lsh_candidate_pairs(
            dups, "vec_id", "embedding",
            tables=2, bits=2, dim=8, max_bucket=50,
        )
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert job_ids == [], f"plan construction launched jobs: {job_ids}"
    assert plan.count() > 0  # and the plan itself still executes


@pytest.mark.parametrize("n", [1, 250, 505])
def test_salting_chain_pairs_exact(spark, n):
    """The salted candidate stage's exact pair set on one bucket of n
    identical vectors (cap 100): every pair inside a sub-bucket, plus a
    chain linking CONSECUTIVE sub-bucket representatives only.  n=1 is
    the singleton bucket (no pairs); n=250 is three sub-buckets and two
    links; n=505 is six sub-buckets, the last of five ids, and five
    links."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import similarity

    cap = 100
    dups = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_candidate_pairs(
            dups, "vec_id", "embedding",
            tables=1, bits=2, dim=8, max_bucket=cap,
        ).collect()
    }
    # sub-buckets are [0,100), [100,200), ...; representatives are
    # slots 0, 100, 200, ... (ids equal slots here: row_number orders by
    # vec_id)
    within = {
        (a, b) for a in range(n) for b in range(a + 1, n)
        if a // cap == b // cap
    }
    chain = {(s - cap, s) for s in range(cap, n, cap)}
    assert pairs == within | chain


def test_lsh_salting_recall_unchanged_on_normal_corpus(spark, sf_dir):
    """The default-on skew guard must be a no-op on a normal corpus
    (buckets ≤ max_bucket): candidate and verified pairs at the
    default cap are identical to the plain ``max_bucket=None``
    self-join's."""
    import inspect

    import pyarrow.parquet as pq

    from snowav_spark.ops import similarity

    path = f"{sf_dir}/embeddings.parquet"
    cap = inspect.signature(similarity.lsh_candidate_pairs).parameters[
        "max_bucket"
    ].default
    # each vector sits in one bucket per table, so no bucket can hold
    # more members than the table has rows
    assert pq.read_metadata(path).num_rows <= cap

    emb = spark.read.parquet(path)

    def sym_diff(a, b, stage):
        return (
            a.exceptAll(b)
            .unionByName(b.exceptAll(a))
            .select(F.lit(stage).alias("stage"))
        )

    cand = sym_diff(
        similarity.lsh_candidate_pairs(emb, "vec_id", "embedding"),
        similarity.lsh_candidate_pairs(
            emb, "vec_id", "embedding", max_bucket=None
        ),
        "candidates",
    )
    verified = sym_diff(
        similarity.dedup_pairs_lsh(
            emb, "vec_id", "embedding", 0.4, max_bucket=cap
        ),
        similarity.dedup_pairs_lsh(
            emb, "vec_id", "embedding", 0.4, max_bucket=None
        ),
        "verified",
    )
    stray = cand.unionByName(verified).limit(5).collect()
    assert not stray, stray


def test_semdedup_pairs_exact_scores_and_recall(spark, sf_dir):
    """SemDeDup (cluster-then-verify): every emitted pair's cosine is
    EXACT (equal to the global brute-force score for that pair) and a
    subset of the exact pair set; recall vs the exact twin is high on
    the fixture (clusters capture near-dups); nprobe-style degradation:
    n_cells=1 degrades gracefully to the full exact answer."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.cosine_pairs_above(
            emb, "vec_id", "embedding", 0.4
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.semdedup_pairs(
            emb, "vec_id", "embedding", 0.4, n_cells=16, iters=1,
            nprobe=4,
        ).collect()
    }
    assert set(got) <= set(exact)  # never a false pair
    assert all(got[p] == exact[p] for p in got)  # scores exact
    if exact:
        recall = len(got) / len(exact)
        assert recall >= 0.7, f"semdedup recall {recall:.2f} too low"

    # one cluster = the whole corpus: identical to brute force
    full = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.semdedup_pairs(
            emb, "vec_id", "embedding", 0.4, n_cells=1, iters=1
        ).collect()
    }
    assert full == exact


def test_semdedup_hot_cluster_bounded(spark):
    """A degenerate corpus (all-identical vectors → one cluster) stays
    linear through the shared bounded-cobucket kernel and resolves to
    one connected component."""
    from pyspark.sql import functions as F

    from snowav_spark.ops import graph, similarity

    dups = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    pairs = similarity.semdedup_pairs(
        dups, "vec_id", "embedding", 0.99,
        n_cells=4, iters=1, dim=8, max_cluster=50,
    )
    n = pairs.count()
    assert 0 < n <= (600 // 50) * 50 * 49 // 2 + 600 // 50
    comp = graph.connected_components(pairs, "id_a", "id_b")
    assert comp.select("label").distinct().count() == 1


def test_hier_router_routes_to_true_cells():
    """The two-level quantizer's routing (round 10): on well-separated
    centroids the routed top-p equals the exact flat top-p; output is
    deterministic; -1 backfill never leaks."""
    import numpy as np

    from snowav_spark.ops.similarity import _hier_router

    rng = np.random.default_rng(5)
    # 600 centroids in 6 well-separated blobs of 100
    blobs = rng.standard_normal((6, 8)) * 50.0
    cents = np.concatenate(
        [blobs[i] + rng.standard_normal((100, 8)) for i in range(6)]
    )
    route = _hier_router(cents.tolist(), 2, c_coarse=2)
    q = cents[::37] + 0.01  # queries near known centroids
    got = route(q.astype(np.float64))
    assert got.shape == (len(q), 2)
    assert (got >= 0).all() and (got < len(cents)).all()
    # exact flat top-2 for comparison
    d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    exact_top1 = d.argmin(1)
    # the true nearest centroid must be among the routed probes for
    # queries sitting essentially ON a centroid (no boundary ambiguity)
    hit = (got == exact_top1[:, None]).any(1)
    assert hit.mean() >= 0.95
    # determinism
    got2 = route(q.astype(np.float64))
    np.testing.assert_array_equal(got, got2)


def test_hier_router_small_groups_backfill():
    """Fewer fine cells than probes: duplicates allowed, -1 never."""
    import numpy as np

    from snowav_spark.ops.similarity import _hier_router

    cents = [[float(i), 0.0] for i in range(3)]
    route = _hier_router(cents, 4, c_coarse=2)
    out = route(np.array([[0.1, 0.0], [2.9, 0.0]]))
    assert (out >= 0).all() and (out < 3).all()
