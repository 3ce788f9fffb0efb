"""Sink write semantics: idempotent appends converge on retry."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def test_idempotent_append_sweeps_legacy_digest_files(spark, tmp_path):
    """A batch committed under the pre-r11 digest format (bare sum hex)
    left ``append-<sum>-<seq>.parquet`` files; a retry under today's
    ``<sum>-<xor>-<n>`` digest must sweep them (same content, same sum
    field) or the batch is silently duplicated — while a new-format
    file of a DIFFERENT digest that merely shares the sum field must
    survive the sweep."""
    from snowav_spark import sinks

    root = str(tmp_path / "ds")
    base = spark.range(8).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    base.write.partitionBy("part").parquet(root)
    batch = spark.range(100, 124).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    digest = sinks.content_digest(batch, "id", "part")
    assert digest.count("-") == 2  # sum-xor-count format
    legacy = digest.split("-", 1)[0]

    # simulate the pre-r11 commit: same files, legacy names
    sinks.idempotent_append(batch, root, digest, partition_by=("part",))
    legacy_files, bystanders = [], []
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for i, f in enumerate(sorted(files)):
            if f.startswith(f"append-{digest}-"):
                old = os.path.join(dirpath, f"append-{legacy}-{i}.parquet")
                os.rename(os.path.join(dirpath, f), old)
                legacy_files.append(old)
                # a different new-format digest sharing the sum field:
                # must NOT be swept (only sum-collides, not same batch)
                other = os.path.join(
                    dirpath, f"append-{legacy}-deadbeef-7-{i}.parquet"
                )
                shutil.copy(old, other)
                bystanders.append(other)
    assert legacy_files, "setup produced no legacy-named files"

    # the retried append (new digest) must converge: legacy files gone,
    # exactly one copy of the batch present, bystanders untouched
    sinks.idempotent_append(batch, root, digest, partition_by=("part",))
    for old in legacy_files:
        assert not os.path.exists(old), f"legacy file survived: {old}"
    for other in bystanders:
        assert os.path.exists(other), f"bystander swept: {other}"
        os.remove(other)  # so the row-count check below is clean
    got = sorted(r.id for r in spark.read.parquet(root).collect())
    assert got == sorted(list(range(8)) + list(range(100, 124)))
