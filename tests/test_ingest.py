"""Incremental ingest plan (plans/ingest.py): two-shard == one-batch
equivalence, crash-retry idempotency (mirrors the pipeline resume tests),
and state-geometry validation.

Reference anchor: resume/merge at /root/reference/src/extractor.py:46-104 —
"load existing results, process only new inputs, merge" — at shard
granularity over the curation chain instead of file granularity over
extraction.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ontology_pipeline_spark.plans.curate import curate_documents
from ontology_pipeline_spark.plans.ingest import (
    ParquetStateStore,
    ingest_shard,
    read_curated,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    ).cache()


def _split_by_id(docs, cut):
    """Id-ordered shards: shard 1 holds the low ids, so the incremental
    first-shard-wins representative equals the batch min-id representative."""
    return docs.filter(F.col("doc_id") < cut), docs.filter(F.col("doc_id") >= cut)


def _ids(df):
    return {r["doc_id"] for r in df.select("doc_id").collect()}


def test_two_shards_equal_one_batch(spark, docs, tmp_path):
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    s1, s2 = _split_by_id(docs, int(cut))
    state = str(tmp_path / "state")

    r1 = ingest_shard(spark, s1, state, "day_001")
    r2 = ingest_shard(spark, s2, state, "day_002")
    assert r1["new_docs"] > 0 and r2["new_docs"] > 0
    # counters in the summary match the lineage table
    lin = {
        r["shard_id"]: r["new_docs"]
        for r in ParquetStateStore(state).read_lineage(spark).collect()
    }
    assert lin == {"day_001": r1["new_docs"], "day_002": r2["new_docs"]}

    batch = curate_documents(docs)
    incr = read_curated(spark, state)
    assert _ids(incr) == _ids(batch)
    # full-row equality, not just ids: gates columns ride along identically
    assert sorted(map(tuple, incr.collect())) == sorted(map(tuple, batch.collect()))


def test_crossshard_exact_and_near_dups_dropped(spark, docs, tmp_path):
    """Shard 2 re-sends byte-identical and lightly-perturbed copies of shard-1
    survivors: the exact copies die on the fingerprint anti-join, the
    perturbed ones on the MinHash probe — without re-reading shard-1 text."""
    state = str(tmp_path / "state")
    s1 = docs.filter(F.col("doc_id") < 500)
    ingest_shard(spark, s1, state, "day_001")
    surv1 = read_curated(spark, state)

    exact_copy = surv1.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "source", "text"
    ).limit(8)
    # drop ONE 10+-char token from the tail: >= 0.8 estimated Jaccard on
    # 2-shingles of a ~100-token doc, caught by the banded probe
    near_copy = surv1.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "source",
        F.regexp_replace("text", r" \S{10,}\s*$", "").alias("text"),
    ).limit(8)
    s2 = exact_copy.unionByName(near_copy)
    r2 = ingest_shard(spark, s2, state, "day_002")
    surviving_new = _ids(read_curated(spark, state)) - _ids(surv1)
    # every exact copy is gone; near-copies die when banding catches them
    assert all(i < 200000 or i >= 300000 for i in surviving_new | {0})
    assert not any(100000 <= i < 200000 for i in surviving_new)
    assert r2["new_docs"] < 16  # at least the 8 exact copies dropped


def test_crashed_shard_invisible_then_recovered(spark, docs, tmp_path):
    """Crash between the state write and the lineage write (simulated by
    deleting the shard's lineage partition): the orphan shard is invisible to
    every committed view, the retry overwrites it cleanly, and the final
    state equals a never-crashed two-shard run."""
    state = str(tmp_path / "state")
    s1, s2 = _split_by_id(docs, 250)
    ingest_shard(spark, s1, state, "day_001")
    ingest_shard(spark, s2, state, "day_002")
    store = ParquetStateStore(state)
    committed_before = sorted(map(tuple, read_curated(spark, state).collect()))
    fps_before = store.read_fingerprints(spark).count()

    # simulate the crash window: day_002's state partitions exist, lineage not
    shutil.rmtree(f"{state}/lineage/shard_id=day_002")
    only1 = read_curated(spark, state)
    assert _ids(only1) and _ids(only1) == _ids(only1.filter(F.col("doc_id") < 250))
    assert store.read_fingerprints(spark).filter(
        F.col("shard_id") == "day_002"
    ).count() == 0  # orphan fingerprints invisible to the probe path too

    # retry under the SAME shard_id: reprocesses (not skipped), replaces
    r = ingest_shard(spark, s2, state, "day_002")
    assert r["new_docs"] > 0
    assert sorted(map(tuple, read_curated(spark, state).collect())) == committed_before
    assert store.read_fingerprints(spark).count() == fps_before

    # idempotent re-run of a committed shard: skipped, nothing changes
    r = ingest_shard(spark, s2, state, "day_002")
    assert r["new_docs"] == 0
    assert sorted(map(tuple, read_curated(spark, state).collect())) == committed_before


def test_geometry_mismatch_raises(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    ingest_shard(spark, docs.limit(50), state, "day_001", num_hashes=32, bands=8)
    with pytest.raises(ValueError, match="geometry mismatch"):
        ingest_shard(spark, docs.limit(50), state, "day_002", num_hashes=32, bands=4)


def test_geometry_guard_rejects_mixed_state(spark, docs, tmp_path):
    """A lineage table that already holds two geometries (hand-corrupted)
    is refused whichever of the two the call asks for: a guard that checks
    one arbitrary lineage row would let one of the calls through."""
    state = str(tmp_path / "state")
    store = ParquetStateStore(state)
    ingest_shard(spark, docs.limit(50), state, "day_001", num_hashes=32, bands=8)
    lin = store.read_lineage(spark)
    (
        lin.withColumn("shard_id", F.lit("day_009"))
        .withColumn("bands", F.lit(4).cast(lin.schema["bands"].dataType))
        .write.mode("append")
        .partitionBy("shard_id")
        .parquet(store.lineage_path)
    )
    assert store.read_lineage(spark).select("bands").distinct().count() == 2
    for bands in (8, 4):
        with pytest.raises(ValueError, match="geometry mismatch"):
            ingest_shard(spark, docs.limit(50), state, "day_002", num_hashes=32, bands=bands)
