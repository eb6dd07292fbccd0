"""Incremental MinHash index: batched ingest == from-scratch dedup, and the
per-batch cost is provably batch-sized (plan-asserted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hdata_spark.operators.incremental_dedup import _INDEX_SCHEMA, MinHashIndex
from hdata_spark.operators.text_dedup import minhash_lsh_candidates
from hdata_spark.sinks.snapshot import SnapshotTable

SF_DIR = "/root/testdata/sf0.001"


def _pairs(df):
    return {
        (r["doc_a"], r["doc_b"], r["n_shared_bands"]) for r in df.collect()
    }


def _split_docs(spark, tmp_path):
    """Write the fixture docs as two batch parquet files (distinct paths so
    plan assertions can tell the batches apart)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    b1 = str(tmp_path / "batch1.parquet")
    b2 = str(tmp_path / "batch2.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(b1)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("overwrite").parquet(b2)
    return docs, b1, b2


def test_incremental_equals_from_scratch(spark, tmp_path):
    docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    assert _pairs(idx.candidate_pairs(spark)) == _pairs(
        minhash_lsh_candidates(docs)
    )


def test_batch_ingest_signatures_only_its_own_docs(spark, tmp_path):
    """The merged frame for batch 2 derives from batch 2's file alone: its
    plan scans exactly one parquet source, and it is not batch 1's."""
    _docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    from tests.test_plans import full_explain, plan_of

    frame = idx._batch_bands(spark.read.parquet(b2), batch_lsn=2)
    assert plan_of(frame).count("Scan parquet") == 1
    plan = full_explain(frame)
    assert "batch2.parquet" in plan and "batch1.parquet" not in plan


def test_reingest_same_batch_is_noop(spark, tmp_path):
    _docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    before = _pairs(idx.candidate_pairs(spark))
    n_rows = idx.table.read(spark).count()
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)  # crash-replay
    assert idx.table.read(spark).count() == n_rows
    assert _pairs(idx.candidate_pairs(spark)) == before


def test_candidates_for_batch_is_new_docs_slice(spark, tmp_path):
    """The incremental query returns exactly the full pair set restricted
    to pairs touching a batch-2 doc — with identical n_shared_bands."""
    docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    new_ids = {r["doc_id"] for r in spark.read.parquet(b2).select("doc_id").collect()}
    full = _pairs(minhash_lsh_candidates(docs))
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    got = _pairs(idx.candidates_for_batch(spark, since_lsn=1))
    assert got == expected
    assert got != full  # some old-old pairs exist and are excluded


def test_replace_reingest_changed_text(spark, tmp_path):
    """Re-ingesting docs whose TEXT changed with replace=True converges to
    exactly the from-scratch pair set over the final texts (stale band rows
    tombstoned); a crashed re-run of the replace batch is a no-op."""
    docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    # re-crawl: every batch-2 doc's text changes (append a shingle-shifting
    # suffix so band signatures genuinely move)
    changed = spark.read.parquet(b2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" recrawled content drift"))
    )
    idx.ingest(spark, changed, batch_lsn=3, replace=True)
    final_docs = docs.filter(F.col("doc_id") % 2 == 0).unionByName(changed)
    expected = _pairs(minhash_lsh_candidates(final_docs))
    assert _pairs(idx.candidate_pairs(spark)) == expected
    # crash-replay of the replace batch: no-op
    n_rows = idx.table.read(spark).count()
    idx.ingest(spark, changed, batch_lsn=3, replace=True)
    assert idx.table.read(spark).count() == n_rows
    assert _pairs(idx.candidate_pairs(spark)) == expected


def test_delete_removes_docs_from_index(spark, tmp_path):
    docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    gone = spark.read.parquet(b2).select("doc_id").limit(20)
    idx.delete(spark, gone, batch_lsn=3)
    gone_ids = {r["doc_id"] for r in gone.collect()}
    # an int-typed doc_ids frame must hit the same buckets as the stored
    # bigint doc_ids
    more = (
        spark.read.parquet(b1).select(F.col("doc_id").cast("int"))
        .orderBy("doc_id").limit(20)
    )
    idx.delete(spark, more, batch_lsn=4)
    gone_ids |= {r["doc_id"] for r in more.collect()}
    kept = docs.filter(~F.col("doc_id").isin(list(gone_ids)))
    assert _pairs(idx.candidate_pairs(spark)) == _pairs(
        minhash_lsh_candidates(kept)
    )


def test_index_reopen_keeps_geometry(spark, tmp_path):
    _docs, b1, _b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"), n_perms=8, n_bands=4)
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    # reopen with DIFFERENT constructor args: stored geometry wins
    idx2 = MinHashIndex(str(tmp_path / "index"), n_perms=16, n_bands=8)
    assert (idx2.n_perms, idx2.n_bands) == (8, 4)
    assert idx2.max_ingested_lsn() == 1


def test_replace_and_delete_reads_bucket_pruned(spark, tmp_path):
    """The replace/delete read path is BOUNDED BY THE BATCH'S BUCKETS
    (round-4 VERDICT item 5): with the index bucketed on doc_id, the stored
    rows consulted for staleness/tombstoning come only from manifest-pruned
    bucket files — never a full-index scan — and the results are unchanged.
    A stored table bucketed otherwise is refused at open."""
    docs, b1, b2 = _split_docs(spark, tmp_path)
    idx = MinHashIndex(str(tmp_path / "index"))
    idx.ingest(spark, spark.read.parquet(b1), batch_lsn=1)
    idx.ingest(spark, spark.read.parquet(b2), batch_lsn=2)
    assert idx.table.bucket_cols == ["doc_id"]

    one = spark.read.parquet(b2).limit(1)
    target = one.collect()[0]["doc_id"]
    ids = spark.createDataFrame([(int(target),)], "doc_id long")

    buckets = idx._doc_buckets(ids)
    assert len(buckets) == 1  # one doc -> one bucket

    pruned = idx._band_rows(spark, buckets=buckets)
    files = {f for f in pruned.inputFiles()}
    assert files, "pruned read lists at least the bucket's files"
    for f in files:
        assert f"bucket={buckets[0]}/" in f or f"bucket={buckets[0]}%" in f, f
    # the unpruned index spans many buckets — pruning really dropped files
    all_files = set(idx._band_rows(spark).inputFiles())
    assert len(files) < len(all_files)

    # behavior: delete through the pruned path removes the doc's pairs,
    # and equals a from-scratch run over the surviving docs
    idx.delete(spark, ids, batch_lsn=3)
    survivors = docs.filter(F.col("doc_id") != int(target))
    assert _pairs(idx.candidate_pairs(spark)) == _pairs(
        minhash_lsh_candidates(survivors)
    )

    other = str(tmp_path / "full_key_bucketed")
    SnapshotTable(other, keys=("band_idx", "band_sig", "doc_id")).evolve_schema(
        _INDEX_SCHEMA
    )
    with pytest.raises(ValueError, match=r"bucket_cols \['band_idx', 'band_sig', 'doc_id'\]"):
        MinHashIndex(other)
