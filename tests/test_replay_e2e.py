"""Golden final-state tests (SURVEY §5.2.1-4): engine replay vs Python oracle."""

from __future__ import annotations

import pandas as pd
import pytest

from hdata_spark.fixtures import (
    CDCFixtureConfig,
    generate_base,
    generate_events,
    oracle_final_state,
    sha256_fingerprint,
)
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import assert_state_equal


def _mk_engine(tmp_path, n_buckets=16):
    table = SnapshotTable(str(tmp_path / "table"), n_buckets=n_buckets)
    ledger = CommitLedger(str(tmp_path / "ledger"))
    metrics = MetricsLog(str(tmp_path / "metrics"))
    registry = SchemaRegistry(state_path=str(tmp_path / "registry.json"))
    return table, ledger, metrics, registry


def _run(spark, tmp_path, base, events, cfg=None, upto_epoch=None, engine=None):
    table, ledger, metrics, registry = engine or _mk_engine(tmp_path)
    if len(base):
        table.overwrite(spark, spark.createDataFrame(base))
    ev = spark.createDataFrame(events)
    stats = replay(
        spark, ev, table, ledger, metrics, registry,
        cfg or ReplayConfig(), upto_epoch=upto_epoch,
    )
    return table, ledger, metrics, registry, stats


def test_golden_final_state(spark, tmp_path, small_fixture):
    base, events = small_fixture
    table, ledger, metrics, registry, stats = _run(spark, tmp_path, base, events)
    actual = table.read(spark).toPandas()
    expected = oracle_final_state(base, events)
    assert_state_equal(actual, expected)
    assert stats["epochs_applied"] == 4
    assert len(ledger.committed_epochs()) == 4
    # stored derived column == sha256(content) for every row (the per-row
    # invariant the north-star verifies against the reference)
    import hashlib

    for r in actual.itertuples():
        assert r.content_sha256 == hashlib.sha256(r.content.encode()).hexdigest()


def test_replay_from_empty_table(spark, tmp_path, small_fixture):
    _base, events = small_fixture
    empty = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    table, *_ = _run(spark, tmp_path, empty, events)
    actual = table.read(spark).toPandas()
    expected = oracle_final_state(empty, events)
    assert_state_equal(actual, expected)


def test_resume_from_every_checkpoint(spark, tmp_path, small_fixture):
    """Kill-and-resume at each epoch boundary -> bit-for-bit identical state."""
    base, events = small_fixture
    expected = oracle_final_state(base, events)
    n_epochs = int(events["epoch"].max()) + 1
    for stop_at in range(n_epochs):
        d = tmp_path / f"resume_{stop_at}"
        d.mkdir()
        engine = _mk_engine(d)
        # phase 1: run up to `stop_at`, simulating a crash after it commits
        _run(spark, d, base, events, upto_epoch=stop_at, engine=engine)
        # phase 2: fresh replay over the same ledger resumes the tail
        table, ledger, metrics, registry, stats = _run(
            spark, d, pd.DataFrame(columns=base.columns), events, engine=engine
        )
        assert stats["epochs_skipped"] == stop_at + 1
        assert_state_equal(table.read(spark).toPandas(), expected)


def test_idempotent_reapply(spark, tmp_path, small_fixture):
    """Re-merging an already-committed epoch changes nothing (stored-LSN LWW)."""
    base, events = small_fixture
    table, ledger, metrics, registry, _ = _run(spark, tmp_path, base, events)
    before = sha256_fingerprint(table.read(spark).toPandas())
    # brute-force re-apply epoch 0 straight into the sink, bypassing the ledger
    from pyspark.sql import functions as F

    from hdata_spark.functions.text import normalize_lang_col
    from hdata_spark.operators.dedup import lww_latest

    ev = spark.createDataFrame(events)
    batch = (
        ev.filter((F.col("epoch") == 0) & (F.col("op") != "schema_change"))
        .withColumn("lang", normalize_lang_col(F.col("lang")))
        .select("repo", "path", "commit", "lang", "content", "lsn", "op")
    )
    table.merge(spark, lww_latest(batch))
    after = sha256_fingerprint(table.read(spark).toPandas())
    assert before == after


def test_lww_shuffle_invariance(spark, tmp_path, small_fixture):
    """Shuffled event order within batches -> identical final state."""
    base, events = small_fixture
    shuffled = events.sample(frac=1.0, random_state=7).reset_index(drop=True)
    table, *_ = _run(spark, tmp_path, base, shuffled)
    assert_state_equal(
        table.read(spark).toPandas(), oracle_final_state(base, events)
    )


def test_delete_then_reinsert_within_epoch(spark, tmp_path):
    """A delete must not shadow a later reinsert in the same epoch (LSN wins)."""
    base = pd.DataFrame(
        [{"repo": "o/r", "path": "a.py", "commit": "c0", "lang": "python",
          "content": "v0"}]
    )
    events = pd.DataFrame(
        [
            {"lsn": 1, "epoch": 0, "op": "delete", "repo": "o/r", "path": "a.py",
             "commit": None, "lang": None, "content": None,
             "sc_kind": None, "sc_column": None, "sc_arg": None},
            {"lsn": 2, "epoch": 0, "op": "insert", "repo": "o/r", "path": "a.py",
             "commit": "c2", "lang": "py", "content": "v2",
             "sc_kind": None, "sc_column": None, "sc_arg": None},
        ]
    )
    table, *_ = _run(spark, tmp_path, base, events)
    out = table.read(spark).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["content"] == "v2"
    assert out.iloc[0]["lang"] == "python"  # normalized from "py"


def test_update_to_never_inserted_key_upserts(spark, tmp_path):
    base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    events = pd.DataFrame(
        [
            {"lsn": 1, "epoch": 0, "op": "update", "repo": "o/r", "path": "new.py",
             "commit": "c1", "lang": "Python", "content": "hello",
             "sc_kind": None, "sc_column": None, "sc_arg": None},
        ]
    )
    table, *_ = _run(spark, tmp_path, base, events)
    out = table.read(spark).toPandas()
    assert len(out) == 1 and out.iloc[0]["content"] == "hello"


def test_crash_between_data_commit_and_ledger(spark, tmp_path, small_fixture):
    """Crash window: data snapshot committed but ledger write lost. The
    resumed replay re-applies that epoch; stored-LSN LWW makes it a no-op
    (the ledger is the fast path, NOT the correctness anchor)."""
    import os

    base, events = small_fixture
    table, ledger, metrics, registry, _ = _run(spark, tmp_path, base, events)
    expected_fp = sha256_fingerprint(table.read(spark).toPandas())
    # simulate the crash: drop the newest ledger entry (data already applied)
    newest = sorted(os.listdir(ledger.root))[-1]
    os.remove(os.path.join(ledger.root, newest))
    _, _, _, _, stats = _run(
        spark, tmp_path, pd.DataFrame(columns=base.columns), events,
        engine=(table, ledger, metrics, registry),
    )
    assert stats["epochs_applied"] == 1  # only the unledgered epoch re-runs
    assert sha256_fingerprint(table.read(spark).toPandas()) == expected_fp

