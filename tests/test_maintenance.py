"""Table maintenance: MOR compaction, tombstone expiry, orphan vacuum."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from hdata_spark.fixtures import oracle_final_state, sha256_fingerprint
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import assert_state_equal


def test_compact_folds_deltas(spark, tmp_path, small_fixture):
    """Fast-append leaves per-epoch delta files; compact folds to 1/bucket."""
    base, events = small_fixture
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=8)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_delta_files=None),
    )
    # per-epoch delta files, each live in many buckets
    assert table.delta_file_count() > 0 and table.delta_bucket_count() > 8
    fp_before = sha256_fingerprint(table.read(spark).toPandas())
    stats = table.compact(spark)
    assert stats["buckets"] <= 8
    assert table.delta_file_count() == table.delta_bucket_count() == 0
    assert sha256_fingerprint(table.read(spark).toPandas()) == fp_before
    expected = oracle_final_state(base, events)
    assert_state_equal(table.read(spark).toPandas(), expected)


def test_tombstone_expiry(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    rows = pd.DataFrame(
        [
            {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
             "content": "keep", "lsn": 1, "op": "insert"},
            {"repo": "o/r", "path": "b.py", "commit": "c2", "lang": "python",
             "content": "gone", "lsn": 2, "op": "insert"},
        ]
    )
    table.merge(spark, spark.createDataFrame(rows))
    dele = rows.iloc[[1]].assign(lsn=9, op="delete")
    table.merge(spark, spark.createDataFrame(dele))
    # tombstone is a hidden ROW, not absence
    assert table.read(spark).count() == 1
    internal = table.read_internal(spark)
    assert internal.count() == 2
    assert internal.filter(F.col("_op") == "d").count() == 1
    # expiry below watermark 10 (> tombstone lsn 9) physically removes it;
    # only safe once the ledger guarantees no replay below the watermark.
    table.compact(spark, expire_tombstones_below_lsn=10)
    assert table.read_internal(spark).count() == 1
    assert table.read(spark).count() == 1
    # a tombstone AT/ABOVE the watermark survives
    dele2 = rows.iloc[[0]].assign(lsn=20, op="delete")
    table.merge(spark, spark.createDataFrame(dele2))
    table.compact(spark, expire_tombstones_below_lsn=15)
    assert table.read_internal(spark).filter(F.col("_op") == "d").count() == 1
    assert table.read(spark).count() == 0


def test_concurrent_commit_loses_cleanly(spark, tmp_path):
    """Two writers racing for the same snapshot version: exactly one wins,
    the loser gets ConcurrentCommitError and the table stays consistent."""
    import pytest

    from hdata_spark.sinks.snapshot import ConcurrentCommitError

    t = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    rows = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "o/r", "path": "a.py", "commit": "c", "lang": "python",
              "content": "v", "lsn": 1, "op": "insert"}]
        )
    )
    t.merge(spark, rows)
    v = t.current_version()
    # writer B commits v+1 under writer A's feet
    m = t._read_manifest(v)
    t._commit(v + 1, dict(m))
    # writer A (stale view of the table at v) now tries the same version
    with pytest.raises(ConcurrentCommitError):
        t._commit(v + 1, dict(m))
    assert t.current_version() == v + 1
    assert t.read(spark).count() == 1


def test_vacuum_removes_unreferenced_files(spark, tmp_path, small_fixture):
    base, events = small_fixture
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=8)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_delta_files=0),  # compacts -> pre-compaction files orphaned
    )
    fp = sha256_fingerprint(table.read(spark).toPandas())
    removed = table.vacuum()
    assert removed > 0
    assert sha256_fingerprint(table.read(spark).toPandas()) == fp

    # A delta file shared by buckets stays while any bucket holds it live.
    table = SnapshotTable(str(tmp_path / "shared"), n_buckets=8)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l2")), MetricsLog(str(tmp_path / "m2")),
        SchemaRegistry(state_path=str(tmp_path / "r2.json")),
        ReplayConfig(compact_delta_files=None),
    )
    files = table._read_manifest(table.current_version())["files"]
    deltas = {f: e["buckets"] for f, e in files.items() if e["delta"]}
    assert all(len(live) > 1 for live in deltas.values())
    for folded in ([0, 1, 2, 3], [4, 5, 6, 7]):
        v = table.current_version()
        table._commit(v + 1, table._rewrite(spark, table._read_manifest(v), folded))
        removed = table.vacuum()
        left = [f for f in deltas if os.path.exists(os.path.join(table.root, f))]
        assert left == ([] if folded[0] else list(deltas))
        assert removed == len(folded) + (len(deltas) if folded[0] else 0)
        assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))


def test_delta_file_count_zero_after_compact(spark, tmp_path, small_fixture):
    base, events = small_fixture
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=8)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_delta_files=None),
    )
    assert table.delta_file_count() > 0
    table.compact(spark)
    assert table.delta_file_count() == 0  # counts DELTAS, not data files
    m = table._read_manifest(table.current_version())
    assert sum(not e["delta"] for e in m["files"].values()) > 0
    # empty fast-append must add no delta entry, so reads run no merge-on-read
    # window (no pointless read shuffle)
    table.register_deltas({})
    assert table.delta_file_count() == 0
    files = table._read_manifest(table.current_version())["files"]
    assert files == m["files"]
    plan = table.read_internal(spark)._jdf.queryExecution().analyzed().toString()
    assert "Window" not in plan


def test_overwrite_with_duplicate_keys_keeps_one_row(spark, tmp_path):
    """Tied LSNs (overwrite stamps lsn=0) must not defeat the merge dedup."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    dup = pd.DataFrame(
        [
            {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
             "content": "v1"},
            {"repo": "o/r", "path": "a.py", "commit": "c2", "lang": "python",
             "content": "v2"},
            {"repo": "o/r", "path": "b.py", "commit": "c3", "lang": "python",
             "content": "v3"},
        ]
    )
    table.overwrite(spark, spark.createDataFrame(dup))
    out = table.read(spark).toPandas()
    assert len(out) == 2  # exactly one row per key
    assert set(out["path"]) == {"a.py", "b.py"}


def test_reopen_with_different_layout_adopts_stored(spark, tmp_path):
    """Manifest-recorded keys/n_buckets win over constructor defaults: a
    mismatched reopen must not silently re-bucket merges."""
    t1 = SnapshotTable(str(tmp_path / "t"), n_buckets=16)
    rows = pd.DataFrame(
        [{"repo": "o/r", "path": f"f{i}.py", "commit": "c", "lang": "python",
          "content": f"v{i}", "lsn": i + 1, "op": "insert"} for i in range(20)]
    )
    t1.merge(spark, spark.createDataFrame(rows)); assert t1.n_buckets == 16
    # reopen with the (different) default bucket count
    t2 = SnapshotTable(str(tmp_path / "t"))
    assert t2.n_buckets == 16 and t2.keys == ["repo", "path"]
    upd = rows.iloc[[0]].assign(lsn=99, content="new")
    t2.merge(spark, spark.createDataFrame(upd))
    out = t2.read(spark).toPandas()
    assert len(out) == 20  # no duplicated key from a mis-bucketed merge
    assert out.set_index("path").loc["f0.py", "content"] == "new"


def test_orphan_manifest_adopted_after_crashed_publish(spark, tmp_path):
    """Crash between the exclusive manifest claim and the pointer swap: the
    orphan manifest is a committed snapshot whose publish was lost — it must
    be adopted, not collide with every future commit."""
    import json

    t = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    t.merge(spark, spark.createDataFrame(pd.DataFrame(
        [{"repo": "o/r", "path": "a.py", "commit": "c", "lang": "python",
          "content": "v", "lsn": 1, "op": "insert"}]
    )))
    v = t.current_version()
    # simulate the crash window: manifest for v+1 exists, pointer still at v
    m = t._read_manifest(v)
    m["version"] = v + 1
    with open(t._manifest_path(v + 1), "w") as f:
        json.dump(m, f)
    assert t.current_version() == v + 1  # orphan adopted
    # and the table is not wedged: the next commit proceeds on top of it
    t.merge(spark, spark.createDataFrame(pd.DataFrame(
        [{"repo": "o/r", "path": "b.py", "commit": "c2", "lang": "python",
          "content": "w", "lsn": 2, "op": "insert"}]
    )))
    assert t.current_version() == v + 2
    assert t.read(spark).count() == 2
