"""Snapshot time travel + change data feed (the CDC engine's downstream face)."""

from __future__ import annotations

import pandas as pd

from hdata_spark.fixtures import oracle_final_state, sha256_fingerprint
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import assert_state_equal


def _replayed(spark, tmp_path, base, events, upto=None):
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=8)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_delta_files=None),  # keep every snapshot readable
        upto_epoch=upto,
    )
    return table


def test_time_travel_reproduces_any_epoch_state(spark, tmp_path, small_fixture):
    base, events = small_fixture
    table = _replayed(spark, tmp_path, base, events)
    # version 1 = base overwrite; each epoch commit bumps by 1 (fast-append)
    v_base = 1
    assert_state_equal(
        table.read(spark, version=v_base).toPandas(), base
    )
    # intermediate epoch k: state == oracle applied through epoch k's lsn
    for k in (0, 2):
        upto_lsn = int(events[events["epoch"] <= k]["lsn"].max())
        assert_state_equal(
            table.read(spark, version=v_base + 1 + k).toPandas(),
            oracle_final_state(base, events, upto_lsn),
        )
    # current == full oracle
    assert_state_equal(
        table.read(spark).toPandas(), oracle_final_state(base, events)
    )


def test_change_feed_classifies_and_composes(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(rows))
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
         "content": "a1", "lsn": 1, "op": "insert"},
        {"repo": "o/r", "path": "b.py", "commit": "c2", "lang": "python",
         "content": "b1", "lsn": 2, "op": "insert"},
    ]))
    v1 = table.current_version()
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c3", "lang": "python",
         "content": "a2", "lsn": 3, "op": "update"},         # update a
        {"repo": "o/r", "path": "b.py", "commit": None, "lang": None,
         "content": None, "lsn": 4, "op": "delete"},          # delete b
        {"repo": "o/r", "path": "c.py", "commit": "c5", "lang": "python",
         "content": "c1", "lsn": 5, "op": "insert"},          # insert c
    ]))
    v2 = table.current_version()
    feed = {
        r["path"]: r
        for r in table.changes_between(spark, v1, v2).collect()
    }
    assert feed["a.py"]["change_type"] == "update"
    assert feed["a.py"]["content"] == "a2"
    assert feed["a.py"]["_change_lsn"] == 3
    assert feed["b.py"]["change_type"] == "delete"
    assert feed["c.py"]["change_type"] == "insert"
    assert len(feed) == 3
    # identical snapshots -> empty feed
    assert table.changes_between(spark, v2, v2).count() == 0
    # applying the feed to the v1 snapshot reproduces v2 (feed is a valid
    # change log: compose-ability)
    t2 = SnapshotTable(str(tmp_path / "t2"), n_buckets=4)
    t2.overwrite(spark, table.read(spark, version=v1), lsn_col=None)
    from pyspark.sql import functions as F

    fdf = table.changes_between(spark, v1, v2).withColumnRenamed(
        "_change_lsn", "lsn"
    ).withColumn(
        "op",
        F.when(F.col("change_type") == "delete", "delete").otherwise("update"),
    ).drop("change_type").withColumn("lsn", F.col("lsn") + 100)  # newer than v1 rows
    t2.merge(spark, fdf)
    assert sha256_fingerprint(t2.read(spark).toPandas()) == sha256_fingerprint(
        table.read(spark, version=v2).toPandas()
    )


def test_change_feed_sees_expired_tombstone_delete(spark, tmp_path):
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(rows))
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
         "content": "a1", "lsn": 1, "op": "insert"},
    ]))
    v1 = table.current_version()
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": None, "lang": None,
         "content": None, "lsn": 2, "op": "delete"},
    ]))
    table.compact(spark, expire_tombstones_below_lsn=10)  # tombstone gone
    v3 = table.current_version()
    feed = table.changes_between(spark, v1, v3).collect()
    assert len(feed) == 1 and feed[0]["change_type"] == "delete"


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """CDF spanning add+rename boundaries: both sides project to the current
    logical schema (lineage + null-fill), no unresolved columns."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(rows))
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
         "content": "a1", "lsn": 1, "op": "insert"},
    ]))
    v1 = table.current_version()
    reg = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    reg.apply_change("add", "stars", "int", at_lsn=2)
    table.evolve_schema(reg.spec)
    table.merge(spark, mk([
        {"repo": "o/r", "path": "b.py", "commit": "c3", "lang": "python",
         "content": "b1", "stars": 5, "lsn": 3, "op": "insert"},
    ]))
    reg.apply_change("rename", "stars", "stargazers", at_lsn=4)
    table.evolve_schema(reg.spec)
    v2 = table.current_version()
    feed = {r["path"]: r for r in table.changes_between(spark, v1, v2).collect()}
    assert feed["b.py"]["change_type"] == "insert"
    assert feed["b.py"]["stargazers"] == 5  # value resolves through rename
    assert "a.py" not in feed  # unchanged rows are not emitted


def test_change_feed_reports_null_valued_updates(spark, tmp_path):
    """An update that sets a column to NULL must surface the NULL, not the
    previous value (coalesce would resurrect it)."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    mk = lambda rows, s=None: spark.createDataFrame(pd.DataFrame(rows)) if s is None else spark.createDataFrame(rows, s)
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
         "content": "a1", "lsn": 1, "op": "insert"},
    ]))
    v1 = table.current_version()
    schema = ("repo string, path string, commit string, lang string, "
              "content string, lsn long, op string")
    table.merge(spark, mk([("o/r", "a.py", "c2", None, "a2", 2, "update")], schema))
    v2 = table.current_version()
    row = table.changes_between(spark, v1, v2).collect()[0]
    assert row["change_type"] == "update"
    assert row["lang"] is None  # NULL survives, old value not resurrected
    assert row["content"] == "a2"


def test_change_feed_expired_tombstone_has_unknown_lsn(spark, tmp_path):
    """Delete detected only by absence (tombstone expired): provenance LSN
    is unknown and must be NULL, not the old row's own LSN (a downstream
    merge at the old LSN would tie and silently drop the delete)."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(rows))
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
         "content": "a1", "lsn": 1, "op": "insert"},
    ]))
    v1 = table.current_version()
    table.merge(spark, mk([
        {"repo": "o/r", "path": "a.py", "commit": None, "lang": None,
         "content": None, "lsn": 2, "op": "delete"},
    ]))
    table.compact(spark, expire_tombstones_below_lsn=10)
    feed = table.changes_between(spark, v1, table.current_version()).collect()
    assert feed[0]["change_type"] == "delete"
    assert feed[0]["_change_lsn"] is None
