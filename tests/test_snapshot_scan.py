"""Snapshot scans planned from the manifest: every writer writes its
generation's declared schema, and building a scan launches no Spark job."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyarrow.parquet as pq

from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

_EVENTS = (
    "lsn int, epoch int, op string, repo string, path string, commit bigint, "
    "lang string, content string, stars bigint, sc_kind string, "
    "sc_column string, sc_arg string"
)
_ARROW = {"string": "string", "int": "int32", "bigint": "int64"}


def _replay(spark, tmp_path, table, rows):
    replay(
        spark, spark.createDataFrame(rows, _EVENTS), table,
        CommitLedger(str(tmp_path / "l")), MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
        ReplayConfig(compact_at_end=False),
    )


def _sc(lsn, epoch, kind, column, arg):
    return (lsn, epoch, "schema_change", None, None, None, None, None, None,
            kind, column, arg)


def _ev(lsn, epoch, op, path, commit, content, stars):
    return (lsn, epoch, op, "o/r", path, commit, "python", content, stars,
            None, None, None)


def _rows(df):
    cols = [c for c in ("path", "commit", "content", "stars") if c in df.columns]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_writers_write_the_declared_schema(spark, tmp_path):
    """A batch whose types differ from the spec (commit bigint, lsn int)
    merged into a default-spec table, then a delta generation of events
    with the same off-spec types: every file carries exactly its
    generation's declared schema, and every version reads back."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    table.merge(spark, spark.createDataFrame(
        [("o/r", "a.py", 11, "python", "a1", 1, "insert"),
         ("o/r", "b.py", 22, "python", "b1", 2, "insert")],
        "repo string, path string, commit bigint, lang string, "
        "content string, lsn int, op string",
    ))
    v1 = table.current_version()
    _replay(spark, tmp_path, table, [
        _sc(3, 0, "add", "stars", "int"),
        _ev(4, 0, "update", "a.py", 44, "a2", 7),
        _ev(5, 0, "insert", "c.py", 55, "c1", 9),
        _ev(6, 0, "delete", "b.py", None, None, None),
    ])
    v3 = table.current_version()
    assert v3 == v1 + 2  # evolve, then the fast-append of epoch 0
    assert table.delta_file_count() > 0
    table.compact(spark)
    v4 = table.current_version()

    for v in range(v1, v4 + 1):
        m = table._read_manifest(v)
        for f, g in m["file_gens"].items():
            want = {c["name"]: _ARROW[c["type"]] for c in m["gen_specs"][str(g)]}
            want.update(_lsn="int64", _op="string")
            got = pq.read_schema(os.path.join(table.root, f))
            assert {n: str(got.field(n).type) for n in got.names} == want, f

    before = [("a.py", "11", "a1"), ("b.py", "22", "b1")]
    after = [("a.py", "44", "a2", 7), ("c.py", "55", "c1", 9)]
    assert _rows(table.read(spark, version=v1)) == before
    assert _rows(table.read(spark, version=v1 + 1)) == [r + (None,) for r in before]
    assert _rows(table.read(spark, version=v3)) == after
    assert _rows(table.read(spark, version=v4)) == after

    for v_to in (v3, v4):
        feed = {
            r["path"]: (r["change_type"], r["commit"], r["stars"], r["_change_lsn"])
            for r in table.changes_between(spark, v1, v_to).collect()
        }
        assert feed == {
            "a.py": ("update", "44", 7, 4),
            "b.py": ("delete", None, None, 6),
            "c.py": ("insert", "55", 9, 5),
        }
    assert table.changes_between(spark, v3, v4).count() == 0


def test_building_snapshot_frames_runs_no_spark_job(spark, tmp_path):
    """A 64-bucket table with base files and delta files in two schema
    generations (after an add and a rename), each generation over Spark's
    32-path parallel-listing threshold: building scan and change-feed frames
    lists no files and infers no schema through Spark."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=64)
    keys = [f"f{i:03d}.py" for i in range(256)]
    table.overwrite(spark, spark.createDataFrame(pd.DataFrame({
        "repo": "o/r", "path": keys, "commit": "c0", "lang": "python",
        "content": "v0",
    })))
    v_base = table.current_version()
    events = [_sc(1, 0, "add", "stars", "int")]
    events += [_ev(10 + i, 0, "update", k, i, "v1", i) for i, k in enumerate(keys)]
    events += [_sc(500, 1, "rename", "stars", "stargazers")]
    events += [
        _ev(600 + i, 1, "update", k, i, "v2", None) for i, k in enumerate(keys[:128])
    ]
    _replay(spark, tmp_path, table, events)
    m = table._read_manifest(table.current_version())
    per_gen = pd.Series(list(m["file_gens"].values())).value_counts()
    assert sorted(per_gen.index) == [0, 1, 2] and per_gen.min() > 32

    sc = spark.sparkContext
    group = f"snapshot-scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build snapshot frames")
    try:
        current = table.read_internal(spark)
        table.read_internal(spark, version=v_base)
        feed = table.changes_between(spark, v_base)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # The group does see jobs: running an action on the frames records one.
        assert current.filter("_lsn >= 600").count() == 128
        assert feed.filter("change_type = 'update'").count() == 256
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
