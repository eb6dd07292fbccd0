"""Snapshot scans planned from the manifest: every writer writes its
generation's declared schema, building a scan launches no Spark job, and a
manifest of another format is refused.
The bucket rewrite behind `merge` and `compact`: folding a delta-bearing
bucket, equal-LSN ties, and the Spark jobs per call."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest

from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import FORMAT, SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import _job_group, _last_job_tasks

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
        ReplayConfig(compact_delta_files=None),
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
    generation's declared schema (a delta file also its stored `bucket`),
    and every version reads back."""
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
        assert set(m) == {
            "format", "version", "keys", "n_buckets", "bucket_cols", "gen",
            "gen_specs", "files",
        }
        for f, e in m["files"].items():
            want = {c["name"]: _ARROW[c["type"]] for c in m["gen_specs"][str(e["gen"])]}
            want.update(_lsn="int64", _op="string")
            if e["delta"]:
                want.update(bucket="int32")
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
    """A 64-bucket table with base files over Spark's 32-path
    parallel-listing threshold and delta files in two more schema
    generations (after an add and a rename): building scan and change-feed
    frames lists no files and infers no schema through Spark."""
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
    per_gen = pd.Series([e["gen"] for e in m["files"].values()]).value_counts()
    assert sorted(per_gen.index) == [0, 1, 2] and per_gen[0] > 32

    with _job_group(spark) as jobs:
        current = table.read_internal(spark)
        table.read_internal(spark, version=v_base)
        feed = table.changes_between(spark, v_base)
        assert jobs() == 0
        # The group does see jobs: running an action on the frames records one.
        assert current.filter("_lsn >= 600").count() == 128
        assert feed.filter("change_type = 'update'").count() == 256
        assert jobs()


def test_a_manifest_of_another_format_is_refused(tmp_path):
    """A table whose manifest has no `format`, or a format other than
    `FORMAT`, is refused at open with an error naming the manifest file and
    the format it found: there is no upgrade path."""
    good = SnapshotTable(str(tmp_path / "good"))
    good.evolve_schema(
        good.schema_spec() + [{"name": "stars", "type": "int", "sources": ["stars"]}]
    )
    m = good._read_manifest(1)
    assert m["format"] == FORMAT
    for name, fmt in (("none", None), ("one", 1)):
        root = tmp_path / name
        shutil.copytree(good.root, root)
        old = {k: v for k, v in m.items() if k != "format"}
        if fmt is not None:
            old["format"] = fmt
        (root / "manifests" / "v00000001.json").write_text(json.dumps(old))
        with pytest.raises(ValueError, match=rf"v00000001\.json: manifest format {fmt}\b"):
            SnapshotTable(str(root))


def _base(spark, paths):
    return spark.createDataFrame(pd.DataFrame({
        "repo": "o/r", "path": paths, "commit": "c0", "lang": "python",
        "content": "v0",
    }))


def _batch(spark, rows):
    """(path, content, lsn) update rows as a merge batch."""
    return spark.createDataFrame(pd.DataFrame({
        "repo": "o/r", "path": [r[0] for r in rows], "commit": "c9",
        "lang": "python", "content": [r[1] for r in rows],
        "lsn": [r[2] for r in rows], "op": "update",
    }))


def _deltas(m):
    """{delta file: live buckets} of manifest `m`."""
    return {f: e["buckets"] for f, e in m["files"].items() if e["delta"]}


def _base_files(m):
    """{bucket: its base files} of manifest `m`."""
    out = {}
    for f, e in m["files"].items():
        if not e["delta"]:
            (b,) = e["buckets"]
            out.setdefault(b, []).append(f)
    return out


def _runs_mor(df):
    """Whether a read resolves key versions with the merge-on-read window."""
    return "Window" in df._jdf.queryExecution().analyzed().toString()


def test_merge_folds_only_the_touched_delta_bucket(spark, tmp_path):
    """A merge into a bucket that shares a fast-append delta file with other
    buckets rewrites that bucket alone: the bucket leaves the file's live
    set, other buckets keep their base files, later scans of the bucket no
    longer read the file's rows of it, reads (full and bucket-pruned) equal
    the oracle, and an equal-LSN row with another payload leaves the stored
    row. Folding the remaining live buckets the same way drops the file
    from the manifest, and reads no longer run the merge-on-read window."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=8)
    paths = [f"f{i:02d}.py" for i in range(40)]
    table.overwrite(spark, _base(spark, paths))
    _replay(spark, tmp_path, table, [
        _ev(10 + i, 0, "update", p, i, "v1", None) for i, p in enumerate(paths[:24])
    ])
    oracle = {p: ("v1" if i < 24 else "v0") for i, p in enumerate(paths)}
    lsn = {p: (10 + i if i < 24 else 0) for i, p in enumerate(paths)}
    bucket_of = {
        r["path"]: r["bucket"] for r in table.read_internal(spark).collect()
    }
    m = table._read_manifest(table.current_version())
    ((delta, delta_buckets),) = _deltas(m).items()
    assert delta_buckets == sorted({bucket_of[p] for p in paths[:24]})
    assert len(delta_buckets) > 2 and _runs_mor(table.read_internal(spark))

    updated = [p for p in paths if lsn[p] > 0]
    b = max(delta_buckets, key=lambda d: sum(bucket_of[p] == d for p in updated))
    in_b = [p for p in paths if bucket_of[p] == b and lsn[p] > 0]
    newer, tied = in_b[0], in_b[-1]
    assert newer != tied
    stats = table.merge(spark, _batch(spark, [
        (newer, "v2", 100), (tied, "tie", lsn[tied]),
    ]))
    oracle[newer] = "v2"
    assert stats["buckets"] == [b]
    m2 = table._read_manifest(table.current_version())
    assert _deltas(m2) == {delta: [d for d in delta_buckets if d != b]}
    base, base2 = _base_files(m), _base_files(m2)
    assert base2[b] != base[b] and len(base2[b]) == 1
    assert set(base2) == set(base)
    for other in set(base) - {b}:
        assert base2[other] == base[other]
    # one stored version per key of `b`: the delta's rows of it are dead
    assert table._scan(spark, m2, [b]).count() == sum(bucket_of[p] == b for p in paths)
    got = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert got == oracle
    assert _runs_mor(table.read_internal(spark))
    other = next(d for d in delta_buckets if d != b)
    for pruned in (b, other):
        got = {
            r["path"]: r["content"]
            for r in table.read_internal(spark, buckets=[pruned]).collect()
        }
        assert got == {p: c for p, c in oracle.items() if bucket_of[p] == pruned}

    rest = [
        (p, oracle[p], lsn[p]) for p in paths
        if bucket_of[p] in set(delta_buckets) - {b} and lsn[p] > 0
    ]
    table.merge(spark, _batch(spark, rest))  # equal LSNs: payloads unchanged
    m3 = table._read_manifest(table.current_version())
    assert _deltas(m3) == {} and not _runs_mor(table.read_internal(spark))
    assert delta not in m3["files"]
    assert {r["path"]: r["content"] for r in table.read(spark).collect()} == oracle


def test_rewrite_runs_two_spark_jobs(spark, tmp_path):
    """`overwrite` into an empty table and `merge` into populated buckets
    each run at most 2 Spark jobs: the touched-bucket collect and the
    one-exchange bucket rewrite."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=64)
    paths = [f"f{i:03d}.py" for i in range(600)]
    with _job_group(spark) as jobs:
        table.overwrite(spark, _base(spark, paths))
        assert jobs() <= 2
    with _job_group(spark) as jobs:
        table.merge(spark, _batch(spark, [(p, "v1", 1) for p in paths[:30]]))
        assert jobs() <= 2
    got = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert got == {p: ("v1" if i < 30 else "v0") for i, p in enumerate(paths)}


def test_first_overwrite_runs_one_spark_job(spark, tmp_path):
    """With nothing stored, `merge` skips the touched-bucket collect: a first
    `overwrite` is one Spark job (the bucket rewrite), still reports the
    buckets it wrote, and writes each on min(n_buckets, shuffle.partitions)
    tasks. A later merge collects its touched buckets as before."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=64)
    paths = [f"f{i:03d}.py" for i in range(300)]
    with _job_group(spark) as jobs:
        stats = table.overwrite(spark, _base(spark, paths))
        assert jobs() == 1
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _last_job_tasks(spark) == min(64, shuffle_partitions)
    base = _base_files(table._read_manifest(table.current_version()))
    written = sorted(base)
    assert stats["buckets"] == written and stats["applied_buckets"] == len(written)
    assert all(len(base[b]) == 1 for b in written)
    stored = {r["path"]: r["bucket"] for r in table.read_internal(spark).collect()}
    assert sorted(stored) == paths and sorted(set(stored.values())) == written

    stats = table.merge(spark, _batch(spark, [(p, "v1", 1) for p in paths[:5]]))
    assert stats["buckets"] == sorted({stored[p] for p in paths[:5]})
    got = {r["path"]: r["content"] for r in table.read(spark).collect()}
    assert got == {p: ("v1" if i < 5 else "v0") for i, p in enumerate(paths)}
