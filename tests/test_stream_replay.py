"""Structured Streaming replay: stream == oracle == batch, resume = no-op.

Covers the reference's streaming archetype (Kafka offset tail,
hdata-kafka/.../reader/kafka/KafkaConsumer.java:84-141) re-expressed as a
checkpointed file-stream: micro-batch drain, exactly-once under restart.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from hdata_spark.fixtures import oracle_final_state, sha256_fingerprint
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.stream_replay import stream_replay

from tests.conftest import (
    _all_jobs,
    _job_group,
    assert_state_equal,
)


def _write_event_files(events: pd.DataFrame, d: str) -> str:
    """One parquet file per epoch — multiple stream triggers.

    Object columns are forced to string dtype: an epoch slice whose sc_*/
    payload column is all-None would otherwise get a different parquet
    physical type per file, and the stream's fixed schema read would fail.
    """
    os.makedirs(d, exist_ok=True)
    events = events.copy()
    for c in events.columns:
        if events[c].dtype == object:
            events[c] = events[c].astype("string")
    for epoch, part in events.groupby("epoch"):
        part.to_parquet(os.path.join(d, f"epoch_{int(epoch):04d}.parquet"), index=False)
    return d


def _mk(tmp_path, name):
    d = tmp_path / name
    d.mkdir(exist_ok=True)
    return (
        SnapshotTable(str(d / "table"), n_buckets=16),
        CommitLedger(str(d / "ledger")),
        MetricsLog(str(d / "metrics")),
        SchemaRegistry(state_path=str(d / "registry.json")),
        str(d / "checkpoint"),
    )


def test_stream_replay_matches_oracle(spark, tmp_path, small_fixture):
    base, events = small_fixture
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    stats = stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt,
        max_files_per_trigger=1,
    )
    assert stats["batches"] >= 2  # genuinely micro-batched
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))
    # per-batch ledger + metrics rows exist
    assert len(ledger.committed_epochs()) == stats["batches"]
    assert len(metrics.rows()) > 0


def test_stream_restart_resumes_without_reprocessing(spark, tmp_path, small_fixture):
    base, events = small_fixture
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    stream_replay(spark, events_dir, table, ledger, metrics, registry, ckpt)
    v1 = table.current_version()
    fp1 = sha256_fingerprint(table.read(spark).toPandas())
    # restart with the same checkpoint: nothing new -> no batches, no change
    stats2 = stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt
    )
    assert stats2["batches"] == 0
    assert table.current_version() == v1
    assert sha256_fingerprint(table.read(spark).toPandas()) == fp1


def test_stream_tail_new_files_only(spark, tmp_path, small_fixture):
    """The WAL-tail loop: files arriving after a drain are picked up alone."""
    base, events = small_fixture
    first = events[events["epoch"] < 2]
    rest = events[events["epoch"] >= 2]
    events_dir = str(tmp_path / "events")
    _write_event_files(first, events_dir)
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    stream_replay(spark, events_dir, table, ledger, metrics, registry, ckpt)
    mid_expected = oracle_final_state(base, first)
    assert_state_equal(table.read(spark).toPandas(), mid_expected)
    # "new WAL segments arrive"
    _write_event_files(rest, events_dir)
    stats2 = stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt,
        max_files_per_trigger=1,
    )
    assert stats2["batches"] >= 1
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))


def test_stream_fast_append_metadata_only_commits(spark, tmp_path, small_fixture):
    """Every micro-batch commit is a metadata-only manifest APPEND —
    previously committed data files are never dropped or rewritten
    mid-stream — and the final MOR-resolved state still matches the oracle."""
    from hdata_spark.streaming.replay import ReplayConfig

    base, events = small_fixture
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    v_base = table.current_version()
    stats = stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt,
        cfg=ReplayConfig(compact_delta_files=None),
        max_files_per_trigger=1,
    )
    assert stats["batches"] >= 2
    # fast-append path actually taken: uncompacted deltas remain
    assert table.delta_file_count() > 0
    # append-only manifests: each stream commit keeps every file entry of
    # its predecessor unchanged (a COW merge would REPLACE affected buckets'
    # files and shrink the live sets of the deltas it folds)
    prev = None
    for v in range(v_base, table.current_version() + 1):
        files = table._read_manifest(v)["files"]
        if prev is not None:
            assert all(files.get(f) == e for f, e in prev.items()), (
                f"v{v} dropped or changed files committed by v{v-1}"
            )
        prev = files
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))


def test_stream_delta_threshold_compaction(spark, tmp_path, small_fixture):
    """Crossing compact_delta_files triggers an in-stream compaction;
    state stays correct and the delta backlog is bounded by ~one batch."""
    from hdata_spark.streaming.replay import ReplayConfig

    base, events = small_fixture
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    stats = stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt,
        cfg=ReplayConfig(compact_delta_files=4),
        max_files_per_trigger=1,
    )
    assert stats["batches"] >= 2
    # compaction ran at least once: backlog can't exceed threshold + one
    # batch's worth of buckets (16 here)
    assert table.delta_file_count() <= 4 + table.n_buckets
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))


@pytest.mark.parametrize("threshold", [None, 4])
@pytest.mark.parametrize("planner", ["replay", "stream_replay"])
def test_one_compaction_rule_for_both_planners(
    spark, tmp_path, monkeypatch, small_fixture, planner, threshold
):
    """`compact_delta_files` is both planners' one compaction rule: None
    leaves every delta file in place; a threshold below the count of
    (delta file, live bucket) pairs folds them, once after batch replay's
    runs and after every micro-batch that crosses it. Either way the table matches the oracle."""
    from hdata_spark.streaming.replay import ReplayConfig, replay

    base, events = small_fixture
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    compact, compactions = table.compact, []

    def counted(*args, **kwargs):
        compactions.append(table.delta_bucket_count())
        return compact(*args, **kwargs)

    monkeypatch.setattr(table, "compact", counted)
    cfg = ReplayConfig(compact_delta_files=threshold)
    if planner == "replay":
        stats = replay(spark, spark.createDataFrame(events), table, ledger,
                       metrics, registry, cfg)
        assert stats["epochs_applied"] == 4
        assert stats["compacted"] == (threshold is not None)
        expected_compactions = 1
    else:
        events_dir = _write_event_files(events, str(tmp_path / "events"))
        stats = stream_replay(spark, events_dir, table, ledger, metrics,
                              registry, ckpt, cfg, max_files_per_trigger=1)
        assert stats["batches"] == 4
        expected_compactions = 4
    if threshold is None:
        assert compactions == []
        assert table.delta_bucket_count() > 4
    else:
        assert len(compactions) == expected_compactions
        assert all(n > threshold for n in compactions)
        assert table.delta_file_count() == 0
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, events))


def test_stream_drains_an_empty_wal(spark, tmp_path, small_fixture):
    """A tail that polls a WAL with no data file yet — empty, or holding only
    a segment still landing — drains nothing instead of failing the schema
    read; the first landed segment then drains as usual. A missing WAL
    directory still raises."""
    from pyspark.errors import AnalysisException

    base, events = small_fixture
    first = events[events["epoch"] == 0]
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "eng")
    table.overwrite(spark, spark.createDataFrame(base))
    v0 = table.current_version()
    wal = tmp_path / "wal"
    wal.mkdir()
    empty = {"batches": 0, "final_snapshot_version": v0}
    assert stream_replay(spark, str(wal), table, ledger, metrics, registry, ckpt) == empty
    landing = tmp_path / "landing"
    _write_event_files(first, str(landing))
    (seg,) = os.listdir(landing)
    os.replace(landing / seg, wal / ".landing-0")
    assert stream_replay(spark, str(wal), table, ledger, metrics, registry, ckpt) == empty
    os.replace(wal / ".landing-0", wal / seg)
    stats = stream_replay(spark, str(wal), table, ledger, metrics, registry, ckpt)
    assert stats["batches"] == 1 and ledger.committed_epochs() == [0]
    assert_state_equal(table.read(spark).toPandas(), oracle_final_state(base, first))
    with pytest.raises(AnalysisException):
        stream_replay(spark, str(tmp_path / "missing"), table, ledger, metrics,
                      registry, str(tmp_path / "ckpt-missing"))


def test_stream_schema_evolution(spark, tmp_path):
    """Schema-change events through the STREAM path: final schema + values
    match the batch replayer on the same log."""
    from hdata_spark.fixtures import CDCFixtureConfig, generate_base, generate_events
    from hdata_spark.streaming.replay import ReplayConfig, replay

    cfg = CDCFixtureConfig(
        seed=43, n_repos=8, paths_per_repo=12, hot_repos=0,
        n_events=1_200, epoch_size=400, base_rows=60,
        schema_changes=(
            ("add", "stars", "int"),
            ("rename", "stars", "stargazers"),
            ("widen", "stargazers", "bigint"),
        ),
    )
    base, events = generate_base(cfg), generate_events(cfg)
    events_dir = _write_event_files(events, str(tmp_path / "events"))

    t_s, l_s, m_s, r_s, ckpt = _mk(tmp_path, "stream")
    t_s.overwrite(spark, spark.createDataFrame(base))
    stream_replay(spark, events_dir, t_s, l_s, m_s, r_s, ckpt)

    t_b, l_b, m_b, r_b, _ = _mk(tmp_path, "batch")
    t_b.overwrite(spark, spark.createDataFrame(base))
    replay(spark, spark.createDataFrame(events), t_b, l_b, m_b, r_b, ReplayConfig())

    assert t_s.columns() == t_b.columns()
    assert t_s.columns()[-1] == "stargazers"
    assert {c["name"]: c["type"] for c in t_s.schema_spec()}["stargazers"] == "bigint"
    assert sha256_fingerprint(t_s.read(spark).toPandas()) == sha256_fingerprint(
        t_b.read(spark).toPandas()
    )


def test_stream_batch_convergence(spark, tmp_path, small_fixture):
    """Stream replay (one log epoch per trigger, so batch_id == epoch) and
    batch replay of one log go through the same apply core: identical final
    table, per-epoch ledger records and metrics rows."""
    from pyspark.sql import functions as F

    from hdata_spark.operators.dedup import lww_latest
    from hdata_spark.streaming.replay import ReplayConfig, replay

    base, events = small_fixture
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    # The file source orders files by modification time: make it epoch order.
    for i, fn in enumerate(sorted(os.listdir(events_dir))):
        os.utime(os.path.join(events_dir, fn), (1_700_000_000 + i,) * 2)

    t_s, l_s, m_s, r_s, ckpt = _mk(tmp_path, "stream")
    t_s.overwrite(spark, spark.createDataFrame(base))
    stream_replay(
        spark, events_dir, t_s, l_s, m_s, r_s, ckpt, max_files_per_trigger=1
    )

    t_b, l_b, m_b, r_b, _ = _mk(tmp_path, "batch")
    t_b.overwrite(spark, spark.createDataFrame(base))
    replay(
        spark, spark.createDataFrame(events), t_b, l_b, m_b, r_b, ReplayConfig()
    )
    assert sha256_fingerprint(t_s.read(spark).toPandas()) == sha256_fingerprint(
        t_b.read(spark).toPandas()
    )

    epochs = sorted(int(e) for e in events["epoch"].unique())
    assert l_s.committed_epochs() == l_b.committed_epochs() == epochs
    fields = (
        "partitions", "batch_fingerprint", "applied_events",
        "committed_at_lsn", "schema_version",
    )
    for e in epochs:
        rs, rb = l_s.read(e), l_b.read(e)
        assert {k: rs[k] for k in fields} == {k: rb[k] for k in fields}, e
    assert m_s.rows() == m_b.rows()

    # The fingerprint is BIT_XOR of xxhash64(repo, path, lsn) over the
    # epoch's LWW winners.
    ev = spark.createDataFrame(events).filter(
        (F.col("epoch") == epochs[0]) & (F.col("op") != "schema_change")
    )
    fp = (
        lww_latest(ev, keys=("repo", "path"), order_col="lsn")
        .agg(F.bit_xor(F.xxhash64("repo", "path", "lsn")))
        .collect()[0][0]
    )
    assert l_b.read(epochs[0])["batch_fingerprint"] == format(
        fp & 0xFFFFFFFFFFFFFFFF, "016x"
    )


def test_schema_change_only_epoch_commits_empty_record(spark, tmp_path):
    """An epoch with no data event (here: only a schema change) stages
    nothing, yet both paths commit it — applied_events 0, fingerprint 0 —
    so the ledger stays contiguous and the records still agree."""
    from hdata_spark.streaming.replay import replay

    def ev(lsn, epoch, op, **kw):
        cols = ("repo", "path", "commit", "lang", "content",
                "sc_kind", "sc_column", "sc_arg")
        return {"lsn": lsn, "epoch": epoch, "op": op, **{c: kw.get(c) for c in cols}}

    events = pd.DataFrame([
        ev(1, 0, "insert", repo="o/r", path="a.py", commit="c1", lang="py", content="x"),
        ev(2, 1, "schema_change", sc_kind="add", sc_column="stars", sc_arg="int"),
        ev(3, 2, "update", repo="o/r", path="a.py", commit="c3", lang="py", content="y"),
    ])
    events_dir = _write_event_files(events, str(tmp_path / "events"))
    for i, fn in enumerate(sorted(os.listdir(events_dir))):
        os.utime(os.path.join(events_dir, fn), (1_700_000_000 + i,) * 2)

    t_s, l_s, m_s, r_s, ckpt = _mk(tmp_path, "stream")
    stream_replay(
        spark, events_dir, t_s, l_s, m_s, r_s, ckpt, max_files_per_trigger=1
    )
    t_b, l_b, m_b, r_b, _ = _mk(tmp_path, "batch")
    replay(spark, spark.read.parquet(events_dir), t_b, l_b, m_b, r_b)

    assert l_s.committed_epochs() == l_b.committed_epochs() == [0, 1, 2]
    empty = l_b.read(1)
    assert empty["applied_events"] == 0 and empty["partitions"] == []
    assert empty["batch_fingerprint"] == "0" * 16
    assert empty["schema_version"] == 1
    for e in (0, 1, 2):
        rs, rb = l_s.read(e), l_b.read(e)
        rs.pop("snapshot_version"), rb.pop("snapshot_version")
        assert rs == rb, e
    assert t_s.columns() == t_b.columns() and t_b.columns()[-1] == "stars"


def test_stream_concurrent_writer_schema_change_not_skipped(
    spark, tmp_path, monkeypatch
):
    """A WAL segment landing BETWEEN the WAL schema read and the stream's
    AvailableNow snapshot (a concurrent writer) must still get its
    schema_change applied: each micro-batch reads its schema changes from
    the files its own source-log entry names (`_batch_schema_changes`), not
    from anything read before the stream started."""
    import importlib

    from hdata_spark.fixtures import CDCFixtureConfig, generate_base, generate_events
    from hdata_spark.streaming.replay import ReplayConfig, replay

    cfg = CDCFixtureConfig(
        seed=44, n_repos=8, paths_per_repo=12, hot_repos=0,
        n_events=1_200, epoch_size=400, base_rows=60,
    )
    base, events = generate_base(cfg), generate_events(cfg)
    first = events[events["epoch"] < 2].copy()
    injected = events[events["epoch"] >= 2].copy()
    # Hand-craft a schema_change inside the injected (racing) segment.
    i = injected.index[0]
    injected.loc[i, ["op", "repo", "path", "commit", "lang", "content"]] = [
        "schema_change", None, None, None, None, None,
    ]
    injected.loc[i, ["sc_kind", "sc_column", "sc_arg"]] = ["add", "stars", "int"]
    events_dir = str(tmp_path / "events")
    _write_event_files(first, events_dir)  # the schema read sees ONLY these

    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "race")
    table.overwrite(spark, spark.createDataFrame(base))
    # the package re-exports a function of the module's name
    sr = importlib.import_module("hdata_spark.streaming.stream_replay")
    drain = sr.drain_available_now

    def land_then_drain(*args):
        _write_event_files(injected, events_dir)  # lands before the start
        return drain(*args)

    monkeypatch.setattr(sr, "drain_available_now", land_then_drain)
    stream_replay(
        spark, events_dir, table, ledger, metrics, registry, ckpt,
        max_files_per_trigger=1,
    )
    assert "stars" in table.columns()  # the racing change was NOT skipped

    # Final state converges with a batch replay of the full log.
    full = pd.concat([first, injected]).sort_values("lsn")
    t_b, l_b, m_b, r_b, _ = _mk(tmp_path, "batch")
    t_b.overwrite(spark, spark.createDataFrame(base))
    replay(spark, spark.createDataFrame(full), t_b, l_b, m_b, r_b, ReplayConfig())
    assert sha256_fingerprint(table.read(spark).toPandas()) == sha256_fingerprint(
        t_b.read(spark).toPandas()
    )


def test_delta_footer_stats_raises_on_all_null_lsn(spark, tmp_path):
    """A delta bucket with rows but an all-NULL _lsn violates the non-null
    contract; delta_footer_stats must raise rather than silently drop the
    bucket (which would undercount applied_events) — also when the bucket
    shares its file with valid ones. `max_stored_lsn` reads a shared delta
    file for its live buckets only."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from hdata_spark.sinks.snapshot import delta_footer_stats

    root = str(tmp_path / "t")

    def staged(name, buckets, lsns, ops=None):
        rel = os.path.join("data", name, "epoch=0", "part-0.parquet")
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        n = len(buckets)
        pq.write_table(pa.table({
            "repo": ["o/r"] * n,
            "path": [f"f{i}.py" for i in range(n)],
            **{c: pa.array([None] * n, pa.string())
               for c in ("commit", "lang", "content", "content_sha256")},
            "_lsn": pa.array(lsns, pa.int64()),
            "_op": ops or ["u"] * n,
            "bucket": pa.array(buckets, pa.int32()),
        }), os.path.join(root, rel))
        return rel

    alone = staged("alone", [0, 0], [None, None])
    with pytest.raises(ValueError, match="non-null"):
        delta_footer_stats(root, {alone: None})
    shared = staged("shared", [1, 1, 2, 2, 3], [5, 7, None, None, 9])
    with pytest.raises(ValueError, match="non-null"):
        delta_footer_stats(root, {shared: None})
    assert delta_footer_stats(root, {shared: [1, 3]}) == {shared: {1: (2, 7), 3: (1, 9)}}

    # A shared file whose top LSN is a tombstone in bucket 3: once a
    # rewrite of bucket 3 expires it, the file stays live for bucket 1
    # alone, and the stored maximum is bucket 1's.
    table = SnapshotTable(root, n_buckets=4)
    top = staged("top", [1, 1, 3], [5, 7, 9], ["u", "u", "d"])
    table.register_deltas({top: [1, 3]})
    assert table.max_stored_lsn() == 9
    v = table.current_version()
    table._commit(v + 1, table._rewrite(spark, table._read_manifest(v), [3], expire_below=10))
    assert table._read_manifest(v + 1)["files"] == {
        top: {"gen": 0, "buckets": [1], "delta": True}
    }
    assert table.max_stored_lsn() == 7


def _source_log(ckpt, name: str, lines: list[str]) -> None:
    d = os.path.join(ckpt, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_batch_schema_changes_reads_the_batch_files(tmp_path):
    """The per-batch reader returns the schema changes of exactly the files
    the batch's source-log entry names, in LSN order, and `[]` for files
    without one. It answers None (the core then collects with a Spark job)
    for a torn or missing entry, a `.compact` entry and a file pyarrow
    cannot read."""
    import json
    from urllib.parse import quote

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hdata_spark.streaming.stream_replay import _batch_schema_changes

    wal = tmp_path / "wal"
    wal.mkdir()

    def segment(name, rows):
        lsn, op, repo, kind, column, arg = zip(*rows)
        path = str(wal / name)
        pq.write_table(pa.table({
            "lsn": pa.array(lsn, pa.int64()), "op": op, "repo": repo,
            "sc_kind": kind, "sc_column": column, "sc_arg": arg,
        }), path)
        return path

    def entry(path: str) -> str:
        return json.dumps({"path": "file://" + quote(path), "size": 1})

    plain = segment("plain segment.parquet", [
        (1, "insert", "o/a", None, None, None),
        (2, "delete", "o/b", None, None, None),
    ])
    two = segment("two.parquet", [
        (9, "schema_change", None, "rename", "stars", "stargazers"),
        (5, "update", "o/a", None, None, None),
        (7, "schema_change", None, "add", "stars", "int"),
    ])
    ckpt = str(tmp_path / "ckpt")

    _source_log(ckpt, "0", ["v1", entry(plain)])
    assert _batch_schema_changes(ckpt, 0) == []
    _source_log(ckpt, "1", ["v1", entry(plain), entry(two)])
    assert _batch_schema_changes(ckpt, 1) == [
        {"lsn": 7, "sc_kind": "add", "sc_column": "stars", "sc_arg": "int"},
        {"lsn": 9, "sc_kind": "rename", "sc_column": "stars", "sc_arg": "stargazers"},
    ]
    # a truncated JSON line (a torn write) must not raise
    _source_log(ckpt, "2", ["v1", entry(plain), '{"path": "file:///wal/b'])
    assert _batch_schema_changes(ckpt, 2) is None
    # no log entry for the batch at all
    assert _batch_schema_changes(ckpt, 3) is None
    # a compaction batch writes only `<id>.compact`, listing every file so far
    _source_log(ckpt, "9.compact", ["v1", entry(plain), entry(two)])
    assert _batch_schema_changes(ckpt, 9) is None
    # a file that is not parquet
    (wal / "bad.parquet").write_text("not parquet")
    _source_log(ckpt, "4", ["v1", entry(plain), entry(str(wal / "bad.parquet"))])
    assert _batch_schema_changes(ckpt, 4) is None


def _segment_frame(spark, events, tmp_path):
    """One WAL segment (epoch 0 of `events`) as a one-file parquet read."""
    d = _write_event_files(events[events["epoch"] == 0], str(tmp_path / "seg"))
    return spark.read.parquet(d)


def test_apply_epochs_with_known_schema_changes_runs_no_collect(
    spark, tmp_path, small_fixture
):
    """`schema_changes=[]` runs no schema-change job; `None` makes the core
    collect the changes itself, in exactly one more job."""
    from hdata_spark.streaming.stream_replay import apply_epochs

    _, events = small_fixture
    frame = _segment_frame(spark, events, tmp_path)
    counts = {}
    for changes in ([], None):
        table, ledger, metrics, registry, _ = _mk(tmp_path, f"sc-{changes}")
        with _job_group(spark) as jobs:
            apply_epochs(spark, frame, [0], table, ledger, metrics, registry, changes)
            counts[str(changes)] = jobs()
        assert ledger.committed_epochs() == [0]
    assert counts["None"] == counts["[]"] + 1


def test_stage_write_is_sized_by_the_data(spark, tmp_path, small_fixture):
    """A one-segment apply into a 64-bucket table stages ONE delta file, not
    one per bucket: its live bucket set is exactly the buckets the ledger
    record counts, and the apply runs no more Spark jobs than the
    one-file-per-bucket stage write did (4)."""
    from hdata_spark.streaming.stream_replay import apply_epochs

    _, events = small_fixture
    frame = _segment_frame(spark, events, tmp_path)
    _, ledger, metrics, registry, _ = _mk(tmp_path, "sized")
    table = SnapshotTable(str(tmp_path / "sized" / "table64"), n_buckets=64)
    with _job_group(spark) as jobs:
        (record,) = apply_epochs(spark, frame, [0], table, ledger, metrics, registry, [])
        assert jobs() <= 4
    files = table._read_manifest(table.current_version())["files"]
    deltas = [e["buckets"] for e in files.values() if e["delta"]]
    assert table.delta_file_count() == len(deltas) == len(files) == 1
    (live,) = deltas
    assert live == [p["partition_id"] for p in record["partitions"]]
    assert len(live) > 8 and table.delta_bucket_count() == len(live)
    assert sum(p["applied_events"] for p in record["partitions"]) == (
        table.read_internal(spark).count()
    )


def test_drain_runs_one_job_outside_its_batches(
    spark, tmp_path, monkeypatch, small_fixture
):
    """The WAL schema read is a drain's only Spark job outside its
    micro-batches, and each batch gets its schema changes from its own
    files: the batch holding a schema change is handed it, and later
    batches are handed `[]`, so no batch collects them with a job."""
    import importlib

    from hdata_spark.streaming.stream_replay import ReplayConfig

    # the package re-exports a function of the module's name
    sr = importlib.import_module("hdata_spark.streaming.stream_replay")

    base, events = small_fixture
    events = events[events["epoch"] < 3].copy()
    i = events.index[events["epoch"] == 0][0]
    events.loc[i, ["op", "repo", "path", "commit", "lang", "content"]] = [
        "schema_change", None, None, None, None, None,
    ]
    events.loc[i, ["sc_kind", "sc_column", "sc_arg"]] = ["add", "stars", "int"]
    table, ledger, metrics, registry, ckpt = _mk(tmp_path, "drain")
    table.overwrite(spark, spark.createDataFrame(base))

    apply_change_batch = sr.apply_change_batch
    handed, apply_jobs = [], []

    def counted(*args):
        handed.append(args[-1])
        with _all_jobs(spark) as jobs:
            out = apply_change_batch(*args)
            apply_jobs.append(jobs())
        return out

    monkeypatch.setattr(sr, "apply_change_batch", counted)
    wal = str(tmp_path / "wal")
    overhead = []
    for epoch in range(3):  # land one segment, then drain it
        _write_event_files(events[events["epoch"] == epoch], wal)
        with _all_jobs(spark) as jobs:
            sr.stream_replay(spark, wal, table, ledger, metrics, registry, ckpt,
                             ReplayConfig(compact_delta_files=None))
            overhead.append(jobs() - apply_jobs[-1])
    assert overhead == [1, 1, 1]
    assert handed == [
        [{"lsn": events.loc[i, "lsn"], "sc_kind": "add", "sc_column": "stars",
          "sc_arg": "int"}],
        [],
        [],
    ]
    assert apply_jobs[0] == apply_jobs[1] == apply_jobs[2]
    assert ledger.committed_epochs() == [0, 1, 2]
    assert "stars" in table.columns()
