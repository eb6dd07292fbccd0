"""Schema evolution (SURVEY §5.2.5): add / rename / widen interleaved with data."""

from __future__ import annotations

import pandas as pd
import pytest

from hdata_spark.fixtures import (
    CDCFixtureConfig,
    generate_base,
    generate_events,
    oracle_final_state,
)
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import assert_state_equal


@pytest.fixture(scope="module")
def evo_cfg():
    return CDCFixtureConfig(
        seed=43,
        n_repos=8,
        paths_per_repo=12,
        hot_repos=0,
        n_events=1_200,
        epoch_size=400,
        base_rows=60,
        schema_changes=(
            ("add", "stars", "int"),
            ("rename", "stars", "stargazers"),
            ("widen", "stargazers", "bigint"),
        ),
    )


def _engine(tmp_path):
    return (
        SnapshotTable(str(tmp_path / "t"), n_buckets=8),
        CommitLedger(str(tmp_path / "l")),
        MetricsLog(str(tmp_path / "m")),
        SchemaRegistry(state_path=str(tmp_path / "r.json")),
    )


def test_evolution_replay_preserves_data(spark, tmp_path, evo_cfg):
    base, events = generate_base(evo_cfg), generate_events(evo_cfg)
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    replay(spark, spark.createDataFrame(events), table, ledger, metrics, registry)

    # final logical schema: base + derived sha + stargazers:bigint
    assert table.columns() == [
        "repo", "path", "commit", "lang", "content", "content_sha256", "stargazers",
    ]
    spec = {c["name"]: c for c in table.schema_spec()}
    assert spec["stargazers"]["type"] == "bigint"
    assert "stars" in spec["stargazers"]["sources"]  # rename lineage kept

    out = table.read(spark).toPandas()
    # content/row state is unaffected by schema churn
    assert_state_equal(
        out.drop(columns=["stargazers", "content_sha256"]),
        oracle_final_state(base, events),
    )
    # added column is typed null (events never carry it)
    assert out["stargazers"].isna().all()

    # registry DataFrame view records all versions
    reg_df = registry.to_df(spark).toPandas()
    assert reg_df["schema_version"].max() == 3
    renamed = reg_df[reg_df["renamed_from"].notna()]
    assert set(renamed["column"]) == {"stargazers"}


def test_evolution_resume_restores_registry(spark, tmp_path, evo_cfg):
    """A resumed replay reconstructs registry state from its persisted file."""
    base, events = generate_base(evo_cfg), generate_events(evo_cfg)
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    ev = spark.createDataFrame(events)
    replay(spark, ev, table, ledger, metrics, registry, upto_epoch=1)
    # simulate a fresh process: registry reloaded from disk
    registry2 = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    assert registry2.versions == registry.versions
    replay(spark, ev, table, ledger, metrics, registry2)
    out = table.read(spark).toPandas()
    assert_state_equal(
        out.drop(columns=["stargazers", "content_sha256"]),
        oracle_final_state(base, events),
    )


def test_event_payloads_carry_evolved_column_values(spark, tmp_path):
    """After an `add`, data events that CARRY the new column store its
    values (projection casts present columns in — not just typed nulls);
    after a `widen`, values beyond the old type's range flow through."""
    table, ledger, metrics, registry = _engine(tmp_path)
    schema = (
        "lsn long, epoch long, op string, repo string, path string, "
        "commit string, lang string, content string, stars long, "
        "sc_kind string, sc_column string, sc_arg string"
    )
    rows = [
        (1, 0, "schema_change", None, None, None, None, None, None,
         "add", "stars", "int"),
        (2, 0, "insert", "o/r", "a.py", "c2", "python", "v2", 7,
         None, None, None),
        (3, 1, "update", "o/r", "b.py", "c3", "python", "v3", 9,
         None, None, None),
        (4, 2, "schema_change", None, None, None, None, None, None,
         "widen", "stars", "bigint"),
        (5, 2, "update", "o/r", "a.py", "c5", "python", "v5", 2**40,
         None, None, None),
    ]
    replay(
        spark, spark.createDataFrame(rows, schema), table, ledger, metrics,
        registry,
    )
    out = table.read(spark).toPandas().set_index("path")
    assert int(out.loc["a.py", "stars"]) == 2**40  # widened value survives
    assert int(out.loc["b.py", "stars"]) == 9
    assert out.loc["a.py", "content"] == "v5"


def test_rename_reads_old_physical_files(spark, tmp_path):
    """Data written under the old column name stays readable after rename."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    reg = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    reg.apply_change("add", "stars", "int", at_lsn=1)
    table.evolve_schema(reg.spec)
    batch = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
              "content": "x", "stars": 7, "lsn": 2, "op": "insert"}]
        )
    )
    table.merge(spark, batch)
    reg.apply_change("rename", "stars", "stargazers", at_lsn=3)
    table.evolve_schema(reg.spec)
    out = table.read(spark).toPandas()
    assert list(out.columns) == [
        "repo", "path", "commit", "lang", "content", "content_sha256", "stargazers",
    ]
    assert out.iloc[0]["stargazers"] == 7  # resolved through rename lineage

    # widen after rename: value survives the int -> bigint cast
    reg.apply_change("widen", "stargazers", "bigint", at_lsn=4)
    table.evolve_schema(reg.spec)
    out2 = table.read(spark).toPandas()
    assert out2.iloc[0]["stargazers"] == 7

    # compaction physically materializes the rename + widen
    table.compact(spark)
    out3 = table.read(spark).toPandas()
    assert out3.iloc[0]["stargazers"] == 7

    # a merge batch that still names renamed columns stores their values
    # under the new names, as events do
    reg.apply_change("rename", "commit", "sha", at_lsn=5)
    table.evolve_schema(reg.spec)
    table.merge(spark, spark.createDataFrame(pd.DataFrame(
        [{"repo": "o/r", "path": "b.py", "commit": "c6", "lang": "python",
          "content": "y", "stars": 8, "lsn": 6, "op": "insert"}]
    )))
    out4 = table.read(spark).toPandas().set_index("path")
    assert out4.loc["b.py", "sha"] == "c6" and out4.loc["b.py", "stargazers"] == 8
    assert out4.loc["a.py", "sha"] == "c1"


@pytest.mark.parametrize("evolve_each", [True, False])
def test_renames_that_reuse_a_freed_name_read_by_column_id(spark, tmp_path, evolve_each):
    """Renaming `commit`->`sha` and then `lang`->`commit` reads old files'
    `commit` under `sha` and their `lang` under the new `commit`; an `add`
    of a name renamed away (`content`->`body`, then `content`) reads null
    from old files. Either with the table evolved after each change or once
    after all of them, and again after compaction. Column ids stay out of
    the table's schema, which equals the registry's. A later batch's
    `commit` and `content` land in the columns of those names alone."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    reg = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    table.merge(spark, spark.createDataFrame(pd.DataFrame(
        [{"repo": "o/r", "path": "a.py", "commit": "c1", "lang": "python",
          "content": "x", "lsn": 1, "op": "insert"}]
    )))
    for lsn, (kind, column, arg) in enumerate([
        ("rename", "commit", "sha"), ("rename", "lang", "commit"),
        ("rename", "content", "body"), ("add", "content", "string"),
    ], start=2):
        reg.apply_change(kind, column, arg, at_lsn=lsn)
        if evolve_each:
            table.evolve_schema(reg.spec)
    table.evolve_schema(reg.spec)
    assert table.schema_spec() == reg.spec
    for compacted in (False, True):
        row = table.read(spark).toPandas().iloc[0]
        assert (row["sha"], row["commit"], row["body"]) == ("c1", "python", "x")
        assert row["content"] is None, compacted
        table.compact(spark)
    table.merge(spark, spark.createDataFrame(pd.DataFrame(
        [{"repo": "o/r", "path": "b.py", "commit": "rust", "content": "y",
          "lsn": 9, "op": "insert"}]
    )))
    row = {r["path"]: r for r in table.read(spark).collect()}["b.py"]
    assert (row["sha"], row["commit"], row["body"], row["content"]) == (
        None, "rust", None, "y"
    )


def test_crash_window_in_schema_change_epoch_resumes(spark, tmp_path, evo_cfg):
    """Crash AFTER the registry persisted a change but BEFORE the epoch's
    ledger commit: resume re-processes the epoch and the re-applied
    schema_change must be an idempotent no-op (not a ValueError)."""
    import os

    base, events = generate_base(evo_cfg), generate_events(evo_cfg)
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    ev = spark.createDataFrame(events)
    replay(spark, ev, table, ledger, metrics, registry)
    fp_versions = list(registry.versions)
    # simulate the crash window for EVERY epoch that carried a schema change:
    # drop its ledger entry while the registry file keeps the change
    sc_epochs = sorted(set(events[events["op"] == "schema_change"]["epoch"]))
    for e in sc_epochs:
        os.remove(os.path.join(ledger.root, f"epoch_{int(e):08d}.json"))
    registry2 = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    stats = replay(spark, ev, table, ledger, metrics, registry2)
    assert stats["epochs_applied"] == len(sc_epochs)
    assert registry2.versions == fp_versions  # no duplicate versions
    out = table.read(spark).toPandas()
    assert_state_equal(
        out.drop(columns=["stargazers", "content_sha256"]),
        oracle_final_state(base, events),
    )


def test_resume_after_registry_persist_without_table_evolve(
    spark, tmp_path, evo_cfg
):
    """Crash AFTER registry persist but BEFORE the table manifest commit:
    resume sees applied=0 (has_lsn skips the change) — the table manifest
    must still be re-driven from registry-vs-table drift, or evolved columns
    silently vanish from merges and reads."""
    base, events = generate_base(evo_cfg), generate_events(evo_cfg)
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    # simulate the half-applied change: registry knows it, table does not
    sc = events[events["op"] == "schema_change"].sort_values("lsn").iloc[0]
    registry.apply_change(
        sc["sc_kind"], sc["sc_column"], sc["sc_arg"], int(sc["lsn"])
    )
    assert table.schema_spec() != registry.spec
    replay(spark, spark.createDataFrame(events), table, ledger, metrics, registry)
    assert table.schema_spec() == registry.spec
    out = table.read(spark).toPandas()
    assert "stargazers" in out.columns
    assert_state_equal(
        out.drop(columns=["stargazers", "content_sha256"]),
        oracle_final_state(base, events),
    )


def test_primed_registry_catches_up_without_schema_events(spark, tmp_path):
    """Registry primed OUT-OF-BAND (columns declared before replay — the
    reference's OutputFieldsDeclarer shape) with ZERO schema_change events
    in the stream: the run-level drift check must still evolve the table
    manifest, or the declared column silently vanishes from merges/reads."""
    cfg = CDCFixtureConfig(
        seed=47, n_repos=8, paths_per_repo=12, hot_repos=0,
        n_events=800, epoch_size=400, base_rows=60,
    )
    base, events = generate_base(cfg), generate_events(cfg)
    assert not (events["op"] == "schema_change").any()
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    registry.apply_change("add", "stars", "int", at_lsn=0)
    assert table.schema_spec() != registry.spec
    replay(spark, spark.createDataFrame(events), table, ledger, metrics, registry)
    assert table.schema_spec() == registry.spec
    out = table.read(spark).toPandas()
    assert "stars" in out.columns
    assert_state_equal(
        out.drop(columns=["stars", "content_sha256"]),
        oracle_final_state(base, events),
    )


def test_stale_registry_refuses_to_regress_table_schema(spark, tmp_path):
    """A fresh/lost registry paired with an already-evolved table must FAIL
    LOUDLY, not silently commit the old narrow spec back to the manifest
    (which would drop the evolved column from merges and reads)."""
    cfg = CDCFixtureConfig(
        seed=48, n_repos=6, paths_per_repo=10, hot_repos=0,
        n_events=600, epoch_size=300, base_rows=40,
    )
    base, events = generate_base(cfg), generate_events(cfg)
    table, ledger, metrics, registry = _engine(tmp_path)
    table.overwrite(spark, spark.createDataFrame(base))
    # table evolved in a prior life; this process's registry never saw it
    spec = [dict(c, sources=list(c["sources"])) for c in table.schema_spec()]
    spec.append({"name": "stars", "type": "int", "sources": ["stars"]})
    table.evolve_schema(spec)
    with pytest.raises(ValueError, match="behind/incompatible"):
        replay(
            spark, spark.createDataFrame(events), table, ledger, metrics, registry
        )
    # and the manifest kept the evolved column
    assert any(c["name"] == "stars" for c in table.schema_spec())


def test_spec_evolves_predicate():
    from hdata_spark.plans.schema_registry import spec_evolves

    old = [
        {"name": "a", "type": "int", "sources": ["a"]},
        {"name": "b", "type": "string", "sources": ["b"]},
    ]
    add = old + [{"name": "c", "type": "int", "sources": ["c"]}]
    widen = [dict(old[0], type="bigint"), old[1]]
    rename = [{"name": "a2", "type": "int", "sources": ["a2", "a"]}, old[1]]
    assert spec_evolves(old, old)
    assert spec_evolves(old, add)
    assert spec_evolves(old, widen)
    assert spec_evolves(old, rename)
    assert not spec_evolves(add, old)          # dropped column
    assert not spec_evolves(widen, old)        # narrowed type
    # int -> string is a legal widen; bigint -> int is not:
    assert spec_evolves(old, [dict(old[0], type="string"), old[1]])
    assert not spec_evolves([dict(old[0], type="bigint")], [old[0]])


def test_evolve_schema_reapply_is_noop(spark, tmp_path):
    """Re-driving an already-current spec must not churn versions/gens."""
    table = SnapshotTable(str(tmp_path / "t"), n_buckets=4)
    table.overwrite(
        spark,
        spark.createDataFrame(
            pd.DataFrame(
                [{"repo": "o/r", "path": "a.py", "commit": "c", "lang": "py",
                  "content": "v"}]
            )
        ),
    )
    spec = [dict(c, sources=list(c["sources"])) for c in table.schema_spec()]
    spec.append({"name": "stars", "type": "int", "sources": ["stars"]})
    v1 = table.evolve_schema(spec)
    assert v1 == table.current_version()
    v2 = table.evolve_schema(spec)  # crash-resume re-drive
    assert v2 == v1 == table.current_version()


def test_schema_change_at_lsn_zero_applies(tmp_path):
    """The seed version's since_lsn must never collide with a real lsn=0
    event — such a change must apply, not be swallowed as 'already done'."""
    reg = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    assert not reg.has_lsn(0)
    reg.apply_change("add", "stars", "int", at_lsn=0)
    assert reg.has_lsn(0)
    assert any(c["name"] == "stars" for c in reg.spec)
    # and the idempotence contract still holds at lsn 0
    n = len(reg.versions)
    reg.apply_change("add", "stars", "int", at_lsn=0)
    assert len(reg.versions) == n


def test_registry_apply_change_idempotent_per_lsn(tmp_path):
    reg = SchemaRegistry(state_path=str(tmp_path / "r.json"))
    reg.apply_change("add", "stars", "int", at_lsn=5)
    n = len(reg.versions)
    spec = reg.apply_change("add", "stars", "int", at_lsn=5)  # crash re-apply
    assert len(reg.versions) == n
    assert any(c["name"] == "stars" for c in spec)


def test_registry_refuses_a_type_the_sink_cannot_store(tmp_path):
    """`add` and `widen` check their type against the sink's type table
    BEFORE persisting: a refused change leaves no version behind, so a
    reopened registry does not claim its LSN and the table can still
    follow the registry."""
    path = str(tmp_path / "r.json")
    reg = SchemaRegistry(state_path=path)
    with pytest.raises(ValueError, match="unsupported type"):
        reg.apply_change("add", "stars", "varchar(10)", at_lsn=7)
    reopened = SchemaRegistry(state_path=path)
    assert len(reopened.versions) == 1 and not reopened.has_lsn(7)

    reopened.apply_change("add", "stars", "INTEGER", at_lsn=8)
    assert reopened.spec[-1]["type"] == "int"
    with pytest.raises(ValueError, match="unsupported type"):
        reopened.apply_change("widen", "stars", "varchar(10)", at_lsn=9)
    reopened = SchemaRegistry(state_path=path)
    assert len(reopened.versions) == 2 and not reopened.has_lsn(9)
