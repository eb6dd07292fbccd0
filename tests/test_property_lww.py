"""LWW tests. Property-based (hypothesis): for ANY event log — duplicate
keys, delete/reinsert races, arbitrary arrival order, any epoch split — the
engine's final state equals the single-threaded oracle (SURVEY §5.2.4),
both merge-on-read and after compaction. Plus the agreement of the two
`lww_latest` variants on a skewed fixture log.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hdata_spark.fixtures import CDCFixtureConfig, generate_events, oracle_final_state
from hdata_spark.operators.dedup import lww_latest, lww_latest_window
from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.replay import ReplayConfig, replay

from tests.conftest import assert_state_equal

KEYS = [("o/r0", "a.py"), ("o/r0", "b.py"), ("o/r1", "a.py"), ("o/r1", "c.py")]

event_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=len(KEYS) - 1),  # key index
        st.sampled_from(["insert", "update", "delete"]),
        st.text(alphabet="abcxyz", min_size=0, max_size=8),  # content
    ),
    min_size=1,
    max_size=30,
)


def _to_frame(raw, shuffle_seed: int, epoch_size: int) -> pd.DataFrame:
    rows = []
    for lsn0, (ki, op, content) in enumerate(raw):
        repo, path = KEYS[ki]
        lsn = lsn0 + 1
        rows.append(
            {
                "lsn": lsn,
                "epoch": (lsn - 1) // epoch_size,
                "op": op,
                "repo": repo,
                "path": path,
                "commit": None if op == "delete" else f"c{lsn}",
                "lang": None if op == "delete" else "py",
                "content": None if op == "delete" else content,
                "sc_kind": None, "sc_column": None, "sc_arg": None,
            }
        )
    df = pd.DataFrame(rows)
    # arrival order is adversarial; lsn order is the only guarantee
    return df.sample(frac=1.0, random_state=shuffle_seed).reset_index(drop=True)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    raw=event_strategy,
    shuffle_seed=st.integers(min_value=0, max_value=2**16),
    epoch_size=st.sampled_from([1, 3, 100]),
)
def test_any_log_matches_oracle(spark, tmp_path_factory, raw, shuffle_seed, epoch_size):
    events = _to_frame(raw, shuffle_seed, epoch_size)
    d = tmp_path_factory.mktemp("prop")
    table = SnapshotTable(str(d / "t"), n_buckets=4)
    replay(
        spark,
        spark.createDataFrame(events),
        table,
        CommitLedger(str(d / "l")),
        MetricsLog(str(d / "m")),
        SchemaRegistry(state_path=str(d / "r.json")),
        ReplayConfig(),
    )
    base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    expected = oracle_final_state(base, events)
    assert_state_equal(table.read(spark).toPandas(), expected)
    table.compact(spark)
    assert_state_equal(table.read(spark).toPandas(), expected)


def test_lww_aggregate_and_window_variants_agree(spark):
    cfg = CDCFixtureConfig(
        seed=44, n_repos=10, paths_per_repo=10, hot_repos=1,
        hot_factor=25, n_events=3_000, epoch_size=3_000, base_rows=0,
    )
    df = spark.createDataFrame(generate_events(cfg)).filter(
        F.col("op") != "schema_change"
    )
    a = {
        tuple(r) for r in lww_latest(df, ("repo", "path"), "lsn")
        .select("repo", "path", "lsn", "commit").collect()
    }
    b = {
        tuple(r) for r in lww_latest_window(df, ("repo", "path"), "lsn")
        .select("repo", "path", "lsn", "commit").collect()
    }
    assert a == b
