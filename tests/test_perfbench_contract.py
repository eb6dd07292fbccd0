"""What the per-layer benchmark (`perfbench/`) takes from the engine by name:
`spans.instrument` wraps engine attributes, and `run.py` calls the entry
points positionally. The untraced benchmark run never calls `instrument`, so
a rename here would otherwise break only the traced profile. Spark-free."""

from __future__ import annotations

import inspect
import os
import sys

import pytest

from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming import replay, stream_replay

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")


@pytest.fixture
def spans(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import spans

    yield spans
    sys.modules.pop("spans", None)


def test_instrument_wraps_and_restores_every_named_attribute(spans):
    original = SnapshotTable.register_deltas
    tracer = spans.Tracer(True)
    try:
        spans.instrument(tracer)
        assert len(tracer._patched) == 9
        assert SnapshotTable.register_deltas is not original
    finally:
        tracer.restore()
    assert not tracer._patched
    assert SnapshotTable.register_deltas is original


def test_run_calls_match_the_engine():
    """`run.py` calls `replay` with 6 positional arguments and
    `stream_replay` with 7, and reads these `SnapshotTable` methods."""
    inspect.signature(replay).bind(*range(6))
    inspect.signature(stream_replay).bind(*range(7))
    for attr in ("delta_file_count", "changes_between", "overwrite"):
        assert callable(getattr(SnapshotTable, attr)), attr
