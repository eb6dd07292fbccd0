"""Batch replay: the epoch planner in front of the one apply core.

This is the engine's equivalent of the reference's job splitter
(hdata-core/.../core/HData.java:45-217: splitter -> reader threads -> ring
buffer -> writer pool). It plans the uncommitted epochs of an event log into
runs and hands each run to `stream_replay.apply_epochs`, the same core the
WAL tail applies its micro-batches through:

    for each run of epochs (split at schema-change epochs):
        apply_epochs(run)   one scan + LWW + stage write, k epoch commits
    compact once at the end, when the compaction rule says so

Run batching is the key scan optimization: a resume-from-scratch replay of E
epochs reads the event log ONCE (filtered to uncommitted epochs — parquet
row-group pruning on the monotone epoch column), not E times. Dedup is keyed
(epoch, repo, path), so per-epoch winners are computed in a single shuffle
while commits across epochs stay strictly sequential — the stored-LSN LWW in
the sink makes per-epoch application equal to global LWW. Epochs that
contain schema_change events form their own single-epoch run (the projection
changes mid-stream, exactly like Structured Streaming restarting a query on
schema change).

Shuffle budget for a run of k epochs (the 100 TB question): one partial-agg
exchange for the LWW groupBy (shuffle volume = per-epoch distinct keys, not
events, thanks to map-side combine) + one rebalance on epoch for the stage
write, which AQE sizes by bytes. Hot-repo skew cannot hurt either: the
groupBy is keyed by (repo, path), which is uniform even under a 25x hot
repo (tests/test_partitioning.py), and the rebalance splits a large epoch
into write tasks of the advisory partition size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdata_spark.plans.schema_registry import SchemaRegistry
from hdata_spark.sinks.snapshot import SnapshotTable
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog
from hdata_spark.streaming.stream_replay import (
    ReplayConfig,
    _compact_if_due,
    apply_epochs,
)

__all__ = ["ReplayConfig", "replay"]

# A run holds at most this many epochs, which bounds one run's scan and
# stage write.
MAX_EPOCHS_PER_RUN = 16


def replay(
    spark: SparkSession,
    events: DataFrame,
    table: SnapshotTable,
    ledger: CommitLedger,
    metrics: MetricsLog,
    registry: SchemaRegistry,
    cfg: ReplayConfig | None = None,
    upto_epoch: int | None = None,
) -> dict:
    """Run the epoch loop; resumable — committed epochs are skipped.

    `events` must carry (lsn, epoch, op, repo, path, commit, lang, content,
    sc_kind, sc_column, sc_arg). Filters on `epoch` push down to the parquet
    scan (row-group pruning on the monotone epoch column), so a resumed
    replay reads only the uncommitted tail.
    """
    cfg = cfg or ReplayConfig()
    bounds = events.agg(
        F.min("epoch").alias("min_epoch"),
        F.max("epoch").alias("max_epoch"),
        F.max(F.when(F.col("op") == "schema_change", F.col("epoch"))).alias(
            "max_sc_epoch"
        ),
    ).collect()[0]
    if bounds["min_epoch"] is None:
        return {"epochs_applied": 0, "epochs_skipped": 0}

    # Upfront profile (one tiny job, only when the log holds any): the
    # schema_change events themselves. Each run is handed its own, so the
    # core never looks for them with a job of its own.
    sc_rows = []
    if bounds["max_sc_epoch"] is not None:
        sc_rows = (
            events.filter(F.col("op") == "schema_change")
            .select("lsn", "epoch", "sc_kind", "sc_column", "sc_arg")
            .collect()
        )
    sc_epochs = {int(r["epoch"]) for r in sc_rows}

    todo = []
    skipped = 0
    for epoch in range(int(bounds["min_epoch"]), int(bounds["max_epoch"]) + 1):
        if upto_epoch is not None and epoch > upto_epoch:
            break
        if ledger.is_committed(epoch):
            skipped += 1
        else:
            todo.append(epoch)

    # Runs: contiguous uncommitted epochs, split at schema-change epochs
    # (each of those runs alone) and capped at MAX_EPOCHS_PER_RUN.
    runs: list[list[int]] = []
    for epoch in todo:
        if (
            runs
            and epoch == runs[-1][-1] + 1
            and epoch not in sc_epochs
            and runs[-1][-1] not in sc_epochs
            and len(runs[-1]) < MAX_EPOCHS_PER_RUN
        ):
            runs[-1].append(epoch)
        else:
            runs.append([epoch])

    for run in runs:
        apply_epochs(
            spark, events.filter(F.col("epoch").between(run[0], run[-1])), run,
            table, ledger, metrics, registry,
            [r for r in sc_rows if run[0] <= r["epoch"] <= run[-1]],
        )
    # Fold MOR deltas back to one row per key (read-optimize the table) under
    # the rule the WAL tail applies per micro-batch. Policy, not correctness:
    # readers resolve deltas either way.
    compacted = bool(todo) and _compact_if_due(spark, table, cfg)
    return {
        "epochs_applied": len(todo),
        "epochs_skipped": skipped,
        "runs": len(runs),
        "compacted": compacted,
        "final_snapshot_version": table.current_version(),
    }
