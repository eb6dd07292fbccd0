"""The engine's one apply core, and the WAL tail that drives it.

The reference runs every job through a single reader -> ring buffer ->
writer pipeline (hdata-core/.../core/HData.java:45-217). Here the single
pipeline is `apply_epochs(frame, epochs)`; batch replay (replay.py) and the
Structured Streaming tail below are two planners in front of it:

- batch replay hands it a run of contiguous uncommitted epochs of the log;
- the WAL tail hands it one micro-batch as a run of ONE epoch, the
  micro-batch's id (`epoch = lit(batch_id)`), so its ledger is keyed by
  batch_id and a tail drained one log epoch per trigger writes the same
  ledger records, metrics rows and final table as a batch replay.

One call of the core:

    schema_change events -> registry (LSN order) -> table manifest catch-up
    LWW winners per (epoch, key) -> transforms
    the sink stages them (`SnapshotTable.stage_deltas`: projection to the
        table's schema, stored-row encoding, ONE epoch-partitioned write of
        files sized by the data, each holding many buckets), observing a
        per-epoch fingerprint over the stored rows (no extra Spark job)
    for each epoch, in order:
        per-bucket counts + max LSN from the staged files' `bucket` and
        `_lsn` columns (pyarrow, no Spark job)
        metadata-only manifest append of the epoch's files with the buckets
        each holds (fast-append)
        metrics row, then ledger record

How a row is stored and where its file goes is the sink's alone
(sinks/snapshot.py); this module only decides what to apply and records it.

The reference's Kafka reader is its streaming archetype — an offset-tracked
topic tail, bounded per run by `max.fetch.size` / `max.wait.second`
(hdata-kafka/.../reader/kafka/KafkaConsumer.java:84-141;
`start.offset` seek :85-97). `stream_replay` is the Spark-native
generalization:

- the event log directory is the "topic" (`spark.readStream.parquet`);
  swapping in `format("kafka")` + `startingOffsets` changes NOTHING
  downstream — foreachBatch sees the same change-event frame;
- checkpointed source offsets replace the consumer group: a restarted query
  resumes from the last committed trigger (the reference re-reads from its
  static `start.offset`);
- `maxFilesPerTrigger` is the `max.fetch.size` bound (micro-batch sizing /
  backpressure); `Trigger.AvailableNow` is the bounded-replay mode — drain
  everything, checkpointing per batch, then stop;
- there is no drain-level profile of the log: each micro-batch reads its
  schema_change events from its own files, named by the checkpoint's
  source-log entry (`_batch_schema_changes`, pyarrow, no Spark job), so a
  drain's only job outside its micro-batches is the WAL schema read.

Exactly-once: Spark re-delivers an in-flight micro-batch after a crash with
the SAME batch_id, and a resumed batch replay re-plans the epochs the
ledger lacks. The ledger skips fully-committed epochs, and the stored-LSN
LWW read makes even a raced re-apply a no-op — the ledger is the fast path,
not the correctness anchor.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hdata_spark.functions.text import normalize_lang_col
from hdata_spark.operators.dedup import lww_latest
from hdata_spark.plans.schema_registry import SchemaRegistry, spec_evolves
from hdata_spark.sinks.snapshot import SnapshotTable, delta_footer_stats
from hdata_spark.streaming.ledger import CommitLedger
from hdata_spark.streaming.metrics import MetricsLog


@dataclass
class ReplayConfig:
    # The one compaction rule of both planners: once a commit leaves more
    # than this many UNCOMPACTED (delta file, live bucket) pairs in the
    # table (`SnapshotTable.delta_bucket_count`: the delta files a
    # one-file-per-bucket layout would hold), fold them with `compact()` —
    # after each micro-batch on the WAL tail, once after all runs in batch
    # replay. Each commit stays metadata-only (the fast-append
    # invariant); compaction cost is amortized over ~threshold pairs. None
    # disables auto-compaction (callers own the cadence, e.g. a separate
    # maintenance job).
    compact_delta_files: int | None = 64


def _compact_if_due(spark: SparkSession, table: SnapshotTable, cfg: ReplayConfig) -> bool:
    """Apply the compaction rule; True when it compacted. Runs AFTER the
    ledger commit — compaction is read optimization, never part of an
    epoch's exactly-once window (a crash mid-compact leaves the pre-compact
    snapshot fully committed, and compact() itself commits atomically)."""
    if cfg.compact_delta_files is None or table.delta_bucket_count() <= cfg.compact_delta_files:
        return False
    table.compact(spark)
    return True


def _transform(data: DataFrame) -> DataFrame:
    """Per-event transforms on JVM built-ins."""
    data = data.withColumn("lang", normalize_lang_col(F.col("lang")))
    return data.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def _evolve_table_forward(table: SnapshotTable, registry: SchemaRegistry) -> None:
    """Catch the table manifest up to the registry — FORWARD only.

    evolve_schema accepts any spec, so a registry BEHIND the table (a
    fresh/lost registry state file paired with an already-evolved table)
    would silently regress the manifest and drop evolved columns from
    merges and reads. That pairing is unrecoverable operator error: fail
    loudly instead of committing it.
    """
    if not spec_evolves(table.schema_spec(), registry.spec):
        raise ValueError(
            "schema registry is behind/incompatible with the table manifest "
            f"(registry {[c['name'] for c in registry.spec]} vs table "
            f"{[c['name'] for c in table.schema_spec()]}); refusing to "
            "regress the table schema — restore the registry state file or "
            "rebuild it by replaying the event log's schema_change events"
        )
    table.evolve_schema(registry.spec)


def apply_epochs(
    spark: SparkSession,
    frame: DataFrame,
    epochs: list[int],
    table: SnapshotTable,
    ledger: CommitLedger,
    metrics: MetricsLog,
    registry: SchemaRegistry,
    schema_changes: list | None = None,
) -> list[dict]:
    """Apply a run of uncommitted epochs: one scan, one stage write, one
    fast-append commit per epoch. Returns the epochs' ledger records.

    `frame` carries change events (lsn, epoch, op, keys, payload, sc_kind,
    sc_column, sc_arg) whose `epoch` values all lie in `epochs`. Schema-change
    events apply first, in LSN order; data events then project against the
    updated registry. Within one epoch this matches applying events one by
    one because projection only ADDS evolved columns: data rows preceding the
    change simply carry nulls there, exactly as the registry's since_lsn
    records. Batch replay therefore gives each schema-change epoch a run of
    its own.

    `schema_changes` are the run's schema_change events (mappings with lsn,
    sc_kind, sc_column, sc_arg) when the planner already knows them — `[]`
    for a run without any — so no Spark job looks for them. `None` makes the
    core collect them from `frame` itself (one job).
    """
    if schema_changes is None:
        schema_changes = (
            frame.filter(F.col("op") == "schema_change")
            .select("lsn", "sc_kind", "sc_column", "sc_arg")
            .collect()
        )
    applied = 0
    for ch in sorted(schema_changes, key=lambda c: c["lsn"]):
        if registry.has_lsn(ch["lsn"]):
            continue  # crash-resume re-delivery: already applied
        registry.apply_change(ch["sc_kind"], ch["sc_column"], ch["sc_arg"], ch["lsn"])
        applied += 1
    # Drive the table manifest from registry-vs-table drift, NOT from
    # `applied`: a crash between registry persist and the table commit
    # resumes with applied=0 but the manifest still behind. The registry may
    # also have been primed out-of-band (declared columns before replay —
    # the reference's OutputFieldsDeclarer shape,
    # hdata-api/.../api/OutputFieldsDeclarer.java). The drift probe is a
    # local manifest read (no Spark job) and evolve_schema is idempotent.
    if applied or table.schema_spec() != registry.spec:
        _evolve_table_forward(table, registry)

    data = frame.filter(F.col("op") != "schema_change").drop(
        "sc_kind", "sc_column", "sc_arg"
    )
    # One pass for the whole run: per-epoch LWW winners, STAGED by the
    # sink to an epoch-partitioned parquet dataset inside the table.
    # Staging (instead of .persist) matters twice over: the columnar
    # cache builder anti-scales with cores (measured 22s@8 -> 57s@32 for the
    # same data), while a parquet write scales; and at 10^10 events the
    # winners don't fit executor storage memory anyway.
    # Dedup FIRST, transform AFTER: the winner set is typically a small
    # fraction of the event stream (LWW collapses per-key churn), so running
    # the vectorized transforms (sha256, lang normalization, projection) on
    # winners only cuts their cost by the churn factor; the winners
    # aggregation itself reads just (epoch, keys, lsn) — column-pruned at
    # the scan — and the winner rows come back via a broadcast semi join on
    # LSN, so the full-width event stream is never shuffled (see
    # operators.dedup). Transforms are row-wise, so the reorder is
    # semantics-free.
    winners = lww_latest(data, keys=("epoch", *table.keys), order_col="lsn")
    # Order-insensitive per-epoch fingerprint: BIT_XOR of xxhash64(keys,
    # lsn) over the epoch's stored rows. XOR is commutative and
    # overflow-free (a SUM of hashes would overflow under ANSI mode).
    # Observed on the stage write itself, so it costs no Spark job of its
    # own; observed metrics reject FILTER clauses, hence the CASE per epoch.
    key_hash = F.xxhash64(*[F.col(k) for k in table.keys], F.col("_lsn"))
    fingerprint = Observation()
    staged = table.stage_deltas(
        spark, _transform(winners), epochs, fingerprint,
        *[
            F.bit_xor(
                F.when(F.col("epoch") == e, key_hash).otherwise(F.lit(0).cast("long"))
            ).alias(f"fp_{e}")
            for e in epochs
        ],
    )
    observed = fingerprint.get

    records = []
    for epoch in epochs:
        # Crash safety: a crash after register_deltas but before the ledger
        # commit leaves a committed-but-unledgered epoch; its re-apply
        # stages and registers IDENTICAL-content rows, and the MOR read's
        # LWW window keeps exactly one copy per key — a no-op on final state.
        # Each staged file's buckets, and per-bucket counts and max LSN,
        # come off its `bucket` and `_lsn` columns — a driver-side pyarrow
        # read, not a Spark job over files this call just wrote (see
        # sinks.snapshot.delta_footer_stats). A bucket may span files.
        stats = delta_footer_stats(table.root, dict.fromkeys(staged[epoch]))
        commit = table.register_deltas({f: list(bs) for f, bs in stats.items()})
        by_bucket: dict[int, tuple[int, int]] = {}
        for bs in stats.values():
            for b, (n, mx) in bs.items():
                n0, mx0 = by_bucket.get(b, (0, mx))
                by_bucket[b] = (n0 + n, max(mx0, mx))
        top = max((mx for _, mx in by_bucket.values()), default=0)
        mean_rows = (
            sum(n for n, _ in by_bucket.values()) / len(by_bucket) if by_bucket else 0.0
        )
        partitions = [
            {
                "partition_id": b,
                "applied_events": n,
                "lag_events": top - mx,
                "skew_ratio": n / mean_rows,
            }
            for b, (n, mx) in sorted(by_bucket.items())
        ]
        record = {
            "partitions": partitions,
            "batch_fingerprint": format(
                (observed.get(f"fp_{epoch}") or 0) & 0xFFFFFFFFFFFFFFFF, "016x"
            ),
            "committed_at_lsn": top,
            "applied_events": sum(p["applied_events"] for p in partitions),
            "schema_version": registry.versions[-1]["schema_version"],
            "snapshot_version": commit["version"],
        }
        metrics.append(epoch, partitions)
        ledger.commit(epoch, record)
        records.append(record)
    return records


def apply_change_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    table: SnapshotTable,
    ledger: CommitLedger,
    metrics: MetricsLog,
    registry: SchemaRegistry,
    cfg: ReplayConfig,
    schema_changes: list | None = None,
) -> dict | None:
    """Apply ONE micro-batch as the run of one epoch, `batch_id`; then fold
    the deltas when the compaction rule says so. Returns the
    batch's ledger record, or None for an already-committed batch."""
    if ledger.is_committed(batch_id):
        return None
    (record,) = apply_epochs(
        spark, batch.withColumn("epoch", F.lit(batch_id).cast("long")),
        [batch_id], table, ledger, metrics, registry, schema_changes,
    )
    _compact_if_due(spark, table, cfg)
    return record


def drain_available_now(
    writer, checkpoint_dir: str, timeout_sec: int, desc: str
):
    """Start a bounded (Trigger.AvailableNow) streaming write and block
    until it drains; on timeout, stop the query and RAISE instead of
    returning over a mid-flight sink. Shared by every bounded-drain
    operator (stream_replay, stateful progress, watermarked windows)."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        q.awaitTermination()
        raise TimeoutError(
            f"{desc} did not drain within {timeout_sec}s "
            f"(resume with the same checkpoint to continue)"
        )
    return q


def _local_path(uri: str) -> str | None:
    """The local filesystem path of a source-log `path` URI; None for a
    remote one."""
    p = unquote(uri)
    if p.startswith("file:"):
        return "/" + p.removeprefix("file:").lstrip("/")
    return None if "://" in p else p


def _batch_schema_changes(checkpoint_dir: str, batch_id: int) -> list[dict] | None:
    """Micro-batch `batch_id`'s schema_change events in LSN order (`[]` when
    it has none), read with pyarrow from the batch's own files: no Spark job.

    The batch's file set is its entry in the checkpoint's file-source log,
    `<ckpt>/sources/0/<batchId>`, which the source writes BEFORE foreachBatch
    runs, so a segment landing mid-drain is read like any other. Each file's
    `op` column is read, and the sc columns only of files holding a change.
    None (the core then collects the changes with one Spark job, the safe
    direction) wherever the answer is not certain: a compaction batch
    (`<batchId>.compact` lists every file so far, not the batch's own), a
    missing, torn or malformed entry, a remote path, or a file pyarrow cannot
    read.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        with open(os.path.join(checkpoint_dir, "sources", "0", str(batch_id))) as f:
            header, *lines = f.read().splitlines()
        paths = [_local_path(json.loads(ln)["path"]) for ln in lines if ln.strip()]
        if not header.startswith("v") or not paths or None in paths:
            return None
        changes = []
        for path in paths:
            pf = pq.ParquetFile(path)
            is_sc = pc.equal(pf.read(columns=["op"]).column("op"), "schema_change")
            if pc.any(is_sc).as_py():
                changes += (
                    pf.read(columns=["lsn", "sc_kind", "sc_column", "sc_arg"])
                    .filter(is_sc)
                    .to_pylist()
                )
        return sorted(changes, key=lambda c: c["lsn"])
    except (OSError, ValueError, KeyError, TypeError, pa.ArrowException):
        return None


def stream_replay(
    spark: SparkSession,
    events_dir: str,
    table: SnapshotTable,
    ledger: CommitLedger,
    metrics: MetricsLog,
    registry: SchemaRegistry,
    checkpoint_dir: str,
    cfg: ReplayConfig | None = None,
    max_files_per_trigger: int = 4,
    timeout_sec: int = 600,
) -> dict:
    """Drain the event-log directory through Structured Streaming.

    Bounded replay (`Trigger.AvailableNow`): processes everything currently
    in `events_dir` in checkpointed micro-batches of `max_files_per_trigger`
    files, then stops. Re-invoking with the same checkpoint resumes after
    the last committed trigger — new files only (the WAL-tail loop).
    """
    cfg = cfg or ReplayConfig()
    # The drain's one job outside its micro-batches: the stream reads every
    # WAL file with this schema. A WAL with no data file yet (empty, or only
    # a hidden `.landing-*` temp) has none to infer: nothing to drain. A
    # missing directory still raises.
    try:
        schema = spark.read.parquet(events_dir).schema
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return {"batches": 0, "final_snapshot_version": table.current_version()}

    n_batches = {"n": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_change_batch(
            spark, batch_df, int(batch_id), table, ledger, metrics, registry, cfg,
            _batch_schema_changes(checkpoint_dir, int(batch_id)),
        )
        n_batches["n"] += 1

    drain_available_now(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
        .writeStream.foreachBatch(_apply),
        checkpoint_dir,
        timeout_sec,
        "stream_replay",
    )
    return {
        "batches": n_batches["n"],
        "final_snapshot_version": table.current_version(),
    }
