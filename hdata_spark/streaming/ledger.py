"""Exactly-once commit ledger keyed by (checkpoint epoch, partition id).

The reference has no recovery story: a writer error aborts the JVM with
partial 10k-row batches already committed (hdata-jdbc/.../writer/jdbc/
JDBCWriter.java:174-178; hdata-core/.../core/HData.java:140-148) and a failed
job is simply rerun from scratch. Here every epoch's apply is recorded —
per-partition counts + an order-insensitive batch fingerprint — in an
append-only ledger; replay consults it to skip committed epochs (fast path)
while the stored-LSN LWW merge guarantees that even a re-applied epoch is a
no-op (correctness anchor — SURVEY §7.5.1: the ledger is the fast path, not
the correctness anchor).

One JSON file per epoch, written tmp->rename (atomic). A ledger write only
happens AFTER the sink's snapshot pointer swap, so the crash window between
the two results in a committed-but-unledgered epoch — which the idempotent
merge re-applies harmlessly on resume.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class CommitLedger:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, epoch: int) -> str:
        return os.path.join(self.root, f"epoch_{epoch:08d}.json")

    def is_committed(self, epoch: int) -> bool:
        return os.path.exists(self._path(epoch))

    def committed_epochs(self) -> list[int]:
        return sorted(
            int(fn[len("epoch_"):-len(".json")])
            for fn in os.listdir(self.root)
            if fn.startswith("epoch_") and fn.endswith(".json")
        )

    def commit(self, epoch: int, record: dict) -> None:
        path = self._path(epoch)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"epoch": epoch, **record}, f)
        os.replace(tmp, path)

    def read(self, epoch: int) -> dict:
        with open(self._path(epoch)) as f:
            return json.load(f)

    def to_df(self, spark: SparkSession) -> DataFrame:
        """Ledger as a DataFrame (FIXTURES.md §4): one row per (epoch, partition)."""
        rows = []
        for e in self.committed_epochs():
            rec = self.read(e)
            for p in rec.get("partitions", []):
                rows.append(
                    (
                        e,
                        int(p["partition_id"]),
                        rec.get("batch_fingerprint", ""),
                        int(p["applied_events"]),
                        int(rec.get("committed_at_lsn", 0)),
                    )
                )
        return spark.createDataFrame(
            rows,
            "epoch long, partition_id int, batch_fingerprint string, "
            "applied_events long, committed_at_lsn long",
        )
