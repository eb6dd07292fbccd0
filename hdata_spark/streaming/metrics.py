"""Per-micro-batch metrics table: lag / applied counts / skew per partition.

Reference counterpart: global AtomicLong read/write counters logged every 3 s
(hdata-api/.../api/Metric.java:5-78; hdata-core/.../core/HData.java:151,166-170)
— totals only, no per-partition visibility. The north-star requires
per-partition lag, applied-event, and skew metrics each micro-batch; we
append them (JSON lines per epoch, tmp->rename) and expose the whole log as
a DataFrame (FIXTURES.md §5).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class MetricsLog:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    def append(self, epoch: int, rows: list[dict]) -> None:
        path = os.path.join(self.root, f"metrics_{epoch:08d}.jsonl")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps({"epoch": epoch, **r}) + "\n")
        os.replace(tmp, path)

    def rows(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.root)):
            if fn.startswith("metrics_") and fn.endswith(".jsonl"):
                with open(os.path.join(self.root, fn)) as f:
                    out.extend(json.loads(line) for line in f if line.strip())
        return out

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (
                int(r["epoch"]),
                int(r["partition_id"]),
                int(r["lag_events"]),
                int(r["applied_events"]),
                float(r["skew_ratio"]),
            )
            for r in self.rows()
        ]
        return spark.createDataFrame(
            rows,
            "epoch long, partition_id int, lag_events long, applied_events long, "
            "skew_ratio double",
        )
