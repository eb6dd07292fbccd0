"""hdata_spark — a PySpark-native CDC / incremental-ingest analytics engine.

A from-scratch rebuild of the capabilities of the reference ETL engine
(fork-archive-hub/hdata, a single-JVM Java reader->ring-buffer->writer data
mover; see /root/reference) re-expressed Spark-first:

- partitioned parallel extraction  -> Spark source partition planning + key-hash
  bucketing (reference: JDBCSplitter/HiveSplitter/HBaseSplitter family)
- ordered event consumption        -> LSN-windowed batch replay / Structured
  Streaming (reference: Kafka offset tail, KafkaConsumer.java)
- keyed upsert                     -> MERGE-style upsert into a bucketed,
  atomically-snapshotted lake table (reference: JDBCWriter ON DUPLICATE KEY)
- schema declaration/propagation   -> schema-registry table + projection
  (reference: OutputFieldsDeclarer)
- flow control / metrics           -> per-epoch bounded replay + metrics table
  (reference: Metric.java, DefaultRecordCollector flow limit)

Everything is DataFrame/Catalyst; Python row-level code never touches the hot
path (Arrow-vectorized pandas UDFs only, and built-ins preferred over those).
"""

__version__ = "0.1.0"
