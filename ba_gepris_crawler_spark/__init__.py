"""ba_gepris_crawler_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference Scala/Akka-Streams GEPRIS
crawler (spaudanjo/ba-gepris-crawler) as distributed DataFrame dataflow:

- a URL frontier over snapshotted parquet tables (Iceberg-style manifest
  commits; the runtime has no Iceberg jars, the store keeps the same
  snapshot/lineage API so the swap is one module),
- an incremental bloom URL-seen filter (canonicalize -> xxhash64 ->
  per-partition shards OR-merged, persisted per round) in front of an
  exact anti-join that alone decides membership,
- a per-host politeness scheduler (token-bucket budgets, robots broadcast),
- a salted priority queue keyed by (host_bucket, crawl_depth, priority),
- vectorized Arrow/pandas-UDF fetch over batches (no per-row Python;
  spans cross the Arrow boundary as one json string per page),
- a native-Spark-SQL extraction kernel over interleaved text+media span
  documents, matching the reference extraction semantics bug-for-bug.

Nothing here is a port: the reference is single-JVM demand-driven Akka
streams; this engine is declarative DataFrame plans optimized by Catalyst.
"""

__version__ = "0.1.0"
