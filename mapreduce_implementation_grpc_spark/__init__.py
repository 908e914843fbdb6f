"""PySpark-native analytics engine with the query surface of
rafaayyyy/MapReduce-Implementation-GRPC, rebuilt Spark-first.

The reference is a C++/gRPC distributed word-count system (master +
4 slaves, HDFS I/O, heartbeat fault tolerance). Here the whole
control plane (scheduling, heartbeats, retries, shuffle) is Spark's
driver/scheduler; this package only declares the *data* semantics as
DataFrame plans so Catalyst/Tungsten pick the physical strategy.

Layout:
  session      -- SparkSession factory (AQE on, tuned local defaults)
  sources/     -- corpus + table ingest, sinks
  operators/   -- normalize, tokenize, wordcount, topk, dedup, similarity
  functions/   -- scalar/text/vector column functions (all JVM-side)
  plans/       -- composed analytics query plans (joins/windows/aggs)
  multimodal/  -- binary-column plumbing (decode stubs via mapInPandas)
"""

__version__ = "0.1.0"
