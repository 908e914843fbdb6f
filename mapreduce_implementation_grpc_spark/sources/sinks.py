"""Sinks.

Reference surface covered (SURVEY.md section 2a):
  O7  intermediate sink (greeter_server.cc:81-86)  -> Spark shuffle
      (automatic, binary, compressed); never materialized as text.
  O10 HDFS overwrite sink (greeter_server.cc:115-121, `hdfs dfs -put
      -f` of "word count" lines) -> mode('overwrite') writers.

``write_word_counts_text`` reproduces the reference's exact output
file format ("<word> <count>" per line, order-unspecified) for
parity; parquet is the default at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_word_counts_text(df: DataFrame, path: str) -> None:
    """Reference-format sink: lines of "<word> <count>"
    (greeter_server.cc:115-121). Distributed write -- one part file
    per partition, NOT coalesce(1): the reference's single-reducer
    placement (O15, greeter_client.cc:279-293) is a scalability bug,
    not a semantic."""
    df.select(F.concat_ws(" ", F.col("word"), F.col("cnt").cast("string")).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Columnar ORC sink (Spark built-in; same predicate-pushdown and
    column-pruning story as parquet -- the choice between them is an
    ecosystem question, not a capability one)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions
    present in `df`, leaving every other partition's files physically
    untouched -- the incremental-recompute primitive (re-curate one
    day / one language / one source without rewriting a 100 TB
    table). Static overwrite mode would drop the whole table first;
    this flips spark.sql.sources.partitionOverwriteMode to 'dynamic'
    for just this write and restores the previous value."""
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Compact a small-files parquet table (the failure mode of every
    per-batch append sink: one file per microbatch) into
    ceil(total_bytes / target_file_bytes) files. Returns the new file
    count. Non-atomic on a plain filesystem (a concurrent reader can
    see the table mid-rewrite) -- a table format's transactional
    rewrite is the production answer; this is the mechanics.

    Scale: one read + one round-robin repartition + one write; no
    driver-side data movement (sizes come from the file listing)."""
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = list(fs.listStatus(jvm_path))
    # partitioned layouts (dir=value subdirectories) would be silently
    # flattened by a naive rewrite -- refuse; compact per partition
    part_dirs = [
        f.getPath().getName()
        for f in statuses
        if f.isDirectory() and "=" in f.getPath().getName()
    ]
    if part_dirs:
        raise ValueError(
            f"compact_parquet: {path} is a partitioned table "
            f"(e.g. {part_dirs[0]}); compact each partition directory "
            f"individually to preserve the layout"
        )
    total = sum(
        f.getLen()
        for f in statuses
        if f.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp_path = Path(path.rstrip("/") + "__compacting")
    old_path = Path(path.rstrip("/") + "__old")
    df.repartition(n_files).write.mode("overwrite").parquet(tmp_path.toString())
    # Crash-safe swap: move the original ASIDE first, then move the
    # compacted copy in, then delete the old copy. A process crash at
    # any point leaves a complete table at a known path (either the
    # original location, path__old, or path__compacting) -- the
    # delete-then-rename order would strand the data with NO table at
    # the original location if the process died between the two steps.
    # Hadoop FileSystem reports failure by RETURNING FALSE -- check
    # every step or a failed swap silently duplicates or strands data.
    if fs.exists(old_path):
        raise IOError(
            f"compact_parquet: stale {old_path.toString()} exists -- a previous "
            f"compaction crashed mid-swap; recover or remove it first"
        )
    if not fs.rename(jvm_path, old_path):
        fs.delete(tmp_path, True)
        raise IOError(f"compact_parquet: could not move {path} aside; table unchanged")
    if not fs.rename(tmp_path, jvm_path):
        # roll back so the table reappears at its original location
        restored = fs.rename(old_path, jvm_path)
        raise IOError(
            f"compact_parquet: swap-in failed -- compacted data is at "
            f"{tmp_path.toString()}; original "
            + (f"restored at {path}" if restored else f"at {old_path.toString()}")
        )
    if not fs.delete(old_path, True):
        raise IOError(
            f"compact_parquet: compaction succeeded but the pre-compaction "
            f"copy remains at {old_path.toString()}; remove it manually"
        )
    return n_files


def merge_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key: str,
    order_col: str | None = None,
    n_buckets: int = 64,
) -> None:
    """MERGE (last-write-wins upsert) into a hash-bucketed parquet
    table -- the copy-on-write pattern every table format (Hudi COW,
    Delta, Iceberg) reduces to, built on the dynamic-partition
    overwrite primitive above.

    Layout: the table is partitioned by `_bkt = pmod(xxhash64(key),
    n_buckets)`. An upsert batch then:

    1. resolves WITHIN-batch collisions (last per key by `order_col`
       descending, or arbitrary-deterministic if None);
    2. finds its touched buckets -- at most n_buckets smallint ids
       (a BOUNDED collect, like k-means centroids: size is a config
       constant, never data-sized);
    3. reads ONLY those bucket directories of the current table
       (partition pruning on _bkt), anti-joins the surviving old
       rows against the update keys;
    4. rewrites just the touched buckets via dynamic partition
       overwrite -- survivors + updates.

    Scale: an upsert touching K keys costs reading + rewriting
    ~K/n_buckets-th of the table... IF the keys are spread; a batch
    hitting every bucket is a full rewrite, which is what table
    formats' merge-on-read mode exists for. n_buckets trades rewrite
    amplification (bigger = less data per touched bucket) against
    small-files pressure and planning overhead. The anti-join is
    keyed on `key` within matching buckets only; the update side of
    it is batch-sized, so AQE broadcasts it.

    Idempotent: replaying the same batch yields a byte-equal table
    (the anti-join removes exactly the rows the batch re-inserts).
    Crash mid-write leaves some buckets new, some old -- rerun the
    SAME batch to converge (per-bucket writes are atomic via
    overwrite); there is no cross-bucket transaction, which is the
    honest boundary vs a real table format's commit log.
    """
    dedup_order = (
        [F.col(order_col).desc()] if order_col is not None else []
    ) + [F.col(key).desc()]
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*dedup_order)
    batch = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "_bkt", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
        )
    )
    import os

    if not os.path.isdir(path):
        overwrite_partitions(batch, path, ["_bkt"])
        return
    touched = [r._bkt for r in batch.select("_bkt").distinct().collect()]
    current = spark.read.parquet(path).filter(F.col("_bkt").isin(touched))
    survivors = current.join(
        batch.select(F.col(key)), key, "left_anti"
    )
    overwrite_partitions(
        survivors.unionByName(batch), path, ["_bkt"]
    )
