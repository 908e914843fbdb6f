"""Faithful I/O surface: O1 text scan, O10 overwrite sinks, and the
reference's "<word> <count>" output format (greeter_server.cc:115-121,
MapOutputTask format)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_implementation_grpc_spark.operators import word_count
from mapreduce_implementation_grpc_spark.sources import read_text_corpus
from mapreduce_implementation_grpc_spark.sources.catalog import load_table
from mapreduce_implementation_grpc_spark.sources.sinks import write_word_counts_text
from mapreduce_implementation_grpc_spark.sources.text import task_id_col


def test_text_scan_wordcount_roundtrip(spark, tmp_path):
    """O1: newline-delimited text -> word_count == same corpus via
    in-memory DataFrame (scan path is semantics-free)."""
    src = tmp_path / "corpus"
    src.mkdir()
    (src / "part1.txt").write_text("Hello world!\nhello AGAIN\n")
    (src / "part2.txt").write_text("world world\n")
    corpus = read_text_corpus(spark, str(src))
    got = {r.word: r.cnt for r in word_count(corpus).collect()}
    assert got == {"hello": 2, "world": 3, "again": 1}


def test_word_counts_text_sink_reference_format(spark, tmp_path):
    """O10: output lines are exactly '<word> <count>', overwrite mode
    works, and a second write replaces the first."""
    out = str(tmp_path / "wc_out")
    df = spark.createDataFrame([("alpha", 3), ("beta", 1)], ["word", "cnt"])
    write_word_counts_text(df, out)
    lines = set(spark.read.text(out).toPandas()["value"])
    assert lines == {"alpha 3", "beta 1"}
    write_word_counts_text(df.filter(F.col("word") == "alpha"), out)
    lines2 = set(spark.read.text(out).toPandas()["value"])
    assert lines2 == {"alpha 3"}  # -f overwrite semantics



def test_task_id_mirrors_reference_split(spark):
    df = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    got = dict(df.select("doc_id", task_id_col(F.col("doc_id"))).collect())
    assert got == {i: i % 4 for i in range(8)}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """A 100 TB table accretes columns over time: older files lack
    them. mergeSchema reads the union schema with nulls for the
    missing columns, and a query touching only the ORIGINAL columns
    still prunes its scan to them."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.mode("append").parquet(out)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.mode("append").parquet(out)

    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(back.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}

    pruned = back.select("id", "name")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "score" not in plan  # old-column query never reads the new one



def test_events_nanos_timestamps_load_like_micros(spark, sf_smoke, tmp_path):
    """``events.parquet`` as TIMESTAMP(NANOS) goes through
    ``load_table``'s int64-nanos branch and yields the type and the
    wall clock of the TIMESTAMP(MICROS) file the generators write, in
    the UTC session and in one west of it."""
    table = pq.read_table(f"{sf_smoke}/events.parquet")
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(table, tmp_path / "events.parquet")
    logical = pq.ParquetFile(tmp_path / "events.parquet").schema.column(ts).logical_type
    assert "timeUnit=nanoseconds" in str(logical)

    def ts_text(sf_dir):
        df = load_table(spark, sf_dir, "events")
        return dict(df.select("event_id", F.col("ts").cast("string")).collect())

    micros_df = load_table(spark, sf_smoke, "events")
    nanos_df = load_table(spark, str(tmp_path), "events")
    assert nanos_df.schema["ts"].dataType == micros_df.schema["ts"].dataType

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set(key, zone)
            micros, nanos = ts_text(sf_smoke), ts_text(str(tmp_path))
            assert len(micros) == table.num_rows
            assert nanos == micros, zone
    finally:
        spark.conf.set(key, prev)
