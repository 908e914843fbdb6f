"""SparkSession factory.

The reference hard-codes its "cluster" (1 master + 4 slaves on ports
10000-10003, greeter_client.cc:401) and its parallelism (4 map tasks,
1 reduce task, greeter_client.cc:362-368, :279-293). Here cluster
shape is pure configuration: the same plans run on local[N] or a
1000-executor cluster. Defaults are chosen for scale posture:

- AQE on: runtime coalescing of shuffle partitions + skew-join
  splitting (the reference's corpus has real skew -- 'flight' ~3% of
  tokens -- and so does any 100 TB text corpus).
- shuffle.partitions sized to cores locally; on a real cluster this
  is overridden (or left to AQE's coalescing from a high initial).
- Arrow enabled so any unavoidable pandas-UDF boundary is batched.
- Python workers start from ``pyworker`` (``spark.python.daemon.module``),
  which imports the installed, byte-compiled pyspark instead of Spark's
  zips: those zips cost each Python task ~0.3 CPU-s of directory re-reads
  and source compiles (SCALING.md, "Python worker start-up").
- Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``)
  holds ``CODEGEN_CACHE_ENTRIES`` classes instead of Spark's 100, so each
  generated class is compiled once per session: one pass of five small
  star-schema queries generates 105 classes at sf0.01, and at 100 every
  repeat pass ran Janino and the JIT on 57-73 of them again (SCALING.md,
  "Codegen cache"). The conf is static: the JVM reads it the first time
  it compiles generated code, so sessions the engine does not build
  (e.g. one handed to ``__spark_entry__.entry``) keep Spark's 100.
- Session extensions come only from ``spark.sql.extensions`` (which the
  engine leaves empty), not from a ServiceLoader scan of the classpath
  (``spark.sql.extensions.test.loadFromCp=false``). The scan's only hit
  is spark-mllib's provider, which registers three internal ML
  functions through Scala runtime reflection: about 3,000 classes and
  2 s of ``get_spark`` wall on 4 cores, for functions no engine plan
  calls (SCALING.md, "Session start-up"). The conf is static, so sessions the
  engine does not build keep the scan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

# the directory that holds this package, so workers import ``pyworker``
# from any working directory
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# entries of Spark's generated-code cache: the smallest power of two that
# holds the classes of one fresh-JVM bench batch plus the perfbench
# workloads (at sf0.001 the canary tier generates 387, the eager tier
# 706, all 160 headline queries 2,666 and the whole registry 4,603)
CODEGEN_CACHE_ENTRIES = 2048


def _env_conf() -> dict[str, str]:
    """Spark confs from ``SPARK_GRAFT_CONF_JSON``, merged last.

    Scale-dependent overrides stay configuration, never code: a JSON
    object of spark confs (e.g. '{"spark.sql.shuffle.partitions":
    "2000"}' on a real cluster) lets deployments retune without
    touching plans. Scalars pass as their JSON text (json.dumps keeps
    true/false lowercase, which Spark parses; str() would yield Python
    'True'). A non-object document, a null and a nested value are
    rejected loudly instead of being set as "null" or a Python repr.
    """
    raw = os.environ.get("SPARK_GRAFT_CONF_JSON")
    if not raw:
        return {}
    conf = json.loads(raw)
    if not isinstance(conf, dict):
        raise ValueError(
            "SPARK_GRAFT_CONF_JSON must be a JSON object of spark confs, "
            f"got a JSON {type(conf).__name__}"
        )
    out = {}
    for k, v in conf.items():
        if v is None or isinstance(v, (dict, list)):
            kind = "null" if v is None else type(v).__name__
            raise ValueError(
                f"SPARK_GRAFT_CONF_JSON[{k!r}]: conf values must be "
                f"non-null scalars, got {kind}"
            )
        out[k] = v if isinstance(v, str) else json.dumps(v)
    return out


def get_spark(
    app_name: str = "mapreduce-grpc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    env_conf = _env_conf()  # validate before touching the builder
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # an events.parquet with TIMESTAMP(NANOS) columns (the generated
        # ones are TIMESTAMP(MICROS), read as TIMESTAMP_NTZ) is read as
        # raw int64 nanos, converted in sources.catalog, instead of
        # failing the scan
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", "mapreduce_implementation_grpc_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # only the extensions spark.sql.extensions names (none): skips
        # spark-mllib's provider and its Scala runtime reflection
        .config("spark.sql.extensions.test.loadFromCp", "false")
    )
    for k, v in {**env_conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
