"""Engine sessions start without the classpath's session extensions.

``session.get_spark`` sets ``spark.sql.extensions.test.loadFromCp=false``,
so Spark skips its ServiceLoader scan of ``SparkSessionExtensionsProvider``.
The only provider in the installed pyspark is spark-mllib's, whose
``InternalFunctionRegistration`` registers three internal ML functions
through Scala runtime reflection: about 3,000 classes and 2 s of start-up
(SCALING.md, "Session start-up"). Spark calls the flag test-only, so this
test fails loudly if a later Spark ignores it.

The check runs in a fresh process: other tests in the shared session
load ``JavaUniverse`` for their own reasons. The JVM's class list is read
with ``jcmd VM.class_hierarchy``, which loads nothing; ``Class.forName``
would load the class it asks about.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

from tests.test_codegen_cache import _pass

REPO = pathlib.Path(__file__).resolve().parent.parent

# classes the mllib extension loads; the olap_mix queries never do
NEVER_LOADED = (
    "org.apache.spark.sql.ml.InternalFunctionRegistration",
    "scala.reflect.runtime.JavaUniverse",
)


def _loaded_classes(spark) -> set[str]:
    jvm = spark.sparkContext._jvm
    pid = int(jvm.ProcessHandle.current().pid())
    jcmd = os.path.join(jvm.System.getProperty("java.home"), "bin", "jcmd")
    out = subprocess.run([jcmd, str(pid), "VM.class_hierarchy"],
                         capture_output=True, text=True, check=True).stdout
    # lines look like "|  |--scala.reflect.runtime.JavaUniverse$anon$1/0x..."
    return set(re.findall(r"--([\w.$]+)/", out))


def _probe(sf_dir: str) -> None:
    """Start an engine session, run the olap_mix queries and print the
    conf and the loaded classes this test asks about, as JSON."""
    from mapreduce_implementation_grpc_spark.session import get_spark

    spark = get_spark(app_name="startup-probe", master="local[2]", shuffle_partitions=2)
    _pass(spark, sf_dir)
    classes = _loaded_classes(spark)
    print(json.dumps({
        "conf": spark.conf.get("spark.sql.extensions.test.loadFromCp"),
        "list_read": "org.apache.spark.sql.SparkSession" in classes,
        "loaded": sorted(c for c in classes
                         if any(c == n or c.startswith(n + "$") for n in NEVER_LOADED)),
    }))
    spark.stop()


def test_session_loads_no_classpath_extension(sf_smoke):
    out = subprocess.run(
        [sys.executable, "-m", "tests.test_session_startup", sf_smoke],
        cwd=REPO, capture_output=True, text=True, check=True,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    ).stdout
    probe = json.loads(out.strip().splitlines()[-1])
    assert probe["conf"] == "false"
    assert probe["list_read"]
    assert probe["loaded"] == [], f"loaded: {probe['loaded'][:3]}"


if __name__ == "__main__":
    _probe(sys.argv[1])
