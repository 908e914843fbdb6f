"""The one place that decides how a shared intermediate is pinned.

Several operators compute a table once and feed it to two or more
downstream consumers (the sorted-shingle sets in the prefix join, the
distinct edge list under a wedge join, the `_ak`-keyed input of the
two-level ranking). Re-computing that lineage per consumer doubles the
dominant cost, so each site pins ONE materialization, and every pin in
the package goes through this module (tests/test_plan_lint.py rejects
a bare ``localCheckpoint`` / ``persist`` / ``cache`` / ``checkpoint``
anywhere else). There is one mechanism per need and no option:

- ``materialize``: ``localCheckpoint(eager=False)``, for a table
  several consumers of one plan re-read.
- ``materialize_eager``: ``localCheckpoint(eager=True)``, the
  per-round pin of the iterative loops.

localCheckpoint keeps partition blocks in the executors' block store
and TRUNCATES THE LINEAGE. It was measured faster than ``persist`` at
every site here (no recompute on reuse, no disk serialization). The
consequence on a real cluster: an executor lost mid-query takes its
blocks with it and there is no lineage to rebuild them from, so the
query FAILS instead of recomputing. In single-JVM local mode, the only
deployment this repo builds, the executor is the driver and the risk
is zero. A deployment that must survive executor loss changes the
mechanism here, in one file, not through a per-call flag.

Not lazy in general. ``localCheckpoint(eager=False)`` plans the
subtree when it is called, and planning an exchange under adaptive
query execution (on in session.py) submits the shuffle-map stage as a
job. Measured in ``local[2]`` with the session defaults: pinning a
``groupBy`` launches 1 job at call time (0 with AQE off), pinning a
broadcast join launches 1 (the broadcast is collected either way),
and pinning an exchange-free subtree such as ``spark.range`` launches
none. That is the build-time work a query with pinned aggregates
reports (tests/test_materialize.py pins both counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Pin one shared materialization of `df` for multiple consumers.

    The rows are computed by the first consumer's action and read
    from blocks by every later one. Any exchange in `df` is planned
    now, which under AQE runs its map stage as a job at call time (see
    the module docstring); an exchange-free `df` launches nothing."""
    return df.localCheckpoint(eager=False)


def materialize_eager(df: DataFrame) -> DataFrame:
    """Pin `df` and FORCE the materialization before returning — the
    per-round primitive of the iterative loops (k-core peeling, label
    propagation). Each round must be computed NOW so (a) the
    convergence check's count scans pinned blocks instead of replaying
    rounds 1..N-1 and (b) the next round's plan starts from a flat
    scan, never a nested lineage. A superseded round's blocks are
    reclaimed when its checkpointed RDD is garbage-collected."""
    return df.localCheckpoint(eager=True)
