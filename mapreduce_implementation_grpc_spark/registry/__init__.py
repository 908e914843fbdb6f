"""Query/oracle registry: every query as ``(spark, sf_dir) -> DataFrame``
plus its DuckDB oracle SQL for the driver's correctness gate.

Query functions live in the part modules (``reference_surface``,
``text_shaping``, ..., ``eval_temporal2``); each ``oracles_*`` module
holds its own oracle dict. ``assembly`` lists them once, in registry
order, and this package exports only that public surface. Import any
other name from the module that defines it.
"""

from .assembly import (
    BENCH_QUERIES,
    CANARY_QUERIES,
    EAGER_BENCH_QUERIES,
    EXTENDED_BENCH_QUERIES,
    ORACLES,
    QUERIES,
)
