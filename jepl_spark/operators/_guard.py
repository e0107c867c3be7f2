"""The one collect-or-distribute guard: an operator that can pull a
small input to the driver (and broadcast it) instead of shuffling it
passes the bytes it would collect to :func:`fits`, which compares them
with :data:`BUDGET_BYTES` and logs ``{op, bytes, budget, path}`` on
the ``jepl_spark.guard`` logger.  Unknown sizes go in as huge and keep
the distributed path, which streams any size."""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

#: Most bytes one guarded call may collect and broadcast.
BUDGET_BYTES = 128 << 20

log = logging.getLogger("jepl_spark.guard")


def fits(op: str, nbytes: int) -> bool:
    """True (the local path runs) when ``nbytes`` fits the budget."""
    path = "local" if nbytes <= BUDGET_BYTES else "distributed"
    log.info("op=%s bytes=%d budget=%d path=%s", op, nbytes, BUDGET_BYTES,
             path, extra={"op": op, "bytes": nbytes,
                          "budget": BUDGET_BYTES, "path": path})
    return path == "local"


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's ``sizeInBytes`` estimate of ``df`` (for a file
    scan: the on-disk size of the columns read), or huge without one.
    Only for callers that cannot count the rows they would collect."""
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return int(sz if isinstance(sz, int) else sz.toString())
    except Exception:
        return 1 << 62
