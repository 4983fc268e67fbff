"""Broadcast-hint policy for the 100 TB design point.

``F.broadcast()`` is a promise to the planner that the input fits on the
driver and in every executor. That promise is only safe for inputs whose
cardinality is *bounded by the data model* — `nation` (25 rows),
`region` (5), a trained centroid table, a 1-row aggregate — never for
tables that grow with the scale factor (`customer`, `supplier`, `part`,
`orders`, `lineitem`). At the design point a hard-coded hint on an
sf-proportional table forces a multi-GB driver-side broadcast build (or
an OOM) where an unhinted plan would fall back to a shuffled join.

Two policies:

- ``broadcast_bounded(df)`` — the explicit hint, restricted by
  convention to bounded-cardinality inputs. It is a plain
  ``F.broadcast`` plus a grep-able name: the plan-hygiene tests pin
  which call sites may use it.
- Everything else gets NO hint; Spark's own size rule decides. In a
  stream-static join the static side is re-planned with every
  micro-batch, and ``JoinSelection`` broadcasts it when Catalyst's
  estimate (:func:`estimated_size_bytes`) is at or under
  ``spark.sql.autoBroadcastJoinThreshold``. In a batch query AQE (on in
  ``session.py``) promotes the join to broadcast at runtime from the
  *measured* post-filter size. Either way: the broadcast plan at test
  scale, a shuffled join and no OOM at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 'i' (as in KiB) is only valid after a multiplier letter: '10ib' is
# malformed, not 10 bytes
_SIZE_RE = re.compile(r"^(-?\d+)\s*(?:([kmgt])i?)?b?$")
_MULT = {None: 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def parse_size_bytes(raw: str) -> int:
    """Parse a Spark size conf value ('10485760', '10MB', '-1') to bytes."""
    m = _SIZE_RE.match(str(raw).strip().lower())
    if not m:
        raise ValueError(f"unparseable size conf value: {raw!r}")
    return int(m.group(1)) * _MULT[m.group(2)]


def broadcast_bounded(df: DataFrame) -> DataFrame:
    """Explicit broadcast hint — bounded-cardinality inputs ONLY.

    Use for tables whose row count is fixed by the schema/data model
    (nation, region), trained model artifacts (centroids), or tiny
    aggregates (a 1-row total). Never for sf-proportional tables.
    """
    return F.broadcast(df)


def estimated_size_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate for this DataFrame (bytes).

    For parquet scans this is file-size based (post column pruning /
    filter selectivity heuristics), the same statistic the planner uses
    for its own auto-broadcast decision.
    """
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

