"""Operational metrics — SURVEY.md §2.7 A7 / §2.2 K8.

The reference sprinkles driver-side `rdd.count()` calls and
`DStream.print` taps for batch-size logging (`app/dwd_DauApp.scala:71,
77-82,89,108`) — each one an extra job over the data. The Spark twin is
``df.observe``: metrics are accumulated inside the existing job (zero
extra passes) and surfaced per micro-batch through a
StreamingQueryListener.

The same listener answers "is the stream keeping up?" from the engine's
own ``StreamingQueryProgress``: per batch, the input rate against the
processed rate, where the trigger's time went, and the state size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def with_batch_counts(df: DataFrame, name: str = "stats") -> DataFrame:
    """A7: row count (and null-key count example) observed in-flight."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))


# durationMs phases kept per batch (ms; 0 when the batch skipped one).
DURATIONS = ("addBatch", "queryPlanning", "walCommit", "triggerExecution")
# stateOperators fields kept per batch, summed over the query's operators.
STATE_FIELDS = ("numRowsTotal", "numRowsUpdated", "memoryUsedBytes")


class BatchMetrics(StreamingQueryListener):
    """Collects observed metrics per micro-batch (K8's per-batch count
    logs, without the extra count() jobs). ``metrics`` maps
    observation-name → list of per-batch dicts.

    ``batches`` holds one progress summary per micro-batch, in delivery
    order: ``batchId``, ``numInputRows``, ``inputRowsPerSecond``,
    ``processedRowsPerSecond``, ``durationMs`` (the ``DURATIONS``
    phases) and the ``STATE_FIELDS`` summed over ``stateOperators``."""

    def __init__(self) -> None:
        self.metrics: dict[str, list[dict]] = {}
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append({
            "batchId": p.batchId,
            "numInputRows": p.numInputRows,
            "inputRowsPerSecond": p.inputRowsPerSecond,
            "processedRowsPerSecond": p.processedRowsPerSecond,
            "durationMs": {k: p.durationMs.get(k, 0) for k in DURATIONS},
            **{k: sum(getattr(op, k) for op in p.stateOperators) for k in STATE_FIELDS},
        })
        for name, row in p.observedMetrics.items():
            self.metrics.setdefault(name, []).append(row.asDict())

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
