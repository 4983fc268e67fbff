"""Data-contract audit: declarative row-level rules, one scan, one row
per rule.

The ingestion gate a production pipeline runs before letting a batch
into the lake: each rule is a boolean predicate over a row; the audit
reports, per rule, how many rows were checked, how many violate it,
and the smallest violating key (a deterministic reproducer — "go look
at THIS row", the same tie-break discipline as everywhere else in the
engine). Complements `ext_snapshot_diff` (cross-snapshot drift) and
`ext_skew_audit` (distributional): this is the in-batch validity
check. NULL never passes a rule silently: predicates are evaluated
under ``coalesce(pred, false)`` on both engines, so a NULL status is a
violation of the domain rule, not a skipped row.

Scale (100 TB): ALL rules evaluate in a single scan — one aggregate
row carrying (violations, min bad key) per rule with map-side partial
aggregation, then an explode of that 1-row frame into the per-rule
report. No shuffle of data rows at all (the only exchange moves one
row per partition), no per-rule rescans; adding a rule adds two
columns to the partial aggregate, not a pass. The orderdate rule is
deliberately tighter than the fixture's range so the non-zero
violation path (count + reproducer key) is oracle-checked, not just
the all-green path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_spark_realtime_spark.plans.registry import register
from bigdata_spark_realtime_spark.sources.replay import drain_to_memory, replay_table
from bigdata_spark_realtime_spark.sources.tables import load_table

#: rule name → (Spark predicate SQL, DuckDB predicate SQL). Kept as
#: parallel texts because the engines spell timestamps differently;
#: every pair must be semantically identical — the oracle hash check
#: is exactly the proof that they are.
RULES: dict[str, tuple[str, str]] = {
    "status_in_domain": (
        "o_orderstatus IN ('O', 'F', 'P')",
        "o_orderstatus IN ('O', 'F', 'P')",
    ),
    "priority_format": (
        "o_orderpriority RLIKE '^[1-5]-'",
        "regexp_matches(o_orderpriority, '^[1-5]-')",
    ),
    "custkey_not_null": ("o_custkey IS NOT NULL", "o_custkey IS NOT NULL"),
    "totalprice_positive": ("o_totalprice > 0", "o_totalprice > 0"),
    # tighter than the fixture's real range (dates run into 2001): this
    # rule HAS violations, proving the reporting path end to end
    "orderdate_before_y2k": (
        "o_orderdate < TIMESTAMP_NTZ '2000-01-01 00:00:00'",
        "o_orderdate < TIMESTAMP '2000-01-01 00:00:00'",
    ),
}

def contract_oracle_sql(rules: dict[str, tuple[str, str]], table: str, key: str) -> str:
    return "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(count(*) FILTER (NOT coalesce({duck_pred}, false)) AS BIGINT)
         AS n_violations,
       CAST(min({key}) FILTER (NOT coalesce({duck_pred}, false))
            AS BIGINT) AS first_bad_key
FROM {table}"""
        for name, (_, duck_pred) in rules.items()
    )


def audit_aggs(rules: dict[str, tuple[str, str]], key: str) -> list:
    """The per-rule aggregate columns (violation count + min bad key)
    for one aggregated pass — usable by a batch ``.agg`` and a
    complete-mode streaming ``.groupBy().agg`` alike."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_checked")]
    for name, (spark_pred, _) in rules.items():
        bad = ~F.coalesce(F.expr(spark_pred), F.lit(False))
        # count(when(bad, 1)) rather than sum(when(bad, 1).otherwise(0)):
        # identical on every non-empty input, but over ZERO rows sum()
        # is NULL while the oracle's count(*) FILTER is 0 — the
        # empty-input sweep caught the drift (scripts/empty_input_sweep)
        aggs.append(
            F.count(F.when(bad, F.lit(1))).cast("bigint").alias(f"v_{name}")
        )
        # honest NULL for "no violations" (NULL-bearing BIGINT hash
        # path driver-proven: r11 ext_null_hash_probe, r13
        # ext_contract_audit / stream_contract_audit themselves)
        aggs.append(
            F.min(F.when(bad, F.col(key))).cast("bigint").alias(f"k_{name}")
        )
    return aggs


def audit_report(one: DataFrame, rules: dict[str, tuple[str, str]]) -> DataFrame:
    """Explode the 1-row aggregate into the per-rule report frame."""
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col("n_checked"),
                    F.col(f"v_{name}").alias("n_violations"),
                    F.col(f"k_{name}").alias("first_bad_key"),
                )
                for name in rules
            ]
        )
    ).alias("r")
    return one.select(report).select("r.*")


CONTRACT_ORACLE = contract_oracle_sql(RULES, "orders", "o_orderkey")


@register("ext_contract_audit", oracle=CONTRACT_ORACLE)
def ext_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One report row per contract rule over orders: (rule, n_checked,
    n_violations, first_bad_key) — all rules in a single map-side
    aggregated scan."""
    orders = load_table(spark, sf_dir, "orders")
    return audit_report(orders.agg(*audit_aggs(RULES, "o_orderkey")), RULES)


# ---------------------------------------------------------------------------
# streaming twin: continuous validation of the live event feed — the
# modern shape of the reference's ODS error routing (T4,
# `app/ods_BaseLogApp.scala`: malformed records peel off to a side
# output; here the malformed POPULATION is continuously quantified).
# ---------------------------------------------------------------------------

#: 2024-01-25T00:00:00Z in epoch-µs — integer timestamp comparison on
#: both engines, no timezone parsing anywhere
_TS_BOUND_US = 1_706_140_800_000_000

#: event-feed rules. Spark side reads the stream's normalized
#: ``event_time``; the oracle reads the batch table's raw ``ts`` —
#: both compared in epoch-µs. value_positive flags the NULL-value rows
#: the sf0.1 vintage plants; ts_before_jan25 is tighter than the
#: fixture's real range so the count+reproducer path is non-zero at
#: every sf.
EVENT_RULES: dict[str, tuple[str, str]] = {
    "type_in_domain": (
        "event_type IN ('click', 'error', 'purchase', 'signup', 'view')",
        "event_type IN ('click', 'error', 'purchase', 'signup', 'view')",
    ),
    "user_not_null": ("user_id IS NOT NULL", "user_id IS NOT NULL"),
    "value_positive": ("value > 0", "value > 0"),
    "ts_before_jan25": (
        f"unix_micros(event_time) < {_TS_BOUND_US}",
        f"epoch_us(ts) < {_TS_BOUND_US}",
    ),
}

EVENT_CONTRACT_ORACLE = contract_oracle_sql(EVENT_RULES, "events", "event_id")


@register("stream_contract_audit", oracle=EVENT_CONTRACT_ORACLE)
def stream_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contract audit as continuous intake: rule flags are
    stateless per-row ops, and (sum, min) are associative, so a
    complete-mode global aggregation carries the audit across
    micro-batches in O(rules) state — after draining the replay the
    report equals the batch audit exactly (the oracle is the batch
    SQL). This is live data-quality monitoring: the violation counters
    are readable after every micro-batch, not at end of day."""
    ev = replay_table(spark, sf_dir, "events")
    one = ev.groupBy().agg(*audit_aggs(EVENT_RULES, "event_id"))
    return audit_report(drain_to_memory(one, output_mode="complete"), EVENT_RULES)
