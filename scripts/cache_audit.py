"""Cache-accretion + GC audit over a full headline pass (round-16,
VERDICT items #1/#5).

Runs the bench's 67 headline queries in bench order (same warm-up, same
noop-sink action) and, AFTER each query (untimed), snapshots:

- cached-RDD count and total memory/disk bytes (``getRDDStorageInfo``),
- the engine memo's live entry count per artifact (``cache.entries()``:
  table frames, dedup candidates, LM, DSIR ratio, centroids),
- cumulative JVM GC count/time (all collector MX beans),
- the query's wall seconds.

Output: one JSON line per query to stdout (pipe to a file), plus a
summary. The point is to answer, with numbers, whether a full pass
accretes unbounded cache state or GC time around bench positions 31-33
(`ext_curation_scored` / `ext_bm25_search` / `ext_dsir_select`) — the
r15 driver-run anomaly window.

Usage::

    SPARK_GRAFT_CPUS=32 python scripts/cache_audit.py > /tmp/cache_audit.jsonl
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")


def snapshot(spark) -> dict:
    from bigdata_spark_realtime_spark import cache

    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    n_cached = len(infos)
    mem = sum(i.memSize() for i in infos)
    disk = sum(i.diskSize() for i in infos)
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_count = gc_ms = 0
    it = beans.iterator()
    while it.hasNext():
        b = it.next()
        gc_count += max(b.getCollectionCount(), 0)
        gc_ms += max(b.getCollectionTime(), 0)
    rt = sc._jvm.java.lang.Runtime.getRuntime()
    heap_used = rt.totalMemory() - rt.freeMemory()
    return {
        "cached_rdds": n_cached,
        "cached_mem_mb": round(mem / 1e6, 1),
        "cached_disk_mb": round(disk / 1e6, 1),
        "memo_entries": cache.entries(),
        "gc_count": gc_count,
        "gc_ms": gc_ms,
        "heap_used_mb": round(heap_used / 1e6),
    }


def main() -> int:
    from bench import HEADLINE
    from bigdata_spark_realtime_spark.plans import registry
    from bigdata_spark_realtime_spark.session import get_spark
    from bigdata_spark_realtime_spark.sources.tables import TABLE_NAMES, load_table

    spark = get_spark(app_name="bsr-cache-audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()
    names = [n for n in HEADLINE if n in specs]

    for t in TABLE_NAMES:
        try:
            load_table(spark, SF_DIR, t).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    for name in names:
        try:
            specs[name].fn(spark, WARM_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"warm-up failed {name}: {e!r}"[:200], file=sys.stderr)

    base = snapshot(spark)
    print(json.dumps({"pos": -1, "query": "<post-warmup>", **base}))
    prev_gc_ms = base["gc_ms"]
    for pos, name in enumerate(names):
        t0 = time.perf_counter()
        specs[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        sec = round(time.perf_counter() - t0, 3)
        st = snapshot(spark)
        st["gc_ms_delta"] = st["gc_ms"] - prev_gc_ms
        prev_gc_ms = st["gc_ms"]
        print(json.dumps({"pos": pos, "query": name, "sec": sec, **st}))
        sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
