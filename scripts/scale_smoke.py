"""10× scale smoke: replicate the sf0.1 documents/embeddings tables and
time the corpus-heavy operators on the larger copy.

This is the scaling-evidence harness behind README's "Measured 10×
scaling" numbers: it verifies that the dedup/scoring family degrades
sublinearly-to-linearly per row (and that nothing OOMs — the round-6
kernel-memory bound and JVM sizing came out of this script's first
run). Prints one JSON line per scale with warm per-query seconds.

Usage::

    python scripts/scale_smoke.py            # builds /tmp copy on first run
    SPARK_GRAFT_SMOKE_REPS=10 python scripts/scale_smoke.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

import bench

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_SMOKE_REPS", "10"))
BIG = os.environ.get("SPARK_GRAFT_SMOKE_DIR", f"/tmp/bsr_smoke_{REPS}x")

SMOKE_QUERIES = (
    "ext_dedup_exact",
    "ext_dedup_minhash_lsh",
    "ext_dedup_simhash_pairs",
    "ext_dedup_substring",
    "ext_dedup_embedding_srp",
    "ext_lm_score",
    "ext_train_order",
    "ext_curation_scored",
    "ext_dsir_select",
    "ext_bpe_merges",
    "ext_embed_quantize_int8",
    "ext_embed_centroids",
    "ext_kmeans_assign",
    "ext_vocab_topk_lang",
    # events family (replicated with disjoint user/event-id spans so
    # per-user structure — funnel chains, item sets, sketch groups —
    # is preserved and outputs scale linearly with rows)
    "ext_range_join_attribution",
    "ext_rollup_cascade",
    "ext_funnel_steps",
    "ext_retention_cohorts",
    "ext_item_cooccurrence",
    "ext_quantile_sketch",
    "ext_hll_set_algebra",
    # round-9 additions
    "ext_multitouch_attribution",
    "ext_snapshot_diff",
    "ext_hll_hourly_rollup",
    "ext_bigram_pmi",
    "ext_skew_audit",
    "ext_item_pagerank",
    "ext_event_transitions_daily",
    "approx_aggregates",
    # round-9b additions (events family: calendar-bounded partials,
    # capped graph, user-keyed windows — all shapes whose per-row cost
    # must stay flat as rows replicate)
    "ext_timeseries_gapfill",
    "ext_trend_slope",
    "ext_twa_value",
    "ext_triangle_count",
    "ext_seasonal_baseline",
    "ext_changepoint_cusum",
    "ext_concurrency_peak",
    "ext_weighted_sample_priority",
    "ext_selfjoin_size_f2",
    "ext_session_paths",
    "ext_ab_assignment",
    "ext_zorder_key",
    "ext_distribution_drift",
    "ext_event_mix_gini",
    "ext_item_communities",
    "ext_time_to_convert",
    "ext_embedding_dim_stats",
    "ext_embedding_norm_census",
    "ext_trending_items",
    "ext_bounce_rate",
    "ext_inventory_drawdown",
    "ext_balance_percentile",
    # round-10 changes (SCD2 tiebreak, PIT zero-width filter, fuzzy
    # composite blocking) — part/orders replicas built alongside events
    "ext_scd2_intervals",
    "ext_pit_scd2_join",
    "ext_fuzzy_join_editdist",
    # round-11 addition: the day-bounded census must scale like its
    # day-bounded transitions sibling (events replica)
    "ext_session_paths_daily",
    # round-12 window targets (batch side; their stream twins share
    # bodies with already-smoked batch counterparts): cross-split
    # SimHash matrix, modular-id triplet mining, and the resolve-audit
    # histogram — the three shapes whose pair/cluster stages must stay
    # bucket-bounded as the corpus replicates
    "ext_split_leakage",
    "ext_contrastive_triplets",
    "ext_dedup_impact",
    # round-13 addition: the packing intake twin must scale exactly like
    # its batch body (stateless in-stream shard map + per-shard window
    # on the drained state); scene_cuts' twin reads the fixed media
    # fixtures, not the replicated corpus, so it has no scale axis here
    "stream_pack_shards",
    # round-13 late additions: the MinHash calibration audit replays the
    # whole shingle→sig→band pipeline plus two pair-side joins (its
    # candidate count grows with the replicated near-dup pairs); the
    # funnel intake twin must track its already-smoked batch body; the
    # recall eval's corpus passes are the two ANN kernels
    "ext_minhash_error_audit",
    "stream_funnel_steps",
    "ext_ann_recall_eval",
    # round-14 additions: the remaining approximation-quality audits
    # (semantic gap re-runs SemDeDup + a bounded rerank; simhash/SRP
    # calibrations join the candidate lists against token counts /
    # band keys — candidate growth is the scale axis; hll/quantile run
    # on sketch-cardinality rows and must stay flat), plus the two
    # events-replay twins — the documents/embeddings replicas are
    # Spark-WRITTEN directory tables, so these exercise
    # sources/replay.replay_table's layout handling and its
    # all-data-files-in-one-micro-batch flush at 10x
    "ext_semantic_gap_audit",
    "ext_simhash_error_audit",
    "ext_srp_error_audit",
    "ext_hll_error_audit",
    "ext_quantile_error_audit",
    "stream_windowed_counts",
    "stream_dedup_dau_keys",
    # round-15 additions: URL dedup is one canonical-key shuffle over
    # the documents replica (output rows scale with pages); the
    # serving-stats intake twin replays the replicated lineitem through
    # the stream-static join chain (customer replica shifts c_custkey
    # by the same r*1e6 as orders' o_custkey so matches scale too; the
    # gender twin shares the whole chain except the final group key)
    "ext_dedup_url",
    "stream_stats_by_item_age",
)


def build_copy(spark) -> None:
    from bigdata_spark_realtime_spark.sources.tables import load_table

    # per-table guard: a smoke dir left by an older script revision
    # (e.g. round 9's, which lacked the TPC-H replicas) only rebuilds
    # the genuinely missing files — the Spark-built documents /
    # embeddings replicas are minutes of work and must not be redone
    # because a cheap duckdb COPY target is absent. The marker pins
    # (BASE, REPS): replica key spans derive from the base's table
    # counts, so tables built against a DIFFERENT base would carry
    # incompatible spans — on a marker mismatch everything rebuilds.
    tables = (
        "documents",
        "embeddings",
        "events",
        "part",
        "orders",
        "supplier",
        "lineitem",
        "customer",
    )
    marker = os.path.join(BIG, ".base")
    stamp = f"{os.path.abspath(BASE)}|{REPS}"
    coherent = (
        os.path.exists(marker) and open(marker).read().strip() == stamp
    )
    missing = {
        t
        for t in tables
        if not coherent
        or not os.path.exists(os.path.join(BIG, f"{t}.parquet"))
    }
    if not missing:
        return
    os.makedirs(BIG, exist_ok=True)
    # only drop the marker when it exists but MISMATCHES the stamp (an
    # incoherent dir whose spans can't be trusted): a coherent dir that
    # merely lacks a cheap duckdb table keeps its marker, so a crash
    # mid-fill can't force the next run to redo the minutes-long Spark
    # documents/embeddings builds the per-table guard exists to avoid
    if os.path.exists(marker) and not coherent:
        os.remove(marker)  # invalid until the rebuild below completes
    if "documents" in missing:
        _build_documents_copy(spark, load_table)
    if "embeddings" in missing:
        _build_embeddings_copy(spark, load_table)
    duck_missing = missing & {
        "events", "part", "orders", "supplier", "lineitem", "customer"
    }
    if duck_missing:
        _build_duck_copies(duck_missing)
    with open(marker, "w") as f:
        f.write(stamp)


def _build_documents_copy(spark, load_table) -> None:
    docs = load_table(spark, BASE, "documents")
    n = docs.count()
    def replica_text(r: int):
        # suffix EVERY token with the replica index: replicas share no
        # shingles/windows with each other or the original, so the
        # dedup family's pair-output stays proportional to the organic
        # duplicate structure (10× rows → 10× pairs) and the smoke
        # measures row scaling, not a synthetic 45×-pair blow-up (a
        # tail-only marker left replicas within hamming<=3 of their
        # originals, inflating SimHash verify work ~10× beyond linear)
        if r == 0:
            return F.col("text")
        toks = F.split("text", " ", -1)
        return F.array_join(
            F.transform(toks, lambda t: F.concat(t, F.lit(f"_{r}"))), " "
        )

    parts = [
        docs.select(
            (F.col("doc_id") + r * n).alias("doc_id"),
            replica_text(r).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for r in range(REPS)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(8).write.mode("overwrite").parquet(
        os.path.join(BIG, "documents.parquet")
    )


def _build_embeddings_copy(spark, load_table) -> None:
    emb = load_table(spark, BASE, "embeddings")
    m = emb.count()

    def replica_vec(r: int):
        # rotate the vector r positions per replica: verbatim copies
        # would produce identical SRP signatures, colliding every
        # replica group in every band and timing a 45x synthetic
        # candidate blow-up instead of 10x row scaling (the same
        # pitfall the token suffixing above avoids for text)
        if r == 0:
            return F.col("embedding")
        e = F.col("embedding")
        return F.concat(F.slice(e, r + 1, 10_000), F.slice(e, 1, r))

    eparts = [
        emb.select(
            (F.col("vec_id") + r * m).alias("vec_id"),
            replica_vec(r).alias("embedding"),
            *emb.columns[2:],
        )
        for r in range(REPS)
    ]
    eout = eparts[0]
    for p in eparts[1:]:
        eout = eout.unionByName(p)
    eout.repartition(8).write.mode("overwrite").parquet(
        os.path.join(BIG, "embeddings.parquet")
    )


def _build_duck_copies(duck_missing: set) -> None:
    # events replica is a SINGLE parquet file (duckdb COPY writes one;
    # since round 14 the loader's ts-vintage sniffing also handles
    # directory tables via sources/replay.first_data_file, so this is
    # a build-cost choice, not a loader constraint).
    # Disjoint user spans per replica: user-keyed operators (funnel,
    # co-occurrence, retention, HLL audiences) see 10x users with the
    # SAME per-user event structure — outputs scale linearly instead
    # of fusing replicas into 10x-denser synthetic users.
    import duckdb

    con = duckdb.connect()
    counts: dict = {}

    def cnt(table: str) -> int:
        if table not in counts:
            (counts[table],) = con.execute(
                f"SELECT count(*) FROM read_parquet('{BASE}/{table}.parquet')"
            ).fetchone()
        return counts[table]

    if "events" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT event_id + u.r * {cnt("events")} AS event_id, ts,
                     user_id + u.r * 1000000 AS user_id,
                     event_type, value, props
              FROM read_parquet('{BASE}/events.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/events.parquet' (FORMAT PARQUET)
            """
        )

    # part replica for the fuzzy join: suffix the name with the replica
    # index — replica vocabularies are token-disjoint (last token
    # "blue_3"), so block sizes stay constant per replica and the
    # blocked self-join's output scales linearly with vocabulary, not
    # quadratically with fused blocks. orders replica for the PIT join:
    # custkeys shift by the SAME 1e6-per-replica span as events'
    # user_ids, preserving the fact->interval join structure per
    # replica (10x users, same per-user history each).
    if "part" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT p_partkey + u.r * {cnt("part")} AS p_partkey,
                     CASE WHEN u.r = 0 THEN p_name
                          ELSE p_name || '_' || u.r END AS p_name,
                     * EXCLUDE (p_partkey, p_name)
              FROM read_parquet('{BASE}/part.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/part.parquet' (FORMAT PARQUET)
            """
        )
    if "orders" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT o_orderkey + u.r * {cnt("orders")} AS o_orderkey,
                     o_custkey + u.r * 1000000 AS o_custkey,
                     * EXCLUDE (o_orderkey, o_custkey)
              FROM read_parquet('{BASE}/orders.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/orders.parquet' (FORMAT PARQUET)
            """
        )

    # supplier replica for ext_balance_percentile (the round-9 smoke
    # list grew this query without growing the copy — the 10x pass
    # crashed on the missing file): 10x suppliers per nation, same
    # balance distribution each. lineitem replica for
    # ext_inventory_drawdown: l_partkey shifts per replica, so 10x
    # parts each carry the SAME flow history (per-part windows see
    # constant work; output scales linearly).
    if "supplier" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT s_suppkey + u.r * {cnt("supplier")} AS s_suppkey,
                     * EXCLUDE (s_suppkey)
              FROM read_parquet('{BASE}/supplier.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/supplier.parquet' (FORMAT PARQUET)
            """
        )
    # customer replica for the serving-stats intake twins: c_custkey
    # shifts by the SAME r*1e6 as the orders replica's o_custkey, so
    # every replicated order keeps a matching customer and the join
    # output scales linearly (derived birthday/gender re-derive from
    # the shifted key — different values per replica, same cardinality)
    if "customer" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT c_custkey + u.r * 1000000 AS c_custkey,
                     * EXCLUDE (c_custkey)
              FROM read_parquet('{BASE}/customer.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/customer.parquet' (FORMAT PARQUET)
            """
        )
    if "lineitem" in duck_missing:
        con.execute(
            f"""
            COPY (
              SELECT l_orderkey + u.r * {cnt("orders")} AS l_orderkey,
                     l_partkey + u.r * {cnt("part")} AS l_partkey,
                     l_suppkey + u.r * {cnt("supplier")} AS l_suppkey,
                     * EXCLUDE (l_orderkey, l_partkey, l_suppkey)
              FROM read_parquet('{BASE}/lineitem.parquet'),
                   unnest(range({REPS})) AS u(r)
            ) TO '{BIG}/lineitem.parquet' (FORMAT PARQUET)
            """
        )
    con.close()


MEDIA_QUERIES = (
    "ext_multimodal_decode",
    "ext_multimodal_phash_pairs",
    "ext_multimodal_audiohash_pairs",
    "ext_multimodal_video_frames",
    "ext_multimodal_scene_cuts",
)


def media_smoke(spark, specs) -> None:
    """Time the real-codec media family on 1x and 10x fixture sets.

    The gate fixtures are deliberately tiny (~60 items); this section
    regenerates them 10x bigger in a scratch dir (10x images/audio,
    10x near-dup plants, the generator's video count stays but could
    scale the same way) and repoints the module's fixture root — the
    query functions and their kernels run unchanged. Per-item cost
    should be flat: decode+fingerprint is map-side, pair blocking is
    banded."""
    from bigdata_spark_realtime_spark.plans import ext_multimodal as mm
    from bigdata_spark_realtime_spark.sources.fixtures import gen_media

    big_media = os.path.join(BIG, "media_10x")
    if not os.path.exists(os.path.join(big_media, "media_truth.jsonl")):
        os.makedirs(big_media, exist_ok=True)
        gen_media(big_media, n_images=300, n_audio=300, n_neardup=80)
    orig = mm.MEDIA_BASE
    for base, tag in ((orig, "media_1x"), (big_media, "media_10x")):
        mm.MEDIA_BASE = base
        try:
            timed = _timed(spark, specs, MEDIA_QUERIES, BASE)
            print(json.dumps({"scale": tag, **timed}))
        finally:
            mm.MEDIA_BASE = orig


def _timed(spark, specs, names, sf_dir: str) -> dict:
    """bench.py's timing policy at ``sf_dir``: warm-up (every query once
    at the SAME sf, so replica-scale memos and plans are warm), then
    min of 2 pass-major timed passes. A single-shot timing inside a
    long sequential sweep picks up GC / cache-pressure spikes from the
    preceding heavy queries — round 12's first 30x sweep read
    ext_rollup_cascade at 11x and ext_bigram_pmi at 9x, while isolated
    re-timing showed 1.2x and 2.3x. A spike can only inflate one pass,
    never deflate another, so the min is the steady-state number."""
    bench.warm_up(spark, specs, names, sf_dir, warm_dir=sf_dir)
    timings, errors, _flaky, _passes = bench.time_passes(
        spark, specs, names, sf_dir, 2
    )
    return {"queries": timings, **({"errors": errors} if errors else {})}


def main() -> None:
    from bigdata_spark_realtime_spark.plans import registry
    from bigdata_spark_realtime_spark.session import get_spark

    spark = get_spark(app_name="bsr-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.load_all()
    build_copy(spark)

    from bigdata_spark_realtime_spark.plans import ext_semantic as sem

    default_cells = sem.N_CELLS
    try:
        for sf_dir, tag in ((BASE, "1x"), (BIG, f"{REPS}x")):
            # SemDeDup production quantizer rule (ext_semantic module
            # doc): nlist ≈ √n, the FAISS sizing that balances the two
            # terms — assignment is n·cells FLOPs, per-cell M @ M.T is
            # n²/cells — at n^1.5 each. A FIXED cell count reads
            # quadratic on replicas (r14 README: 16.9x wall at 30x
            # rows); cells ∝ n re-creates the quadratic in the
            # ASSIGNMENT term instead (r15: 86.7 s at 30x pre-kernel).
            # The gate keeps the pinned oracle-replayable default; the
            # replica pass runs the √-rule, same module-repoint pattern
            # as media_smoke's MEDIA_BASE.
            sem.N_CELLS = (
                default_cells
                if sf_dir == BASE
                else max(default_cells, round(default_cells * REPS**0.5))
            )
            timed = _timed(spark, specs, SMOKE_QUERIES, sf_dir)
            print(json.dumps({"scale": tag, **timed}))
    finally:
        sem.N_CELLS = default_cells
    media_smoke(spark, specs)
    spark.stop()


if __name__ == "__main__":
    main()
