"""Benchmark harness: run the headline declared queries at
``$SPARK_GRAFT_SF_DIR`` (default ``/root/testdata/sf0.1``) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query is fully executed via the ``noop`` sink (no driver collect, no
result materialization skew); timings are end-to-end per query including
plan build. ``--all`` benches every registered query instead of the
headline set; ``--repeat N`` takes the best of N runs per query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquetranger_spark.queries import QUERIES, load_all  # noqa: E402
from parquetranger_spark.session import codegen_compiles, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# One representative per tier (SURVEY.md §2): storage write/read, keyed
# upsert, pruning, hash bucketing, relational compute, applyInPandas,
# dedup (exact + MinHash-LSH), similarity top-k, text analysis, events.
HEADLINE = [
    "extend_roundtrip",
    "upsert_by_key",
    "partition_pruned_read",
    "hash_partition_counts",
    "groupby_mean",
    "map_partitions_agg",
    "json_shred_counts",
    "dedup_exact_text",
    "dedup_near_minhash",
    "dedup_simhash_pairs",
    "topk_cosine_bruteforce",
    "topk_cosine_ivf",
    "text_token_stats",
    "bpe_token_stats",
    "events_hourly_agg",
    "sessionization",
    "stream_sessionization",
    # round-3 additions: grouping sets, six-table broadcast join, chunking,
    # fused curation pipeline, decontamination, epoch-fenced incremental
    # rollup — new to the headline set this round (no r1/r2 baseline)
    "events_cube",
    "sql_q5_local_supplier",
    "doc_chunks",
    "e2e_curation_pipeline",
    "decontaminate_ngrams",
    "stream_incremental_rollup",
    # round-4 additions: subquery decorrelation (semi/anti joins, window
    # thresholds), manifest commits + time travel, PQ ANN, domain mixture,
    # multimodal dedup — new to the headline set this round
    "sql_q4_priority_check",
    "sql_q17_small_qty_revenue",
    "sql_q21_waiting_suppliers",
    "manifest_time_travel",
    "topk_cosine_pq",
    "domain_mixture_resample",
    "multimodal_dedup",
    # round-4 wave 2: completed TPC-H (Q8's 8-table broadcast tree),
    # order-statistics-at-scale selection, SemDeDup, keyed deletion
    "sql_q8_market_share",
    "token_budget_sample",
    "semantic_dedup_kept",
    "delete_records_roundtrip",
    # round-5 additions: recursive CTE, Python UDTF, O(log n) star CC,
    # manifest stats skipping (+ Z-order composition), manifest-log
    # streaming source, batch change feed — new to the headline set
    "sql_recursive_spine",
    "udtf_word_runs",
    "dedup_clusters_star",
    "stats_skipping_read",
    "zorder_skipping_read",
    "manifest_stream_agg",
    "manifest_changes_feed",
    "bloom_skipping_read",
    "constraints_drop_audit",
    "ab_test_lift",
    # round-6 additions: write-audit-publish, merge-on-read deletion
    # vectors, writable branches, SCD2, corpus overlap, diversity
    # sampling — new to the headline set (no earlier baseline; the
    # r1/r2 subset totals below stay comparable regardless)
    "wap_audited_append",
    "delete_dv_roundtrip",
    "branch_merge_roundtrip",
    "scd2_track_changes",
    "corpus_overlap_minhash",
    "diversity_sample_lsh",
    # round-6 wave 2: quality-argmax cluster resolution and snapshot
    # drift monitoring — new to the headline set
    "dedup_best_of_cluster",
    "snapshot_drift_psi",
    "boilerplate_strip",
    # round-7 additions: ANN-candidate kth-NN outlier density (replaced
    # the all-pairs plan) and the streaming change-data-feed — new to
    # the headline set
    "embedding_outliers_knn",
    "stream_changes_feed",
    "cdc_replica_sync",
    # round-7 wave 2: multi-table txns, SQL UPDATE (CoW + MoR), the
    # change-feed materialized view, the persisted IVF index, filtered
    # vector search, and metadata-only schema DDL — new to the headline
    # set this round
    "txn_multi_table_atomic",
    "update_where_roundtrip",
    "update_dv_roundtrip",
    "mv_incremental_agg",
    "ann_index_persisted_topk",
    "ann_filtered_topk",
    "schema_evolution_ddl",
    # round-8 additions (driver round 6): handle-wide governance, nested
    # schema evolution, metadata-only partition discovery, snapshot-bound
    # time travel, generated columns — new to the headline set
    "governed_handle_surfaces",
    "schema_evolution_nested",
    "partition_values_meta",
    "time_travel_snapshot_schema",
    "generated_partition_col",
    # round-9 additions (driver round 7): deep nested DDL through
    # containers, MERGE schema evolution, per-principal governance,
    # IVF-PQ serving — new to the headline set this round
    "schema_evolution_deep",
    "merge_upsert_evolving",
    "governed_roles_matrix",
    "ann_index_pq_topk",
    # round-10 additions (driver round 8): ANN drift maintenance, the
    # executor-side CDF reader (dv-bearing, parity-asserted), nested
    # column masks — new to the headline set this round
    "ann_index_drift_topk",
    "stream_changes_dv_px",
    "governed_nested_mask",
]

# queries whose gate form deliberately runs BOTH the index path and an
# exact-verify surface (the verified-exact oracle pattern): benched a
# second time with PQRS_BENCH_APPROX_ONLY=1 so a regression is
# attributable to the index itself vs the verify surface. NOTE on
# dedup_simhash_pairs: there the flag removes only the fixture-safety
# pre-check aggregation (its r4 timing growth) — the md5-multiset verify
# join is the query's SEMANTIC output, not a removable surface, so
# full-minus-approx for that one measures the pre-check alone.
ANN_SPLIT = [
    "topk_cosine_ivf",
    "topk_cosine_pq",
    "dedup_simhash_pairs",
    "embedding_outliers_knn",
    "ann_index_persisted_topk",
    "ann_filtered_topk",
    "ann_index_pq_topk",
    "ann_index_drift_topk",
]

R2_SET = [
    "extend_roundtrip", "upsert_by_key", "partition_pruned_read",
    "hash_partition_counts", "groupby_mean", "map_partitions_agg",
    "json_shred_counts", "dedup_exact_text", "dedup_near_minhash",
    "dedup_simhash_pairs", "topk_cosine_bruteforce", "topk_cosine_ivf",
    "text_token_stats", "bpe_token_stats", "events_hourly_agg",
    "sessionization", "stream_sessionization",
]

# the 44 queries common with BENCH_r03 — the round-3 drift-tracking
# subset (VERDICT r4 asked for r5 ≤ r3 ±5% on these; three of them
# deliberately carry the exact-verify surface since r4, so compare net
# of ann_approx_only for the like-for-like number)
R3_SET = R2_SET + [
    "events_cube", "sql_q5_local_supplier", "doc_chunks",
    "e2e_curation_pipeline", "decontaminate_ngrams",
    "stream_incremental_rollup", "sql_q4_priority_check",
    "sql_q17_small_qty_revenue", "sql_q21_waiting_suppliers",
    "manifest_time_travel", "topk_cosine_pq", "domain_mixture_resample",
    "multimodal_dedup", "sql_q8_market_share", "token_budget_sample",
    "semantic_dedup_kept", "delete_records_roundtrip",
    "sql_recursive_spine", "udtf_word_runs", "dedup_clusters_star",
    "stats_skipping_read", "zorder_skipping_read", "manifest_stream_agg",
    "manifest_changes_feed", "bloom_skipping_read",
    "constraints_drop_audit", "ab_test_lift",
]


def sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1).rstrip(".")) if m else -1.0


def run_one(spark, name: str) -> float:
    t0 = time.monotonic()
    df = QUERIES[name](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.monotonic() - t0, 3)
    # isolation between measurements: drop caches a query persisted for its
    # own self-joins so heap pressure never bleeds into the next query, and
    # nudge the JVM to collect — measured run-to-run swings of 2x on the
    # heavier queries trace to old-gen pressure accumulated upstream.
    # clearCache misses eager localCheckpoint blocks (they are persistent
    # RDDs, not cached plans) — over hundreds of executions those outrun
    # the async ContextCleaner, so unpersist them explicitly too
    spark.catalog.clearCache()
    for r in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        r.unpersist(False)
    spark.sparkContext._jvm.System.gc()
    return dt


CHUNK = int(os.environ.get("PQRS_BENCH_CHUNK", "34"))


def _run_child(queries: list[str], repeat: int, label: str) -> dict:
    import subprocess

    cmd = [
        sys.executable,
        os.path.abspath(__file__),
        "--queries",
        ",".join(queries),
        "--repeat",
        str(repeat),
    ]
    print(f"# {label}: {len(queries)} queries", file=sys.stderr)
    r = subprocess.run(cmd, capture_output=True, text=True)
    sys.stderr.write(r.stderr[-4000:])
    if r.returncode != 0:
        raise SystemExit(f"bench {label} failed:\n{r.stdout[-2000:]}")
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def _fan_out(names: list[str], repeat: int) -> None:
    """Fork the bench into fresh subprocesses (see main) and merge their
    one-line JSONs into the final emission. Methodology continuity
    (VERDICT r5 #2): the chunked-subprocess harness changed accounting
    vs rounds ≤3 (one long session), making the r03 common-subset delta
    unattributable between cold-JVM cost and real drift — so the default
    run ALSO times the 44-query r03 common subset ONCE in a single
    session (the r03 method, one child process, no chunking) and emits
    it as r3_method_total next to the chunked r3_subset_total."""
    merged: dict[str, float] = {}
    approx: dict[str, float] = {}
    spread: dict[str, float] = {}
    compiles: dict[str, int] = {}
    bests: dict[str, float] = {}
    builds: dict[str, float] = {}
    serves: dict[str, float] = {}
    chunks = [names[i : i + CHUNK] for i in range(0, len(names), CHUNK)]
    for ci, chunk in enumerate(chunks):
        part = _run_child(chunk, repeat, f"chunk {ci + 1}/{len(chunks)}")
        merged.update(part["queries"])
        approx.update(part.get("ann_approx_only") or {})
        spread.update(part.get("query_spread") or {})
        compiles.update(part.get("codegen_compiles") or {})
        bests.update(part.get("queries_best") or {})
        builds.update(part.get("ann_build_s") or {})
        serves.update(part.get("ann_serve_s") or {})
    extra = {}
    r3 = [n for n in R3_SET if n in QUERIES]
    if set(r3) <= set(names):
        part = _run_child(r3, repeat, "r3-method single-session run")
        extra["r3_method_total"] = round(sum(part["queries"].values()), 3)
        extra["r3_method_ann_approx_only"] = part.get("ann_approx_only") or {}
    extra["query_spread"] = spread
    extra["codegen_compiles"] = compiles
    extra["queries_best"] = bests
    extra["ann_build_s"] = builds
    extra["ann_serve_s"] = serves
    _emit_json(merged, approx, extra)


def main() -> None:
    load_all()
    if "--queries" in sys.argv:
        # explicit subset (comma-separated) — e.g. re-timing a prior
        # round's common set in a fresh JVM for like-for-like comparison
        req = sys.argv[sys.argv.index("--queries") + 1].split(",")
        missing = [n for n in req if n not in QUERIES]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        names = req
    elif "--all" in sys.argv:
        names = list(QUERIES)
    else:
        missing = [n for n in HEADLINE if n not in QUERIES]
        if missing:
            # fail LOUDLY: silently skipping a misspelled/renamed headline
            # entry would shrink the total and read as a perf win
            raise SystemExit(f"headline queries not registered: {missing}")
        names = list(HEADLINE)
    # best-of-3 by default: later runs reflect steady-state throughput
    # (codegen compiled, buffers warm) and mask transient host/GC noise
    repeat = 3
    if "--repeat" in sys.argv:
        try:
            repeat = int(sys.argv[sys.argv.index("--repeat") + 1])
        except (IndexError, ValueError):
            raise SystemExit("usage: bench.py [--all] [--repeat N]")
    if "--queries" not in sys.argv and len(names) > CHUNK:
        # default/--all invocations fan out into FRESH SUBPROCESSES of
        # CHUNK queries each: a long single-JVM sweep ages the process
        # (codegen/metaspace accumulation survives even SparkContext
        # restarts — measured ~10% uniform timing inflation on a
        # ~60-query session vs a fresh one, and an in-process session
        # recycle does NOT undo it), so cross-round per-query
        # comparability needs each chunk to start clean. Startup/warm
        # cost is per-process and never charged to query timings. An
        # explicit --queries run IS the child (or a user subset).
        _fan_out(names, repeat)
        return
    spark = get_spark("bench")
    # warm the JVM once so q1 doesn't pay session startup: codegen compile,
    # parquet reader + committer, shuffle, and the Arrow/python-udf bridge
    import tempfile

    from pyspark.sql import functions as Fw

    spark.sql("select count(*) c from range(100000)").collect()
    warm = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    warm.write.mode("overwrite").parquet(tempfile.mkdtemp(prefix="pqrs_warm_") + "/w")
    spark.range(10000).groupBy((Fw.col("id") % 7).alias("g")).agg(
        Fw.sum(Fw.pmod(Fw.xxhash64(Fw.col("id").cast("string")), Fw.lit(1000))).alias("s")
    ).write.format("noop").mode("overwrite").save()
    spark.range(100).select(Fw.col("id")).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # the generic warmup above misses most of what a REAL query JITs
    # (query-shaped codegen, joins, windows, the manifest read path) —
    # measured ~8% residual inflation on a fresh chunk's early queries
    # vs a long session. Run the chunk's first query once untimed: the
    # session crosses into steady state before the first measurement.
    try:
        run_one(spark, names[0])
    except Exception:
        pass  # the timed run will surface the real error attributably

    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    scratch_glob = os.path.join(_tempfile.gettempdir(), "pqrs_*")
    timings: dict[str, float] = {}
    approx_only: dict[str, float] = {}

    sigmas: dict[str, float] = {}
    compiles: dict[str, int] = {}
    bests: dict[str, float] = {}
    builds: dict[str, float] = {}
    from parquetranger_spark.queries import common as _qcommon

    def timed(name: str) -> float:
        samples = []
        for _ in range(repeat):
            pre = set(_glob.glob(scratch_glob))
            c0 = codegen_compiles(spark)
            dt = run_one(spark, name)
            # classes compiled from generated code; the last repeat's is kept
            compiles[name] = codegen_compiles(spark) - c0
            # index-building queries self-report their build seconds
            # (queries/common.py record_build): keep the build sample
            # PAIRED with its run so the chosen timing and its build
            # split come from the same execution
            samples.append((dt, _qcommon.BUILD_S.pop(name, None)))
            # storage queries materialize scratch repos per run; a long
            # --all --repeat sweep would otherwise grow /tmp linearly and
            # can exhaust it mid-bench
            for d in set(_glob.glob(scratch_glob)) - pre:
                _shutil.rmtree(d, ignore_errors=True)
        samples.sort(key=lambda p: p[0])
        med = samples[len(samples) // 2]
        sigmas[name] = round(samples[-1][0] - samples[0][0], 3)
        bests[name] = samples[0][0]
        # sub-second queries sit inside the JVM-scheduling noise band
        # (±30% observed): best-of-N there reports the lucky tail and
        # phantom "regressions" appear round-over-round — take the MEDIAN
        # below the threshold (verdict r6 #7). Heavier queries keep
        # best-of-N: their first run pays query-shaped JIT, and min is
        # the steady-state throughput the cross-round ratios track.
        chosen = med if med[0] < 1.5 else samples[0]
        if chosen[1] is not None and not os.environ.get("PQRS_BENCH_APPROX_ONLY"):
            builds[name] = round(chosen[1], 3)
        return chosen[0]

    for name in names:
        timings[name] = timed(name)
        print(f"# {name}: {timings[name]}s (spread {sigmas[name]}s, "
              f"{compiles[name]} compiles)", file=sys.stderr)
        if name in ANN_SPLIT:
            # verified-exact family: re-time ADJACENT to the full run
            # (same session age) with the exact twin + recall assert
            # disabled, so a regression is attributable to the index
            # path vs the deliberately-added verify surface. Gate
            # semantics are unchanged — the flag lives only here.
            os.environ["PQRS_BENCH_APPROX_ONLY"] = "1"
            full = sigmas[name], bests[name], compiles[name]
            try:
                approx_only[name] = timed(name)
            finally:
                os.environ.pop("PQRS_BENCH_APPROX_ONLY", None)
                # spread/best/compiles reported for the FULL run
                sigmas[name], bests[name], compiles[name] = full
            print(f"# {name} (approx only): {approx_only[name]}s", file=sys.stderr)

    serve = {
        n: round(timings[n] - b, 3) for n, b in builds.items() if n in timings
    }
    _emit_json(
        timings,
        approx_only,
        {
            "query_spread": sigmas,
            "codegen_compiles": compiles,
            "queries_best": bests,
            # one-off index construction vs the serve path (verdict r7
            # #6): serve_s = full timing minus the in-body build, the
            # number comparable across rounds as indexes gain features
            "ann_build_s": builds,
            "ann_serve_s": serve,
        },
    )


def _emit_json(
    timings: dict[str, float],
    approx_only: dict[str, float],
    extra: dict | None = None,
) -> None:
    total = round(sum(timings.values()), 3)
    # the headline set GROWS each round (new tiers join it), so the grand
    # total is not comparable across rounds; the r1/r2-era 17-query subset
    # subtotal is the like-for-like progression number
    r2_subtotal = round(sum(timings[n] for n in R2_SET if n in timings), 3)
    # the 16-query round-1 set (R2_SET minus dedup_simhash_pairs, which
    # joined in r2) — BENCH_r01.json's 71.0 s over these queries is the
    # driver's ≤2×-of-baseline bar, so emit the comparable number directly
    r1_set = [n for n in R2_SET if n != "dedup_simhash_pairs"]
    r1_subtotal = round(sum(timings[n] for n in r1_set if n in timings), 3)
    r3_subtotal = round(sum(timings[n] for n in R3_SET if n in timings), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "r1_subset_total": r1_subtotal,
                "r2_subset_total": r2_subtotal,
                "r3_subset_total": r3_subtotal,
                # index-path-only timings for the verified-exact family
                # (full-query time minus these = the verify surface)
                "ann_approx_only": approx_only,
                "sf": sf_of(SF_DIR),
                # ANN timings (topk_cosine_ivf/_pq, dedup_simhash_pairs)
                # grew ~1.5x over BENCH_r03: those queries now ALSO run
                # the exact brute-force surface and assert index recall
                # in-query (the verified-exact oracle pattern that ended
                # their no_oracle driver exposure) — deliberate
                # correctness-coverage cost, not an index regression
                "notes": "ann queries include exact-verify surface since r4; benched in fresh warmed subprocesses per 34-query chunk since r5 (each chunk pre-runs its first query untimed); r3_method_total re-times the 44-query r03 common subset in ONE session (the r03 accounting) for cross-round attribution; since r7 per-query values are MEDIAN-of-N below 1.5s / best-of-N above (sub-second noise band), with per-query max-min spread in query_spread and best-of-N in queries_best (the like-for-like number vs pre-r7 rounds)",
                **(extra or {}),
            }
        )
    )


if __name__ == "__main__":
    main()
