"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q_...": sec, ...}, "sf": 0.1}

Each query is materialized with ``df.write.format("noop")`` — a full
evaluation of every output column (``count`` would let Spark skip
projection work) without the driver-side row deserialization of
``collect()``, which measures py4j transfer rather than query execution
and is highly variable for wide results.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# The one official cold gate baseline (BASELINE.md "Gate semantics").
BASELINE_FILE = "bench_r14_baseline.json"

# Round-1 WARM map (BENCH_r01.json): rounds 1-7 reused the SQL cache
# across queries, so these numbers are not like-for-like with cold
# timings.  They feed only the cross-era continuity scalar
# ratio_median_norm_r1, never the gate.  q_cube/q_rollup were merged
# into q_rollup_cube after round 1; their baseline is the sum of the two.
BASELINE_R1 = {
    "q_agg_distinct": 0.1556, "q_agg_group": 0.467, "q_anti_join": 0.1684,
    "q_approx_distinct": 0.3592, "q_approx_percentile": 0.3726,
    "q_array_fns": 0.1074, "q_asof_align": 0.222,
    "q_broadcast_join": 0.244, "q_dedup_clusters": 3.1919,
    "q_dedup_embedding": 1.0363, "q_dedup_exact": 0.1339,
    "q_dedup_minhash_lsh": 1.3044, "q_dedup_ngram_jaccard": 2.2262,
    "q_dedup_simhash": 0.986, "q_deterministic_sample": 0.1624,
    "q_filter_project": 0.1403, "q_grouping_sets": 0.5655,
    "q_hash_join_inner": 0.3642, "q_hierarchical_rollup": 0.3697,
    "q_interp_by_key": 0.4305, "q_interp_linear": 0.2886,
    "q_interval_join": 0.2081, "q_lang_id_ngram": 2.5033,
    "q_local_supplier_volume": 0.6549, "q_map_fns": 0.2523,
    "q_outer_join": 0.3517, "q_percentile_exact": 0.1861,
    "q_pivot_wide": 0.2965, "q_pricing_summary": 0.9545,
    "q_range_join": 0.5475, "q_rollup_cube": 0.9151,
    "q_scalar_fns": 0.2006,
    "q_scalar_subquery": 0.3644, "q_semi_join": 0.1668,
    "q_set_ops": 0.2498, "q_shipping_priority": 0.4986,
    "q_shuffle_hash_join": 0.4572, "q_similarity_blocked": 0.2209,
    "q_similarity_ivf": 0.9883, "q_similarity_topk": 0.2781,
    "q_skew_join_salted": 0.3473, "q_sort_limit_topk": 0.1317,
    "q_stream_session": 0.3422, "q_stream_sliding": 0.2139,
    "q_stream_tumbling": 0.1743, "q_text_fingerprint": 0.0738,
    "q_text_quality": 0.2185, "q_text_rolling_hash": 0.2344,
    "q_text_stats": 0.1341, "q_text_tokens_bpe": 0.1581,
    "q_token_histogram": 0.1315, "q_unpivot": 0.0659,
    "q_window_frame": 0.2838, "q_window_rank": 0.2134,
}
# Round 1 predates the host_floor probe; its map-only canary q_unpivot
# (scan + project + noop — the same shape the floor probe runs) stands in.
BASELINE_R1_FLOOR = 0.0659


def _load_baseline() -> tuple[dict[str, float], float, float | None]:
    """(per-query seconds, host_floor, shuffle_floor or None) from
    BASELINE_FILE.  Called before the warm-up, so a missing or malformed
    baseline fails the bench at once instead of after the timed passes."""
    with open(os.path.join(HERE, BASELINE_FILE)) as f:
        d = json.load(f)
    queries = {k: float(v) for k, v in d["queries"].items()}
    if "q_unpivot" not in queries:
        raise ValueError(f"{BASELINE_FILE} lacks the q_unpivot canary")
    sfl = d.get("shuffle_floor")
    return (
        queries,
        float(d["host_floor"]),
        float(sfl) if sfl is not None else None,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sf is reporting metadata only — never let an unconventional dir name
    # (e.g. "sf0.1_v2", "data") kill the bench before a single query runs.
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else None

    base_map, base_floor, base_shuffle = _load_baseline()
    extra_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF") or None

    from lab_etl_spark.queries import load_all
    from lab_etl_spark.session import get_spark

    spark = get_spark("lab_etl_spark_bench")
    cpus = spark.sparkContext.defaultParallelism  # N of local[N]
    registry = load_all()
    bench_set = {n: q for n, q in registry.items() if q.bench}

    # Warm-up pass: run every query once at a small scale factor first.
    # Whole-stage codegen + JIT compile hundreds of generated classes for a
    # diverse plan mix; measuring cold conflates compilation (a one-time,
    # size-independent cost) with execution.  Plans are shape-identical at
    # the smaller sf, so the timed passes reuse the classes the warm pass
    # compiled, provided all of them fit in Spark's codegen class cache
    # (spark.sql.codegen.cache.maxEntries, 4096 from get_spark; at Spark's
    # default of 100 the bench set's ~2,300 classes evict each other and
    # every pass recompiles them).  codegen_compiles in the report counts
    # what the timed passes compiled.
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.01"
    )
    for name, q in sorted(bench_set.items()):
        try:
            q.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # warm-up must never fail the bench
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    print("# warmup complete", file=sys.stderr)

    # min-of-N trials: this host shows sporadic multi-second stalls (CPU
    # steal / JVM code-cache flushes) that hit random queries; a stall must
    # strike every trial to corrupt the recorded number.  Honest per-query
    # compute at sf0.1 is ~0.3-5 s, so extra trials are cheap.  3 trials
    # (was 2): with 120+ benched queries the suite runs long enough that a
    # single steal burst can cover two consecutive trials of a short query
    # (observed: 0.17 s q_semi_join recorded at 0.77 s).
    # Trials are INTERLEAVED (full pass over all queries, repeated), not
    # back-to-back per query: the host's steal storms last tens of seconds,
    # long enough to cover every consecutive trial of one short query
    # (observed: 0.5 s q_map_fns recorded at 6.5 s min-of-3).  With
    # round-robin passes a storm inflates one pass of MANY queries, and the
    # min over passes discards it for all of them.
    # Each pass is additionally ROTATED by len/trials (round 13): when the
    # interference is PERIODIC with a period near the pass duration (this
    # sandbox's supervisor polls on a fixed cadence), a storm lands at the
    # same PHASE of every same-ordered pass and therefore on the SAME
    # ALPHABETICAL BAND of queries, which min-of-N cannot discard — the
    # round-13 pre-opt recording shows exactly that signature (the q_r*
    # band 2.9-3.2x with q_range_join at 1.15x when re-timed in
    # isolation, the mid-alphabet band at 1.0x).  Rotation keeps the
    # methodology (min-of-N interleaved, honest-cold per pass) while
    # decorrelating phase-locked interference from query identity: each
    # pass visits a different third of the list first, so a phase-locked
    # storm hits DIFFERENT queries each pass and the min discards it.
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    # Janino compiles in this JVM (planning and local-mode task threads).
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    compiles_before = compiles.getCount()
    timings: dict[str, float] = {name: float("inf") for name in bench_set}
    # Host-variance floor: a fixed map-only plan (scan + project + noop)
    # whose cost is dominated by per-job overhead, not query compute.
    # Probed ONCE PER PASS, interleaved with the real queries exactly like
    # any other timing, min across passes — a steal storm that hits one
    # pass is discarded by the min, the same way it is for every query.
    # (Round 6's probe ran 3 back-to-back trials AFTER the whole suite; a
    # steal storm during that window inflated the floor ~10x and made
    # every normalized ratio vacuous — see VERDICT round 6, "What's
    # wrong" #1.)
    floor = float("inf")
    # Second, SHUFFLE-SHAPED floor probe (round 14): the map-only floor
    # and canary underestimate the host factor for shuffle/aggregation-
    # heavy work (round-13 recurring false signal: canary_ratio 1.18 vs
    # floor_ratio 1.39 in one recording made whole cohorts read 1.2x
    # in-bench while isolated at 0.9-1.0).  A fixed keyed repartition —
    # every row crosses one hash exchange, no aggregation to shrink it —
    # is timed once per pass exactly like the map-only probe, min across
    # passes.  It is a NORMALIZATION INPUT recorded in the artifact, not
    # a new query entry; the gate's norm_divisor stays the conservative
    # min of the map-only floor/canary ratios so this change cannot hide
    # a regression, it only lets the artifact separate host-shape skew
    # (shuffle_ratio >> floor_ratio) from real shuffle-path regressions.
    shuffle_floor = float("inf")
    bench_order = sorted(bench_set.items())
    for t in range(trials):
        off = (t * len(bench_order)) // max(trials, 1)
        for name, q in bench_order[off:] + bench_order[:off]:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = min(
                timings[name], time.perf_counter() - t0
            )
            # Release dead references NOW so Spark's ContextCleaner
            # unpersists the finished query's localCheckpoint/persist
            # blocks before the next query is timed — otherwise blocks
            # from the iterative queries (connected components, PageRank)
            # linger until a Python GC happens to run, taxing later
            # queries' JVM memory.  ALSO drop the SQL cache: CacheManager
            # holds strong refs keyed by canonicalized plan, so a
            # persisted sub-frame built in pass 1 would satisfy pass 2's
            # identical plan from cache and min-of-N would time a WARM
            # run (round-8 integrity finding; the noop sink and the floor
            # probe are unaffected).
            del df
            gc.collect()
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "l_orderkey", "l_quantity + 1.0 AS q1"
        ).write.format("noop").mode("overwrite").save()
        floor = min(floor, time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
        ).repartition("l_orderkey").write.format("noop").mode(
            "overwrite"
        ).save()
        shuffle_floor = min(shuffle_floor, time.perf_counter() - t0)
        print(f"# pass {t + 1}/{trials} done", file=sys.stderr)
    codegen_compiles = compiles.getCount() - compiles_before
    timings = {n: round(v, 4) for n, v in sorted(timings.items())}
    for name, v in timings.items():
        print(f"# {name}: {v:.3f}s", file=sys.stderr)
    print(f"# host_floor: {floor:.4f}s", file=sys.stderr)
    print(f"# shuffle_floor: {shuffle_floor:.4f}s", file=sys.stderr)
    print(f"# codegen_compiles: {codegen_compiles}", file=sys.stderr)

    # One timed COLD run for every bench-EXCLUDED query (side-effecting
    # writes, streaming drains, media-literal reads — shapes min-of-3
    # plan timing doesn't fit).  Not gated and not part of the 2x check;
    # recorded in the artifact so a regression in the roundtrip /
    # streaming / lake-layout family is at least visible round-over-round
    # instead of invisible (round-9 verdict, "What's missing" #1).
    # Min-of-2 ROTATED passes since round 13 (was 1): the single-trial
    # recording produced two >2x false alarms this round
    # (q_parquet_footer_stats recorded 3.66s / isolated 0.87s,
    # q_arrow_roundtrip 6.78s / isolated 1.82s) from the same
    # phase-locked periodic interference the gated loop's rotation
    # addresses; every query still runs COLD each pass (fresh
    # per-invocation scratch dirs, SQL cache cleared).  Two trials, not
    # three: the family is trend-only and ungated, so one decorrelated
    # retry buys most of the robustness at half the added wall.
    # SPARK_GRAFT_BENCH_IO=0 skips the pass (iteration-speed escape
    # hatch).
    io_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_IO", "1") != "0":
        io_order = sorted(
            (name, q) for name, q in registry.items() if not q.bench
        )
        io_trials = int(os.environ.get("SPARK_GRAFT_BENCH_IO_TRIALS", "2"))
        for t in range(io_trials):
            off = (t * len(io_order)) // max(io_trials, 1)
            for name, q in io_order[off:] + io_order[:off]:
                t0 = time.perf_counter()
                try:
                    df = q.fn(spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    got = round(time.perf_counter() - t0, 4)
                    prev_t = io_timings.get(name, -1.0)
                    io_timings[name] = min(got, prev_t) if prev_t > 0 else got
                    del df
                except Exception as e:  # noqa: BLE001 — the ungated io pass
                    # must never kill the gated run's report
                    print(f"# io-family {name} failed: {e}", file=sys.stderr)
                    io_timings.setdefault(name, -1.0)
                gc.collect()
                spark.catalog.clearCache()
            print(
                f"# io-family pass {t + 1}/{io_trials} done "
                f"({len(io_timings)} queries, "
                f"{sum(v for v in io_timings.values() if v > 0):.1f}s)",
                file=sys.stderr,
            )

    # io-family TREND flag (round-10 verdict item 4): the excluded
    # queries are min-of-2 and ungated, but with a committed
    # previous-round recording (bench_io_baseline.json — refresh it each
    # round like the cold gate baseline) a >2x host-floor-normalized
    # jump becomes an ALARM in the artifact instead of a diff the judge
    # has to compute.  Soft: flags are reported, never fatal (two trials
    # still admit correlated inflation — re-run a flagged query in
    # isolation before believing it).
    io_over: list[str] = []
    io_prev_src = None
    if io_timings:
        try:
            with open(os.path.join(HERE, "bench_io_baseline.json")) as f:
                prev = json.load(f)
            prev_io = {
                k: float(v)
                for k, v in prev["io_family_queries"].items()
                if float(v) > 0
            }
            io_norm = floor / float(prev["host_floor"]) or 1.0
            io_over = sorted(
                n
                for n, v in io_timings.items()
                if v > 0 and n in prev_io and v / prev_io[n] / io_norm > 2.0
            )
            io_prev_src = prev.get("source", "bench_io_baseline.json")
            for n in io_over:
                print(
                    f"# IO TREND FLAG: {n} {io_timings[n]:.2f}s vs "
                    f"{prev_io[n]:.2f}s prev (floor-normalized "
                    f"{io_timings[n] / prev_io[n] / io_norm:.2f}x)",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001 — a missing/malformed
            # snapshot degrades to no-trend-check, never kills the bench
            print(f"# io trend check skipped: {e}", file=sys.stderr)

    # Self-auditing 2x-gate vs the official cold baseline (like-for-like
    # with this run's cold methodology), per-query raw and host-floor-
    # normalized (this host's CPU-steal level varies ~1.2-2x between
    # rounds and hits every query uniformly; dividing by the floor ratio
    # removes that).  Only queries present in the baseline artifact appear.
    #
    # Floor/canary cross-check: q_unpivot is a map-only query timed the
    # same interleaved way as the floor probe; its raw ratio vs its own
    # baseline recording is an independent estimate of host steal.  If the
    # two disagree by >1.5x the floor measurement is suspect — normalize
    # by the SMALLER of the two (conservative: under-normalizing can only
    # make ratios look worse, never hide a regression) and flag loudly.
    floor_ratio = floor / base_floor if base_floor else 1.0
    canary = timings.get("q_unpivot")
    canary_ratio = canary / base_map["q_unpivot"] if canary else floor_ratio
    # Shuffle-shaped host factor: reported for diagnosis (see the probe
    # comment above); NOT folded into norm_divisor, which stays the
    # conservative min of the two map-only estimates.
    shuffle_ratio = (
        shuffle_floor / base_shuffle
        if base_shuffle and shuffle_floor != float("inf")
        else None
    )
    hi, lo = max(floor_ratio, canary_ratio), min(floor_ratio, canary_ratio)
    floor_canary_agree = lo > 0 and hi / lo <= 1.5
    norm_div = lo if lo > 0 else 1.0
    if not floor_canary_agree:
        print(
            f"# BENCH INTEGRITY WARNING: floor_ratio {floor_ratio:.3f} and "
            f"canary_ratio {canary_ratio:.3f} disagree by >1.5x — "
            f"normalizing by the conservative min {norm_div:.3f}",
            file=sys.stderr,
        )
    ratios, ratios_norm = {}, {}
    for name, base in base_map.items():
        if name in timings and base > 0:
            r = timings[name] / base
            ratios[name] = round(r, 3)
            ratios_norm[name] = round(r / norm_div, 3)
    med = sorted(ratios.values())[len(ratios) // 2] if ratios else None
    med_n = (
        sorted(ratios_norm.values())[len(ratios_norm) // 2]
        if ratios_norm
        else None
    )
    over_gate = sorted(n for n, r in ratios_norm.items() if r > 2.0)

    # Legacy continuity scalar vs the r1 WARM map (rounds 1-7 comparisons
    # used it; methodology differs from cold, so only the median survives
    # as a cross-era reference point, normalized by the r1 floor/canary).
    r1_floor_ratio = floor / BASELINE_R1_FLOOR
    r1_canary_ratio = (
        canary / BASELINE_R1["q_unpivot"] if canary else r1_floor_ratio
    )
    r1_div = min(r1_floor_ratio, r1_canary_ratio) or 1.0
    r1_norm = sorted(
        timings[n] / b / r1_div
        for n, b in BASELINE_R1.items()
        if n in timings and b > 0
    )
    med_n_r1 = round(r1_norm[len(r1_norm) // 2], 3) if r1_norm else None
    # Cross-era continuity ceiling (round-10 verdict item 5): the 2x gate
    # compares against a baseline re-recorded on a recent tree, so a ~10%
    # regression per round could compound invisibly under successive
    # re-baselines.  This scalar is anchored to the IMMUTABLE round-1 map
    # and has sat at ~1.08 for two rounds; breaching 1.5 means real
    # compounded drift and must be an alarm, not a footnote.  (Threshold
    # recorded in BASELINE.md; tests/test_static_audits.py asserts it on
    # the committed artifact too.)
    CONTINUITY_CEILING = 1.5
    continuity_ok = med_n_r1 is None or med_n_r1 < CONTINUITY_CEILING
    if not continuity_ok:
        print(
            f"# CONTINUITY BREACH: ratio_median_norm_r1 {med_n_r1} >= "
            f"{CONTINUITY_CEILING} — compounded drift vs the immutable r1 "
            f"anchor; find the regressing rounds before re-baselining",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 4)
    # Key ORDER matters: the driver archives only a ~1.8 KB TAIL of stdout
    # (BENCH_r0*.json store a truncated tail), so the gate/diagnostic
    # scalars go LAST in the dict — they must survive truncation even when
    # the per-query dicts at the front do not.  Compact separators buy
    # ~15% more surviving entries.  The complete untruncated JSON is also
    # written to bench_last_run.json so nothing is ever unrecoverable.
    report = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "extra_conf": extra_conf,
        "codegen_cache_entries": int(
            spark.conf.get("spark.sql.codegen.cache.maxEntries")
        ),
        "codegen_compiles": codegen_compiles,
        "queries": timings,
        "io_family_queries": io_timings,
        "ratio_vs_baseline": ratios,
        "ratio_vs_baseline_norm": ratios_norm,
        "baseline_source": f"{BASELINE_FILE} (cold, official)",
        "ratio_median_norm_r1": med_n_r1,
        "baseline_floor": base_floor,
        "host_floor": round(floor, 4),
        "shuffle_floor": (
            round(shuffle_floor, 4) if shuffle_floor != float("inf") else None
        ),
        "baseline_shuffle_floor": base_shuffle,
        "shuffle_ratio": (
            round(shuffle_ratio, 4) if shuffle_ratio is not None else None
        ),
        "floor_ratio": round(floor_ratio, 4),
        "canary_ratio": round(canary_ratio, 4),
        "floor_canary_agree": floor_canary_agree,
        "norm_divisor": round(norm_div, 4),
        "io_prev_source": io_prev_src,
        "io_over_2x_prev": io_over,
        "continuity_ok": continuity_ok,
        "ratio_median": med,
        "ratio_median_norm": med_n,
        "over_2x_gate_norm": over_gate,
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(HERE, "bench_last_run.json"),
    )
    try:
        with open(out_path, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    except OSError as e:  # a read-only checkout must not kill the bench
        print(f"# bench_last_run.json not written: {e}", file=sys.stderr)
    print(json.dumps(report, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
