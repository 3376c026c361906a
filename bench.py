#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the `noop` sink (full execution, no
driver-side collect), so the number measures scan + shuffle + compute — the
part that scales — not result serialization to the driver.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative spread: core operator surface, relational joins/sort, windows,
# and the LLM-pipeline extension layer (dedup, ANN, text). Streaming queries are
# excluded — their latency is trigger-interval-bound, not throughput-bound.
HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "returned_item_revenue",
    "curation_pipeline",
    "keyed_agg",
    "wordcount",
    "running_reduce",
    "top_orders",
    "join_revenue_by_segment",
    "forecast_revenue",
    "volume_shipping",
    "large_volume_orders",
    "customer_order_distribution",
    "window_tumbling_hourly",
    "asof_click_attribution",
    "interval_join_click_purchase",
    "text_quality",
    "dedup_minhash_lsh",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "small_quantity_revenue",
    "repetition_score",
    "corpus_trigram_topk",
    "token_budget_shards",
    "decontamination_check",
    "data_quality_report",
    "pii_redaction",
    "mixture_weights",
    "text_search_bm25",
    "kmeans_clusters",
    "heavy_hitter_tokens",
    "hybrid_search_rrf",
    "pq_adc_topk",
    "dedup_duplicate_spans",
    "dedup_span_removal",
    "gopher_quality_flags",
    "curation_pipeline_v2",
    "bpe_learn_merges",
    "sketch_count_min",
    "tfidf_keywords",
    "packed_sequence_offsets",
]


def wait_for_quiet_machine(max_wait_s: float = 240.0, load_per_cpu: float = 0.25) -> None:
    """Best-effort quiet-start guard. The bench shares its host with whatever
    ran just before it (test suites, prior Spark JVMs still shutting down);
    round-4's driver-recorded run measured the same code 1.2-4.4x slower than
    a quiet-machine run purely from background load. Wall-clock numbers only
    mean something on a calm machine, so: poll the 1-minute load average and
    start once it drops below load_per_cpu*nproc, giving up (and proceeding
    anyway, loudly) after max_wait_s."""
    try:
        ncpu = os.cpu_count() or 1
        threshold = max(2.0, load_per_cpu * ncpu)
        deadline = time.monotonic() + max_wait_s
        load = os.getloadavg()[0]
        while load > threshold and time.monotonic() < deadline:
            print(
                f"bench: waiting for quiet machine (load {load:.1f} > {threshold:.1f})",
                file=sys.stderr,
            )
            time.sleep(10.0)
            load = os.getloadavg()[0]
        if load > threshold:
            print(
                f"bench: proceeding on a LOADED machine (load {load:.1f}) — "
                "treat this run's numbers as an upper bound",
                file=sys.stderr,
            )
    except (OSError, AttributeError):  # getloadavg unavailable — proceed
        pass


def read_steal_jiffies() -> int | None:
    """Cumulative CPU-steal jiffies from /proc/stat (column 9 of the `cpu`
    line). This host has documented random steal bursts that inflate
    arbitrary queries 5-14x mid-sweep (VERDICT r11 adjudicated four such
    phantom regressions); sampling steal around every timed run lets a
    reader separate code regressions from ambient bursts."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) if fields[0] == "cpu" and len(fields) > 8 else None
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    wait_for_quiet_machine()

    from mini_flink_spark.queries import QUERIES  # populates the registry
    from mini_flink_spark.session import get_spark

    spark = get_spark(app_name=f"bench-sf{sf}")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session outside the clock: codegen via a trivial agg, and
    # the parquet datasource path via the 5-row region table (initializes
    # reader classes without touching the benchmarked tables' data).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # The FULL registry is benched (tail regressions surface round-over-round,
    # not just the watched headliners); the headline subset still defines the
    # comparable `value` metric. Headliners run first so their numbers aren't
    # perturbed by cache state left by the long tail.
    names = HEADLINE + [n for n in QUERIES if n not in set(HEADLINE)]

    # Steady-state measurement (JMH-style): run every query once at the
    # smallest SF first so whole-stage-codegen compilation + JIT warm-up
    # happen outside the clock. The generated code is identical across SFs
    # (literals ride the references array, paths aren't in the source), so
    # the compile cache hits and the timed pass measures scan + shuffle +
    # compute — the part that exists at 100 TB, where compile time is noise.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(sf_dir):
        for name in names:
            try:
                QUERIES[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — a broken tail query must not kill the bench
                print(f"warm {name}: {exc}", file=sys.stderr)
            # Release py4j references so the ContextCleaner can evict this
            # query's localCheckpoint/broadcast blocks before the next one:
            # without this, ~200 eager checkpoints from the warm+timed passes
            # pin the storage pool and EVERY later query pays eviction + GC
            # thrash (measured: pricing_summary 1.8 s -> 8.0 s once the warm
            # pass had run the full 169-query registry).
            gc.collect()

    def deep_clean() -> None:
        # Long single-session sweeps accumulate JVM-side residue the per-query
        # gc.collect() can't reach: terminated streaming queries' memory-sink
        # tables and state-store instances, cached relations, and tenured
        # garbage. Positional profiling showed queries in the back half of the
        # registry running 1.6-1.7x slower than the same queries benched
        # early; a periodic stop-drop-GC keeps late measurements honest.
        for q in spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001
                pass
        spark.catalog.clearCache()
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    deep_clean()  # enter the timed pass with a clean session

    def timed_run(name: str) -> tuple[float | None, int | None]:
        fn = QUERIES[name].fn
        s0 = read_steal_jiffies()
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench {name}: {exc}", file=sys.stderr)
            dt = None
        s1 = read_steal_jiffies()
        gc.collect()  # same block-release discipline as the warm pass
        steal = (s1 - s0) if (s0 is not None and s1 is not None) else None
        return dt, steal

    # Burst-robust headline measurement (round 12, VERDICT r11 #2): this
    # host's random CPU-steal bursts put 5-14x phantom spikes on arbitrary
    # queries in single-pass sweeps. The headline queries therefore run
    # THREE full timed cycles (symmetric policy — every query reruns every
    # cycle, never only-when-slow) and each reported number is the
    # per-query MEDIAN of its three runs; the raw runs and the per-run
    # steal-jiffy deltas land in BENCH_FULL.json so any residual outlier is
    # auditable. First-cycle numbers (the pre-r12 methodology) are kept
    # alongside in BENCH_FULL.json as run index 0. All three cycles run
    # BEFORE the long tail so none of them pays tail-session residue; the
    # tail (non-headline) queries stay single-run — they never feed the
    # headline metric.
    times: dict[str, float] = {}
    runs: dict[str, list[float | None]] = {}
    steals: dict[str, list[int | None]] = {}
    for cycle in range(3):
        for name in HEADLINE:
            dt, steal = timed_run(name)
            runs.setdefault(name, []).append(dt)
            steals.setdefault(name, []).append(steal)
        deep_clean()
    for name in HEADLINE:
        ok = sorted(r for r in runs[name] if r is not None)
        times[name] = ok[len(ok) // 2] if ok else None

    tail = [n for n in names if n not in set(HEADLINE)]
    for i, name in enumerate(tail):
        times[name], _ = timed_run(name)
        if (i + 1) % 25 == 0:
            deep_clean()

    total = round(sum(times[n] for n in HEADLINE if times.get(n) is not None), 3)

    # Output contract (round-4 fix): the driver tail-captures stdout and parses
    # the LAST line as JSON. Round 3 printed the full-registry time map (184
    # entries) on that line, which overflowed the capture buffer and left
    # BENCH_r03.json unparseable. So: the full per-query map goes to a FILE
    # (BENCH_FULL.json, for round-over-round tail-regression diffing), and
    # stdout gets ONE compact line — headline total + headline per-query times
    # only — printed last.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump({
            "metric": "full_registry_wall",
            "unit": "sec",
            "sf": float(sf),
            "headline_total": total,
            "queries": times,
            # audit trail for the 3x-median headline policy (r12): raw runs
            # (index 0 = the pre-r12 single-pass methodology) and the
            # /proc/stat steal-jiffy delta observed during each run
            "headline_runs": {n: runs[n] for n in HEADLINE},
            "headline_steal_jiffies": {n: steals[n] for n in HEADLINE},
        }, f, indent=1, sort_keys=True)
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {n: times.get(n) for n in HEADLINE},
        "sf": float(sf),
    }))


if __name__ == "__main__":
    main()
