"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:

    {"metric": "...", "value": <warm total sec>, "unit": "sec",
     "queries": {"q": warm_sec, ...},
     "value_cold": <cold total sec>, "queries_cold": {"q": cold_sec, ...},
     "value_min": ..., "queries_min": {...}, "queries_spread": {...},
     "loadavg": {...}, "methodology": {...}, "sf": <sf>}

Each query executes to a noop sink (full computation, no driver
collect) so the numbers measure engine work, not result transfer.
Two timings per query keep the engine-work and prepared-statement
lineages separately comparable round over round: cold = caches
cleared, uncached plan construction + first execution; warm = MEDIAN
of 3 steady-state invocations through the catalog plan cache (after a
construction run). Median, not min-of-2: three consecutive rounds a
single-run artifact read as a regression that paired A/B refuted
(r6 dedup_groups +44 %, r7 drift, r8 flagship +77 % — all machine
load). The per-query ``queries_min`` keys keep the old best-case
lineage, ``queries_spread`` (max−min of the steady-state runs) and
``loadavg`` make a loaded measurement window self-documenting.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_examples_spark import get_spark
from streaming_examples_spark.session import driver_mem
from streaming_examples_spark.catalog import entries

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: flagship + one per operator family
HEADLINE = [
    "denorm_orders",          # flagship join+agg (north-star query)
    "tx_denorm_orders",       # flagship tx-aware pipeline (completeness + as-of)
    "pricing_summary",        # scan-heavy aggregation
    "regional_revenue",       # multi-join (broadcast dims)
    "top_customers",          # join + agg + top-k
    "upsert_latest_events",   # upsert materialization (max_by)
    "fill_forward_events",    # window fill-forward
    "sessionize_events",      # gaps-and-islands sessionization
    "dedup_minhash_lsh",      # MinHash LSH near-dup
    "dedup_groups",           # connected components over LSH pairs
    "dedup_exact_norm",       # exact + normalized dedup (fused entry)
    "ann_topk",               # brute-force cosine top-k
    "text_stats",             # merged text metrics (tokens/quality/lang/norm/fp/repetition)
    "curated_corpus",         # composed curation pipeline (capstone)
    "training_mix",           # curated train split -> packing + mixture (capstone 2)
]

def _multimodal_decode(spark, sf_dir):
    from streaming_examples_spark.operators.multimodal import (
        decode_and_featurize,
        with_binary_payload,
    )
    from streaming_examples_spark.tables import load_table

    return decode_and_featurize(with_binary_payload(load_table(spark, sf_dir, "documents")))


def _multimodal_frames(spark, sf_dir):
    from streaming_examples_spark.operators.multimodal import (
        sample_frames,
        with_video_payload,
    )
    from streaming_examples_spark.tables import load_table

    return sample_frames(with_video_payload(load_table(spark, sf_dir, "documents")))


def _multimodal_audio(spark, sf_dir):
    from streaming_examples_spark.operators.multimodal import (
        decode_audio,
        with_audio_payload,
    )
    from streaming_examples_spark.tables import load_table

    return decode_audio(with_audio_payload(load_table(spark, sf_dir, "documents")))


def _multimodal_resize(spark, sf_dir):
    from streaming_examples_spark.operators.multimodal import (
        resize_payloads,
        with_binary_payload,
    )
    from streaming_examples_spark.tables import load_table

    return resize_payloads(
        with_binary_payload(load_table(spark, sf_dir, "documents")), width=64, height=64
    )


#: timed alongside the catalog: the full mapInPandas Arrow decode paths
#: (real SIMG/SAUD parses since round 4, SIMG hash-checked inside
#: multimodal_meta) and the real SVID demux → SIMG frame sampler,
#: timed standalone for throughput
EXTRA = {
    "multimodal_decode": _multimodal_decode,
    "multimodal_frames": _multimodal_frames,
    "multimodal_audio": _multimodal_audio,
    "multimodal_resize": _multimodal_resize,
}


def pretouch_conf() -> dict:
    """Session conf for the bench-harness JVM heap pretouch, shared by
    bench.py and tools/time_catalog.py so the two cannot drift.

    -Xms=-Xmx + AlwaysPreTouch commits AND faults the full heap at JVM
    start; on this sandbox VM guest RAM is backed lazily by the host
    (~160 MB/s), so without it the first ~2 min of query runs pay the
    page-backing cost inside the timed regions (r12: identical warm
    runs swung 0.5 → 22 s). The pretouched heap is the session's own
    (``session.driver_mem``: half the RAM, at most 16g), so the JVM
    commits up front only what the host can back; on a host with less
    FREE RAM set SPARK_GRAFT_PRETOUCH=0 (restores lazy allocation) or
    SPARK_GRAFT_DRIVER_MEM."""
    conf = {"spark.ui.showConsoleProgress": "false"}
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0":
        conf["spark.driver.extraJavaOptions"] = (
            f"-Xms{driver_mem()} -XX:+AlwaysPreTouch"
        )
    return conf


def prefault_python_workers(spark) -> None:
    """Pre-fault the Python worker pool + Arrow allocators (same root
    cause as the bench heap pretouch: lazily host-backed guest RAM).

    The FIRST execution of each Python-path operator faults the
    workers' glibc/numpy arenas and the JVM's Arrow direct buffers at
    the host's ~160 MB/s backing rate — measured: multimodal_resize
    first-execution 12-23 s in a fresh session vs 2-5 s immediately
    after, purely from allocator first-touch (interleaved fresh-process
    A/B; the in-session third run converges to ~2 s). This warmup is
    fully synthetic — ``spark.range`` input, constant bytes — it
    touches no test data and no operator, so cold still measures the
    query's own first execution, not the hypervisor's page-backing.
    ``SPARK_GRAFT_WORKER_PREFAULT_MB=0`` disables (default 256 MB per
    worker)."""
    try:
        prefault_mb = int(os.environ.get("SPARK_GRAFT_WORKER_PREFAULT_MB", "256"))
    except ValueError:
        # a malformed value (e.g. "256m") must not crash the bench
        # before any measurement; fall back to the default
        prefault_mb = 256
    if prefault_mb <= 0:
        return

    def _touch(batches, _mb=prefault_mb):
        import numpy as np
        import pandas as pd
        # sub-mmap-threshold chunks keep the faulted pages inside the
        # worker's retained glibc arena after free
        chunks = [
            np.ones(96 << 10, dtype=np.uint8) for _ in range((_mb << 10) // 96)
        ]
        acc = sum(int(c[0]) for c in chunks)
        del chunks
        blob = b"x" * 65536
        for pdf in batches:
            # Arrow binary round trip sizes the JVM-side direct
            # buffers and pyarrow's allocator
            yield pd.DataFrame(
                {"payload": [blob] * len(pdf), "n": [acc] * len(pdf)}
            )

    (
        spark.range(64 * 128)
        .repartition(64)
        .selectExpr("id", "repeat('y', 32768) as txt")
        .mapInPandas(_touch, schema="payload binary, n long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def main() -> int:
    # Capture the window-as-found load BEFORE session creation: the
    # heap pretouch below burns ~100 s of 32-thread CPU during startup,
    # which would inflate start_1m and flag every run "loaded" even on
    # an idle box. The post-setup reading is kept alongside so the
    # pretouch cost stays visible.
    load_found = os.getloadavg()
    # No console progress bars: their \r-rewritten lines consumed the
    # driver's retained-tail window in round 9 (BENCH_r09.json came back
    # "parsed": null) — the one JSON metrics line must survive verbatim.
    #
    # Heap pretouch (see pretouch_conf docstring): faults the full heap
    # once at session creation — outside every timed region — so the
    # cold/min/warm lineages measure the engine, not the hypervisor's
    # lazy page-backing (r12: up to 69 % of 32 CPUs in SYS time, task
    # CPU inflated up to 140× on identical input without it).
    spark = get_spark("bench", extra_conf=pretouch_conf())
    from streaming_examples_spark.catalog import release

    cat = entries()
    # warm the JVM + parquet footer caches with a trivial action
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # pre-fault Python worker + Arrow allocator memory (see docstring)
    prefault_python_workers(spark)

    # Two numbers per query, reported separately so the engine-work and
    # prepared-statement lineages stay comparable round over round:
    #   cold — caches cleared, UNCACHED plan construction (bypassing the
    #          catalog plan cache) + first execution: what a fresh
    #          session pays end to end, including construction-time
    #          driver work (e.g. the CC fixpoint loop).
    #   warm — median of 3 steady-state invocations through the
    #          catalog's plan cache (run 1, which pays construction and
    #          populates the cache/pinned frames, is timed separately
    #          into the min lineage only): steady-state for a
    #          long-running engine, robust to one loaded run.
    import statistics

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_min: dict[str, float] = {}
    spread: dict[str, float] = {}
    load_start = load_found
    load_post_setup = os.getloadavg()
    for name in HEADLINE + sorted(EXTRA):
        if name in cat:
            cold_fn = cat[name].fn.__wrapped__
            warm_fn = cat[name].fn
        else:
            # EXTRA entries get the same cached-construction warm path
            # the catalog's plan cache gives registered queries: build
            # the DataFrame once, re-execute it on repeat invocations —
            # so warm measures EXECUTION, not py4j plan construction
            # (pre-r6 the extras rebuilt the plan per warm run, which
            # made their warm deltas read as execution regressions)
            cold_fn = EXTRA[name]

            def warm_fn(spark, sf_dir, _f=EXTRA[name], _memo={}):  # noqa: B006
                if "df" not in _memo:
                    _memo["df"] = _f(spark, sf_dir)
                return _memo["df"]

        spark.catalog.clearCache()
        t0 = time.time()
        cold_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        cold[name] = round(time.time() - t0, 3)

        # drop the cold run's persisted frames so warm run 1 measures a
        # genuinely fresh construction+execution (not cold's blocks)
        spark.catalog.clearCache()
        runs: list[float] = []
        for _ in range(4):
            t0 = time.time()
            warm_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        # run 1 pays plan construction and populates the cache/pinned
        # frames; runs 2-4 are the steady-state sample the headline
        # summarizes. The min lineage takes EXACTLY the first two runs
        # — byte-identical semantics to the pre-r9 min-of-2 protocol —
        # so value_min stays comparable round over round (a min over
        # all four would be a distributionally lower order statistic:
        # a protocol-made "improvement", the artifact class this
        # change exists to kill).
        steady = runs[1:]
        warm[name] = round(statistics.median(steady), 3)
        warm_min[name] = round(min(runs[:2]), 3)
        spread[name] = round(max(steady) - min(steady), 3)
        # release this query's plan-cache entry (unpersists its pinned
        # gate frames) + clear leftover caches: later queries must not
        # inherit executor storage, or timings become order-dependent
        if name in cat:
            release(spark, name, SF_DIR)
        spark.catalog.clearCache()

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "value_cold": round(sum(cold.values()), 3),
        "queries_cold": cold,
        "value_min": round(sum(warm_min.values()), 3),
        "queries_min": warm_min,
        "queries_spread": spread,
        "loadavg": {
            "start_1m": round(load_start[0], 2),
            "post_setup_1m": round(load_post_setup[0], 2),
            "end_1m": round(os.getloadavg()[0], 2),
            "end_5m": round(os.getloadavg()[1], 2),
        },
        # machine-readable "this window was loaded" flag: a start load
        # above ~2 on the otherwise-idle 32-core box means another JVM
        # (pytest sweep, probe) was competing — r9's driver bench ran at
        # 10.46/32 and its numbers were visibly inflated vs the idle run
        "loaded": load_start[0] > 2.0,
        "methodology": {
            "warm": "median of 3 steady-state invocations via a cached plan "
            "(run 1 pays construction, timed into the min lineage only; "
            "extras memoize their DataFrame the same way since r6)",
            "warm_min": "min of the FIRST 2 invocations — byte-identical to "
            "the pre-r9 min-of-2 protocol, comparable round over round",
            "cold": "caches cleared, uncached construction + first execution",
            "spread": "max-min of the 3 steady-state runs per query",
            "loaded_blind_window": "the loaded flag reflects pre-session "
            "load only; external load starting during the ~3-min setup "
            "(pretouch + prefault) shows in post_setup_1m but cannot be "
            "distinguished there from the pretouch's own burn",
        },
        "sf": sf_val,
    }
    print(json.dumps(out))
    print(json.dumps(compact_summary(out)))
    return 0


#: the driver retains only this many chars of stdout tail (measured
#: from BENCH_r11/r12.json): the LAST JSON line must fit inside it
DRIVER_TAIL_CHARS = 2000


def compact_summary(out: dict) -> dict:
    """The FINAL stdout line, sized to survive the driver's retained
    tail (DRIVER_TAIL_CHARS): only whatever JSON object ends the tail
    parses. For two rounds this compact line carried totals only,
    which left PERF_rNN.json with per_query: {} / n_common: 0 — the
    driver could not see a single per-query number (r12 verdict,
    next-round item 1). Fix: fold the per-query warm dict (the
    contract's "queries" key) and the round-comparable "queries_min"
    into the final line. With 19 entries at 3-decimal floats it
    measures ~1.25k chars — inside the tail with headroom; the cold
    per-query dict stays in the detailed line above (adding it here
    would leave <300 chars of slack). Keys are additions-only: every
    key the pre-r13 compact line had is still present."""
    return {
        "metric": out["metric"],
        "value": out["value"],
        "value_min": out["value_min"],
        "value_cold": out["value_cold"],
        "unit": "sec",
        "queries": out["queries"],
        "queries_min": out["queries_min"],
        "loadavg": out["loadavg"],
        "loaded": out["loaded"],
        "sf": out["sf"],
    }


if __name__ == "__main__":
    raise SystemExit(main())
