"""Benchmark entry point: one workload, one seed, one Spark JVM.

    python3 perfbench/run.py --workload tx_stream --seed 1 --seconds 3 --trace 0

Workloads (``perfbench/LAYERS.md`` says why each was chosen and which
layer metric should move which end-to-end metric):

- ``tx_stream``       one trigger interval of an open-loop CDC stream
                      through the tx-denormalizing micro-batch processor
                      (``perfbench/tx_stream.py``);
- ``neardup_stream``  closed-loop document batches through the
                      incremental near-duplicate detector, then one
                      compaction (``perfbench/neardup_stream.py``).

Each run sets up ``SETUP_REPEATS`` times (start, or stop and restart,
the Spark session and build the seeded inputs) and reports the median
as ``setup_s``. Nothing is warmed up: the first batch pays first-use
code generation, as a freshly started stream does. The run then offers
load for ``--seconds``, checks the outputs outside the timed region,
and prints, as its last stdout line, ``{"correct", "attempted",
"failed", "metrics"}``; the line before it records the machine and the
per-operation walls. With ``--trace 0`` the metrics are the end-to-end
ones. With ``--trace 1`` they are the per-layer ones listed in
``BENCHMARK.json``: spans and counters taken at each layer boundary
from outside the package, a Spark event log, and the end-to-end figures
measured under tracing (``trace.*``), whose difference from an
untraced run's is the tracing overhead. A per-layer metric that a
workload has no layer for reads 0.

Exit status: 0 with a result line; 1 when the run itself broke; 2 when
the engine under test cannot be imported (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "batch_p50_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["tx_stream", "neardup_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import streaming_examples_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine under test is not importable: {exc}", file=sys.stderr)
        return 2
    from perfbench import stats
    from perfbench.harness import SETUP_REPEATS, Harness
    from perfbench.neardup_stream import NearDupStream
    from perfbench.tx_stream import TxStream

    units = per_layer_units() if args.trace else END_TO_END_UNITS
    h = Harness(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    wl = {"tx_stream": TxStream, "neardup_stream": NearDupStream}[args.workload](h)
    setups = []
    try:
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            h.start_session()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        wl.reference()
        h.begin_measure()
        with h.tracer.span(args.workload) as root_span:
            wl.measure()
        h.end_measure()
        rss = h.peak_rss_mb()
        wl.verify()
    except Exception:
        traceback.print_exc()
        h.shutdown()
        return 1
    h.shutdown()

    e2e = {"setup_s": stats.median(setups), "peak_rss_mb": rss, **wl.end_to_end()}
    if args.trace:
        metrics = {
            **h.spark_layer(h.event_log_jobs()),
            **wl.per_layer(),
            "trace.child_coverage": h.tracer.child_coverage(root_span),
            "trace.spans": float(len(h.tracer.spans)),
            **{f"trace.{k}": v for k, v in e2e.items()},
        }
        unknown = sorted(set(metrics) - set(units))
        if unknown:
            print(f"perfbench: metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
            return 1
        metrics = {k: metrics.get(k, 0.0) for k in units}
        h.tracer.dump(os.path.join(h.work, "spans.json"))
    else:
        metrics = e2e
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "box": h.box,
        "setups_s": setups,
        "op_walls_s": [r["wall_s"] for r in h.ops],
    }
    if args.trace:
        h.cleanup()
        context["spans"] = os.path.relpath(os.path.join(h.work, "spans.json"), ROOT)
    else:
        import shutil

        shutil.rmtree(h.work, ignore_errors=True)
    print(json.dumps(context))
    print(
        json.dumps(
            {
                "correct": h.failed == 0,
                "attempted": h.attempted,
                "failed": h.failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
