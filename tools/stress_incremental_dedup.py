"""Throughput/state-growth measurement for the incremental near-dup
detector: streams the documents table through IncrementalNearDup in
micro-batches and reports per-batch wall time, dup yield, and state
size — the evidence that per-batch cost tracks BATCH size (probe is an
equi-join into the band store), not accumulated corpus size.

Usage: python tools/stress_incremental_dedup.py [--seed M]
       [--cap K|none] [sf_dir] [n_batches]

Every run ends with the store maintenance cycle: ``compact()``, a
redelivery of batch 0, and a second ``compact()``. The tool exits
non-zero unless each ``compact()`` advances the state dir's committed
version by exactly one, the redelivered batch reports no canonical (its canonicals fold away as
known ids; its duplicates, never stored, are reported as duplicates
again), and the canonical count is the same before, between and after
the compactions.

``--cap`` sets the viral-band guard (default 256, the measured batch-family
value; ``none`` disables) — A/B the per-batch cost of the cap's extra
store scan.

``--seed M`` pre-folds M synthetic docs (``synth_docs``) into the
store before streaming the sf batches — the big-store regime.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from streaming_examples_spark import get_spark  # noqa: E402
from streaming_examples_spark.streaming.incremental_dedup import (  # noqa: E402
    IncrementalNearDup,
)
from streaming_examples_spark.tables import load_table  # noqa: E402

VOCAB = [
    "spark", "query", "batch", "line", "column", "order", "small", "sort",
    "vector", "part", "scan", "fast", "agg", "join", "shuffle", "plan",
    "stream", "state", "window", "hash", "merge", "index", "cache", "store",
    "read", "write", "group", "filter", "map", "reduce", "stage", "task",
    "node", "disk", "memory", "codec", "page", "block", "row", "span",
]


def synth_docs(spark: SparkSession, n_docs: int) -> DataFrame:
    """(doc_id, text) near-dup corpus generated on the executors with
    pure Catalyst expressions, deterministic in doc_id. Docs whose ids
    fall in the same family share a base text; ~15% of word slots are
    perturbed per non-canonical member, so same-family docs sit near
    Jaccard 0.7-0.95 — the regime dedup_groups clusters at."""
    vocab_sql = "array(" + ",".join(f"'{w}'" for w in VOCAB) + ")"
    fam_size = "(1 + pmod(xxhash64('fam', CAST(fam AS STRING)), 8))"
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        # family id: ids partition into runs of 8; within a run the
        # family keeps its first `fam_size` members, the rest are
        # singletons (their "family" is themselves)
        .withColumn("fam", F.expr("CAST(doc_id / 8 AS BIGINT)"))
        .withColumn(
            "base",
            F.expr(f"IF(pmod(doc_id, 8) < {fam_size}, fam * 8, doc_id)"),
        )
        .withColumn("n_words", F.expr("40 + pmod(xxhash64('len', CAST(base AS STRING)), 21)"))
        .withColumn(
            "text",
            F.expr(
                "array_join(transform(sequence(1, n_words), j -> "
                f"  IF(pmod(xxhash64('mut', CAST(doc_id AS STRING), j), 7) = 0"
                f"     AND base <> doc_id, "
                f"     element_at({vocab_sql}, 1 + CAST(pmod(xxhash64('alt', CAST(doc_id AS STRING), j), 40) AS INT)), "
                f"     element_at({vocab_sql}, 1 + CAST(pmod(xxhash64('w', CAST(base AS STRING), j), 40) AS INT)))"
                "), ' ')"
            ),
        )
        .select("doc_id", "text")
    )


def main() -> int:
    argv = list(sys.argv[1:])
    seed = 0
    if "--seed" in argv:
        i = argv.index("--seed")
        seed = int(argv[i + 1])
        del argv[i : i + 2]
    cap: int | None = 256
    if "--cap" in argv:
        i = argv.index("--cap")
        cap = None if argv[i + 1] == "none" else int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n_batches = int(argv[1]) if len(argv) > 1 else 10

    spark = get_spark("stress-incdedup")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    state = tempfile.mkdtemp(prefix="incdedup_")
    det = IncrementalNearDup(
        spark,
        os.path.join(state, "state"),
        threshold=0.7,
        max_bucket_size=cap,
    )

    if seed:
        # seed ids offset past the sf corpus so they never collide
        big = synth_docs(spark, seed).select(
            (F.col("doc_id") + 10**9).alias("doc_id"), "text"
        )
        t0 = time.time()
        det.process_batch(big, -1).count()
        det.compact()  # one file set, the steady-state layout
        print(f"seeded {seed} docs into the store in {time.time() - t0:.1f}s", flush=True)

    def batch_of(b: int) -> DataFrame:
        return docs.filter(F.pmod(F.col("doc_id"), n_batches) == b)

    total_dups = 0
    t_all = time.time()
    for b in range(n_batches):
        t0 = time.time()
        rep = det.process_batch(batch_of(b), b)
        n = rep.count()
        dups = rep.filter("is_dup").count()
        total_dups += dups
        print(
            f"batch {b}: {n} docs, {dups} dups, {time.time() - t0:.2f}s, "
            f"appended_files={det.metrics.appended_files_last_batch}",
            flush=True,
        )
    wall = time.time() - t_all
    canonicals = [det.read_store("sigs").count()]
    print(
        f"total: {n_docs} docs in {wall:.1f}s ({n_docs / wall:.0f} docs/s), "
        f"{total_dups} dups, store={canonicals[0]} canonicals"
    )

    # maintenance cycle: compact, redeliver batch 0 (nothing in it may
    # come out canonical again), compact again
    t0 = time.time()
    epochs = [det.store_stats()["epoch"]]
    det.compact()
    epochs.append(det.store_stats()["epoch"])
    canonicals.append(det.read_store("sigs").count())
    replayed = det.process_batch(batch_of(0), n_batches).filter("NOT is_dup").count()
    epochs.append(det.store_stats()["epoch"])
    det.compact()
    canonicals.append(det.read_store("sigs").count())
    stats = det.store_stats()
    epochs.append(stats["epoch"])
    print(
        f"maintenance: compact + replay + compact in {time.time() - t0:.1f}s, "
        f"epochs={epochs}, replayed_canonicals={replayed}, canonicals={canonicals}",
        flush=True,
    )
    print(f"store_stats: {stats}", flush=True)
    shutil.rmtree(state, ignore_errors=True)
    failures = []
    if epochs[1] != epochs[0] + 1 or epochs[3] != epochs[2] + 1:
        failures.append(
            f"versions {epochs}: a compact() did not commit exactly one version"
        )
    if replayed:
        failures.append(f"redelivered batch 0 reported {replayed} canonicals")
    if len(set(canonicals)) != 1:
        failures.append(f"canonical count changed across compactions: {canonicals}")
    for f in failures:
        print(f"FAIL: {f}", flush=True)
    if failures:
        return 1
    print("PASS", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
