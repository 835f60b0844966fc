"""Throughput/state-growth measurement for the incremental near-dup
detector: streams the documents table through IncrementalNearDup in
micro-batches and reports per-batch wall time, dup yield, and state
size — the evidence that per-batch cost tracks BATCH size (probe is an
equi-join into the band store), not accumulated corpus size.

Usage: python tools/stress_incremental_dedup.py [--bucketed N] [--seed M]
       [--cap K|none] [--backend posix|manifest] [sf_dir] [n_batches]

``--cap`` sets the viral-band guard (default 256, the measured batch-family
value; ``none`` disables) — A/B the per-batch cost of the cap's extra
store scan.

``--bucketed N`` runs the external-bucketed-band-store layout
(bands_buckets=N): the probe join reads the store in place instead of
shuffling it each batch — the flat-wall claim measured under both
layouts.

``--backend manifest`` commits the stores through the object-store
double (no hardlinks/renames, deferred deletes) — the same batches,
plan checks, and compaction passes must hold under both backends.

``--seed M`` pre-folds M synthetic docs (``synth_docs``) into the
store before streaming the sf batches — the big-store regime where the
bucketed layout's elided store-side shuffle should beat the plain
layout's per-batch store shuffle.
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
    buckets = None
    seed = 0
    if "--bucketed" in argv:
        i = argv.index("--bucketed")
        buckets = int(argv[i + 1])
        del argv[i : i + 2]
    if "--seed" in argv:
        i = argv.index("--seed")
        seed = int(argv[i + 1])
        del argv[i : i + 2]
    cap: int | None = 256
    if "--cap" in argv:
        i = argv.index("--cap")
        cap = None if argv[i + 1] == "none" else int(argv[i + 1])
        del argv[i : i + 2]
    backend_name = "posix"
    if "--backend" in argv:
        i = argv.index("--backend")
        backend_name = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    n_batches = int(argv[1]) if len(argv) > 1 else 10

    spark = get_spark("stress-incdedup")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    state = tempfile.mkdtemp(prefix="incdedup_")
    from streaming_examples_spark.streaming.state_backend import (
        LocalPosixBackend,
        ManifestBackend,
    )

    backend = {"posix": LocalPosixBackend, "manifest": ManifestBackend}[
        backend_name
    ]()
    det = IncrementalNearDup(
        spark,
        os.path.join(state, "state"),
        threshold=0.7,
        bands_buckets=buckets,
        max_bucket_size=cap,
        backend=backend,
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

    total_dups = 0
    t_all = time.time()
    for b in range(n_batches):
        batch = docs.filter(F.pmod(F.col("doc_id"), n_batches) == b)
        t0 = time.time()
        rep = det.process_batch(batch, b)
        n = rep.count()
        dups = rep.filter("is_dup").count()
        total_dups += dups
        print(
            f"batch {b}: {n} docs, {dups} dups, {time.time() - t0:.2f}s, "
            f"appended_files={det.metrics.appended_files_last_batch}",
            flush=True,
        )
    wall = time.time() - t_all
    sigs = det.read_store("sigs")
    print(
        f"total: {n_docs} docs in {wall:.1f}s ({n_docs / wall:.0f} docs/s), "
        f"{total_dups} dups, store={sigs.count()} canonicals"
    )
    print(f"store_stats: {det.store_stats()}", flush=True)
    if buckets:
        # the 100 TB contract, checked against the LIVE (big) store:
        # every store join — band probe, replay anti-join, signature
        # verify — must read the store in place with exactly ONE
        # exchange, on the batch side (store-side Exchange elided)
        from streaming_examples_spark.plans.inspect import exchange_count

        bands_t = spark.table(det.store_table("bands"))
        sigs_t = spark.table(det.store_table("sigs"))
        b_batch = spark.createDataFrame(
            [(0, 0, "k")], "doc_id long, band_id int, band_key string"
        )
        s_batch = spark.createDataFrame([(0, "t")], "doc_id long, text string")
        c_batch = spark.createDataFrame([(0, 1)], "doc_id long, old_id long")
        probes = {
            "bands probe": b_batch.hint("merge").join(bands_t, ["band_id", "band_key"]),
            "sigs anti (replay)": s_batch.hint("merge").join(
                sigs_t.select("doc_id"), "doc_id", "left_anti"
            ),
            "sigs verify": c_batch.hint("merge").join(
                sigs_t.select(
                    F.col("doc_id").alias("old_id"), F.col("sig").alias("old_sig")
                ),
                "old_id",
            ),
        }
        for label, join in probes.items():
            n = exchange_count(join)
            assert n == 1, f"{label}: {n} exchanges (store side must be elided)"
            print(f"plan check: {label} -> 1 exchange (batch side only)", flush=True)

        # compaction report: per-bucket (hot-only) pass vs full rewrite
        import glob

        from streaming_examples_spark.streaming.incremental_dedup import (
            _BUCKET_ID_RE,
        )

        def histogram(store):
            h = {}
            for f in glob.glob(os.path.join(det._data_path(store), "*.parquet")):
                m = _BUCKET_ID_RE.search(os.path.basename(f))
                if m:
                    h[int(m.group(1))] = h.get(int(m.group(1)), 0) + 1
            return h
        h0 = histogram("bands")
        n0 = sum(h0.values())
        thr = max(1, min(h0.values()))
        hot = sum(1 for v in h0.values() if v > thr)
        t0 = time.time()
        det.compact(hot_bucket_threshold=thr)
        t_hot = time.time() - t0
        h1 = histogram("bands")
        print(
            f"per-bucket compact (thr={thr}): {hot}/{len(h0)} hot buckets, "
            f"bands files {n0} -> {sum(h1.values())}, {t_hot:.1f}s",
            flush=True,
        )
        t0 = time.time()
        det.compact()
        t_full = time.time() - t0
        h2 = histogram("bands")
        print(
            f"full compact: bands files -> {sum(h2.values())} "
            f"(1/bucket), {t_full:.1f}s",
            flush=True,
        )
        # the skewed-delta scenario per-bucket compaction exists for:
        # a few small late batches fragment a FEW buckets on top of the
        # compacted base; the hot-only pass must leave the cold
        # majority's base files untouched
        for i in range(3):
            det.process_batch(
                spark.createDataFrame(
                    [(2 * 10**9 + i, f"late delta document {i} with its own "
                      f"unique vocabulary x{i}a x{i}b x{i}c x{i}d x{i}e")],
                    "doc_id long, text string",
                ),
                1000 + i,
            )
        h3 = histogram("bands")
        hot3 = sum(1 for v in h3.values() if v > 1)
        t0 = time.time()
        det.compact(hot_bucket_threshold=1)
        t_delta = time.time() - t0
        h4 = histogram("bands")
        print(
            f"post-compact delta: 3 one-doc batches touched {hot3}/{len(h3)} "
            f"buckets; hot-only pass rewrote them ({sum(h3.values())} -> "
            f"{sum(h4.values())} files, {t_delta:.1f}s), cold buckets untouched "
            f"vs full-rewrite {t_full:.1f}s",
            flush=True,
        )
        for base in (det._bands_table, det._sigs_table):
            for row in spark.sql(f"SHOW TABLES LIKE '{base}*'").collect():
                spark.sql(f"DROP TABLE IF EXISTS {row['tableName']}")
    shutil.rmtree(state, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
