"""Stress the incremental bucketed tx state store: seed a large key
space, then run K small batches and measure per-batch state I/O.

The claim under test (SCALE_NOTES.md): per-batch state write volume is
O(touched keys), not O(total key space). Batch 0 seeds every order at
the chosen SF (one tx per order, via the same envelope synthesis as the
tx_denorm_orders catalog query, LSN-offset per round); batches 1..K
each touch a disjoint ~1% slice of the orders with NEW transactions.

Usage: python tools/stress_state_store.py [sf_dir] [n_batches] [n_buckets] [slice_modulus]

Prints one line per batch: wall time, emissions, bytes written to the
two bucketed state tables, the bucket count rewritten, the bytes both
tables hold on disk, and the backend calls the batch made (in total and
for the busiest methods). Data files are walked under the whole state
dir and identified by inode, so a carried bucket — whichever version
dir holds it — counts as not written.
"""

from __future__ import annotations

import collections
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from streaming_examples_spark import get_spark  # noqa: E402
from streaming_examples_spark.tables import load_table  # noqa: E402
from streaming_examples_spark.streaming.cdc_stream import TxDenormBatchProcessor  # noqa: E402


def envelopes(spark, sf_dir, *, lsn_offset: int, key_filter=None):
    """Order/line/tx envelope frames for one round; LSNs and tx ids
    shifted by ``lsn_offset`` so every round is a fresh set of
    transactions over the same order keys (an update wave)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    if key_filter is not None:
        orders = orders.filter(key_filter(F.col("o_orderkey")))
        lineitem = lineitem.filter(key_filter(F.col("l_orderkey")))

    off = F.lit(lsn_offset).cast("long")
    okey = F.col("o_orderkey")
    lkey = F.col("l_orderkey")
    tx_ref = lambda key: F.concat_ws(":", key + off, (key + off) * 1000 + 999)  # noqa: E731

    def source(table, lsn, key):
        return F.struct(
            F.lit("2.5").alias("version"),
            F.lit("postgresql").alias("connector"),
            F.lit("stress").alias("name"),
            F.lit(0).cast("long").alias("ts_ms"),
            F.lit(False).alias("snapshot"),
            F.lit("testdb").alias("db"),
            F.lit(None).cast("string").alias("sequence"),
            F.lit("public").alias("schema"),
            F.lit(table).alias("table"),
            (key + off).cast("long").alias("txId"),
            ((key + off) * 1000 + lsn).cast("long").alias("lsn"),
            F.lit(None).cast("long").alias("xmin"),
        )

    order_env = orders.select(
        F.lit(None).cast(
            "struct<id:bigint,order_date:int,purchaser:int,shipping_address:string>"
        ).alias("before"),
        F.struct(
            okey.alias("id"),
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("order_date"),
            F.col("o_custkey").cast("int").alias("purchaser"),
            F.concat(F.lit("wave-"), off.cast("string")).alias("shipping_address"),
        ).alias("after"),
        source("orders", F.lit(0), okey).alias("source"),
        F.lit("c").alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.struct(tx_ref(okey).alias("id")).alias("transaction"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    numbered = lineitem.withColumn("_rn", F.row_number().over(w))
    line_env = numbered.select(
        F.lit(None).cast(
            "struct<id:bigint,order_id:bigint,product_id:int,quantity:int,price:string>"
        ).alias("before"),
        F.struct(
            (lkey * 100 + F.col("_rn")).alias("id"),
            lkey.alias("order_id"),
            F.col("l_partkey").cast("int").alias("product_id"),
            F.col("l_quantity").cast("int").alias("quantity"),
            F.col("l_extendedprice").cast("decimal(10,2)").cast("string").alias("price"),
        ).alias("after"),
        source("order_lines", F.col("_rn"), lkey).alias("source"),
        F.lit("c").alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
        F.struct(tx_ref(lkey).alias("id")).alias("transaction"),
    )
    line_counts = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    tx_env = (
        orders.join(line_counts, orders["o_orderkey"] == F.col("k"), "left")
        .select(
            F.lit("END").alias("status"),
            tx_ref(okey).alias("id"),
            (F.coalesce(F.col("n_lines"), F.lit(0)) + 1).alias("event_count"),
            # Debezium omits collections with no events — declare
            # order_lines only when the order has lines
            F.when(
                F.col("n_lines").isNotNull(),
                F.array(
                    F.struct(
                        F.lit("public.orders").alias("data_collection"),
                        F.lit(1).cast("long").alias("event_count"),
                    ),
                    F.struct(
                        F.lit("public.order_lines").alias("data_collection"),
                        F.col("n_lines").cast("long").alias("event_count"),
                    ),
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.lit("public.orders").alias("data_collection"),
                        F.lit(1).cast("long").alias("event_count"),
                    )
                )
            ).alias("data_collections"),
            F.lit(0).cast("long").alias("ts_ms"),
        )
    )
    return order_env, line_env, tx_env


def bucket_files(state_dir):
    """{inode: (frame, bucket, size)} of every bucketed-frame data file
    under ``state_dir``, in any version dir."""
    out = {}
    for dirpath, _d, fs in os.walk(state_dir):
        parts = dirpath.split(os.sep)
        bucket = next((p for p in parts if p.startswith("_bucket=")), None)
        if bucket is None:
            continue
        frame = parts[parts.index(bucket) - 1]
        for f in fs:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                out[st.st_ino] = (frame, bucket, st.st_size)
    return out


class CountingBackend:
    """Forwards to a storage backend and counts its public calls by
    method name."""

    def __init__(self, backend):
        self._backend = backend
        self.calls = collections.Counter()

    def __getattr__(self, name):
        attr = getattr(self._backend, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*a, **kw):
            self.calls[name] += 1
            return attr(*a, **kw)

        return call


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 256
    slice_mod = int(sys.argv[4]) if len(sys.argv) > 4 else 1000
    spark = get_spark("stress-state")
    spark.sparkContext.setLogLevel("ERROR")

    import tempfile

    from streaming_examples_spark.streaming.state_backend import LocalPosixBackend

    backend = CountingBackend(LocalPosixBackend())
    state_dir = tempfile.mkdtemp(prefix="stress_state_")
    proc = TxDenormBatchProcessor(
        spark, state_dir, n_buckets=n_buckets, backend=backend
    )

    def run(batch_id, lsn_offset, key_filter, label):
        before = bucket_files(state_dir)
        backend.calls.clear()
        t0 = time.time()
        o, l, x = envelopes(spark, sf_dir, lsn_offset=lsn_offset, key_filter=key_filter)
        n = proc.process(o, l, x, batch_id).count()
        dt = time.time() - t0
        after = bucket_files(state_dir)
        new = [after[ino] for ino in after.keys() - before.keys()]
        written = sum(size for _f, _b, size in new)
        buckets = {(frame, bucket) for frame, bucket, _s in new}
        total_state = sum(size for _f, _b, size in after.values())
        busiest = " ".join(f"{m}={c}" for m, c in backend.calls.most_common(4))
        print(
            f"batch {batch_id:2d} [{label:>9}]  {dt:6.1f}s  emissions={n:7d}  "
            f"state_written={written/1e6:8.2f}MB  buckets_rewritten={len(buckets):3d}  "
            f"total_state={total_state/1e6:8.2f}MB  "
            f"backend_calls={sum(backend.calls.values()):4d} ({busiest})",
            flush=True,
        )

    run(0, 0, None, "seed-all")
    for k in range(1, n_batches + 1):
        # touch a disjoint small slice: orders with key % slice_mod == k
        run(k, k * 10**9, (lambda kk: (lambda c: c % slice_mod == kk))(k), f"slice-{k}")


if __name__ == "__main__":
    main()
