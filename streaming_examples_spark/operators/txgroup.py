"""Transaction grouping: commit-LSN stamping + completeness predicate.

Replaces the reference's custom-watermark machinery (WatermarkInjector
.java:39-173 + CommitLsnFixer.java:37-128, design transactional-cdc-
processing-poc.md:180-266) with a set-oriented formulation:

  * ``stamp_commit_lsn`` — the CommitLsnFixer: enrich each data event
    with its transaction's commit LSN by joining the (small) tx
    END-event stream on txId. In Spark this is a broadcast hash join,
    not a buffering operator.
  * ``complete_tx_ids`` — the WatermarkInjector's condition as a
    predicate: a tx is processable when, for every table it declares,
    the observed event count equals the declared ``data_collections``
    count (TransactionEvent.countFor, TransactionEvent.java:41-49).
    Computed as a signed balance with two aggregates — no per-channel
    watermark, which also removes the reference's parallelism=1
    limitation (poc.md:264-266,318-319).

Incomplete transactions (split across micro-batches — "mini-batching
is insufficient", poc.md:343) are returned as carry-over for the next
batch; streaming/cdc_stream.py persists them.

Scale: tx metadata is tiny relative to data events → broadcast. The
completeness groupBy shuffles one count row per (tx, table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from streaming_examples_spark.model.decoders import parse_tx_id
from streaming_examples_spark.operators.ingest import with_lsn


def normalize_events(events: DataFrame, table: str, key_field: str) -> DataFrame:
    """Envelope → flat processing frame: (table, key, op, before,
    after, tx_id, commit_lsn, event_lsn, ts_ms).

    ``key`` uses delete-aware extraction: after.key, falling back to
    before.key (DataChangeEvent.java:53-55, DataStreamV2Job.java:131).
    """
    e = with_lsn(events)
    return e.select(
        F.lit(table).alias("table"),
        F.concat_ws(".", F.col("source.schema"), F.col("source.table")).alias(
            "qualified_table"
        ),
        F.coalesce(F.col(f"after.{key_field}"), F.col(f"before.{key_field}")).alias("key"),
        "op",
        "before",
        "after",
        "tx_id",
        "commit_lsn",
        "event_lsn",
        "ts_ms",
    )


def tx_end_events(tx_events: DataFrame) -> DataFrame:
    """END metadata events with parsed ids: (tx_id, commit_lsn,
    declared per-table counts). Only END carries a usable commit LSN
    (TransactionEvent.java:33-39).

    Deduped on tx_id: an END redelivered at-least-once would otherwise
    subtract its declared counts twice in ``complete_tx_ids``'s signed
    balance, marking the tx permanently incomplete and wedging the
    emission barrier for every later transaction. The streaming caller
    dedupes upstream on (status, id); this guards direct batch callers.
    The pick is DETERMINISTIC — the row with the lexicographically
    greatest (tx_commit_lsn, event_count, data_collections), i.e. the
    latest-LSN declaration wins, content breaking any tie — so if
    redelivered ENDs ever differ (an amended declaration on retry),
    repeated runs agree on which one counts; ``dropDuplicates`` would
    keep an arbitrary one. The frame is one row per tx — small, but
    the aggregate is NOT free when re-evaluated per consumer (measured
    ~0.16 s × 4 consumers = +43 % on tx_denorm_orders at sf0.1, the r5
    warm watch-list delta): callers with several consumers compute it
    once, persist, and pass it down via the ``ends=`` parameters
    (``tx_denormalize`` pins it alongside its gates).
    """
    tx_id, commit_lsn = parse_tx_id("id")
    return (
        tx_events.filter(F.col("status") == "END")
        .select(
            tx_id.alias("tx_id"),
            commit_lsn.alias("tx_commit_lsn"),
            "event_count",
            "data_collections",
        )
        .groupBy("tx_id")
        .agg(
            F.max(
                F.struct("tx_commit_lsn", "event_count", "data_collections")
            ).alias("_end")
        )
        .select("tx_id", "_end.tx_commit_lsn", "_end.event_count", "_end.data_collections")
    )


def stamp_commit_lsn(
    norm_events: DataFrame,
    tx_events: DataFrame | None = None,
    *,
    ends: DataFrame | None = None,
) -> DataFrame:
    """Fill missing commit_lsn from the tx END stream (J2).

    The reference buffers events until the END arrives (CommitLsnFixer
    .java:75-127); in batch/micro-batch shape the whole END set is
    present, so this is a broadcast join on tx_id. Events whose tx has
    no END yet keep commit_lsn null and are carried over.

    ``ends`` lets the caller pass a shared (ideally persisted)
    ``tx_end_events`` frame — then ``tx_events`` may be omitted and is
    ignored if given (``ends`` is authoritative; passing both invites a
    mismatched pair). The dedup aggregate inside ``tx_end_events`` is
    one row per tx — NOT free to recompute per consumer (measured
    0.16 s per evaluation at sf0.1; ``tx_denormalize`` has four
    consumers).
    """
    if ends is None:
        if tx_events is None:
            raise ValueError("pass tx_events or a precomputed ends frame")
        ends = tx_end_events(tx_events)
    ends = ends.select("tx_id", "tx_commit_lsn")
    return (
        norm_events.join(F.broadcast(ends), "tx_id", "left")
        .withColumn("commit_lsn", F.coalesce("commit_lsn", "tx_commit_lsn"))
        .drop("tx_commit_lsn")
    )


def complete_tx_ids(
    norm_frames: list[DataFrame],
    tx_events: DataFrame | None = None,
    *,
    ends: DataFrame | None = None,
) -> DataFrame:
    """Transaction ids whose every declared table count matches the
    observed count across all participating event streams (T0).

    Signed-balance formulation: every observed event contributes +1 to
    its (tx, table) balance and the END declaration contributes
    −declared_count; a tx is complete iff every per-table balance is
    exactly 0. One union + two map-side-combined aggregates replace the
    former per-frame counts + full-outer join + per-tx aggregate —
    two fewer exchanges on the emission-gate critical path. Edge cases
    preserved: events from an undeclared table → balance > 0 → never
    complete; a declared-0 table with no events → balance 0 →
    vacuously satisfied (doesn't wedge the emission barrier); a
    declared table with missing events → balance < 0 → incomplete.
    """
    deltas = None
    for frame in norm_frames:
        d = frame.select(
            "tx_id", "qualified_table", F.lit(1).cast("long").alias("delta")
        )
        deltas = d if deltas is None else deltas.unionByName(d)
    if ends is None:
        if tx_events is None:
            raise ValueError("pass tx_events or a precomputed ends frame")
        ends = tx_end_events(tx_events)
    declared = (
        ends
        .select("tx_id", F.explode("data_collections").alias("dc"))
        .select(
            "tx_id",
            F.col("dc.data_collection").alias("qualified_table"),
            (-F.col("dc.event_count")).cast("long").alias("delta"),
        )
    )
    balance = (
        deltas.unionByName(declared)
        .groupBy("tx_id", "qualified_table")
        .agg(F.sum("delta").alias("bal"))
    )
    tx_ok = balance.groupBy("tx_id").agg(F.max(F.abs(F.col("bal"))).alias("worst"))
    return tx_ok.filter(F.col("worst") == 0).select("tx_id")
