"""Tx-aware streaming join + aggregation — the flagship operator.

Re-expresses the reference's custom operator pair
(TxAwareTwoInputNonBroadcastJoinProcessOperator.java:38-445 +
TxAwareAggregationFunction.java:33-100; semantics spec
transactional-cdc-processing-poc.md:270-292) as a *set-oriented as-of
reconstruction* instead of buffer-and-flush-on-watermark:

  For every (order, transaction) pair the transaction touched, emit
  exactly one denormalized document reflecting the database state as
  of that transaction's commit LSN — or a tombstone if the order was
  deleted — in commit-LSN order.

Formulation (pure DataFrame ops, no driver loop, no per-tx iteration):

  1. completeness split (txgroup.complete_tx_ids — T0); incomplete
     txs carry over (poc.md:343: a batch may split a transaction)
  2. ``touched`` = distinct (order_key, commit_lsn) over complete
     events of both inputs — this *is* the emit-once guarantee: one
     output row per touched pair, the write-amplification target the
     reference asserts via drained-buffer checks
     (TestContext.java:121-128, poc.md:311-312)
  3. as-of join: touched × version history on order_key with
     version.commit_lsn ≤ touched.commit_lsn, latest version per row
     id via ``max_by(payload, (commit_lsn, event_lsn))`` — exactly
     the "latest-left ≤ LSN / latest-right ≤ LSN" scans of the
     reference operator (:268-350) but computed with one aggregate
  4. deleted orders → tombstone rows; deleted lines drop out of the
     array (OrderWithLines.java:76-79,90-100)

Versions include the carried **state** (latest image per key from all
previously processed txs — the reference's state GC keeps exactly
this, TxAware...Operator.java:357-430), so an order untouched for
months still denormalizes correctly when a new tx adds a line.

Scale: the as-of join is an equi-join on order_key with an LSN range
filter; per order the version history within a batch is small, and
the state side is latest-per-key by construction. Both sides shuffle
once on order_key and the partitioning is reused by the final
aggregation. Interleaved transactions order correctly because the
version ordering is (commit_lsn, event_lsn), never raw event order
(txIds are not monotonic — poc.md:189-192).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from streaming_examples_spark.model.decoders import (
    date_from_epoch_days,
    decimal_from_string,
)
from streaming_examples_spark.model.envelope import OP_DELETE
from streaming_examples_spark.operators.txgroup import (
    complete_tx_ids,
    normalize_events,
    stamp_commit_lsn,
)


@dataclass
class TxDenormResult:
    emissions: DataFrame  # one row per (order, tx): doc or tombstone
    order_state: DataFrame  # latest order image per id (carry to next batch)
    line_state: DataFrame  # latest line image per line id
    carryover_orders: DataFrame  # incomplete/held-tx order events
    carryover_lines: DataFrame  # incomplete/held-tx line events
    emitted_txs: DataFrame  # (tx_id) of txs emitted this batch
    # frames the operator persisted for intra-batch reuse (emit_txs,
    # touched, the deduped END frame); a long-running caller unpersists
    # them once the batch is fully committed so cache entries don't
    # accumulate per batch
    pinned: tuple = ()


def _order_versions(norm_orders: DataFrame) -> DataFrame:
    return norm_orders.select(
        F.col("key").alias("order_key"),
        "op",
        "after",
        "commit_lsn",
        "event_lsn",
    )


def _line_versions(norm_lines: DataFrame) -> DataFrame:
    return norm_lines.select(
        F.col("key").alias("order_key"),
        # the order a re-point moves the line away from (else order_key)
        F.coalesce(F.col("before.order_id"), F.col("key")).alias("from_order_key"),
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("line_id"),
        "op",
        "after",
        "commit_lsn",
        "event_lsn",
    )


def tx_denormalize(
    order_events: DataFrame,
    line_events: DataFrame,
    tx_events: DataFrame,
    *,
    order_state: DataFrame | None = None,
    line_state: DataFrame | None = None,
    carryover_orders: DataFrame | None = None,
    carryover_lines: DataFrame | None = None,
    dedup_events: bool | None = None,
    order_delete_gc_horizon_lsn: int | None = None,
) -> TxDenormResult:
    """Run the flagship pipeline over one batch of envelope events.

    ``order_events``/``line_events`` are raw envelope DataFrames
    (model.envelope schemas); ``*_state`` are the version frames a
    previous batch returned. Emission frame columns:

      order_key, commit_lsn, tx_id, deleted, id, order_date DATE,
      purchaser, shipping_address,
      lines ARRAY<STRUCT<id, product_id, quantity, price DECIMAL(10,2)>>

    ``dedup_events`` controls the event-identity dedup below. Default
    ``None`` = auto: dedup only when carryover frames are present (the
    only batch-shape path that can reintroduce an already-seen event).
    Streaming callers whose SOURCE is at-least-once (redelivery can
    duplicate events even with no carryover, e.g. Kafka replay into the
    first batch after restart) must pass ``True``; exactly-once batch
    inputs (an immutable parquet event log) may leave it off and skip
    the full-width shuffle entirely.

    ``order_delete_gc_horizon_lsn``: deleted-order markers (see the
    state roll-forward below) are retained FOREVER by default —
    reference parity (the Flink operator's latest-per-key state keeps
    the delete image with no op filter,
    TxAwareTwoInputNonBroadcastJoinProcessOperator.java:369-398). A
    caller that knows the source's oldest-in-flight-transaction LSN
    horizon (e.g. from pg_replication_slots.restart_lsn — no tx that
    began before that point is still open, so no future commit can
    touch a row deleted below it) may pass it here; markers with
    ``commit_lsn < horizon`` are dropped from the rolled-forward state.
    Live (non-deleted) images are never GC'd by this knob.
    """
    norm_o = normalize_events(order_events, "orders", "id")
    norm_l = normalize_events(line_events, "order_lines", "order_id")
    # incomplete-tx events from the previous batch rejoin the pool
    # (already normalized; drop the stale null commit_lsn → restamp)
    if carryover_orders is not None:
        norm_o = norm_o.unionByName(carryover_orders)
    if carryover_lines is not None:
        norm_l = norm_l.unionByName(carryover_lines)
    # §7.4 EVENT-level dedup (the applied-txs anti-join is TX-level and
    # only covers emitted txs): an at-least-once source redelivering an
    # event of a still-incomplete tx — or a crash replay re-running a
    # batch against already-swapped carry frames — puts the same WAL
    # event in the pool twice. The exact-balance completeness gate
    # would then read observed > declared for that tx FOREVER (a
    # silent, permanent emission wedge). The reference is immune by
    # construction — its buffers are maps keyed by row id, so a
    # redelivered event overwrites in place (TxAwareTwoInputNonBroadcast
    # JoinProcessOperator.java:309-344); set-oriented frames need the
    # explicit identity dedup instead.
    # WAL identity within a per-table stream = (tx_id, event_lsn);
    # copies are bit-identical except commit_lsn (null until stamped vs
    # stamped in a previous batch's carryover), which converges for
    # either survivor at stamp_commit_lsn's coalesce below.
    #
    # The dedup hash-shuffles the FULL-WIDTH envelope (before/after
    # structs) on deliberately-unpersisted frames — every downstream
    # branch re-reads through that exchange, a measured 2× steady-state
    # cost on the flagship at sf0.1. Duplicates are IMPOSSIBLE on an
    # exactly-once batch input with no carryover, so the shuffle is
    # gated: on when carryover frames rejoin the pool (crash-replay
    # shape) or when the caller declares an at-least-once source
    # (cdc_stream passes dedup_events=True); off on the pure-batch
    # catalog path.
    if dedup_events is None:
        dedup_events = carryover_orders is not None or carryover_lines is not None
    if dedup_events:
        norm_o = norm_o.dropDuplicates(["tx_id", "event_lsn"])
        norm_l = norm_l.dropDuplicates(["tx_id", "event_lsn"])
    # NOTE: the normalized frames feed several branches (completeness,
    # touched set, versions, carryover). Deliberately NOT persisted:
    # caching the wide envelope frame blocks Catalyst's per-branch
    # column pruning and measured 1.6× slower than recomputing the
    # pruned projections per branch.
    # the deduped END frame (one row per tx) feeds FOUR consumers: both
    # commit-LSN stamps, the declared-count side of the completeness
    # balance, and the emission barrier below. Its dedup aggregate is
    # ~0.16 s per evaluation at sf0.1 — persist once per batch (a few
    # narrow MB, bounded by |txs in batch|) instead of paying it 4×
    # (measured: the whole pipeline drops from 2.26 s to 1.6 s warm).
    # Pinned below; cdc_stream / catalog.release() unpersist it.
    # Batch-sized: at ≥ ~10 M txs in ONE batch the END cache evicts the
    # heap the gate broadcasts need (SCALE_NOTES.md "Flagship tx
    # pipeline", round 7) — split such a batch.
    from streaming_examples_spark.operators.txgroup import tx_end_events

    ends_full = tx_end_events(tx_events).persist()
    norm_o = stamp_commit_lsn(norm_o, ends=ends_full)
    norm_l = stamp_commit_lsn(norm_l, ends=ends_full)

    ok = complete_tx_ids([norm_o, norm_l], ends=ends_full)

    # -- emission barrier (the reference's min-watermark, T0/T2): a
    # complete tx may only emit if no known incomplete tx has a lower
    # commit LSN — otherwise commit-order across micro-batches breaks
    # (txs complete independently; WAL order does not align with batch
    # boundaries). Complete-but-held txs carry over whole.
    ends = ends_full.select("tx_id", "tx_commit_lsn")
    # one outer join tags each END complete/incomplete; the barrier agg
    # and the emit filter both read it (AQE reuses the exchange), where
    # a semi + anti join pair would run the completeness lineage twice.
    status = ends.join(
        ok.withColumn("_complete", F.lit(True)), "tx_id", "left"
    )
    barrier = status.agg(
        F.coalesce(
            F.min(F.when(F.col("_complete").isNull(), F.col("tx_commit_lsn"))),
            F.lit(2**63 - 1),
        ).alias("barrier")
    )
    emit_txs = (
        status.filter(F.col("_complete"))
        .crossJoin(F.broadcast(barrier))
        .filter(F.col("tx_commit_lsn") < F.col("barrier"))
        .select("tx_id")
        # one long per emitted tx, persisted: it gates four joins below
        # (and three more consumers in cdc_stream), so the completeness
        # machinery evaluates once per batch; cdc_stream unpersists
        # after the batch commits. Bounded: |txs in batch|.
        .persist()
    )

    o_complete = norm_o.join(F.broadcast(emit_txs), "tx_id", "left_semi")
    l_complete = norm_l.join(F.broadcast(emit_txs), "tx_id", "left_semi")
    o_carry = norm_o.join(F.broadcast(emit_txs), "tx_id", "left_anti")
    l_carry = norm_l.join(F.broadcast(emit_txs), "tx_id", "left_anti")

    o_versions = _order_versions(o_complete)
    l_versions = _line_versions(l_complete)
    if order_state is not None:
        o_versions = o_versions.unionByName(order_state)
    if line_state is not None:
        # state rows are keyed by the line's current order and were
        # re-pointed (if ever) in an earlier batch: no from-order
        l_versions = l_versions.unionByName(
            line_state.withColumn("from_order_key", F.col("order_key"))
        )
    # The version pools each feed TWO consumers per batch: the as-of
    # join (emissions) and the state roll-forward — without a persist
    # the whole upstream lineage (envelope normalization, LSN stamping,
    # the emit-gate semi join, the state-store scan) runs once per
    # consumer. Persisting the narrow version projections measured the
    # flagship warm run 2.3 s → 1.5 s and the state-roll consumer
    # 2.5 s → 1.3 s at sf0.1 (r12). Size is O(batch events + carried
    # state) — the same order the state store itself materializes per
    # batch; MEMORY_AND_DISK spills rather than OOMs.
    o_versions = o_versions.persist()
    l_versions = l_versions.persist()

    # -- 2. touched (order, tx) pairs: the emission contract ------------
    # gate the union once (one semi join) instead of reusing the
    # full-width o_complete/l_complete gates — narrower build input
    # and one fewer join in the plan.
    touched = (
        norm_o.select("key", "commit_lsn", "tx_id")
        .unionByName(norm_l.select("key", "commit_lsn", "tx_id"))
        .join(F.broadcast(emit_txs), "tx_id", "left_semi")
        .where(F.col("key").isNotNull() & F.col("commit_lsn").isNotNull())
        .groupBy(F.col("key").alias("t_key"), F.col("commit_lsn").alias("t_lsn"))
        .agg(F.max("tx_id").alias("tx_id"))
        # three narrow columns, one row per (order, tx) pair; persisted
        # because both as-of joins consume it — and its lineage (the
        # event union + gate) is the second-most recomputed subtree
        .persist()
    )

    version = F.struct(F.col("commit_lsn").alias("v0"), F.col("event_lsn").alias("v1"))

    # Both as-of joins hint SHUFFLE_HASH with touched as the build
    # side: three narrow columns, one row per (order, tx) pair, so a
    # partition of it hashes in bounded memory — and skipping
    # sort-merge's per-partition sort of the WIDE versions side is the
    # same measured win as the north-star denormalize join. AQE skew
    # splitting still applies to shuffled hash joins.
    # -- 3a. as-of latest order image per touched pair -------------------
    order_asof = (
        touched.hint("SHUFFLE_HASH").join(
            o_versions,
            (o_versions["order_key"] == touched["t_key"])
            & (o_versions["commit_lsn"] <= touched["t_lsn"]),
            "left",
        )
        .groupBy("t_key", "t_lsn", "tx_id")
        .agg(
            F.max_by(
                F.struct(F.col("op").alias("op"), F.col("after").alias("after")),
                version,
            ).alias("o"),
        )
    )

    # -- 3b. as-of line set per touched pair -----------------------------
    # A re-point version (line moved from order A to B) is keyed under
    # BOTH orders here: under B it adds the line, under A it is the
    # line's newest version there, so a later doc of A in the same pool
    # sees the move and drops the line — keyed under B alone, A's docs
    # would resolve the line to its pre-move version and still list it.
    # One explode of the persisted pool, no extra scan; the state roll
    # below keeps one row per line, keyed by its current order.
    l_asof_versions = l_versions.select(
        F.explode(F.array_distinct(F.array("order_key", "from_order_key"))).alias(
            "order_key"
        ),
        "line_id",
        "op",
        "after",
        "commit_lsn",
        "event_lsn",
    )
    line_asof = (
        touched.hint("SHUFFLE_HASH").join(
            l_asof_versions,
            (l_asof_versions["order_key"] == touched["t_key"])
            & (l_asof_versions["commit_lsn"] <= touched["t_lsn"]),
            "inner",
        )
        .groupBy("t_key", "t_lsn", "line_id")
        .agg(
            F.max_by(
                F.struct(F.col("op").alias("op"), F.col("after").alias("after")),
                version,
            ).alias("l"),
        )
        .filter(
            (F.col("l.op") != OP_DELETE)
            # a line re-pointed to another order drops out of this one
            & (F.col("l.after.order_id") == F.col("t_key"))
        )
        .groupBy("t_key", "t_lsn")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l.after.id").alias("id"),
                        F.col("l.after.product_id").alias("product_id"),
                        F.col("l.after.quantity").alias("quantity"),
                        decimal_from_string(F.col("l.after.price")).alias("price"),
                    )
                )
            ).alias("lines")
        )
    )

    # -- 4. assemble docs / tombstones -----------------------------------
    # The isNotNull guard drops touched pairs whose as-of order image
    # does not exist AT ALL — possible only for an order the pipeline
    # has NEVER seen (mid-stream bootstrap without a snapshot load;
    # with op='r' snapshot reads every order is seen before any line).
    # It does NOT drop deleted orders: the delete image stays in the
    # version pool (state roll-forward below keeps it), so a
    # later-commit tx touching a line of an already-deleted order
    # re-emits the (order, commit) tombstone — the reference's
    # aggregation does the same from its retained latest-per-key delete
    # image (OrderWithLines.java:90-100, TxAwareAggregationFunction
    # .java:74-99). Regression: tests/test_txjoin.py::
    # test_cross_batch_line_delete_of_deleted_order_reemits_tombstone.
    deleted = F.col("o.op") == OP_DELETE
    emissions = (
        order_asof.filter(F.col("o").isNotNull() & F.col("o.op").isNotNull())
        .join(line_asof, ["t_key", "t_lsn"], "left")
        .select(
            F.col("t_key").alias("order_key"),
            F.col("t_lsn").alias("commit_lsn"),
            "tx_id",
            deleted.alias("deleted"),
            F.when(deleted, F.lit(None)).otherwise(F.col("o.after.id")).alias("id"),
            F.when(deleted, F.lit(None))
            .otherwise(date_from_epoch_days(F.col("o.after.order_date")))
            .alias("order_date"),
            F.when(deleted, F.lit(None)).otherwise(F.col("o.after.purchaser")).alias("purchaser"),
            F.when(deleted, F.lit(None))
            .otherwise(F.col("o.after.shipping_address"))
            .alias("shipping_address"),
            F.when(deleted, F.lit(None))
            .otherwise(
                F.coalesce(
                    F.col("lines"),
                    # typed empty array: an order with zero lines still
                    # emits a doc (LEFT JOIN semantics, poc.md:235-237)
                    F.expr(
                        "CAST(array() AS array<struct<id:bigint,product_id:int,quantity:int,price:decimal(10,2)>>)"
                    ),
                )
            )
            .alias("lines"),
        )
    )

    # -- 5. roll state forward (latest per key over state ∪ batch) -------
    # Deleted orders are NOT filtered out: the delete image stays as a
    # narrow marker row (op='d', after NULL — only key + LSNs carry
    # weight). A later-commit transaction begun before the delete
    # committed can still touch a LINE of the dead order in a LATER
    # micro-batch (read-committed interleaving; different row, so no
    # lock conflict serializes the writes); the next batch's as-of join
    # must find the delete image to re-emit the tombstone for that
    # (order, commit) pair. The reference retains exactly this: its
    # join-state GC keeps latestProcessed per key with NO op filter
    # (TxAwareTwoInputNonBroadcastJoinProcessOperator.java:369-398).
    # Retention: forever by default (reference parity, one narrow row
    # per ever-deleted order); order_delete_gc_horizon_lsn trims
    # markers below a caller-supplied oldest-in-flight-tx horizon.
    new_order_state = (
        o_versions.groupBy("order_key")
        .agg(
            F.max_by(
                F.struct(
                    F.col("op").alias("op"),
                    F.col("after").alias("after"),
                    F.col("commit_lsn").alias("commit_lsn"),
                    F.col("event_lsn").alias("event_lsn"),
                ),
                version,
            ).alias("s")
        )
        .select(
            "order_key",
            F.col("s.op").alias("op"),
            F.col("s.after").alias("after"),
            F.col("s.commit_lsn").alias("commit_lsn"),
            F.col("s.event_lsn").alias("event_lsn"),
        )
    )
    if order_delete_gc_horizon_lsn is not None:
        new_order_state = new_order_state.filter(
            (F.col("op") != OP_DELETE)
            | (F.col("commit_lsn") >= F.lit(order_delete_gc_horizon_lsn))
        )
    new_line_state = (
        l_versions.groupBy("line_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("order_key").alias("order_key"),
                    F.col("op").alias("op"),
                    F.col("after").alias("after"),
                    F.col("commit_lsn").alias("commit_lsn"),
                    F.col("event_lsn").alias("event_lsn"),
                ),
                version,
            ).alias("s")
        )
        # Deleted LINES (unlike deleted orders above) are safe to drop
        # from state — this is the line-state GC. Observationally
        # equivalent to retention: the line as-of stage already filters
        # op='d' out of the array, and the SAME line row can never be
        # resurrected by a cross-batch interleaved tx (conflicting
        # writes to one row serialize under the source DB's row lock,
        # so the second writer sees the delete and produces no event).
        # Only the ORDER delete image is referenced by OTHER rows'
        # events (its lines), which is why it must be retained.
        .filter(F.col("s.op") != OP_DELETE)
        .select(
            F.col("s.order_key").alias("order_key"),
            "line_id",
            F.col("s.op").alias("op"),
            F.col("s.after").alias("after"),
            F.col("s.commit_lsn").alias("commit_lsn"),
            F.col("s.event_lsn").alias("event_lsn"),
        )
    )

    return TxDenormResult(
        emissions=emissions,
        order_state=new_order_state,
        line_state=new_line_state,
        carryover_orders=o_carry,
        carryover_lines=l_carry,
        emitted_txs=emit_txs,
        pinned=(emit_txs, touched, ends_full, o_versions, l_versions),
    )
