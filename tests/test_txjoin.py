"""Golden tests for the flagship tx-aware denormalization.

Mirrors the reference's integration scenarios (PurchaseOrderJoinerIT
.java:139-524, listed in FIXTURES.md §5): join+agg, update, line
delete, interleaved transactions, multi-tx accumulation, order delete
→ tombstone, and the exactly-one-emission-per-(order, tx) guarantee.
"""

from __future__ import annotations

from decimal import Decimal

import pytest

from streaming_examples_spark.model.fixtures import TxLog
from streaming_examples_spark.operators.txjoin import tx_denormalize


def run(spark, log: TxLog, **kw):
    res = tx_denormalize(
        log.order_events_df(spark), log.line_events_df(spark), log.tx_events_df(spark), **kw
    )
    emissions = sorted(
        ([tuple(r) for r in res.emissions.collect()]),
        key=lambda r: r[1],  # commit_lsn order (§2.9 emission ordering)
    )
    cols = res.emissions.columns
    return [dict(zip(cols, r)) for r in emissions], res


def lines_of(e):
    return [(ln["id"], ln["product_id"], ln["quantity"], ln["price"]) for ln in e["lines"]]


# -- scenario 1: insert order + 2 lines in one tx → one doc, 2 lines ----
def test_join_order_with_lines(spark):
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(10001),
        lambda t: t.insert_line(100001, 10001, product_id=102, quantity=1, price="39.99"),
        lambda t: t.insert_line(100002, 10001, product_id=106, quantity=5, price="129.99"),
    )
    out, _ = run(spark, log)
    assert len(out) == 1  # exactly one emission for the tx
    doc = out[0]
    assert doc["id"] == 10001 and not doc["deleted"]
    assert lines_of(doc) == [
        (100001, 102, 1, Decimal("39.99")),
        (100002, 106, 5, Decimal("129.99")),
    ]


# -- scenario 2: update order + add line in second tx → one updated doc --
def test_update_emits_one_doc_per_tx(spark):
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(10001, addr="1 Main St"),
        lambda t: t.insert_line(100001, 10001, price="19.99"),
    )
    log.tx(
        lambda t: t.update_order(10001, shipping_address="2 Oak Ave"),
        lambda t: t.insert_line(100002, 10001, price="40.00"),
    )
    out, _ = run(spark, log)
    assert len(out) == 2
    assert out[0]["shipping_address"] == "1 Main St" and len(out[0]["lines"]) == 1
    assert out[1]["shipping_address"] == "2 Oak Ave" and len(out[1]["lines"]) == 2
    assert out[1]["lines"][1]["price"] == Decimal("40.00")  # scale preserved


# -- scenario 3: delete lines → doc shrinks --------------------------------
def test_line_delete_edits_doc(spark):
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(10001),
        lambda t: t.insert_line(100001, 10001),
        lambda t: t.insert_line(100002, 10001),
        lambda t: t.insert_line(100003, 10001),
    )
    log.tx(lambda t: t.delete_line(100001), lambda t: t.delete_line(100003))
    out, _ = run(spark, log)
    assert len(out) == 2
    assert [ln["id"] for ln in out[1]["lines"]] == [100002]


# -- scenario 4: interleaved txs — emission in commit order, not begin order
def test_interleaved_transactions_commit_order(spark):
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    a = log.begin()
    a.update_order(10001, shipping_address="A wins last")
    b = log.begin()
    b.insert_line(100002, 10001, product_id=7)
    lsn_b = b.commit()  # B begun later, commits FIRST
    lsn_a = a.commit()
    assert lsn_b < lsn_a
    out, _ = run(spark, log)
    assert [e["commit_lsn"] for e in out] == sorted(e["commit_lsn"] for e in out)
    doc_b = next(e for e in out if e["commit_lsn"] == lsn_b)
    doc_a = next(e for e in out if e["commit_lsn"] == lsn_a)
    # B's doc must NOT see A's (later-committed) update, despite A's
    # event having an earlier event LSN
    assert doc_b["shipping_address"] == "1 Main St"
    assert len(doc_b["lines"]) == 2
    assert doc_a["shipping_address"] == "A wins last"


# -- scenario 5: accumulation across many txs ------------------------------
def test_accumulate_lines_across_transactions(spark):
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001))
    next_line = [100001]
    for tx_i in range(5):
        def add(t, n=tx_i):
            for _ in range(n + 1):
                t.insert_line(next_line[0], 10001)
                next_line[0] += 1
        log.tx(add)
    out, _ = run(spark, log)
    assert len(out) == 6  # 1 insert + 5 accumulating txs
    assert [len(e["lines"]) for e in out] == [0, 1, 3, 6, 10, 15]


# -- scenario 6: delete lines + order in one tx → tombstone ---------------
def test_order_delete_emits_tombstone(spark):
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(10001),
        lambda t: t.insert_line(100001, 10001),
        lambda t: t.insert_line(100002, 10001),
    )
    log.tx(
        lambda t: t.delete_line(100001),
        lambda t: t.delete_line(100002),
        lambda t: t.delete_order(10001),
    )
    out, res = run(spark, log)
    assert len(out) == 2  # one doc + one tombstone, nothing extra
    tomb = out[1]
    assert tomb["deleted"] is True
    assert tomb["order_key"] == 10001  # key survives for the sink tombstone
    assert tomb["id"] is None and tomb["lines"] is None
    # the AGGREGATION's doc state clears on delete (TxAwareAggregation
    # Function.java:91-94) but the JOIN state retains the delete image
    # as latest-per-key (TxAware...Operator.java:369-398 — no op
    # filter): the rolled-forward order_state keeps a narrow op='d'
    # marker so a later-batch interleaved tx that touches a line of
    # this order re-emits the tombstone (r10 judge-found bug).
    markers = res.order_state.collect()
    assert len(markers) == 1
    assert markers[0]["op"] == "d" and markers[0]["after"] is None
    # deleted LINES do clear (same-row resurrection impossible; pure GC)
    assert res.line_state.count() == 0


# -- r10 judge regression: cross-batch tombstone re-emission --------------
def test_cross_batch_line_delete_of_deleted_order_reemits_tombstone(spark):
    """Minimal deterministic form of the r10 judge's falsifying example
    (hypothesis seed=13, cut_frac=0.8, pinned end-to-end in
    test_tx_properties.py): tx B deletes order O in batch 0; tx C —
    begun before B committed, so a legitimate read-committed
    interleaving (C touches a DIFFERENT row, no lock conflict) —
    deletes a line of O, and C's events land in batch 1. The
    (O, C.commit) touched pair must re-emit the tombstone. r10 emitted
    nothing: the delete image was filtered out of order_state, so
    batch 1 had no memory of the order. The reference retains the
    image as latest-per-key join state (TxAwareTwoInputNonBroadcast
    JoinProcessOperator.java:369-398) and its aggregation re-emits
    (OrderWithLines.java:90-100)."""
    from pyspark.sql import functions as F

    log = TxLog()
    c1 = log.tx(
        lambda t: t.insert_order(30000),
        lambda t: t.insert_line(700000, 30000),
    )
    t_c = log.begin()  # interleaved: begun before t_b commits
    t_c.insert_line(700002, 30000)
    t_b = log.begin()
    t_b.delete_line(700000)
    t_b.delete_order(30000)
    c_b = t_b.commit()
    t_c.delete_line(700002)
    c_c = t_c.commit()
    assert c_b < c_c

    o, l, x = (
        log.order_events_df(spark),
        log.line_events_df(spark),
        log.tx_events_df(spark),
    )
    # batch 0 = everything up to t_b's last event; t_c's line delete
    # (the only event with a higher LSN) lands in batch 1
    cut = max(e["source"]["lsn"] for e in log.events
              if e["source"]["txId"] == t_b.tx_id)
    res1 = tx_denormalize(
        o.filter(F.col("source.lsn") <= cut),
        l.filter(F.col("source.lsn") <= cut),
        x,
    )
    out1 = sorted(
        (r.asDict() for r in res1.emissions.collect()),
        key=lambda r: r["commit_lsn"],
    )
    # the streaming caller anti-joins already-applied txs out of the
    # metadata feed (cdc_stream.py applied-tx protection); a raw
    # operator batch must do the same or emitted txs look permanently
    # incomplete (their events are gone) and wedge the barrier
    applied = {r["tx_id"] for r in res1.emitted_txs.collect()}
    x2 = x.filter(
        ~F.split(F.col("id"), ":").getItem(0).cast("long").isin(sorted(applied))
    )
    res2 = tx_denormalize(
        o.filter(F.col("source.lsn") > cut),
        l.filter(F.col("source.lsn") > cut),
        x2,
        order_state=res1.order_state,
        line_state=res1.line_state,
        carryover_orders=res1.carryover_orders,
        carryover_lines=res1.carryover_lines,
    )
    out2 = [r.asDict() for r in res2.emissions.collect()]

    assert [(r["order_key"], r["commit_lsn"], r["deleted"]) for r in out1] == [
        (30000, c1, False),
        (30000, c_b, True),
    ]
    # THE regression: batch 1 re-emits the (O, C.commit) tombstone
    assert [(r["order_key"], r["commit_lsn"], r["deleted"]) for r in out2] == [
        (30000, c_c, True),
    ]
    # and the marker rolls forward again (C's delete is now latest)
    markers = res2.order_state.collect()
    assert len(markers) == 1 and markers[0]["op"] == "d"


def test_order_delete_marker_gc_horizon(spark):
    """order_delete_gc_horizon_lsn trims delete markers strictly below
    the caller's oldest-in-flight-tx horizon; live images never GC."""
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001))
    log.tx(lambda t: t.insert_order(10002))
    c_del = log.tx(lambda t: t.delete_order(10001))

    def roll(horizon):
        res = tx_denormalize(
            log.order_events_df(spark),
            log.line_events_df(spark),
            log.tx_events_df(spark),
            order_delete_gc_horizon_lsn=horizon,
        )
        return {r["order_key"]: r["op"] for r in res.order_state.collect()}

    # horizon at the marker's commit → retained (>= keeps)
    assert roll(c_del) == {10001: "d", 10002: "c"}
    # horizon past it → marker dropped, live order untouched
    assert roll(c_del + 1) == {10002: "c"}


# -- order with zero lines still emits (LEFT JOIN semantics) --------------
def test_order_without_lines_emits_empty_array(spark):
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001))
    out, _ = run(spark, log)
    assert len(out) == 1
    assert out[0]["lines"] == []


def test_repointed_line_leaves_old_orders_later_doc(spark):
    """A line moved to another order in the same pool must drop out of
    the OLD order's later docs: the re-point version is keyed under the
    new order, so the old order's as-of line set has to see it too. The
    rolled-forward state keeps the line once, under its current order."""
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(1),
        lambda t: t.insert_line(10, 1),
        lambda t: t.insert_line(11, 1),
    )
    log.tx(lambda t: t.insert_order(2))
    log.tx(lambda t: t.update_line(10, order_id=2))
    log.tx(lambda t: t.update_order(1, shipping_address="9 Elm St"))
    out, res = run(spark, log)
    docs = [(e["order_key"], [ln["id"] for ln in e["lines"]]) for e in out]
    assert docs == [(1, [10, 11]), (2, []), (2, [10]), (1, [11])]
    assert sorted((r["line_id"], r["order_key"]) for r in res.line_state.collect()) == [
        (10, 2),
        (11, 1),
    ]


# -- incomplete tx carries over; completes with state ----------------------
@pytest.mark.slow
def test_tx_split_across_batches(spark):
    log1 = TxLog()
    log1.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    # tx 2 writes a line event... but batch 1 only sees part of it:
    log2 = TxLog()
    log2._lsn, log2._next_tx = log1._lsn, log1._next_tx
    log2.tx(lambda t: t.insert_line(100002, 10001), lambda t: t.insert_line(100003, 10001))
    full_lines = log2.line_events_df(spark)
    first_half = full_lines.limit(1)

    # batch 1: incomplete tx → no emission for it, events carried over
    res1 = tx_denormalize(
        log1.order_events_df(spark),
        log1.line_events_df(spark).unionByName(first_half),
        log1.tx_events_df(spark).unionByName(log2.tx_events_df(spark)),
    )
    assert res1.emissions.count() == 1  # only tx 1 emitted
    assert res1.carryover_lines.count() == 1

    # batch 2: remaining event + carryover + rolled state → emits tx 2
    from streaming_examples_spark.model.fixtures import ORDER_ROW_SCHEMA
    from streaming_examples_spark.model.envelope import data_change_event_schema

    empty_orders = spark.createDataFrame([], data_change_event_schema(ORDER_ROW_SCHEMA))
    second_half = full_lines.subtract(first_half)
    res2 = tx_denormalize(
        empty_orders,
        second_half,
        log2.tx_events_df(spark),
        order_state=res1.order_state,
        line_state=res1.line_state,
        carryover_orders=res1.carryover_orders,
        carryover_lines=res1.carryover_lines,
    )
    docs = res2.emissions.collect()
    assert len(docs) == 1
    assert sorted(ln["id"] for ln in docs[0]["lines"]) == [100001, 100002, 100003]


def test_declared_zero_collection_is_complete(spark):
    """A tx END declaring a collection with event_count=0 (no events
    observed for it) must still count as complete — otherwise it blocks
    the emission barrier forever. Debezium omits empty collections, but
    a zero declaration must not wedge the pipeline."""
    from streaming_examples_spark.operators.txgroup import complete_tx_ids
    from streaming_examples_spark.model.fixtures import TxLog
    from streaming_examples_spark.operators.txgroup import (
        normalize_events,
        stamp_commit_lsn,
    )
    from pyspark.sql import functions as F

    log = TxLog()
    log.tx(lambda t: t.insert_order(15001))
    x = log.tx_events_df(spark)
    # inject a zero-count order_lines declaration into the END event
    x = x.withColumn(
        "data_collections",
        F.when(
            F.col("status") == "END",
            F.concat(
                F.col("data_collections"),
                F.array(
                    F.struct(
                        F.lit("public.order_lines").alias("data_collection"),
                        F.lit(0).cast("long").alias("event_count"),
                    )
                ),
            ),
        ),
    )
    no = stamp_commit_lsn(
        normalize_events(log.order_events_df(spark), "orders", "id"), x
    )
    nl = stamp_commit_lsn(
        normalize_events(log.line_events_df(spark), "order_lines", "order_id"), x
    )
    ok = complete_tx_ids([no, nl], x)
    assert ok.count() == 1  # the zero declaration is vacuously satisfied


def test_undeclared_and_overdelivered_events_block_completeness(spark):
    """The signed-balance completeness formulation must preserve the
    strict edges: events from a table the END never declared (balance
    > 0) and duplicate delivery of a declared event (observed >
    declared) both mark the tx incomplete — only an exact per-table
    balance of 0 clears the gate."""
    from pyspark.sql import functions as F

    from streaming_examples_spark.model.fixtures import TxLog
    from streaming_examples_spark.operators.txgroup import (
        complete_tx_ids,
        normalize_events,
        stamp_commit_lsn,
    )

    log = TxLog()
    log.tx(lambda t: t.insert_order(16001), lambda t: t.insert_line(160001, 16001))
    x = log.tx_events_df(spark)
    no = stamp_commit_lsn(
        normalize_events(log.order_events_df(spark), "orders", "id"), x
    )
    nl = stamp_commit_lsn(
        normalize_events(log.line_events_df(spark), "order_lines", "order_id"), x
    )

    # baseline: the tx is complete
    assert complete_tx_ids([no, nl], x).count() == 1

    # over-delivery: the line event arrives twice -> balance +1 -> blocked
    assert complete_tx_ids([no, nl.unionByName(nl)], x).count() == 0

    # duplicate END delivery (at-least-once metadata redelivery): the
    # declaration must count ONCE — tx_end_events dedupes on tx_id, so
    # the balance stays 0 instead of observed − 2×declared wedging the
    # barrier for every later tx
    x_dup_end = x.unionByName(x.filter(F.col("status") == "END"))
    assert complete_tx_ids([no, nl], x_dup_end).count() == 1

    # undeclared table: same events, but the END only declares orders
    x_undeclared = x.withColumn(
        "data_collections",
        F.when(
            F.col("status") == "END",
            F.filter(
                F.col("data_collections"),
                lambda dc: dc["data_collection"] == "public.orders",
            ),
        ),
    )
    assert complete_tx_ids([no, nl], x_undeclared).count() == 0

    # missing events: declared order_lines count never observed
    assert complete_tx_ids([no], x).count() == 0


def test_catalog_release_frees_pinned_storage(spark):
    """Integration half of the plan-cache lifecycle (the contract test
    uses fake sessions): running the flagship catalog entry pins its
    gate frames in executor storage; release() must free them without
    a global clearCache()."""
    import os

    from streaming_examples_spark.catalog import entries, release

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

    def stored_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    # target the entry's OWN cached-RDD ids rather than a session-global
    # storage count: other tests' lingering checkpoint RDDs get reaped by
    # the async ContextCleaner mid-test and perturb absolute counts
    before = stored_ids()
    entries()["tx_denorm_orders"].fn(spark, sf_dir).count()
    pinned = stored_ids() - before
    assert pinned  # emit/touched gates are pinned
    assert release(spark, "tx_denorm_orders", sf_dir) == 1
    assert not (stored_ids() & pinned)


def test_completeness_random_bulk_vs_python_reference(spark):
    """200 seeded-random transactions with every completeness hazard
    mixed in (missing events, duplicate delivery, undeclared tables,
    zero declarations) — the signed-balance gate must agree with a
    direct per-tx Python evaluation of the spec: complete iff every
    declared table's observed count equals its declaration and no
    undeclared table produced events."""
    import random

    from pyspark.sql import functions as F

    from streaming_examples_spark.operators.txgroup import complete_tx_ids

    rng = random.Random(42)
    tables = ["public.orders", "public.order_lines"]
    obs_rows, end_rows, expected = [], [], set()
    for tx in range(1, 201):
        declared = {t: rng.randint(0, 3) for t in rng.sample(tables, rng.randint(1, 2))}
        observed: dict[str, int] = {}
        for t, n in declared.items():
            k = n
            r = rng.random()
            if r < 0.2 and n > 0:
                k = n - 1  # missing event
            elif r < 0.3:
                k = n + 1  # duplicate delivery
            observed[t] = k
        if rng.random() < 0.15:
            observed["public.rogue"] = 1  # undeclared table
        ok = all(observed.get(t, 0) == n for t, n in declared.items()) and all(
            t in declared for t in observed if observed[t] > 0
        )
        if ok:
            expected.add(tx)
        for t, k in observed.items():
            obs_rows += [(tx, t)] * k
        end_rows.append(
            (
                "END",
                f"{tx}:{tx * 100}",
                sum(declared.values()),
                [{"data_collection": t, "event_count": n} for t, n in declared.items()],
                0,
            )
        )

    norm = spark.createDataFrame(obs_rows, "tx_id long, qualified_table string")
    ends = spark.createDataFrame(
        end_rows,
        "status string, id string, event_count long, "
        "data_collections array<struct<data_collection:string,event_count:long>>, "
        "ts_ms long",
    )
    got = {r["tx_id"] for r in complete_tx_ids([norm], ends).collect()}
    assert got == expected


# -- event-identity dedup gating (r6 verdict: the unconditional dedup
# full-width-shuffled both envelope frames on the pure-batch path and
# doubled flagship steady-state latency; duplicates are impossible on
# an exactly-once batch input with no carryover) -----------------------
def test_dedup_gating_pure_batch_plan_has_no_event_dedup_exchange(spark):
    """Pure-batch call (no carryover, flag unset) must not plan a
    dropDuplicates over (tx_id, event_lsn): no HashAggregate keyed on
    event_lsn anywhere in the emissions plan."""
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    res = tx_denormalize(
        log.order_events_df(spark), log.line_events_df(spark), log.tx_events_df(spark)
    )
    plan = res.emissions._jdf.queryExecution().executedPlan().toString()
    # the dedup aggregate keys on event_lsn; nothing else in the
    # pipeline groups by it, so its absence proves the dedup is skipped
    dedup_aggs = [
        line
        for line in plan.splitlines()
        if "HashAggregate" in line and "keys=" in line and "event_lsn" in line
    ]
    assert not dedup_aggs, dedup_aggs
    for frame in res.pinned:
        frame.unpersist()


def test_dedup_gating_flag_true_folds_duplicates(spark):
    """dedup_events=True on a pure-batch call must fold a duplicated
    WAL event so the completeness balance still emits the tx once."""
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    o, l, x = (
        log.order_events_df(spark),
        log.line_events_df(spark),
        log.tx_events_df(spark),
    )
    # without the dedup the doubled events over-count vs declared and
    # the tx never completes (negative control)
    res_off = tx_denormalize(o.unionByName(o), l.unionByName(l), x, dedup_events=False)
    assert res_off.emissions.count() == 0
    for frame in res_off.pinned:
        frame.unpersist()
    res_on = tx_denormalize(o.unionByName(o), l.unionByName(l), x, dedup_events=True)
    docs = res_on.emissions.collect()
    assert len(docs) == 1 and len(docs[0]["lines"]) == 1
    for frame in res_on.pinned:
        frame.unpersist()


def test_dedup_gating_auto_on_with_carryover(spark):
    """Carryover frames present + flag unset → dedup auto-enables: a
    carried-over event redelivered with the batch folds to one copy."""
    log1 = TxLog()
    log1.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    log2 = TxLog()
    log2._lsn, log2._next_tx = log1._lsn, log1._next_tx
    log2.tx(lambda t: t.insert_line(100002, 10001), lambda t: t.insert_line(100003, 10001))
    full_lines = log2.line_events_df(spark)
    first_half = full_lines.limit(1)
    res1 = tx_denormalize(
        log1.order_events_df(spark),
        log1.line_events_df(spark).unionByName(first_half),
        log1.tx_events_df(spark).unionByName(log2.tx_events_df(spark)),
    )
    assert res1.carryover_lines.count() == 1
    from streaming_examples_spark.model.fixtures import ORDER_ROW_SCHEMA
    from streaming_examples_spark.model.envelope import data_change_event_schema

    empty_orders = spark.createDataFrame([], data_change_event_schema(ORDER_ROW_SCHEMA))
    # batch 2 redelivers the carried-over first half TOO (at-least-once)
    res2 = tx_denormalize(
        empty_orders,
        full_lines,  # first_half again + the genuinely new second half
        log2.tx_events_df(spark),
        order_state=res1.order_state,
        line_state=res1.line_state,
        carryover_orders=res1.carryover_orders,
        carryover_lines=res1.carryover_lines,
    )
    docs = res2.emissions.collect()
    assert len(docs) == 1
    assert sorted(ln["id"] for ln in docs[0]["lines"]) == [100001, 100002, 100003]
    for res in (res1, res2):
        for frame in res.pinned:
            frame.unpersist()
