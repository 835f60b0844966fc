"""``tx_stream``: one trigger interval of an open-loop CDC stream
through ``TxDenormBatchProcessor.process``.

The log is a generator-built initial snapshot (``sources.generator``,
due at time 0) followed by live transactions built with
``model.fixtures.TxLog``, due at a fixed rate for the run's seconds.
The live mix: new orders with 1-4 lines, updates to live orders and
lines (including re-pointing a line to another order), added lines and
order deletes (tombstones). For a tenth of the transactions with line
events, those events are due ``LINE_DELAY_S`` after the END.

The stream runs a processing-time trigger whose interval is the run's
seconds: its first micro-batch starts when the arrival window closes
and takes every event due by then, on a fresh state store, so it is the
stream's initial load. Transactions whose delayed lines are not yet due
are incomplete; the emission barrier holds them and every transaction
after them, and they are carried in state. The run stops after that
batch: a second one would cost as much again (the batch is mostly
fixed per-batch cost) and the benchmark's run budget has no room for it.

A transaction's latency runs from the due time of its last event to
the moment the processor handed its doc to ``emission_sink``: the wait
for the trigger plus the batch wall.
"""

from __future__ import annotations

import collections
import datetime
import decimal
import random
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.harness import StateWalk

N_SNAPSHOT_TXS = 2000
RATE_TX_PER_S = 100.0
LINE_DELAY_S = 1.0
DELAYED_SHARE = 0.1

# live ids and LSNs sit above every snapshot id and LSN
LIVE_ORDER_BASE = 1_000_000
LIVE_LINE_BASE = 10_000_000

EPOCH = datetime.date(1970, 1, 1)
CENTS = decimal.Decimal("0.01")


@dataclass
class Schedule:
    """Live envelopes with their due times (seconds on the virtual
    clock), in due order per stream."""

    orders: list[tuple[float, dict]] = field(default_factory=list)
    lines: list[tuple[float, dict]] = field(default_factory=list)
    txs: list[tuple[float, dict]] = field(default_factory=list)
    #: commit LSN -> due time of the transaction's END / last event
    end_due: dict[int, float] = field(default_factory=dict)
    last_due: dict[int, float] = field(default_factory=dict)


def build_schedule(seed: int, seconds: float):
    """Seeded live transactions due at ``RATE_TX_PER_S`` over
    ``seconds``. Returns the ``TxLog`` and its ``Schedule``."""
    from streaming_examples_spark.model.fixtures import TxLog

    rng = random.Random(seed)
    log = TxLog(_lsn=N_SNAPSHOT_TXS * 100 + 1000, _next_tx=N_SNAPSHOT_TXS + 1000)
    sched = Schedule()
    live: dict[int, list[int]] = {}  # order id -> its live line ids
    next_order, next_line = LIVE_ORDER_BASE, LIVE_LINE_BASE

    def new_line(t, order_id):
        nonlocal next_line
        next_line += 1
        t.insert_line(
            next_line, order_id,
            product_id=rng.randrange(1, 1000),
            quantity=rng.randrange(1, 10),
            price=f"{rng.randrange(1, 500)}.{rng.randrange(100):02d}",
        )
        live[order_id].append(next_line)

    for j in range(int(seconds * RATE_TX_PER_S)):
        due = j / RATE_TX_PER_S
        n_ev, n_tx = len(log.events), len(log.tx_events)
        t = log.begin()
        r = rng.random()
        if not live or r < 0.45:
            next_order += 1
            t.insert_order(
                next_order, order_date=19000 + rng.randrange(1000),
                purchaser=rng.randrange(1001, 6000), addr=f"{rng.randrange(1, 999)} Elm St",
            )
            live[next_order] = []
            for _ in range(rng.randrange(1, 5)):
                new_line(t, next_order)
        elif r < 0.65:
            t.update_order(
                rng.choice(sorted(live)), shipping_address=f"{rng.randrange(1, 999)} Oak Ave"
            )
        elif r < 0.80 and any(live.values()):
            oid = rng.choice(sorted(o for o, ls in live.items() if ls))
            lid = rng.choice(live[oid])
            others = sorted(o for o in live if o != oid)
            if others and rng.random() < 0.3:
                # re-point to another order. The source order is never
                # touched again: the engine resolves a line's version
                # per order key, so a later doc of the source order
                # built in the same batch as the re-point would still
                # list the line (a known divergence, not what this
                # workload measures)
                dest = rng.choice(others)
                t.update_line(lid, order_id=dest)
                live[dest].append(lid)
                del live[oid]
            else:
                t.update_line(lid, quantity=rng.randrange(1, 10))
        elif r < 0.90:
            new_line(t, rng.choice(sorted(live)))
        else:
            oid = rng.choice(sorted(live))
            t.delete_order(oid)
            del live[oid]  # its lines are never touched again
        commit_lsn = t.commit()
        events = log.events[n_ev:]
        has_lines = any(e["source"]["table"] == "order_lines" for e in events)
        line_due = due + LINE_DELAY_S if has_lines and rng.random() < DELAYED_SHARE else due
        for e in events:
            if e["source"]["table"] == "orders":
                sched.orders.append((due, e))
            else:
                sched.lines.append((line_due, e))
        for e in log.tx_events[n_tx:]:
            sched.txs.append((due, e))
        sched.end_due[commit_lsn] = due
        sched.last_due[commit_lsn] = max(due, line_due)
    sched.lines.sort(key=lambda p: p[0])
    return log, sched


def canonical(doc: dict) -> tuple:
    """An emitted doc as a hashable tuple with its lines in id order."""
    d = dict(doc)
    lines = tuple(sorted(tuple(l) for l in (d.pop("lines") or [])))
    return tuple(sorted(d.items())) + (lines,)


def reference_docs(order_events, line_events, tx_events) -> list[tuple]:
    """The docs the log must produce, replayed in plain Python: for
    every (order, transaction) pair a transaction touched, the order as
    of the commit with its live lines, or a tombstone once the order is
    deleted. Envelopes are dicts; a line event touches the order it
    belongs to after the change (before it, for a delete)."""
    by_tx: dict[str, list[tuple[str, dict]]] = {}
    for table, evs in (("orders", order_events), ("order_lines", line_events)):
        for e in evs:
            by_tx.setdefault(e["transaction"]["id"], []).append((table, e))
    commits = sorted(
        (int(x["id"].split(":")[1]), x["id"]) for x in tx_events if x["status"] == "END"
    )
    orders: dict[int, dict | None] = {}
    lines: dict[int, dict | None] = {}
    docs = []
    for commit_lsn, ref in commits:
        touched = set()
        for table, e in sorted(by_tx[ref], key=lambda p: p[1]["source"]["lsn"]):
            img = e["after"] or e["before"]
            if table == "orders":
                orders[img["id"]] = e["after"]
                touched.add(img["id"])
            else:
                lines[img["id"]] = e["after"]
                touched.add(img["order_id"])
        tx_id = int(ref.split(":")[0])
        for key in touched:
            o = orders[key]
            doc = {"order_key": key, "commit_lsn": commit_lsn, "tx_id": tx_id, "deleted": o is None}
            if o is None:
                doc.update(id=None, order_date=None, purchaser=None, shipping_address=None, lines=None)
            else:
                doc.update(
                    id=o["id"],
                    order_date=EPOCH + datetime.timedelta(days=o["order_date"]),
                    purchaser=o["purchaser"],
                    shipping_address=o["shipping_address"],
                    lines=[
                        (l["id"], l["product_id"], l["quantity"], decimal.Decimal(l["price"]).quantize(CENTS))
                        for l in lines.values()
                        if l is not None and l["order_id"] == key
                    ],
                )
            docs.append(canonical(doc))
    return docs


class TxStream:
    def __init__(self, h):
        self.h = h

    # -- set-up: the seeded inputs. No warm-up: the measured batch is
    # -- the stream's initial load in a fresh JVM, as a started stream's is.
    def setup(self) -> None:
        from streaming_examples_spark.model.envelope import (
            data_change_event_schema,
            transaction_event_schema,
        )
        from streaming_examples_spark.model.fixtures import LINE_ROW_SCHEMA, ORDER_ROW_SCHEMA
        from streaming_examples_spark.sources.generator import generate_workload

        self.schemas = (
            data_change_event_schema(ORDER_ROW_SCHEMA),
            data_change_event_schema(LINE_ROW_SCHEMA),
            transaction_event_schema(),
        )
        self.log, self.sched = build_schedule(self.h.seed, self.h.seconds)
        self.snapshot = generate_workload(
            self.h.spark, N_SNAPSHOT_TXS, partitions=self.h.box["cpus"]
        )

    def reference(self) -> None:
        """The expected docs, replayed from the whole log once per run
        (benchmark-side work, outside the set-up timing)."""
        snap = [[r.asDict(recursive=True) for r in f.collect()] for f in self.snapshot]
        live = (self.sched.orders, self.sched.lines, self.sched.txs)
        self.oracle = reference_docs(*(s + [e for _, e in evs] for s, evs in zip(snap, live)))
        self.all_txs = {int(x["id"].split(":")[1]) for x in snap[2] + self.log.tx_events}

    # -- the timed region
    def measure(self) -> None:
        from streaming_examples_spark.streaming.cdc_stream import TxDenormBatchProcessor
        from streaming_examples_spark.streaming.state_backend import LocalPosixBackend

        h, spark, tracer = self.h, self.h.spark, self.h.tracer
        state_dir = f"{h.work}/tx_state"
        backend = None
        if h.trace:
            from perfbench.tracing import BackendProxy

            backend = BackendProxy(LocalPosixBackend(), tracer)
        sink_at: list[float] = []
        proc = TxDenormBatchProcessor(
            spark, state_dir, backend=backend,
            emission_sink=lambda df, b: sink_at.append(time.time() - t0),
        )
        walk = StateWalk(state_dir)
        t0 = time.time()
        with tracer.span("sources.wait"):
            time.sleep(max(0.0, h.seconds - (time.time() - t0)))
        self.taken_at = time.time() - t0
        with tracer.span("sources.handoff"):
            t_h = time.perf_counter()
            due = [
                [e for d, e in evs if d <= self.taken_at]
                for evs in (self.sched.orders, self.sched.lines, self.sched.txs)
            ]
            frames = [
                snap.unionByName(spark.createDataFrame(rows, sch))
                for snap, rows, sch in zip(self.snapshot, due, self.schemas)
            ]
            self.handoff_s = time.perf_counter() - t_h
        with h.op("cdc_stream.process", batch=0) as rec:
            out = proc.process(*frames, batch_id=0)
        with tracer.span("sink.collect"):
            self.rows = out.collect()
        with tracer.span("state.walk"):
            self.disk = walk.step()
        self.due = due
        self.sink_at = sink_at[0]
        self.wall_s = rec["wall_s"]
        self.backlog_rows = proc.metrics.snapshot()["backlog_rows"]
        self.walk = walk

    # -- correctness gates (outside the timed region)
    def verify(self) -> None:
        h = self.h
        # the barrier holds the first transaction whose events are not
        # all due yet, and everything committed after it
        held = [lsn for lsn, last in self.sched.last_due.items() if last > self.taken_at]
        self.first_held = min(held, default=None)

        def emits(lsn):
            return self.first_held is None or lsn < self.first_held

        docs = [canonical(r.asDict()) for r in self.rows]
        want = [d for d in self.oracle if emits(dict(d[:-1])["commit_lsn"])]
        h.check(collections.Counter(docs) == collections.Counter(want),
                f"emitted docs differ from the reference replay ({len(docs)} vs {len(want)})")
        keys = [(r["commit_lsn"], r["order_key"]) for r in self.rows]
        h.check(len(keys) == len(set(keys)), "a transaction's doc was emitted more than once")
        h.check({k[0] for k in keys} == {t for t in self.all_txs if emits(t)},
                "the emitted transactions are not exactly those before the barrier")
        lsns = [k[0] for k in keys]
        h.check(lsns == sorted(lsns), "docs emitted out of commit-LSN order")
        held_events = sum(
            1
            for evs in self.due[:2]
            for e in evs
            if not emits(int(e["transaction"]["id"].split(":")[1]))
        )
        h.check(self.backlog_rows == held_events,
                f"backlog reads {self.backlog_rows} rows, {held_events} events are held")

    # -- metrics
    def _latencies(self):
        emitted = {r["commit_lsn"] for r in self.rows}
        lasts = [last for lsn, last in self.sched.last_due.items() if lsn in emitted]
        lat = [stats.open_loop_latency(last, self.sink_at) for last in lasts]
        wait = [stats.queue_wait(last, self.taken_at) for last in lasts]
        return lat, wait

    def end_to_end(self) -> dict:
        lat, _ = self._latencies()
        return {
            "latency_p50_s": stats.median(lat),
            "latency_p95_s": stats.tail_percentile(lat, 95),
            "batch_p50_s": self.wall_s,
        }

    def per_layer(self) -> dict:
        h = self.h
        _, wait = self._latencies()
        (op,) = [r for r in h.ops if r["name"] == "cdc_stream.process"]
        taken = [int(e["id"].split(":")[1]) for e in self.due[2] if e["status"] == "END"]
        held = [t for t in taken if self.first_held is not None and t >= self.first_held]
        return {
            "cdc_stream.batch_s": self.wall_s,
            "cdc_stream.self_s": h.tracer.self_time(op["span"]),
            "cdc_stream.txs_emitted": float(len({r["commit_lsn"] for r in self.rows})),
            "cdc_stream.held_tx_ratio": len(held) / len(taken),
            "sources.queue_wait_s_p50": stats.median(wait),
            "sources.handoff_s_per_batch": self.handoff_s,
            "state.size_bytes": float(self.walk.size_bytes),
            "state.bytes_written_per_batch": float(self.disk["bytes_written"]),
            "state.buckets_rewritten_per_batch": float(self.disk["buckets_rewritten"]),
            "monitoring.backlog_rows": float(self.backlog_rows),
            **h.backend_layer(1, {"cdc_stream.process"}),
        }
