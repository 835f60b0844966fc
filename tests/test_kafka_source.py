"""Kafka SOURCE logic without a broker (SURVEY §2.1 S1/S3/S4/S7) —
the consumer-double mirror of test_kafka_sink's producer double.

A file-backed consumer factory feeds KAFKA_WIRE_SCHEMA frames (key /
value bytes, topic, partition, offset, timestamp) through the REAL
decode path: value→envelope JSON parse, key decode, offset/metadata
column mapping, and the three-topic subscription shape of
DataStreamV2Job.java:70-97 driving the flagship pipeline end-to-end.
Reference wire semantics: KafkaAppendStreamJob.java:17-59 (earliest
offset, EXCEPT_KEY values, key.fields=id)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from streaming_examples_spark.model.fixtures import (
    LINE_ROW_SCHEMA,
    ORDER_ROW_SCHEMA,
    TxLog,
)
from streaming_examples_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    kafka_envelope_stream,
    kafka_transaction_stream,
)

# JSON-file encoding of the wire: strings for the byte fields, epoch
# millis for the broker timestamp — the factory casts to the real
# wire schema, so everything after it is production shape
_WIRE_JSON_SCHEMA = (
    "key string, value string, topic string, partition int, "
    "offset long, ts long"
)


def _topic_of(event: dict) -> str:
    return event["source"]["table"].split(".")[-1]


def _key_of(event: dict) -> str:
    after, before = event.get("after"), event.get("before")
    return json.dumps({"id": (after or before)["id"]})


def write_wire_log(tmp_path, log: TxLog, files: int = 1) -> str:
    """TxLog → NDJSON wire records across three topics with per
    (topic, partition) monotonically increasing offsets — what a
    broker would hand the consumer, chunked so maxFilesPerTrigger=1
    replays it as micro-batches."""
    wire_dir = str(tmp_path / "wire")
    os.makedirs(wire_dir, exist_ok=True)
    offsets: dict[tuple[str, int], int] = {}
    records = []
    for e in log.events:
        topic, key = _topic_of(e), _key_of(e)
        part = ((e.get("after") or e["before"])["id"]) % 2  # deterministic
        off = offsets.setdefault((topic, part), 0)
        offsets[(topic, part)] = off + 1
        records.append(
            {
                "key": key,
                "value": json.dumps(e),
                "topic": topic,
                "partition": part,
                "offset": off,
                "ts": e["ts_ms"],
            }
        )
    for t in log.tx_events:
        off = offsets.setdefault(("transactions", 0), 0)
        offsets[("transactions", 0)] = off + 1
        records.append(
            {
                "key": json.dumps({"id": t["id"]}),
                "value": json.dumps(t),
                "topic": "transactions",
                "partition": 0,
                "offset": off,
                "ts": t["ts_ms"],
            }
        )
    per = max(1, (len(records) + files - 1) // files)
    import time as _time

    base = _time.time() - 3600
    for i in range(0, len(records), per):
        path = os.path.join(wire_dir, f"chunk-{i // per:05d}.json")
        with open(path, "w") as f:
            for r in records[i : i + per]:
                f.write(json.dumps(r) + "\n")
        # STRICTLY increasing mtimes: Spark's file source orders files
        # by modification time and breaks ties arbitrarily — chunks
        # written within one clock tick can replay with offset 3 before
        # offset 1, which a real Kafka partition can never do. The
        # double must preserve the broker's per-partition order.
        os.utime(path, (base + (i // per) * 10, base + (i // per) * 10))
    return wire_dir


def _consumer_factory(wire_dir: str, *, streaming: bool = False):
    """The seam's test double: subscribe(topic) → wire frame read from
    files. Accepts the comma-separated multi-topic subscription the
    real source option does."""

    def factory(spark, topic):
        if streaming:
            raw = (
                spark.readStream.schema(_WIRE_JSON_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .json(wire_dir)
            )
        else:
            raw = spark.read.schema(_WIRE_JSON_SCHEMA).json(wire_dir)
        return raw.filter(
            F.col("topic").isin([t.strip() for t in topic.split(",")])
        ).select(
            F.col("key").cast("binary"),
            F.col("value").cast("binary"),
            "topic",
            "partition",
            "offset",
            F.timestamp_millis(F.col("ts")).alias("timestamp"),
            F.lit(0).alias("timestampType"),
        )

    return factory


def _tx_log():
    log = TxLog()
    log.tx(
        lambda t: t.insert_order(10001),
        lambda t: t.insert_line(100001, 10001, price="19.99"),
        lambda t: t.insert_line(100002, 10001, price="5.00"),
    )
    log.tx(lambda t: t.update_order(10001, shipping_address="2 Oak Ave"))
    log.tx(lambda t: t.insert_order(10002), lambda t: t.insert_line(100003, 10002))
    return log


@pytest.mark.slow
def test_wire_decode_key_value_and_offsets(spark, tmp_path):
    """Key bytes, value envelope, and every offset/metadata column
    survive the decode: what went onto the wire is what the typed
    frame shows, coordinates included."""
    log = _tx_log()
    wire_dir = write_wire_log(tmp_path, log)
    factory = _consumer_factory(wire_dir)

    orders = kafka_envelope_stream(
        spark,
        topic="orders",
        row_schema=ORDER_ROW_SCHEMA,
        consumer_factory=factory,
        include_metadata=True,
    )
    rows = orders.orderBy("kafka_partition", "kafka_offset").collect()
    sent = [e for e in log.events if _topic_of(e) == "orders"]
    assert len(rows) == len(sent)
    # value decode: envelope fields match what was serialized
    assert sorted(r["op"] for r in rows) == sorted(e["op"] for e in sent)
    by_lsn = {e["source"]["lsn"]: e for e in sent}
    for r in rows:
        e = by_lsn[r["source"]["lsn"]]
        # key decode (EXCEPT_KEY: the key is NOT in the value; it must
        # come from the key bytes)
        assert json.loads(r["kafka_key"]) == json.loads(_key_of(e))
        assert r["source_topic"] == "orders"
        assert r["ingestion_ts"] is not None
        if e["after"] is not None:
            assert r["after"]["id"] == e["after"]["id"]
    # offset mapping: per-partition offsets are exactly the wire's —
    # dense from 0 within each partition
    for part in {r["kafka_partition"] for r in rows}:
        offs = [r["kafka_offset"] for r in rows if r["kafka_partition"] == part]
        assert offs == list(range(len(offs)))

    # multi-topic subscription (one comma list, like the real option):
    # both topics arrive tagged; per-topic counts survive the union
    both = kafka_envelope_stream(
        spark,
        topic="orders, order_lines",
        row_schema=ORDER_ROW_SCHEMA,
        consumer_factory=factory,
        include_metadata=True,
    )
    counts = {
        r["source_topic"]: r["n"]
        for r in both.groupBy("source_topic").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {
        "orders": len(sent),
        "order_lines": sum(1 for e in log.events if _topic_of(e) == "order_lines"),
    }


@pytest.mark.slow
def test_three_topic_stream_drives_flagship_pipeline(spark, tmp_path):
    """The reference's source topology (S7: three Kafka topics —
    orders, order_lines, transactions; DataStreamV2Job.java:70-97)
    through the consumer double as REAL micro-batch streams, feeding
    start_tx_denorm_stream: the flagship emissions must match the
    batch run of the same TxLog."""
    from streaming_examples_spark.operators.txjoin import tx_denormalize
    from streaming_examples_spark.streaming.cdc_stream import start_tx_denorm_stream

    log = _tx_log()
    wire_dir = write_wire_log(tmp_path, log, files=3)
    factory = _consumer_factory(wire_dir, streaming=True)
    dirs = {n: str(tmp_path / n) for n in ("out", "state", "ckpt")}

    q = start_tx_denorm_stream(
        spark,
        kafka_envelope_stream(
            spark, topic="orders", row_schema=ORDER_ROW_SCHEMA, consumer_factory=factory
        ),
        kafka_envelope_stream(
            spark,
            topic="order_lines",
            row_schema=LINE_ROW_SCHEMA,
            consumer_factory=factory,
        ),
        kafka_transaction_stream(
            spark, topic="transactions", consumer_factory=factory
        ),
        state_dir=dirs["state"],
        output_dir=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id"], r["commit_lsn"]): sorted(
            (ln["id"], str(ln["price"])) for ln in (r["lines"] or [])
        )
        for r in spark.read.parquet(dirs["out"]).collect()
    }
    batch = tx_denormalize(
        log.order_events_df(spark),
        log.line_events_df(spark),
        log.tx_events_df(spark),
    )
    want = {
        (r["id"], r["commit_lsn"]): sorted(
            (ln["id"], str(ln["price"])) for ln in (r["lines"] or [])
        )
        for r in batch.emissions.collect()
    }
    assert got == want and want  # non-trivial: several txs, both tables


@pytest.mark.slow
def test_sink_to_source_wire_roundtrip(spark, tmp_path):
    """Wire-format compatibility between the engine's OWN two halves:
    what upsert_sink_batch puts on the wire (via the producer double)
    must come back IDENTICAL through decode_kafka_wire (via the
    consumer double) — payload rows byte-faithful, deletes surviving
    as null-value tombstones with their keys. This is the upsert-Kafka
    contract (S6→S3: a downstream consumer materializes last-per-key,
    reference KafkaUpsertJob.java:23-38)."""
    from tests.test_kafka_sink import _file_stub_factory, _read_sent
    from streaming_examples_spark.sources.kafka import decode_kafka_wire
    from streaming_examples_spark.sources.kafka import upsert_sink_batch

    out_dir = str(tmp_path / "sent")
    os.makedirs(out_dir)
    batch = spark.createDataFrame(
        [
            (1, False, "first doc", 2),
            (2, True, None, None),  # delete → tombstone
            (3, False, "third doc", 9),
        ],
        "id long, deleted boolean, body string, n_lines int",
    )
    upsert_sink_batch(
        batch,
        bootstrap_servers="unused:9092",
        topic="docs_out",
        key_col="id",
        producer_factory=_file_stub_factory(out_dir),
    )
    # splice the producer double's output into the consumer double's
    # wire format (what a broker does between the two)
    records = [r for p in _read_sent(out_dir) for r in p]
    wire_dir = str(tmp_path / "wire")
    os.makedirs(wire_dir)
    with open(os.path.join(wire_dir, "chunk-00000.json"), "w") as f:
        for off, r in enumerate(records):
            f.write(
                json.dumps(
                    {
                        "key": r["key"],
                        "value": r["value"],
                        "topic": r["topic"],
                        "partition": 0,
                        "offset": off,
                        "ts": 1700000000000,
                    }
                )
                + "\n"
            )
    raw = _consumer_factory(wire_dir)(spark, "docs_out")
    decoded = decode_kafka_wire(
        raw,
        value_schema="id long, body string, n_lines int",
        include_metadata=True,
    ).collect()
    by_key = {r["kafka_key"]: r for r in decoded}
    assert set(by_key) == {"1", "2", "3"}
    # payload rows round-trip byte-faithfully
    assert (by_key["1"]["id"], by_key["1"]["body"], by_key["1"]["n_lines"]) == (
        1, "first doc", 2,
    )
    assert (by_key["3"]["id"], by_key["3"]["body"], by_key["3"]["n_lines"]) == (
        3, "third doc", 9,
    )
    # the tombstone survives the wire: null value → null payload, key kept
    assert by_key["2"]["id"] is None and by_key["2"]["body"] is None
    # last-per-key materialization downstream (the S3 consumer) drops it
    from streaming_examples_spark.operators.windows import latest_per_key

    live = latest_per_key(
        spark.createDataFrame(
            [(r["kafka_key"], r["body"], r["kafka_offset"]) for r in decoded],
            "k string, body string, off long",
        ),
        key_cols=["k"],
        order_col="off",
        value_cols=["body"],
    ).filter(F.col("body").isNotNull())
    assert {r["k"] for r in live.collect()} == {"1", "3"}


@pytest.mark.slow
def test_composed_e2e_state_restart_and_replay(spark, tmp_path):
    """The round-8 seams COMPOSED in one pipeline, which no other test
    does: the consumer double feeds the three-topic wire in, the tx
    state commits through the versioned pointer protocol, and emissions
    leave through the file-stub producer. The stream is KILLED
    mid-corpus, restarted with a fresh processor over the same
    state, and finally fully REPLAYED from offset zero with a wiped
    checkpoint. The parquet output must equal the batch oracle exactly
    once — the restart loses nothing, the replay adds nothing — and
    the wire sink must carry every emission."""
    import shutil

    from tests.test_kafka_sink import _file_stub_factory, _read_sent
    from streaming_examples_spark.operators.txjoin import tx_denormalize
    from streaming_examples_spark.sources.kafka import upsert_sink_batch
    from streaming_examples_spark.streaming.cdc_stream import start_tx_denorm_stream

    log = _tx_log()
    staged = write_wire_log(tmp_path, log, files=4)
    live = str(tmp_path / "live_wire")
    os.makedirs(live)
    chunks = sorted(os.listdir(staged))
    assert len(chunks) >= 3  # kill point must be mid-corpus
    dirs = {n: str(tmp_path / n) for n in ("out", "state", "ckpt", "sent")}
    os.makedirs(dirs["sent"])

    def sink(emissions, batch_id):
        upsert_sink_batch(
            emissions.coalesce(1),
            bootstrap_servers="unused:9092",
            topic="docs.upserts",
            key_col="order_key",
            producer_factory=_file_stub_factory(
                dirs["sent"], prefix=f"{batch_id:05d}-"
            ),
        )

    def run_stream():
        factory = _consumer_factory(live, streaming=True)
        q = start_tx_denorm_stream(
            spark,
            kafka_envelope_stream(
                spark, topic="orders", row_schema=ORDER_ROW_SCHEMA,
                consumer_factory=factory,
            ),
            kafka_envelope_stream(
                spark, topic="order_lines", row_schema=LINE_ROW_SCHEMA,
                consumer_factory=factory,
            ),
            kafka_transaction_stream(
                spark, topic="transactions", consumer_factory=factory
            ),
            state_dir=dirs["state"],
            output_dir=dirs["out"],
            checkpoint_dir=dirs["ckpt"],
            emission_sink=sink,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # phase 1: half the wire arrives, then the process dies
    for c in chunks[:2]:
        shutil.copy2(os.path.join(staged, c), os.path.join(live, c))
    run_stream()
    # the state really committed: the pointer names a version
    assert os.path.exists(os.path.join(dirs["state"], "CURRENT"))

    # phase 2: restart (fresh processor, fresh backend instance) over
    # the same state; the rest of the wire arrives
    for c in chunks[2:]:
        shutil.copy2(os.path.join(staged, c), os.path.join(live, c))
    run_stream()

    # phase 3: full replay from offset zero — wiped checkpoint, same
    # state: the applied-tx dedup must emit nothing new
    rows_before = spark.read.parquet(dirs["out"]).count()
    shutil.rmtree(dirs["ckpt"])
    run_stream()

    out = spark.read.parquet(dirs["out"])
    assert out.count() == rows_before  # replay added nothing

    got = {
        (r["id"], r["commit_lsn"]): sorted(
            (ln["id"], str(ln["price"])) for ln in (r["lines"] or [])
        )
        for r in out.collect()
    }
    batch = tx_denormalize(
        log.order_events_df(spark),
        log.line_events_df(spark),
        log.tx_events_df(spark),
    )
    want = {
        (r["id"], r["commit_lsn"]): sorted(
            (ln["id"], str(ln["price"])) for ln in (r["lines"] or [])
        )
        for r in batch.emissions.collect()
    }
    assert got == want and want
    # exactly-once in the OUTPUT: one row per (order, commit_lsn)
    assert out.count() == len(want)
    # the wire sink carried every emission (at-least-once, no loss)
    sent = [r for p in _read_sent(dirs["sent"]) for r in p]
    assert len(sent) >= len(want)
    assert {r["key"] for r in sent} == {
        str(oid) for oid, _lsn in want
    }


@pytest.mark.slow
def test_reordered_tx_metadata_fails_stream_loudly(spark, tmp_path):
    """The mtime-tie trap, ENFORCED end-to-end (r9 found it, r10 closes
    it): tx metadata arriving commit-order-REVERSED across micro-batches
    — a higher-LSN tx's wire chunk delivered (and emitted) before a
    lower-LSN tx's — must fail the stream with the delivery-order
    error, never silently emit out of commit order. The in-order
    composed e2e above is the positive control."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from streaming_examples_spark.streaming.cdc_stream import start_tx_denorm_stream

    hi = TxLog()
    hi._lsn, hi._next_tx = 90000, 900
    hi.tx(
        lambda t: t.insert_order(10001),
        lambda t: t.insert_line(100001, 10001, price="1.00"),
    )
    lo = TxLog()
    lo._lsn, lo._next_tx = 50000, 400
    lo.tx(
        lambda t: t.insert_order(10002),
        lambda t: t.insert_line(100002, 10002, price="2.00"),
    )
    hi_dir = write_wire_log(tmp_path / "hi", hi)
    lo_dir = write_wire_log(tmp_path / "lo", lo)
    live = str(tmp_path / "live_wire")
    os.makedirs(live)
    # chunk 0 = the HIGH-LSN tx, chunk 1 = the LOW-LSN tx, with
    # strictly increasing mtimes: the file source replays hi before lo
    import time as _time

    t0 = _time.time() - 3600
    for i, (src, name) in enumerate(
        [(hi_dir, "chunk-00000.json"), (lo_dir, "chunk-00001.json")]
    ):
        dst = os.path.join(live, name)
        shutil.copy2(os.path.join(src, os.listdir(src)[0]), dst)
        os.utime(dst, (t0 + i * 10, t0 + i * 10))

    factory = _consumer_factory(live, streaming=True)
    q = start_tx_denorm_stream(
        spark,
        kafka_envelope_stream(
            spark, topic="orders", row_schema=ORDER_ROW_SCHEMA,
            consumer_factory=factory,
        ),
        kafka_envelope_stream(
            spark, topic="order_lines", row_schema=LINE_ROW_SCHEMA,
            consumer_factory=factory,
        ),
        kafka_transaction_stream(
            spark, topic="transactions", consumer_factory=factory
        ),
        state_dir=str(tmp_path / "state"),
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        with pytest.raises(StreamingQueryException) as excinfo:
            q.processAllAvailable()
    finally:
        q.stop()
    assert "delivery-order violation" in str(excinfo.value)
    # the high-LSN tx emitted (batch 0, in order); the reordered one
    # failed the batch BEFORE emitting anything out of order
    out = spark.read.parquet(str(tmp_path / "out"))
    assert {r["id"] for r in out.collect()} == {10001}
