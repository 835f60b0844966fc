"""Streaming flagship pipeline: tx-consistent denormalization under
Structured Streaming.

The reference runs its operator chain per event (DataStreamV2Job.java:
61-139); the Spark-first execution strategy (SURVEY.md §3.2) is a
``foreachBatch`` loop: each micro-batch is a superset of zero or more
transactions — complete ones are applied in commit-LSN order through
``tx_denormalize``; incomplete ones (a micro-batch may split a
transaction, poc.md:343) carry over via a persisted state directory.

State layout (parquet; one version dir per committed batch, named by
the backend's commit pointer, the ``CURRENT`` file):
    <state_dir>/_layout.json   the seal: {"format": 1, "backend": ...,
                               "n_buckets": N}
    <state_dir>/v<V>/order_state/_bucket=K/  latest order image per id,
                                             hash-bucketed by order key
    <state_dir>/v<V>/line_state/_bucket=K/   latest line image per line
                                             id, hash-bucketed by ORDER key
    <state_dir>/v<V>/carry_orders/, carry_lines/, carry_txs/
                               incomplete-tx events and tx metadata
    <state_dir>/v<V>/applied_txs/  recently applied txs (replay dedup)
    <state_dir>/v<V>/_parts.json   {"format": 3, "frames": {frame:
                                   {"_bucket=K": owner}}}: every bucket
                                   part of the version and the version
                                   dir that holds it

The two big state tables are hash-bucketed on the order key and
maintained *incrementally*: a batch loads and rewrites only the
buckets its order keys hash into — per-batch I/O is O(touched
buckets), never O(total key space). ``line_state`` buckets by the
parent order key (not the line id) so that every existing line of a
touched order is colocated with the order's bucket — the as-of
reconstruction needs those lines even when the batch only updates the
order row. A batch writes its touched buckets under its own version
and carries every other bucket BY REFERENCE: its ``_parts.json`` copies
the bucket's entry from the previous version's, so the part stays in
the older version dir that wrote it (no file is linked, copied or
listed), and a version dir is retired except for the parts the
committed map still names (``state_backend``'s keep rule). Carry tables
are O(incomplete txs) and rewritten whole.
In production the same layout is a Delta/Iceberg MERGE target; the
bucket swap here is the plain-parquet equivalent of MERGE touching
only affected files.

Durability order per batch:
  0. pin, materialize and size the inputs: the three inputs are pinned
     once (every later consumer reads the cache instead of the source
     lineage) and built in one concurrent round of aggregates that
     also yields the event counts, the delivery-order offender count,
     the GC horizon's in-flight floor and the touched buckets. A batch
     whose cached inputs and loaded state (counted at its cached size)
     fit one advisory partition
     (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) is planned
     on one partition: no hash exchange, one task per stage, one file
     per written bucket; a larger batch keeps the wide plan;
  1. materialize: the emissions are cached by the one Spark action
     between the intake round and the sink (the emitted-LSN
     high-watermark rides it as an observation);
  2. sink: the output_dir append and the ``emission_sink`` callback;
  3. concurrent writes: the NEXT version dir is claimed and its
     high-watermark sidecar published, then all six state frames are
     written on a thread pool, next to the committed-tx count (the
     backlog is observed on the carry writes themselves);
  4. sidecar: ``_parts.json`` names the written buckets and carries
     the untouched ones by reference;
  5. flip: one atomic pointer replace commits the version (3-5 run in
     ``state_backend.commit_version``, the detector's commit too).
Every state-backend call is made from the calling thread, in this
order. A crash anywhere before the flip replays the batch against the
old state and re-emits the same docs — duplicate output, never lost
output (AT_LEAST_ONCE, matching the reference sink,
DataStreamV2Job.java:102). ``applied_txs`` (replay/
redelivery dedup) retains the last ``applied_retention_batches``
batches — bounded state; a duplicate older than the horizon re-emits
(at-least-once) but cannot corrupt state, since tx application is
idempotent per commit_lsn.

One on-disk format: the processor reads and writes exactly the layout
above. A state dir without a readable format-1 seal (unless it is
fresh), sealed by another backend or bucket count, or whose committed
version lacks a format-3 ``_parts.json`` is refused with a
``ValueError`` (``state_backend.check_layout``) — never read as empty.
To recover, rebuild the state dir from the event log: move it aside
and replay the source from its start into an empty dir.
"""

from __future__ import annotations

import functools
import json
import os
import re
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from streaming_examples_spark.model.decoders import parse_tx_id
from streaming_examples_spark.operators.txjoin import TxDenormResult, tx_denormalize
from streaming_examples_spark.plans.inspect import advisory_partitions
from streaming_examples_spark.streaming.state_backend import (
    REBUILD_HINT,
    LocalPosixBackend,
    StateStorageBackend,
    check_layout,
    commit_version,
    committed_version,
    gc_versions,
    write_layout,
)

#: how many cached bytes one parquet byte of loaded state becomes: the
#: one-partition gate counts the inputs by their cache and the state
#: by its files, and adds them in cached bytes. Measured 2.9-3.1x on both
#: state tables (SCALE_NOTES, "One-partition micro-batch: where the
#: plans cross").
_PARQUET_TO_CACHED = 3
#: the only ``_parts.json`` format the tx store reads or writes
_PARTS_FORMAT = 3


class TxDenormBatchProcessor:
    """The ``foreachBatch`` body, also usable standalone for replaying
    a partitioned event log batch-by-batch (tests do exactly that)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        output_dir: str | None = None,
        *,
        n_buckets: int = 32,
        applied_retention_batches: int = 8,
        backend: StateStorageBackend | None = None,
        emission_sink=None,
        order_delete_gc_horizon_lsn=None,
    ):
        from streaming_examples_spark.streaming.monitoring import PipelineMetrics

        self.spark = spark
        self.state_dir = state_dir
        self.output_dir = output_dir
        self.n_buckets = n_buckets
        self.applied_retention_batches = applied_retention_batches
        # storage seam: every commit-protocol primitive (pointer flip,
        # version GC, sidecars) routes through here — see state_backend.py
        # for the object-store translation of each
        self.backend = backend if backend is not None else LocalPosixBackend()
        #: optional per-batch emission consumer ``(emissions_df,
        #: batch_id) -> None``, called in the SAME durability slot as
        #: the parquet sink — after materialization, BEFORE the state
        #: swap (crash between → replay re-emits: at-least-once, never
        #: lost; the reference's sink level, DataStreamV2Job.java:102).
        #: The Kafka upsert sink plugs in here:
        #:   lambda df, _: upsert_sink_batch(df, topic=..., key_col=
        #:   "order_key", ...)   (sources/kafka.py — tombstones as
        #: null values, KafkaChangelogJob.java:50-65)
        self.emission_sink = emission_sink
        #: GC dial for deleted-order markers (txjoin state retention):
        #: ``None`` (default) keeps them forever — reference parity; an
        #: int drops markers below that LSN at every state roll; a
        #: CALLABLE ``() -> int | None`` is consulted once per batch so
        #: an operator can feed the live replication-slot horizon
        #: (pg_replication_slots.restart_lsn) without restarting the
        #: stream. GC is LAZY per bucket: a marker drops when its
        #: bucket is next rewritten (i.e. touched by a batch) — a full
        #: sweep would break the O(touched buckets) per-batch I/O
        #: contract. See SCALE_NOTES "deleted-order markers".
        self.order_delete_gc_horizon_lsn = order_delete_gc_horizon_lsn
        # build-marker fencing identity (state_backend.claim_build):
        # the advisory writer lock is per-filesystem, so two HOSTS can
        # both hold it on an object store — the marker makes the
        # second builder of a version dir fail loudly instead of
        # interleaving writes into it
        from streaming_examples_spark.streaming.locks import owner_token

        self._writer_token = owner_token()
        self.metrics = PipelineMetrics()
        # previous batch's emissions cache, unpersisted at the next
        # batch's start (the caller may still read the CURRENT batch's
        # frame after process() returns, so same-batch unpersist races)
        self._prev_emissions: DataFrame | None = None
        # the current batch's pinned frames (its inputs and the
        # operator's intra-batch caches), freed after its commit — or,
        # for a failed batch, at the next batch's start
        self._pinned: list[DataFrame] = []
        # emissions schema from the last non-idle batch — lets the idle
        # fast path return a correctly-shaped empty frame jobs-free
        self._emissions_schema = None
        # whether state_dir carries its _layout.json seal (checked at
        # every batch start; a fresh dir is sealed by its first commit)
        self._sealed = False
        os.makedirs(state_dir, exist_ok=True)

    def _bucket_of(self, key) -> F.Column:
        return F.pmod(F.hash(key), F.lit(self.n_buckets))

    def _unpin(self) -> None:
        for df in self._pinned:
            df.unpersist()
        self._pinned = []

    # -- versioned state root --------------------------------------------
    # Every batch's state frames live under ONE version dir
    # (``state_dir/v<N>/<frame>``) and the batch commits by atomically
    # replacing the ``CURRENT`` pointer file — the MANIFEST/CURRENT
    # pattern of LSM engines and table formats. One commit point means a
    # reader (and a crash-replay) always sees state that is ALL-old or
    # ALL-new. Per-frame swap schemes cannot give that: a crash between
    # two frame swaps mixes batches across frames, and some mixtures are
    # not merely stale but actively poisonous — e.g. pre-batch tx
    # metadata (an END) next to post-batch carry events manufactures a
    # permanently-incomplete tx WITH a commit LSN, which holds the
    # emission barrier forever.

    def _check_layout(self) -> None:
        """State hashed into N buckets read back by a processor declaring
        M buckets loads the WRONG buckets — `_load_buckets` selects the
        `_bucket=pmod(hash(key), M)` paths over dirs written at
        `pmod(hash(key), N)`, so touched keys silently see empty state
        and every emission reconstructs from batch events alone (no
        error, corrupt docs). The seal written before the first commit
        makes such a restart — and any other backend or on-disk format
        — raise instead (state_backend.check_layout)."""
        self._sealed = check_layout(
            self.backend, self.state_dir, {"n_buckets": self.n_buckets}
        )

    def _current_version(self) -> int:
        # 0 = fresh state dir: v0 is the (absent) empty state
        return self.backend.read_pointer(self.state_dir)

    def _root(self, version: int | None = None) -> str:
        v = self._current_version() if version is None else version
        return os.path.join(self.state_dir, f"v{v}")

    def _frame_path(self, name: str, version: int | None = None) -> str:
        return os.path.join(self._root(version), name)

    def _load(self, name: str) -> DataFrame | None:
        path = self._frame_path(name)
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def _read_tx_hwm(self) -> int | None:
        """The committed emitted-commit-LSN high-watermark: a scalar
        sidecar inside the CURRENT version dir (written by _store_all
        before the pointer flip, so it commits atomically with the
        state it describes — a premature hwm would false-positive the
        order check on every crash replay). Driver-side open(): a GET,
        no Spark job, fresh under list-after-write lag."""
        raw = self.backend.read_file(os.path.join(self._root(), "_tx_hwm.json"))
        if raw is None:
            return None
        return json.loads(raw).get("hwm")

    def _parts(self, version: int) -> dict[str, dict[str, int]]:
        """The committed version's part map: frame name → ``_bucket=K``
        part → the version dir that holds it, from its ``_parts.json``
        sidecar ``{"format": 3, "frames": {...}}``, read through the
        backend's ``read_file`` seam — a GET, fresh under
        list-after-write lag, which is the point: every read and the
        next carry use THIS instead of a lag-prone listing. EXACT:
        every named part exists (Spark-written parts enumerated from
        the writer's own scan-time file index, carried parts kept by
        the retirement's keep rule), so readers need no existence
        probe. Version 0 (no committed state) is empty; a committed
        version without a format-3 sidecar is refused, never read as
        empty — and the GC, which keeps the parts this names, aborts
        before removing anything."""
        if version <= 0:
            return {}
        path = os.path.join(self._root(version), "_parts.json")
        raw = self.backend.read_file(path)
        data = json.loads(raw) if raw is not None else None
        if not isinstance(data, dict) or data.get("format") != _PARTS_FORMAT:
            raise ValueError(
                f"tx state at {self.state_dir}: committed version {version} "
                f"has no format-{_PARTS_FORMAT} {path} (found {raw!r}), so its "
                "bucket parts cannot be located and reading it would silently "
                f"load empty state: {REBUILD_HINT}"
            )
        return data["frames"]

    def _read_parts(
        self, name: str, parts: dict[str, int], buckets: list[int] | None = None
    ) -> DataFrame | None:
        """Read the bucketed frame ``name`` from its part map entry
        ``parts`` (part → owning version): every part, or only those of
        ``buckets``. Each part is read straight from
        ``v<owner>/<name>/_bucket=K``, selected by path: untouched
        buckets are never listed, and no dir probe runs, since the map
        is exact. None when no selected part exists."""
        want = None if buckets is None else {f"_bucket={b}" for b in buckets}
        paths = [
            os.path.join(self._frame_path(name, owner), part)
            for part, owner in sorted(parts.items())
            if want is None or part in want
        ]
        return self.spark.read.parquet(*paths) if paths else None

    def _load_buckets(self, name: str, buckets: list[int]) -> DataFrame | None:
        """Read only the listed hash buckets of a bucketed state table
        (strictly stronger than a ``_bucket``-partition filter)."""
        cur = self._current_version()
        if not buckets or cur == 0:
            return None
        # Existence is resolved from the committed POINTER plus the
        # version's ``_parts.json`` sidecar — both GETs — never from a
        # dir probe: the probe reads a listing that can lag the very
        # Spark write that created the dir (state loaded as None one
        # batch after it was written)
        parts = self._parts(cur).get(name)
        if parts is None:
            return None  # frame absent from the committed enumeration
        return self._read_parts(name, parts, buckets)

    def read_state(self, name: str) -> DataFrame | None:
        """Committed view of one state frame (e.g. ``order_state``,
        ``applied_txs``) — the only correct way to inspect a bucketed
        frame, whose carried parts live in older version dirs (a
        direct ``spark.read.parquet`` on the version dir would miss
        them). Returns None for an absent/empty frame; raises on a dir
        that is not in this processor's sealed format."""
        self._check_layout()
        cur = committed_version(self.backend, self.state_dir)
        if cur == 0:
            return None
        # bucketed frames read from the committed part map (a GET) —
        # same lag-immunity as _load_buckets; a zero-part frame is
        # known-empty (a partitioned write of zero rows creates no part
        # dirs, so its dir is not Spark-readable). A name outside the
        # map is a PLAIN frame (Spark-written whole every batch):
        # _load resolves it with a GET (os.path.exists) + Spark's own
        # scan — no backend listing on any branch.
        frames = self._parts(cur)
        if name not in frames:
            return self._load(name)
        return self._read_parts(name, frames[name])

    def _store_all(
        self,
        frames: dict[str, DataFrame],
        bucketed: dict[str, tuple[DataFrame, list[int]]] | None = None,
        scalars: dict[str, bytes] | None = None,
        *,
        alongside: dict[str, Callable[[], object]] | None = None,
        before_commit: Callable[[dict[str, object]], None] | None = None,
    ) -> dict[str, object]:
        """Write every new state frame under the NEXT version dir, then
        commit the batch with ONE atomic pointer replace, through the
        stores' shared versioned commit (``state_backend.commit_version``:
        claim, clear, prepare, write, validate, flip, release, retire).

        Order, after the caller's materialization and sink:
          1. seal a fresh dir, claim the version dir, publish the
             scalar sidecars (e.g. the emitted-LSN high-watermark) and
             announce every frame's Spark write (``note_spark_write``);
          2. run all frame writes CONCURRENTLY on a thread pool, with
             the ``alongside`` Spark actions (metric-only counts) next
             to them — each bucketed write followed by its written-part
             enumeration. The threads inherit the caller's job group
             and local properties. If any task fails, every task is
             waited for, the first error (in submission order) is
             raised and the pointer is never flipped;
          3. on the calling thread: ``before_commit(results)``,
             ``_parts.json`` (which carries the untouched buckets), the
             build-claim re-validation, the pointer flip and the
             retirement of the superseded version by the keep rule.
        Every backend call is made from the calling thread, in this
        order. Returns the ``alongside`` results by name.

        Crash anywhere BEFORE the flip: ``CURRENT`` still names the old
        version — the replay re-runs the batch against complete OLD
        state and the half-written new dir is GC'd. Crash AFTER the
        flip: state is completely NEW — the replay's applied-txs filter
        drops the batch, whose output already reached the sink (sink
        writes precede ``_store_all``; at-least-once). There is no
        window that mixes frames from different batches.

        The new frames' plans read the OLD version's files (lazy
        scans), which the new-dir writes never touch — no
        write-invalidates-read ordering to maintain, and no ordering
        between the concurrent writes either.

        Bucketed frames write only their touched buckets' rows (a
        touched bucket whose every key was deleted simply has no part
        in the new version); untouched buckets are carried by
        reference in ``_parts.json``, with no backend call, so
        per-batch write volume stays O(touched keys), not O(state).
        Every storage primitive of the protocol routes through
        ``self.backend`` (state_backend.py), whose docstrings carry the
        object-store translation."""
        bucketed = bucketed or {}
        alongside = alongside or {}
        cur = self._current_version()
        # seal a fresh dir BEFORE its first write: every crash window
        # after this leaves a sealed dir whose garbage the next batch's
        # GC reclaims (an unsealed non-empty dir is refused)
        if not self._sealed:
            write_layout(self.backend, self.state_dir, {"n_buckets": self.n_buckets})
            self._sealed = True

        def build(new_root: str) -> dict[str, object]:
            # scalar sidecars ride the same single commit point as the
            # frames: written under the new version BEFORE the pointer
            # flip, visible only once it lands
            for name, data in (scalars or {}).items():
                self.backend.publish_file(os.path.join(new_root, name), data)
            tasks: dict[str, Callable[[], object]] = {}
            for name, df in frames.items():
                path = os.path.join(new_root, name)
                self.backend.note_spark_write(path)
                tasks[name] = functools.partial(
                    df.write.mode("overwrite").parquet, path
                )
            for name, (df, _) in bucketed.items():
                path = os.path.join(new_root, name)
                self.backend.note_spark_write(path)
                tasks[name] = functools.partial(self._write_bucketed, df, path)
            results = self._run_concurrently({**tasks, **alongside})
            got = {name: results[name] for name in alongside}
            if before_commit is not None:
                before_commit(got)
            # the carry: every untouched bucket keeps its previous
            # owner; a touched one is owned by this version if written
            prev_frames = self._parts(cur)
            new_parts: dict[str, dict[str, int]] = {}
            for name, (_, buckets) in bucketed.items():
                touched = {f"_bucket={b}" for b in buckets}
                new_parts[name] = {
                    **{
                        part: owner
                        for part, owner in prev_frames.get(name, {}).items()
                        if part not in touched
                    },
                    **{part: cur + 1 for part in results[name]},
                }
            # published UNCONDITIONALLY: a version committed without
            # bucketed frames still carries a sidecar — its truthful
            # enumeration is empty — or the next reader would refuse it
            self.backend.publish_file(
                os.path.join(new_root, "_parts.json"),
                json.dumps(
                    {"format": _PARTS_FORMAT, "frames": new_parts}, sort_keys=True
                ).encode(),
            )
            return got

        return commit_version(
            self.backend, self.state_dir, cur + 1, self._writer_token, build,
            parts=self._parts,
        )

    def _write_bucketed(self, df: DataFrame, path: str) -> list[str]:
        """Write a bucketed state frame's rows under ``path``, partitioned
        by ``_bucket``, and return the EXACT ``_bucket=K`` part set the
        write created — a touched bucket whose every key was deleted
        wrote no dir and is recorded as such, so the part map names
        only parts that exist. Spark-only: runs on a pool thread.

        The parts are enumerated through Spark's scan-time file index
        (``DataFrame.inputFiles``), never a backend LIST. This is the
        one listing class the protocol's SCOPE note documents as
        consistent by contract: the store's listing guarantee to Spark
        itself, which every parquet-on-object-store deployment already
        requires (and S3/GCS/Azure give today); the eventual-consistency
        double accordingly does not lag it. The dir is the writer's
        pre-commit private output. It is read with the written frame's
        schema, so nothing is inferred: a write of zero rows (only
        ``_SUCCESS``) enumerates as empty, and every read error raises
        — mapping one to [] would silently drop this frame's written
        parts from the committed part map (state loss)."""
        (
            df.withColumn("_bucket", self._bucket_of(F.col("order_key")))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(path)
        )
        files = self.spark.read.schema(df.schema).parquet(path).inputFiles()
        return sorted(
            {
                m.group(1)
                for f in files
                for m in [re.search(r"(_bucket=\d+)/", f)]
                if m is not None
            }
        )

    def _run_concurrently(self, tasks: dict[str, Callable[[], object]]) -> dict[str, object]:
        """Run Spark-only tasks on a thread pool and return their results
        by name. Each thread inherits the calling thread's local
        properties (job group, scheduler pool) and session tags, so the
        jobs it runs are attributed like the caller's own. Waits for
        every task before returning or raising; on failure raises the
        first error in submission order."""
        inherit = inheritable_thread_target(self.spark)
        with ThreadPoolExecutor(max_workers=max(1, len(tasks))) as pool:
            futures = {name: pool.submit(inherit(fn)) for name, fn in tasks.items()}
        # the with-block joined every thread: no job is left running
        for fut in futures.values():
            if fut.exception() is not None:
                raise fut.exception()
        return {name: fut.result() for name, fut in futures.items()}

    def _intake_round(
        self,
        order_events: DataFrame,
        line_events: DataFrame,
        tx_events: DataFrame,
        carried: tuple[DataFrame | None, DataFrame | None, DataFrame | None],
        *,
        prev_hwm: int | None,
        gc_horizon: int | None,
        initial_load: bool,
    ) -> dict[str, object]:
        """Materialize the three pinned inputs in ONE concurrent round:
        one aggregate per input, plus one over the carried
        ``(carry_orders, carry_lines, carry_txs)`` frames when any
        exists. Returns what the batch needs before it plans:

          * ``orders``, ``lines``, ``max_ts``: the event counts and the
            newest source timestamp (monitoring);
          * ``offenders``: ENDs at or below ``prev_hwm`` (the
            delivery-order check; 0 without a high-watermark);
          * ``floor``: the oldest in-flight LSN over the inputs and the
            carried frames (None without a GC horizon);
          * ``buckets``: the sorted hash buckets the batch touches —
            the inputs' order keys, both order keys of a line event and
            the carried keys (empty on a fresh store)."""
        carry_orders, carry_lines, carry_txs = carried
        end_lsn = parse_tx_id("id")[1]
        is_end = F.col("status") == "END"
        event_lsn = F.col("source.lsn").cast("long")

        def buckets(key: F.Column) -> F.Column:
            return F.collect_set(F.when(key.isNotNull(), self._bucket_of(key)))

        count = F.count(F.lit(1)).alias("n")
        order_aggs = [count, F.max("ts_ms").alias("max_ts")]
        line_aggs = [count]
        tx_aggs = [count]
        if not initial_load:
            order_aggs.append(
                buckets(F.coalesce(F.col("after.id"), F.col("before.id"))).alias("b")
            )
            line_aggs.append(buckets(F.col("after.order_id")).alias("b"))
            line_aggs.append(buckets(F.col("before.order_id")).alias("b_from"))
        if prev_hwm is not None:
            tx_aggs.append(
                F.count(F.when(is_end & (end_lsn <= prev_hwm), True)).alias("offenders")
            )
        if gc_horizon is not None:
            order_aggs.append(F.min(event_lsn).alias("floor"))
            line_aggs.append(F.min(event_lsn).alias("floor"))
            tx_aggs.append(F.min(F.when(is_end, end_lsn)).alias("floor"))
        tasks = {
            "orders": lambda: order_events.agg(*order_aggs).first(),
            "lines": lambda: line_events.agg(*line_aggs).first(),
            "txs": lambda: tx_events.agg(*tx_aggs).first(),
        }
        pool = [
            c.select("key", F.col("event_lsn").cast("long").alias("lsn"))
            for c in (carry_orders, carry_lines)
            if c is not None
        ]
        if gc_horizon is not None and carry_txs is not None:
            pool.append(
                carry_txs.where(is_end).select(
                    F.lit(None).cast("long").alias("key"), end_lsn.alias("lsn")
                )
            )
        if pool:
            carried_aggs = [buckets(F.col("key")).alias("b")]
            if gc_horizon is not None:
                carried_aggs.append(F.min("lsn").alias("floor"))
            tasks["carried"] = lambda: (
                functools.reduce(DataFrame.unionByName, pool).agg(*carried_aggs).first()
            )
        got = {k: r.asDict() for k, r in self._run_concurrently(tasks).items()}
        rows = got.values()
        return {
            "orders": got["orders"]["n"],
            "lines": got["lines"]["n"],
            "max_ts": got["orders"]["max_ts"],
            "offenders": got["txs"].get("offenders", 0),
            "floor": min(
                (r["floor"] for r in rows if r.get("floor") is not None), default=None
            ),
            "buckets": sorted(
                {b for r in rows for k in ("b", "b_from") for b in r.get(k) or ()}
            ),
        }

    def _fits_one_partition(
        self, pinned: tuple[DataFrame, ...], loaded: tuple[DataFrame | None, ...]
    ) -> bool:
        """Whether the batch fits ONE advisory partition
        (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the size
        AQE itself coalesces shuffle partitions toward), counted in
        cached bytes: the pinned inputs' cache, built by the intake
        round, plus the loaded frames' parquet bytes times
        ``_PARQUET_TO_CACHED`` (``plans.inspect.advisory_partitions``).
        A size that cannot be read counts as too large, which keeps the
        wide plan."""
        # a fresh projection reads the cache's realized size: a frame
        # optimized before its cache was built keeps the earlier estimate
        sized = [(df.select("*"), 1) for df in pinned]
        sized += [(df, _PARQUET_TO_CACHED) for df in loaded if df is not None]
        return advisory_partitions(self.spark, sized) == 1

    def process(
        self,
        order_events: DataFrame,
        line_events: DataFrame,
        tx_events: DataFrame,
        batch_id: int = 0,
    ) -> DataFrame:
        """Apply one micro-batch; returns (and optionally writes) the
        emissions in commit-LSN order. The three inputs are persisted
        for the batch and unpersisted once it commits.

        Holds the state dir's advisory writer lock for the whole batch
        (``streaming/locks.py``): the versioned pointer-commit in
        ``_store_all`` is crash-safe for ONE writer, but a second
        stream accidentally pointed at the same state dir would race
        the pointer flip and GC the other's live version — CONCURRENT
        batches raise loudly instead. The lock is per-batch, so two
        streams strictly alternating batches would still interleave
        state without tripping it (a stream-lifetime lock can't
        distinguish that from the legitimate restart-with-new-processor
        flow in the same live process); stream-lifetime exclusion is
        the checkpoint dir's job — one checkpoint location per query —
        with this lock as the in-flight defense."""
        from streaming_examples_spark.streaming.locks import writer_lock

        with writer_lock(self.state_dir, f"tx_batch_{batch_id}"):
            return self._process_locked(
                order_events, line_events, tx_events, batch_id
            )

    def _process_locked(
        self,
        order_events: DataFrame,
        line_events: DataFrame,
        tx_events: DataFrame,
        batch_id: int,
    ) -> DataFrame:
        import time as _time

        _batch_t0 = _time.time()
        # per-phase wall seconds, timed on the calling thread (no Spark job)
        phases: dict[str, float] = {}
        lap_t = _time.perf_counter()

        def lap(name: str) -> None:
            nonlocal lap_t
            now = _time.perf_counter()
            phases[name] = now - lap_t
            lap_t = now

        # free the PREVIOUS batch's emissions cache: it was kept alive
        # past its own batch so the caller could still read the
        # returned frame; by the next batch nothing references it, and
        # without this a long-running stream accumulates one
        # CacheManager entry per micro-batch
        if self._prev_emissions is not None:
            self._prev_emissions.unpersist()
            self._prev_emissions = None
        # a failed batch's pinned frames (a successful batch frees its
        # own after the commit)
        self._unpin()
        # validate the bucket layout, then drop any crash garbage
        # (half-written next version / superseded old version) BEFORE
        # reading state, under the same writer lock; a lost pointer
        # raises here, before anything is reclaimed
        self._check_layout()
        gc_versions(
            self.backend, self.state_dir, self._writer_token, parts=self._parts
        )
        # -- idle micro-batch fast path: no new events AND no new tx
        # metadata means nothing can change — carried txs cannot
        # complete without events, the barrier cannot move, nothing
        # can emit — so skip the whole pipeline AND the state-version
        # rewrite (replaying an idle batch is a no-op). A quiet stream
        # then costs three limit-1 probes per trigger instead of the
        # full multi-job batch (the same economics as the detector's
        # r10 idle-batch append skip). Requires one prior non-idle
        # batch in THIS processor instance (the emissions schema is
        # cached from it); a freshly restarted processor warms up
        # through the slow path, which handles empty inputs correctly.
        if (
            self._emissions_schema is not None
            and tx_events.isEmpty()
            and order_events.isEmpty()
            and line_events.isEmpty()
        ):
            empty = self.spark.createDataFrame([], self._emissions_schema)
            # the emission_sink contract is per-BATCH (sinks may advance
            # progress markers or commit a downstream tx per trigger),
            # so it still observes idle batches — with the same empty
            # frame the slow path would have handed it. Only the
            # output_dir parquet append is skipped: an empty append
            # carries no rows, and one zero-row file per idle trigger
            # bloats the directory a long-running quiet stream writes.
            if self.emission_sink is not None:
                self.emission_sink(empty, batch_id)
            # no observe_batch: an idle batch commits no tx, and the
            # throughput gauge keeps the last non-idle batch's value
            return empty
        # no committed version yet = this batch is the initial load
        # (the snapshot phase, for the per-table RowsScanned counter)
        initial_load = self._current_version() == 0
        # tx metadata persists across batches (the reference keeps it in
        # broadcast state, CommitLsnFixer.java:75-89): a tx's END may
        # arrive batches before/after its data events. GC below drops
        # metadata of emitted txs (the :130-151 pruning heuristic, but
        # exact: we know which txs completed).
        # at-least-once replay protection: a tx already applied must
        # never re-block the barrier nor re-emit — drop its metadata
        # AND its data events (the (txId, lsn) dedup of SURVEY §7.4).
        # Carried tx metadata needs no such filter: a version's
        # carry_txs and applied_txs are disjoint by construction (the
        # carry is this batch's filtered metadata minus what it
        # emitted; applied is the kept old set plus what it emitted).
        applied = self._load("applied_txs")
        if applied is not None:
            applied_b = F.broadcast(applied)
            tx_events = tx_events.join(
                applied_b,
                parse_tx_id(tx_events["id"])[0] == applied["tx_id"],
                "left_anti",
            )
            order_events = order_events.join(
                applied_b,
                order_events["source.txId"] == applied["tx_id"],
                "left_anti",
            )
            line_events = line_events.join(
                applied_b,
                line_events["source.txId"] == applied["tx_id"],
                "left_anti",
            )
        # pin the inputs once: the intake round, every tx_denormalize
        # branch and the carry writes all read them, and without the
        # cache each re-executes the caller's source lineage
        # (Python-side scans included)
        order_events, line_events, tx_events = (
            df.persist() for df in (order_events, line_events, tx_events)
        )
        self._pinned.extend((order_events, line_events, tx_events))
        carry_txs = self._load("carry_txs")
        carry_orders = self._load("carry_orders")
        carry_lines = self._load("carry_lines")
        prev_hwm = self._read_tx_hwm()
        gc_horizon = (
            self.order_delete_gc_horizon_lsn()
            if callable(self.order_delete_gc_horizon_lsn)
            else self.order_delete_gc_horizon_lsn
        )
        intake = self._intake_round(
            order_events,
            line_events,
            tx_events,
            (carry_orders, carry_lines, carry_txs),
            prev_hwm=prev_hwm,
            gc_horizon=gc_horizon,
            initial_load=initial_load,
        )

        # -- tx-metadata delivery-order intake check (the contract in
        # start_tx_denorm_stream's docstring, enforced): an END at or
        # below the emitted high-watermark can no longer emit in commit
        # order. Checked on THIS batch's arrivals only:
        #   * carried ENDs cannot be offenders — the barrier guarantees
        #     every emitted LSN is below every carried tx's LSN, so any
        #     offender is a fresh arrival;
        #   * at-least-once redelivery of APPLIED txs (within
        #     retention) is anti-joined away before the check. An END
        #     replayed LATER than applied_retention_batches is
        #     indistinguishable from a reordering source and trips the
        #     check — size the retention to the source's redelivery
        #     horizon.
        # The offender count rides the intake round; the sample for the
        # message is pulled only when it is non-zero.
        if intake["offenders"]:
            tx_id, commit_lsn = parse_tx_id("id")
            fresh = tx_events.dropDuplicates(["status", "id"]).filter(
                (F.col("status") == "END") & (commit_lsn <= prev_hwm)
            )
            # bounded driver transfer (r10 ADVICE): a pathological batch
            # (e.g. a large tx-metadata replay after applied-retention
            # expiry) can make every END an offender — cap the sample
            # pulled for the message and count the rest distributed
            # (over the pinned input, so the count re-reads the cache,
            # never the source lineage)
            _OFFENDER_SAMPLE = 16
            offender_frame = fresh.select(
                tx_id.alias("tx_id"), commit_lsn.alias("commit_lsn")
            )
            offenders = offender_frame.limit(_OFFENDER_SAMPLE).collect()
            if len(offenders) < _OFFENDER_SAMPLE:
                n_offenders = len(offenders)
            else:
                n_offenders = offender_frame.count()
            more = (
                f" (+{n_offenders - 1} more this batch)"
                if n_offenders > 1
                else ""
            )
            raise RuntimeError(
                f"tx-metadata delivery-order violation in batch "
                f"{batch_id}: END of tx {offenders[0]['tx_id']} arrived "
                f"with commit_lsn {offenders[0]['commit_lsn']} ≤ the "
                f"already-emitted high-watermark {prev_hwm}{more}. "
                "The transaction stream must arrive in commit order "
                "(the reference consumes a single-partition topic); "
                "either the source reorders tx metadata across "
                "micro-batches, or an at-least-once redelivery "
                "outlived applied_retention_batches="
                f"{self.applied_retention_batches}."
            )

        if gc_horizon is not None:
            # Safety guard on the GC dial: the provably-safe horizon is
            # the source's oldest-in-flight-transaction LSN
            # (pg_replication_slots.restart_lsn — SCALE_NOTES), which
            # is ≤ every in-flight LSN by definition. A horizon AHEAD
            # of an event/END still in flight this batch could trim a
            # delete marker those very events need (the tombstone
            # re-emission contract), so it is REFUSED, not clamped —
            # a wrong feed is an operator bug worth a halted stream.
            # The floor rides the intake round's aggregates, only on the
            # opt-in GC path.
            inflight_floor = intake["floor"]
            if inflight_floor is not None and gc_horizon > inflight_floor:
                raise ValueError(
                    f"order_delete_gc_horizon_lsn={gc_horizon} is ahead of "
                    f"the oldest in-flight LSN {inflight_floor} in batch "
                    f"{batch_id}: trimming delete markers above an "
                    "in-flight event can drop a tombstone a pending "
                    "transaction still needs. Feed the source's "
                    "oldest-in-flight horizon "
                    "(pg_replication_slots.restart_lsn) instead — it is "
                    "≤ every in-flight LSN by definition."
                )

        # -- touched buckets: the batch's order keys (orders keyed by
        # id, lines by parent order_id) plus carried-over events — only
        # these hash buckets of the state tables are read and rewritten
        # (collected by the intake round). BOTH sides of a line re-point
        # touch state: before.order_id's bucket holds the stale row that
        # must be loaded (so the as-of "re-pointed line drops out"
        # filter sees it) and rewritten. A fresh store has no buckets to
        # load, prune or carry, so the first commit writes every bucket
        # its rows hash into.
        touched_buckets = intake["buckets"]
        order_state = self._load_buckets("order_state", touched_buckets)
        line_state = self._load_buckets("line_state", touched_buckets)

        # -- one-partition plan: a batch whose inputs and state fit one
        # advisory partition runs every leaf coalesced to one partition.
        # Each child then reports SinglePartition, so Spark plans the
        # whole batch with no hash exchange, one task per stage and one
        # file per written bucket. That holds on a non-fresh batch too:
        # a union of one-partition children reports SinglePartition, so
        # the carried and state unions here and in tx_denormalize need
        # no exchange (a fast test pins both batch shapes under the
        # session's 64 MiB broadcast threshold, see get_spark). A larger
        # batch keeps the wide plan.
        if self._fits_one_partition(
            (order_events, line_events, tx_events),
            (applied, carry_txs, carry_orders, carry_lines, order_state, line_state),
        ):
            (
                order_events, line_events, tx_events, applied,
                carry_txs, carry_orders, carry_lines, order_state, line_state,
            ) = (
                None if df is None else df.coalesce(1)
                for df in (
                    order_events, line_events, tx_events, applied,
                    carry_txs, carry_orders, carry_lines, order_state, line_state,
                )
            )
        tx_all = (
            tx_events.unionByName(carry_txs) if carry_txs is not None else tx_events
        ).dropDuplicates(["status", "id"])
        lap("intake")
        res: TxDenormResult = tx_denormalize(
            order_events,
            line_events,
            tx_all,
            order_state=order_state,
            line_state=line_state,
            carryover_orders=carry_orders,
            carryover_lines=carry_lines,
            # the stream's delivery contract is at-least-once (sink
            # before state swap): redelivery can duplicate events even
            # when no carryover frames exist, so the event-identity
            # dedup is always on here — batches are micro-batch sized,
            # the shuffle is bounded by batch width, not corpus width
            dedup_events=True,
            order_delete_gc_horizon_lsn=gc_horizon,
        )
        # pinned for intra-batch reuse by the operator (emitted_txs
        # among them: it feeds the tx_keep anti-join, the committed-tx
        # count and new_applied); freed with the inputs after the commit
        self._pinned.extend(res.pinned)
        emitted_txs = res.emitted_txs
        tx_keep = tx_all.join(
            emitted_txs,
            parse_tx_id(tx_all["id"])[0] == emitted_txs["tx_id"],
            "left_anti",
        )
        # commit-order contract: a global sort, read back in partition
        # order. A one-partition plan sorts its one partition in place
        # (no exchange, no sampling job); a wide plan range-partitions
        # on commit_lsn and sorts each partition, so the sort
        # parallelizes across reducers instead of one task
        emissions = res.emissions.orderBy("commit_lsn").cache()
        # track the cache the moment it exists: a failure anywhere below
        # leaves it registered, and the retry's start-of-batch unpersist
        # is the only hook that can reclaim it (the caller contract —
        # the returned frame stays readable until the NEXT batch — is
        # unaffected, since unpersist still happens only at that start)
        self._prev_emissions = emissions
        lap("plan")
        # the one Spark action between the intake round and the sink:
        # materialize the emissions before any state dir changes. The emitted-LSN
        # high-watermark rides it as an observation over the cached
        # rows (above a wide plan's range partitioner, whose sample pass
        # re-runs the plan below it; max would be idempotent there
        # anyway).
        hwm_seen = Observation("tx_emitted_hwm")
        emissions.observe(hwm_seen, F.max("commit_lsn").alias("hwm")).count()
        batch_max_lsn = hwm_seen.get["hwm"]
        new_hwm = prev_hwm
        if batch_max_lsn is not None:
            new_hwm = batch_max_lsn if prev_hwm is None else max(prev_hwm, batch_max_lsn)
        lap("emit")
        # -- sink BEFORE state swap: a crash in between replays the
        # batch against the old state and re-emits the same docs —
        # duplicate output, never lost output (AT_LEAST_ONCE). The
        # reverse order would record the txs as applied, filter them on
        # replay, and silently drop their emissions.
        if self.output_dir:
            (
                emissions.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(self.output_dir)
            )
        if self.emission_sink is not None:
            self.emission_sink(emissions, batch_id)
        lap("sink")
        new_applied = emitted_txs.withColumn(
            "applied_in_batch", F.lit(batch_id).cast("long")
        )
        if applied is not None:
            # bounded dedup state: drop txs applied more than
            # applied_retention_batches ago — older duplicates re-emit
            # (at-least-once) but cannot corrupt state (idempotent per
            # commit_lsn). Mirrors the reference's TTL'd dedup state.
            horizon = batch_id - self.applied_retention_batches
            applied_keep = applied.filter(F.col("applied_in_batch") >= horizon)
            new_applied = applied_keep.unionByName(new_applied).dropDuplicates(["tx_id"])
        # backlog (carried incomplete-tx events) = the row counts the
        # two carry writes observe while they run: no re-read
        backlog: dict[str, Observation] = {}
        carries: dict[str, DataFrame] = {}
        for name, df in (
            ("carry_orders", res.carryover_orders),
            ("carry_lines", res.carryover_lines),
        ):
            backlog[name] = Observation(f"tx_{name}_rows")
            carries[name] = df.observe(backlog[name], F.count(F.lit(1)).alias("n"))

        n_events = intake["orders"] + intake["lines"]

        def observe_intake(_: dict) -> None:
            # monitoring (§6 metric catalog): events seen, source lag,
            # snapshot rows — counted by the intake round, landed once
            # every state write succeeded, before the pointer flip
            if initial_load:
                # snapshot-phase RowsScanned (per table): the first
                # batch over a fresh state dir is this engine's initial
                # load — the reference tracks the same counter per
                # table through its JMX snapshot metrics
                # (jmx_exporter_config.yml:12-18). batch_id dedupes an
                # at-least-once RETRY of this batch (crash after the
                # counts, before the version commit).
                for table in ("orders", "lines"):
                    self.metrics.observe_initial_load(
                        table, intake[table], batch_id=batch_id
                    )
            self.metrics.total_events_seen += n_events
            self.metrics.observe_event_time(intake["max_ts"])

        got = self._store_all(
            {**carries, "carry_txs": tx_keep, "applied_txs": new_applied},
            bucketed={
                "order_state": (res.order_state, touched_buckets),
                "line_state": (res.line_state, touched_buckets),
            },
            scalars={
                "_tx_hwm.json": json.dumps(
                    {"hwm": new_hwm, "batch_id": batch_id}
                ).encode()
            },
            # the committed-tx count runs alongside the state writes;
            # emitted_txs' lineage reads the PRE-swap state files, so
            # it must finish before the flip — which it does
            alongside={"committed": emitted_txs.count},
            before_commit=observe_intake,
        )
        self.metrics.observe_backlog(sum(o.get["n"] for o in backlog.values()))
        # committed txs = txs that cleared the emission barrier this
        # batch (NumberOfCommittedTransactions analog)
        self.metrics.observe_batch(
            n_events, _time.time() - _batch_t0, got["committed"]
        )
        # every write is done and nothing reads the pinned frames now
        self._unpin()
        lap("commit")
        self.metrics.last_batch_phase_s = phases
        # emissions stays cached until the next batch starts (caller
        # may still read it); tracked above so that batch unpersists it
        self._emissions_schema = emissions.schema  # idle fast path's shape
        return emissions


def start_tx_denorm_stream(
    spark: SparkSession,
    order_stream: DataFrame,
    line_stream: DataFrame,
    tx_stream: DataFrame,
    *,
    state_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    emission_sink=None,
    n_buckets: int = 32,
    order_delete_gc_horizon_lsn=None,
):
    """Wire the three CDC streams (orders / order_lines / transaction
    metadata — the reference's three Kafka topics, DataStreamV2Job.
    java:70-97) into one driving query.

    Spark cannot foreachBatch three independent streams in lockstep,
    so the streams are unioned with a ``_stream`` tag (their schemas
    are reconciled to JSON strings) and split again inside the batch —
    one logical clock, one state, one emission order.

    Delivery-order contract (same as the reference's, which consumes
    a single-partition transaction topic: DataStreamV2Job.java:70-97):
    the TRANSACTION metadata stream must arrive in commit order. The
    barrier holds a completed tx until every EARLIER-known committed
    tx emits, but it cannot know about a tx whose BEGIN/END the source
    has not delivered yet — a source that reorders tx metadata across
    micro-batches (impossible for a Kafka partition, easy for a sloppy
    file-based test double) yields emissions in that reordered
    sequence. Data-event streams carry no such requirement (events are
    carried and re-ordered per tx).

    ENFORCED since r10: the processor checks every incoming END
    against the persisted emitted-LSN high-watermark and raises on a
    regression — a broken source wiring fails loudly instead of
    silently emitting out of commit order.
    """
    tagged = (
        order_stream.select(F.lit("orders").alias("_stream"), F.to_json(F.struct("*")).alias("payload"))
        .unionByName(
            line_stream.select(F.lit("order_lines").alias("_stream"), F.to_json(F.struct("*")).alias("payload"))
        )
        .unionByName(
            tx_stream.select(F.lit("tx").alias("_stream"), F.to_json(F.struct("*")).alias("payload"))
        )
    )
    processor = TxDenormBatchProcessor(
        spark,
        state_dir,
        output_dir,
        n_buckets=n_buckets,
        emission_sink=emission_sink,
        order_delete_gc_horizon_lsn=order_delete_gc_horizon_lsn,
    )

    from streaming_examples_spark.model.envelope import (
        data_change_event_schema,
        transaction_event_schema,
    )
    from streaming_examples_spark.model.fixtures import LINE_ROW_SCHEMA, ORDER_ROW_SCHEMA

    def handle(batch: DataFrame, batch_id: int) -> None:
        orders = batch.filter(F.col("_stream") == "orders").select(
            F.from_json("payload", data_change_event_schema(ORDER_ROW_SCHEMA)).alias("e")
        ).select("e.*")
        lines = batch.filter(F.col("_stream") == "order_lines").select(
            F.from_json("payload", data_change_event_schema(LINE_ROW_SCHEMA)).alias("e")
        ).select("e.*")
        txs = batch.filter(F.col("_stream") == "tx").select(
            F.from_json("payload", transaction_event_schema()).alias("e")
        ).select("e.*")
        processor.process(orders, lines, txs, batch_id)

    return (
        tagged.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
