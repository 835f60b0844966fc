"""Monitoring surface — SURVEY.md §6's metric catalog re-expressed
over ``StreamingQuery.lastProgress``.

The reference monitors its CDC pipelines with a Prometheus/JMX stack
(postgres-replication-slots/): lag behind source, total events seen,
rows scanned, backlog. Structured Streaming exposes the equivalents
natively per micro-batch; this module maps them onto the reference's
metric names so a dashboard built for one reads the other.

  reference metric (jmx_exporter_config.yml)       here
  --------------------------------------------------------------------
  debezium_metrics_TotalNumberOfEventsSeen      →  total_events_seen
  debezium_metrics_MilliSecondsBehindSource     →  ms_behind_source
  debezium_metrics_MilliSecondsSinceLastEvent   →  ms_since_last_event
  debezium_metrics_NumberOfCommittedTransactions→  committed_transactions
  debezium_metrics_RowsScanned                  →  rows_scanned (per source)
  debezium_metrics_snapshot_RowsScanned         →  snapshot_rows_scanned
                                                   (per table, initial load)
  pg_replication_slots_..._wal_lsn_diff         →  backlog_rows (carryover)
  (connect worker throughput)                   →  last_batch_events_per_sec
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class PipelineMetrics:
    """Accumulates per-batch progress into the reference-named counters."""

    total_events_seen: int = 0
    rows_scanned: dict[str, int] = field(default_factory=dict)
    snapshot_rows_scanned: dict[str, int] = field(default_factory=dict)
    _snapshot_batches_seen: set = field(default_factory=set)
    ms_behind_source: float | None = None
    # ms_since_last_event is a derived property (see below), not a field
    committed_transactions: int = 0
    last_batch_events_per_sec: float | None = None
    backlog_rows: int = 0
    last_batch_id: int = -1
    batches: int = 0
    #: wall seconds of the last non-idle processor batch, per
    #: phase: ``intake`` (state load, intake checks, touched buckets),
    #: ``plan`` (operator plan build), ``emit`` (emission
    #: materialization), ``sink`` and ``commit`` (state writes, metric
    #: actions, pointer flip). Timed on the calling thread, no Spark job.
    last_batch_phase_s: dict[str, float] = field(default_factory=dict)
    _last_event_wall_ms: float | None = None

    def observe_progress(self, progress: dict) -> None:
        """Feed one ``StreamingQuery.lastProgress`` dict."""
        if progress is None:
            return
        batch_id = progress.get("batchId", -1)
        if batch_id == self.last_batch_id:
            return
        self.last_batch_id = batch_id
        self.batches += 1
        n = progress.get("numInputRows", 0) or 0
        self.total_events_seen += n
        for src in progress.get("sources", []) or []:
            desc = src.get("description", "unknown")
            self.rows_scanned[desc] = self.rows_scanned.get(desc, 0) + (
                src.get("numInputRows", 0) or 0
            )

    def observe_initial_load(
        self, table: str, n_rows: int, batch_id: int | None = None
    ) -> None:
        """Snapshot-phase RowsScanned analog (reference
        jmx_exporter_config.yml:12-18 tracks it per table): rows read
        per TABLE during the initial load — the processor's first
        batch over a state dir with no committed version, this
        engine's equivalent of Debezium's snapshot phase. Later
        (streaming-phase) batches feed ``rows_scanned`` instead.

        Pass ``batch_id`` from at-least-once callers: a RETRY of the
        initial batch (crash after the counts, before the state
        commit) re-observes the same rows, and accumulating them twice
        would report a 2x snapshot. Scope note: this engine's initial
        load is the first batch over a fresh state dir, not a whole
        connector snapshot phase — a snapshot split across
        micro-batches counts only its first batch here."""
        if batch_id is not None:
            if (table, batch_id) in self._snapshot_batches_seen:
                return
            self._snapshot_batches_seen.add((table, batch_id))
        self.snapshot_rows_scanned[table] = (
            self.snapshot_rows_scanned.get(table, 0) + n_rows
        )

    def observe_event_time(self, max_event_ts_ms: int | None) -> None:
        """Lag = wall clock − newest processed source timestamp (the
        MilliSecondsBehindSource analog; event ts_ms is Debezium's
        source clock). Records the wall time of the last non-empty
        batch; ms_since_last_event is derived LAZILY in snapshot() so
        an idle source keeps ticking like Debezium's continuously-
        updating MilliSecondsSinceLastEvent gauge (storing it here
        would freeze the value — stale 0.0 forever — the moment
        batches stop arriving)."""
        if max_event_ts_ms is not None:
            now_ms = time.time() * 1000
            self.ms_behind_source = max(0.0, now_ms - max_event_ts_ms)
            self._last_event_wall_ms = now_ms

    @property
    def ms_since_last_event(self) -> float | None:
        if self._last_event_wall_ms is None:
            return None
        return max(0.0, time.time() * 1000 - self._last_event_wall_ms)

    def observe_batch(self, n_events: int, duration_sec: float, n_committed_txs: int) -> None:
        """Per-batch throughput + committed-transaction counter (the
        NumberOfCommittedTransactions analog — txs that cleared the
        emission barrier this batch)."""
        self.committed_transactions += n_committed_txs
        if duration_sec > 0:
            self.last_batch_events_per_sec = round(n_events / duration_sec, 2)

    def observe_backlog(self, carryover_rows: int) -> None:
        """Carry-over (incomplete-tx) rows = retained-WAL analog."""
        self.backlog_rows = carryover_rows

    def snapshot(self) -> dict:
        return {
            "total_events_seen": self.total_events_seen,
            "ms_behind_source": self.ms_behind_source,
            "ms_since_last_event": self.ms_since_last_event,
            "committed_transactions": self.committed_transactions,
            "last_batch_events_per_sec": self.last_batch_events_per_sec,
            "rows_scanned": dict(self.rows_scanned),
            "snapshot_rows_scanned": dict(self.snapshot_rows_scanned),
            "backlog_rows": self.backlog_rows,
            "batches": self.batches,
            "last_batch_phase_s": dict(self.last_batch_phase_s),
        }


@dataclass
class DetectorMetrics:
    """Backlog/maintenance counters for ``IncrementalNearDup`` — the
    detector-side analog of the reference's replication-slot backlog
    dashboard (postgres-replication-slots panels: retained-WAL size,
    slot lag; BASELINE.md rows 5-6). The state stores ARE this
    engine's retained backlog: their growth rate tells an operator
    when the compact() cadence is falling behind, exactly like a
    swelling replication slot.

    Counter semantics: ``appended_files_last_batch`` resets at each
    ``process_batch`` start (a batch that appends nothing reads 0);
    ``appended_files_total`` is monotone per store; ``store_epoch``
    is the state dir's committed version after each locked op that
    wrote (one version holds every store; bumps = compactions
    applied). File counts come from backend listings taken
    inside the writer lock — under list-after-write lag they can run
    momentarily stale-LOW; they are operational gauges, never
    correctness inputs."""

    batches: int = 0
    compactions: int = 0
    appended_files_last_batch: dict[str, int] = field(default_factory=dict)
    appended_files_total: dict[str, int] = field(default_factory=dict)
    store_epoch: int = 0
    #: files found in a superseded epoch dir at compact-GC time that
    #: the rewrite did NOT consume — i.e. appends that landed
    #: concurrently (a remote host defeating the advisory lock) and
    #: were folded into the new epoch instead of being deleted. Any
    #: nonzero value is an operator signal that two writers share the
    #: state prefix (the single-writer contract is violated).
    folded_straggler_files: dict[str, int] = field(default_factory=dict)

    def observe_batch_start(self) -> None:
        self.appended_files_last_batch = {}

    def observe_append(self, store: str, n_files: int) -> None:
        self.appended_files_last_batch[store] = (
            self.appended_files_last_batch.get(store, 0) + n_files
        )
        self.appended_files_total[store] = (
            self.appended_files_total.get(store, 0) + n_files
        )

    def observe_epoch(self, epoch: int) -> None:
        self.store_epoch = epoch

    def snapshot(self) -> dict:
        return {
            "batches": self.batches,
            "compactions": self.compactions,
            "appended_files_last_batch": dict(self.appended_files_last_batch),
            "appended_files_total": dict(self.appended_files_total),
            "store_epoch": self.store_epoch,
            "folded_straggler_files": dict(self.folded_straggler_files),
        }

    def observe_fold(self, store: str, n_files: int) -> None:
        self.folded_straggler_files[store] = (
            self.folded_straggler_files.get(store, 0) + n_files
        )
