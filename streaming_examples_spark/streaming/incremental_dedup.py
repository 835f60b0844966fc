"""Incremental near-duplicate detection over a document stream.

The streaming counterpart of ``operators/dedup.py:minhash_lsh_pairs``:
a corpus grows batch by batch (a crawl, a feed, CDC on a documents
table) and every new document must be checked against EVERYTHING seen
so far — without ever re-scanning old text.

Design (all equi-joins, no pair space, state ∝ unique corpus):

  * The state directory keeps two append-only parquet stores:
      ``bands/``  (band_id, band_key, doc_id)   — the LSH probe index
      ``sigs/``   (doc_id, sig ARRAY<LONG>)     — MinHash signatures
    Only CANONICAL (non-duplicate) docs are stored, so state grows
    with unique content, not with stream length — re-crawled copies
    never inflate it.
  * The state dir is ONE pointer root, committed through the same
    versioned commit as the tx state store
    (``state_backend.commit_version``/``gc_versions``): each version
    ``v<E>/`` holds every store — ``sigs/``, ``bands/`` and the
    viral-cap summary ``band_hot/`` — and one pointer
    (``commit_pointer`` — the ``CURRENT`` file flip, a conditional put
    on an object store) names the committed version, so a restore sees
    ALL-old or ALL-new stores, never a mix. Appends land in the
    current version's store dirs (Spark's write commit makes the files
    appear whole); only COMPACTION builds a new version: every store is
    fully rewritten under ``v<E+1>`` before one pointer flip makes
    them live together, and the superseded version is removed whole
    after the straggler fold (the new version reads nothing from it,
    so ``state_backend``'s keep rule keeps nothing of it). No
    ``os.rename`` directory swaps anywhere — this store is the one a
    100 TB deployment must host on object storage, so the commit
    protocol carries no POSIX assumption beyond the pointer flip
    (proven by running the crash suite over ``LocalPosixBackend`` and
    its list-after-write lag double ``LaggedListingBackend``,
    tests/test_incremental_dedup.py).
  * Per batch: new docs are shingled once (`shingle_base_hashes`, one
    md5 per shingle); candidates come from an equi-join on
    (band_id, band_key) against the store AND a within-batch band
    self-join; similarity is verified on the MinHash signatures
    (matching-position fraction estimates Jaccard) — old TEXT is
    never needed, so the store stays narrow.
  * Replayed doc_ids (at-least-once sources) are dropped against
    ``sigs`` before processing: re-delivery cannot duplicate state or
    flip an earlier verdict.
  * Viral band keys (boilerplate shared by thousands of docs) are
    capped exactly like the batch LSH family (``dedup.py:_cap_buckets``,
    measured default 256): a key whose combined store+batch membership
    exceeds ``max_bucket_size`` is skipped by both the store probe and
    the within-batch self-join, so one template key accumulated in the
    store can never make every future batch pay its full fan-out. The
    membership counts are amortized — a compact-built ``band_hot``
    summary + driver-side counts of since-compact appends, never a
    per-batch store scan (see the viral-cap section below, ~4-5 %
    measured premium).

One layout: every store is plain parquet inside the version dir. Only
two things write a store — appends into the current version, and a
compaction's ``commit_version`` build (``sigs``, ``bands``, their
``band_hot`` summary and the ``_consumed.json`` straggler manifest,
published by one flip).

One on-disk format: the state dir is sealed with ``_layout.json`` =
``{"format": 1, "backend": ..., "stores": ["band_hot", "bands",
"sigs"]}`` before the first append and validated at init
(``state_backend.check_layout``). A different backend would read no
committed version and reclaim live files, a dir sealed without the
``stores`` field holds an older layout this module no longer reads
(per-store pointer roots, or the bucketed tables: SCALE_NOTES.md,
"Bucketed layout retired"), and any other on-disk shape (a dir without
the seal, an older seal) cannot be validated — all raise
``ValueError`` instead of reading the store as empty. To recover,
rebuild the state dir from the event log: move it aside and replay the
source from its start into an empty dir.

Single-writer contract: ``process_batch`` and ``compact`` take an
advisory writer lock on the state dir (``_writer.lock``) — running
them concurrently could lose appends that land in the version compact is
superseding, so the overlap raises loudly instead; a crashed local owner's lock is
broken automatically (see :meth:`compact` for the race it closes).

Reference parity: the reference has no incremental near-dup operator —
this extends its CDC-state patterns (bounded keyed state, replay
dedup: TxAware...Operator.java:357-430) to the training-data domain.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from streaming_examples_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE_P,
    band_keys_from_hashes,
    perm_constants,
    shingle_base_hashes,
    word_shingles,
)

from streaming_examples_spark.plans.inspect import advisory_partitions
from streaming_examples_spark.streaming.locks import writer_lock
from streaming_examples_spark.streaming.state_backend import (
    LocalPosixBackend,
    StateStorageBackend,
    check_layout,
    commit_version,
    committed_version,
    gc_versions,
    write_layout,
)

_SIG_SCHEMA = "doc_id long, sig array<long>"
_BAND_SCHEMA = "band_id int, band_key string, doc_id long"


#: the appended stores and their fixed read schemas, in append order:
#: bands BEFORE sigs (see _process_batch_locked)
_STORES = {"bands": _BAND_SCHEMA, "sigs": _SIG_SCHEMA}
#: the viral-cap summary store, built by every capped compaction
_HOT = "band_hot"

#: memory bound for the driver-side since-compact count cache
#: (_cap_delta): beyond this many keys, singleton entries are evicted
#: (each eviction can understate that key by 1 — the cap fires late,
#: the safe direction). The bound exists for deployments that outrun
#: the documented compact cadence; a compaction's new version resets
#: the cache against the exact rebuilt summary.
_CAP_CACHE_MAX_KEYS = 5_000_000

#: the ``_layout.json`` seal fields: one pointer root whose versions
#: hold every store, so a dir written with per-store pointer roots (or
#: the retired bucketed tables) fails ``check_layout``
_LAYOUT = {"stores": sorted((*_STORES, _HOT))}


def _data_file_names(uris) -> list[str]:
    """Sorted parquet basenames from a DataFrame.inputFiles() list."""
    return sorted(
        os.path.basename(u) for u in uris if u.endswith(".parquet")
    )


def minhash_signature(hs, n_perms: int) -> F.Column:
    """Full MinHash signature (array of per-permutation minima) over a
    precomputed base-hash array — same hash family as the LSH bands."""
    def perm_min(i: int):
        a, b = perm_constants(i)
        return F.array_min(
            F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P))
        )

    return F.array(*[perm_min(i) for i in range(n_perms)])


def estimated_jaccard(sig_a, sig_b) -> F.Column:
    """Matching-position fraction of two equal-length MinHash
    signatures — an unbiased estimator of Jaccard similarity."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches / F.size(sig_a)


class IncrementalNearDup:
    """foreachBatch processor: feed each micro-batch of (doc_id, text)
    to :meth:`process_batch`; it returns the dedup report for the batch
    and folds the batch's canonical docs into the store."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        threshold: float = 0.7,
        k: int = 3,
        n_perms: int = LSH_BANDS * LSH_ROWS,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_bucket_size: int | None = 256,
        backend: StateStorageBackend | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        #: storage primitives behind every store commit (version pointer
        #: flips, version-dir removal, logical listings) — the same seam
        #: the tx state store runs on; identity sealed in _layout.json
        #: so a state dir is only reopened by the backend that wrote it
        self.backend = backend if backend is not None else LocalPosixBackend()
        self.threshold = threshold
        self.k = k
        self.n_perms = n_perms
        self.text_col = text_col
        self.id_col = id_col
        #: viral-band guard, same measured default as the batch LSH
        #: family (``operators/dedup.py:_cap_buckets`` / SCALE_NOTES
        #: recall-vs-cap table): keys whose combined store+batch
        #: membership exceeds this are skipped by probe AND self-join;
        #: near-dups still pair through their other, selective bands.
        self.max_bucket_size = max_bucket_size
        #: backlog/maintenance gauges (store growth, appended files per
        #: batch, committed version) — the replication-slot-backlog
        #: analog; see monitoring.DetectorMetrics and store_stats()
        from streaming_examples_spark.streaming.monitoring import DetectorMetrics

        self.metrics = DetectorMetrics()
        # last post-append file count per (store, version) — saves one
        # backend LIST per append for the metrics gauge (advisory)
        self._append_count_cache: dict[tuple[str, int], int] = {}
        # build-marker fencing identity (state_backend.claim_build):
        # version builds are claimed exclusively so a second HOST (the
        # advisory lock is per-filesystem) fails loudly instead of
        # interleaving writes into the same version dir
        from streaming_examples_spark.streaming.locks import owner_token

        self._writer_token = owner_token()
        self._reset_cap_cache()
        # a fresh dir is sealed by its first append (_first_version)
        self._sealed = check_layout(self.backend, state_dir, _LAYOUT)

    # -- state layout ---------------------------------------------------
    # One pointer root, the state dir: <state_dir>/v<E>/ holds every
    # store (sigs/, bands/, band_hot/), and the backend's one pointer
    # names E. Appends write into the current version (Spark's job
    # commit makes files appear whole); only compaction builds a new
    # version and flips the pointer — the single atomic commit point,
    # with no directory rename anywhere.
    def _version(self) -> int:
        """Committed version; 0 = nothing appended yet."""
        return self.backend.read_pointer(self.state_dir)

    def _store_path(self, name: str, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version}", name)

    def _prepare_stores(self, path: str) -> None:
        """Create every store dir of the version dir ``path`` inside its
        build, so a committed version always holds all of them (empty
        ones read as empty through the fixed schema)."""
        for name in (*_STORES, _HOT):
            self.backend.prepare_dir(os.path.join(path, name))

    def _first_version(self) -> int:
        """Seal the dir and commit ``v1`` with empty store dirs — the
        first append's build. A crash before its flip leaves a ``v1``
        with no pointer, which the next locked op's GC reclaims."""
        if not self._sealed:
            write_layout(self.backend, self.state_dir, _LAYOUT)
            self._sealed = True
        commit_version(
            self.backend, self.state_dir, 1, self._writer_token,
            self._prepare_stores,
        )
        return 1

    def _gc_epochs(self) -> None:
        """Reclaim crash garbage under the writer lock
        (``state_backend.gc_versions``), retiring a superseded version
        with the straggler fold its compaction runs; a lost pointer
        raises instead of silently re-admitting every known doc."""
        gc_versions(self.backend, self.state_dir, self._writer_token, self._gc_fold)

    def _gc_fold(self, version: int) -> None:
        """The GC's retirement hook for a superseded version: the
        straggler fold, best-effort. A torn/corrupt straggler file
        (crash garbage is exactly what lands here) must not wedge every
        subsequent locked op — warn LOUDLY and reclaim without the fold
        rather than raising out of every future ``_gc_epochs``."""
        try:
            self._fold_stragglers_from_manifest(version)
        except Exception as exc:  # noqa: BLE001
            import warnings

            warnings.warn(
                f"GC-time straggler fold of {self.state_dir}/v{version} "
                f"failed ({exc!r}); reclaiming the superseded version WITHOUT "
                "the fold — unconsumed concurrent appends in it (if any) "
                "are lost"
            )

    # -- state I/O ------------------------------------------------------
    def _load_store(self, name: str, version: int) -> DataFrame:
        """Version 0 -> empty frame (first batch). A store that EXISTS
        but fails to read must raise: swallowing a corrupted parquet
        would silently reset the dedup state (every known doc
        re-admitted as canonical)."""
        schema = _STORES[name]
        if version == 0:
            return self.spark.createDataFrame([], schema)
        # The committed pointer (an object GET) is the existence
        # witness: the build prepared every store dir before the
        # pointer committed, so the dir is real. Do NOT gate this read
        # on a LIST-backed probe or enumerate the files through the
        # backend listing — list-after-write lag serves a stale view of
        # a dir Spark just appended into, and an empty read here
        # silently re-admits every known doc (found by running this
        # suite under the list-lag double: batch N+1 read batch N's
        # store as absent). Spark enumerates the data files itself:
        # appends and rewrites both land every file of a store in the
        # version's own store dir, so the dir IS the content.
        return self.spark.read.schema(schema).parquet(self._store_path(name, version))

    def read_store(self, name: str) -> DataFrame:
        """Public, backend-aware snapshot of a store's committed
        content (operational inspection and tests; mirrors the tx
        processor's ``read_state``).

        UNLOCKED reader: the returned frame is LAZY and resolves its
        files at action time — a concurrent ``compact()``/
        ``process_batch()`` can flip the version pointer and GC the
        directory it reads (the removal is immediate), failing the
        action. Run it to completion (or
        ``localCheckpoint``) before letting a writer proceed. Raises on
        a lost pointer (``state_backend.committed_version``) instead of
        reading the store as empty."""
        return self._load_store(
            name, committed_version(self.backend, self.state_dir)
        )

    def _data_files(self, path: str) -> list[str]:
        """Sorted data-file basenames of a store dir (backend listing;
        every file of a store sits in its own store dir — see
        _load_store). Can run stale-SHORT under list-after-write lag;
        every caller tolerates that (advisory gauges, fire-late cap
        counts, the best-effort straggler fold)."""
        try:
            names = self.backend.list_dir(path)
        except OSError:
            return []
        return sorted(n for n in names if n.endswith(".parquet"))

    def store_stats(self) -> dict:
        """Operational snapshot of every store's backlog — the
        replication-slot-size analog of the reference's monitoring
        stack (postgres-replication-slots dashboard; BASELINE.md rows
        5-6): the committed version, plus live data-file count and
        total bytes per store, plus the accumulated per-batch append
        counters from ``metrics``. Driver-side listings + stats, no
        Spark jobs.

        Advisory gauges: taken WITHOUT the writer lock (safe to poll
        from a monitoring thread), so a concurrent compact can shift
        the numbers mid-walk, and list-after-write lag can read them
        momentarily stale — growth TRENDS are the signal (a store
        whose files/bytes climb across polls is outrunning its
        compact() cadence, exactly like a swelling replication slot)."""
        version = self._version()
        out: dict = {"epoch": version, "stores": {}, **self.metrics.snapshot()}
        for name in (*_STORES, _HOT):
            files = n_bytes = 0
            if version:
                path = self._store_path(name, version)
                for n in self._data_files(path):
                    try:
                        n_bytes += self.backend.file_size(os.path.join(path, n))
                        files += 1
                    except OSError:
                        continue  # compacted away mid-walk
            out["stores"][name] = {"files": files, "bytes": n_bytes}
        return out

    def _append_store(self, name: str, rows: DataFrame, version: int) -> None:
        """Append ``rows`` into the committed ``version``'s store dir."""
        path = self._store_path(name, version)
        # one backend LIST per append, not two: the pre-append count is
        # the previous append's post-count when we have it (advisory
        # gauge only — a concurrent writer or a lagging listing skews
        # the delta, never a correctness input)
        key = (name, version)
        before = self._append_count_cache.get(key)
        if before is None:
            before = len(self._data_files(path))
        # lag-double hook: a DIRECT Spark write is invisible to the
        # backend, so the eventual-consistency double cannot open its
        # list-after-write window for it — tell it first (no-op on
        # real backends; see StateStorageBackend.note_spark_write)
        self.backend.note_spark_write(path)
        rows.write.mode("append").parquet(path)
        # under the lag double, note_spark_write above froze this dir's
        # listing pre-append, so the post-count can read stale-LOW (the
        # gauge is advisory — its docstring tolerates lag). Clamp to
        # the pre-count so the cached baseline never moves BACKWARD:
        # deltas then telescope correctly (a batch under-counted here
        # is picked up by the next batch's fresh pre-count) instead of
        # double-counting from a poisoned cache.
        after = max(len(self._data_files(path)), before)
        # keep one entry per store (superseded versions pruned on the spot)
        self._append_count_cache = {
            k: v for k, v in self._append_count_cache.items() if k[0] != name
        }
        self._append_count_cache[key] = after
        self.metrics.observe_append(name, max(0, after - before))
        self.metrics.observe_epoch(version)

    # -- viral-cap membership counts -------------------------------------
    # The cap needs "how many canonical docs already share this band
    # key" for the BATCH's keys. Counting that by scanning the bands
    # store is O(store) per batch — a corpus-sized scan paid for a
    # guard that almost never fires (measured ~15 %/batch, SCALE_NOTES).
    # Amortized design, costing ZERO extra writes per batch (the bands
    # store's own append files ARE the per-batch increments):
    #
    #   * compact() summarizes the bands store into ``band_hot`` — the
    #     exact member count of every key shared by ≥2 canonicals (the
    #     only keys that can ever approach the cap; singleton keys, the
    #     overwhelming majority of a deduplicated store, are omitted) —
    #     plus ``_files.json``, the list of bands data files the
    #     summary covers;
    #   * per batch, store membership = band_hot (tiny) + the DELTA
    #     bands files (those not in ``_files.json``, i.e. appended
    #     since the last compact — O(appends since compact), never
    #     O(store));
    #   * a version without a summary (never compacted, or compacted
    #     with the cap off) counts ALL its bands files — exact, slower,
    #     summarized at the next capped compact(). The summary and the
    #     bands files it covers sit in the same version and commit with
    #     one flip, so a summary can never be stale against its store.
    #
    # The counts live DRIVER-SIDE (plain dicts fed by pyarrow, zero
    # Spark stages): in-lineage variants measured 20-30 %/batch — every
    # formulation adds shuffle/broadcast stages to the probe job, and
    # at micro-batch sizes stage overhead dwarfs the tiny data. The
    # driver instead keeps
    #   _cap_hot   — band_hot's counts, reloaded when the committed
    #                version changes (one small pyarrow read per compact)
    #   _cap_delta — per-key counts of bands files appended since the
    #                summary (each file pyarrow-read ONCE per process;
    #                per batch that is just the previous batch's own
    #                appends — O(batch), not O(store))
    #   _cap_store_viral — keys whose hot+delta total already reaches
    #                the cap, maintained incrementally at refresh
    # and the batch side rides the job the batch already runs: with the
    # cap on, ``enriched``'s checkpoint is LAZY and materialized by the
    # within-batch key-count collect (measured: same cost as the eager
    # checkpoint alone). Memory: _cap_delta is O(distinct keys appended
    # since the last compact) — the compaction cadence bounds it; the
    # cold refresh after a restart reads all since-compact files once.
    #
    # Accuracy: within ±1 member of exact. Omitted singleton keys
    # (band_hot keeps only n ≥ 2) understate by ≤1 — the cap fires one
    # member late, the safe direction: a spuriously SKIPPED key would
    # be a permanent false-admit, firing late only costs bounded probe
    # fan-out. A crash-replay whose retry straddles a compact boundary
    # can count one doc in both the summary and the delta (+1, fires
    # one member early) — the cap is a fan-out heuristic, not an
    # exactness contract, and ±1 at threshold 256 is immaterial; the
    # next compact() rebuild erases all drift. Within one version a
    # retry's duplicate rows cannot double-count: a cold
    # refresh dedups (band, doc) across all delta files, and in-process
    # appends are replay-protected upstream (sigs anti-join).
    def _reset_cap_cache(self) -> None:
        self._cap_version: int | None = None
        self._cap_hot: dict[tuple[int, str], int] = {}
        self._cap_delta: dict[tuple[int, str], int] = {}
        self._cap_seen: set[str] = set()
        self._cap_store_viral: set[tuple[int, str]] = set()

    def _refresh_cap_counts(self, version: int) -> None:
        """Bring the driver-side membership counts up to date with the
        committed ``version``. Called under the writer lock, so the file
        set is stable for the whole batch. The bands listing is
        best-effort: under list-after-write lag it can run stale-SHORT,
        and a just-appended file missing from it is counted at a LATER
        refresh — the cap fires late, the safe direction (a spurious
        fire would be a permanent false admit)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cold = version != self._cap_version
        if cold:
            # a compaction committed a new version (or first refresh):
            # reload its summary, restart the delta from the files it
            # covers
            self._reset_cap_cache()
            self._cap_version = version
            hot = self._store_path(_HOT, version)
            raw = (
                self.backend.read_file(os.path.join(hot, "_files.json"))
                if version
                else None
            )
            if raw is not None:
                self._cap_seen = set(json.loads(raw))
                t = pq.read_table(hot, columns=["band_id", "band_key", "n"])
                for b, k, n in zip(*(c.to_pylist() for c in t.columns)):
                    self._cap_hot[(b, k)] = n
        bands = self._store_path("bands", version)
        new_files = [
            f
            for f in (self._data_files(bands) if version else [])
            if f not in self._cap_seen
        ]
        if new_files:
            rows = pa.concat_tables(
                [
                    pq.read_table(
                        os.path.join(bands, f),
                        columns=["band_id", "band_key", "doc_id"],
                    )
                    for f in new_files
                ]
            )
            if cold:
                # restart path: a pre-crash retry may have appended the
                # same doc's bands twice across files — dedup exactly,
                # once, here (in-process appends can't duplicate: the
                # sigs anti-join replay-protects upstream)
                rows = rows.group_by(
                    ["band_id", "band_key", "doc_id"]
                ).aggregate([])
            counted = rows.group_by(["band_id", "band_key"]).aggregate(
                [("doc_id", "count")]
            )
            cols = [counted[c].to_pylist() for c in ("band_id", "band_key", "doc_id_count")]
            for b, k, n in zip(*cols):
                key = (b, k)
                total = self._cap_delta.get(key, 0) + n
                self._cap_delta[key] = total
                if self._cap_hot.get(key, 0) + total >= self.max_bucket_size:
                    self._cap_store_viral.add(key)
            self._cap_seen.update(new_files)
            if len(self._cap_delta) > _CAP_CACHE_MAX_KEYS:
                # bound driver memory between compacts: drop singleton
                # counts first (understate ≤1 each — the cap fires one
                # member late, the safe direction; a key that matters
                # re-crosses 2 quickly and re-enters). If collision keys
                # alone exceed the bound the store is overdue for
                # compact(); warn and shed the smallest counts — the cap
                # degrades to firing late, never to skipping early.
                self._cap_delta = {
                    k: n for k, n in self._cap_delta.items() if n >= 2
                }
                if len(self._cap_delta) > _CAP_CACHE_MAX_KEYS:
                    import warnings

                    warnings.warn(
                        "incremental-dedup viral-cap cache exceeds "
                        f"{_CAP_CACHE_MAX_KEYS} keys even after singleton "
                        "eviction — the store is overdue for compact(); "
                        "shedding the smallest counts (the cap may fire "
                        "late until the next compact)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    keep = sorted(
                        self._cap_delta.items(), key=lambda kv: -kv[1]
                    )[:_CAP_CACHE_MAX_KEYS]
                    self._cap_delta = dict(keep)
        if cold and self._cap_hot:
            cap = self.max_bucket_size
            for key, n in self._cap_hot.items():
                if n + self._cap_delta.get(key, 0) >= cap:
                    self._cap_store_viral.add(key)

    # -- the batch step -------------------------------------------------
    def process_batch(self, docs: DataFrame, batch_id: int) -> DataFrame:
        """Returns (doc_id, is_dup BOOLEAN, dup_of LONG, n_candidates)
        for every doc in the batch (replayed known ids excluded), and
        appends canonical docs' signatures/bands to the store.

        ``dup_of`` is the smallest matching doc_id — from the stored
        corpus if any, else from smaller-id batch peers. Within-batch
        duplicate GROUPS point at the group's canonical only when they
        match it directly (one hop); full transitive closure is the
        batch operator ``dedup_groups``' job, not the stream's.

        Holds the state dir's writer lock for the whole batch: running
        concurrently with :meth:`compact` can silently lose store rows
        (see :meth:`compact`), so the overlap raises instead.
        """
        with writer_lock(self.state_dir, "process_batch"):
            try:
                return self._process_batch_locked(docs, batch_id)
            except BaseException:
                # a failed batch may have appended bands without sigs;
                # its in-process retry would re-append the same docs and
                # the incremental count cache would read both file sets
                # (stale-HIGH — the unsafe direction). Dropping the
                # cache forces the next refresh cold, which re-reads all
                # since-compact files WITH the global (key, doc) dedup.
                self._reset_cap_cache()
                raise

    def _process_batch_locked(self, docs: DataFrame, batch_id: int) -> DataFrame:
        self._gc_epochs()
        self.metrics.observe_batch_start()
        version = self._version()
        sigs_store = self._load_store("sigs", version)
        bands_store = self._load_store("bands", version)

        # replay protection: a doc_id already folded into the store is
        # a re-delivery — reprocessing could only repeat the verdict.
        fresh = docs.select(
            F.col(self.id_col).alias("doc_id"), F.col(self.text_col).alias("text")
        ).join(sigs_store.select("doc_id"), "doc_id", "left_anti")

        hs = shingle_base_hashes(word_shingles(F.col("text"), self.k))
        enriched = (
            fresh.select("doc_id", hs.alias("hs"))
            .withColumn("sig", minhash_signature(F.col("hs"), self.n_perms))
            .withColumn("keys", band_keys_from_hashes(F.col("hs")))
            .withColumn("n_sh", F.size("hs"))
            .drop("hs")
            # feeds probe, self-join, verify, and the store append.
            # localCheckpoint, not persist: the within-batch peer join is
            # a SELF-join on this frame, and self-join disambiguation
            # rewrites attribute ids so a cache lookup can miss — which
            # would re-shingle and re-sign the batch once per consumer
            # (same failure measured in dedup.connected_components).
            # LAZY when the cap is on: the cap's within-batch key-count
            # collect below is then the materializing action — one job
            # does both (measured: same cost as the eager checkpoint
            # alone); eager otherwise.
            .localCheckpoint(eager=self.max_bucket_size is None)
        )
        with_bands = enriched.filter(F.col("n_sh") > 0).select(
            "doc_id", "sig", F.posexplode("keys").alias("band_id", "band_key")
        )
        if self.max_bucket_size is not None:
            # viral-band cap over the UNION of store+batch membership: a
            # boilerplate key with n store members fans every future
            # batch's probe out n-fold (and a within-batch template key
            # n²-fold in the self-join). Store-side counts come from the
            # driver cache (band_hot summary + since-compact append
            # files — see _refresh_cap_counts; never a per-batch scan of
            # the corpus-sized bands store); batch-side counts ride the
            # checkpoint-materializing collect (bounded: only keys with
            # ≥2 batch members, ≤ |batch bands|/2 rows). A key is viral
            # iff store+batch total exceeds the cap:
            #   batch count ≥ 2 → exact check against the collected set;
            #   batch count = 1 → viral iff store total alone ≥ cap,
            #     which _cap_store_viral tracks incrementally.
            # Dropped from probe and self-join alike; near-dups still
            # pair via their other, selective bands (recall measured at
            # the batch family's cap: SCALE_NOTES.md, "Dedup/curation
            # capstones").
            self._refresh_cap_counts(version)
            cap = self.max_bucket_size
            base = lambda key: self._cap_hot.get(key, 0) + self._cap_delta.get(key, 0)  # noqa: E731
            viral = {
                (r["band_id"], r["band_key"])
                for r in (
                    with_bands.groupBy("band_id", "band_key")
                    .agg(F.count(F.lit(1)).alias("nb"))
                    .filter(F.col("nb") >= 2)
                    .collect()
                )
                if r["nb"] + base((r["band_id"], r["band_key"])) > cap
            }
            viral |= self._cap_store_viral
            if viral:
                viral_df = self.spark.createDataFrame(
                    sorted(viral), "band_id int, band_key string"
                )
                with_bands = with_bands.join(
                    F.broadcast(viral_df), ["band_id", "band_key"], "left_anti"
                )

        # candidates vs the stored corpus + within the batch itself
        hist = (
            with_bands.join(bands_store.withColumnRenamed("doc_id", "old_id"),
                            ["band_id", "band_key"])
            .select("doc_id", "old_id", "sig")
            .distinct()
            .join(sigs_store.select(F.col("doc_id").alias("old_id"),
                                    F.col("sig").alias("old_sig")), "old_id")
            .select("doc_id", "old_id",
                    estimated_jaccard(F.col("sig"), F.col("old_sig")).alias("j"))
        )
        peer = (
            with_bands.alias("a")
            .join(
                with_bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") > F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("b.doc_id").alias("old_id"),
                    F.col("a.sig").alias("sig"),
                    F.col("b.sig").alias("old_sig"))
            .distinct()
            .select("doc_id", "old_id",
                    estimated_jaccard(F.col("sig"), F.col("old_sig")).alias("j"))
        )
        matches = hist.unionByName(peer).filter(F.col("j") >= self.threshold)
        verdict = matches.groupBy("doc_id").agg(
            F.min("old_id").alias("dup_of"), F.count(F.lit(1)).alias("n_candidates")
        )
        report = (
            enriched.select("doc_id")
            .join(verdict, "doc_id", "left")
            .select(
                "doc_id",
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
                F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            )
            # MUST sever lineage before the store append: writing to
            # sigs/bands refreshes those paths and drops any cached plan
            # reading them — a lazily recomputed report would then
            # anti-join the batch's own canonicals away. Eager
            # localCheckpoint pins the pre-append result (and is the
            # output-before-state ordering cdc_stream uses).
            .localCheckpoint(eager=True)
        )

        canon = report.filter(~F.col("is_dup")).select("doc_id")
        if canon.isEmpty():
            # replay-only / all-dup / idle batch: nothing new to fold.
            # Skipping the appends matters operationally — a streaming
            # detector sees many idle micro-batches, and writing a
            # zero-row parquet file per store per batch bloats the file
            # count the next compaction has to chew through. isEmpty()
            # is a limit-1 probe over the already-checkpointed report.
            self.metrics.batches += 1
            return report
        new_sigs = enriched.join(canon, "doc_id").select("doc_id", "sig")
        new_bands = (
            enriched.join(canon, "doc_id")
            .filter(F.col("n_sh") > 0)
            .select("doc_id", F.posexplode("keys").alias("band_id", "band_key"))
            .select("band_id", "band_key", "doc_id")
        )
        # bands BEFORE sigs: replay protection keys on sigs, so a crash
        # between the appends must leave the doc absent from sigs (it
        # will be fully reprocessed; duplicate band rows from the retry
        # collapse in the probe's .distinct()). The reverse order would
        # leave a canonical in sigs but invisible to the probe index —
        # permanent recall loss for all its future duplicates.
        version = version or self._first_version()
        self._append_store("bands", new_bands, version)
        self._append_store("sigs", new_sigs, version)
        self.metrics.batches += 1
        # enriched is a checkpointed RDD; blocks free when the ref drops
        return report

    # -- maintenance ----------------------------------------------------
    def compact(self) -> None:
        """Rewrite ``sigs`` and ``bands`` into files of about one
        advisory partition each (``plans.inspect.advisory_partitions``
        over the store's bytes: one file for a small store), summarize
        ``bands`` into ``band_hot`` (when the cap is on) and commit all
        three as the next version.

        Append-only parquet accumulates one file-set per batch; after N
        micro-batches the probe join opens O(N) small files. Periodic
        compaction (call it every ~100 batches, or from a maintenance
        job) restores O(1) file count. The rewrite is ONE
        ``state_backend.commit_version`` build — the tx store's own
        claim, build, flip and retirement: every store is FULLY written
        under the next version dir, together with ``_consumed.json``
        (each store's consumed file list), before one backend pointer
        flip makes them live together. A crash before the flip leaves
        the committed version untouched; a crash after it leaves every
        store at the new version (pre-flip garbage and the superseded
        version are GC'd by ``_gc_epochs`` at the next locked
        operation, the latter after its straggler fold). At 100 TB this
        is the compaction pass of any LSM-ish table format — no
        directory renames, so the store hosts on object storage
        unchanged. The rewrite also drops duplicate rows a crashed
        batch's retry or a straggler fold may have appended.

        Holds the state dir's advisory writer lock
        (``locks.writer_lock``, which also holds the acquisition and
        stale-break mechanics) for the whole pass, making this and
        :meth:`process_batch` mutually exclusive on one state dir. The
        race it closes: the rewrite builds the NEXT version from a
        snapshot of the current one — an append that lands in the
        CURRENT version between that snapshot and the pointer flip is
        absent from the rewrite and reclaimed with the superseded
        version, silently losing those canonical docs from the store
        (and, for ``sigs``, their replay protection). The operational
        contract is therefore one writer at a time: the stream OR the
        maintenance job — and that contract SPANS HOSTS. The lock is
        per-filesystem and cannot order two hosts on an object store.
        What the build-marker fencing (state_backend.claim_build,
        validated before every pointer flip) adds on top: two hosts
        COMPACTING concurrently fail loudly — the second claimer loses
        the conditional put, a GC'd-and-reclaimed builder fails its
        commit-time validation, and the version GC refuses to reclaim a
        remote host's live claim — so no dual-compact schedule can
        publish an interleaved version. The append-vs-remote-compact
        race (appends never touch the pointer or a marker) gets a
        best-effort HEAL, not a fence: compact diffs the superseded
        version's post-flip listing against the file set its rewrite
        consumed and folds stragglers into the new version
        (:meth:`_fold_stragglers`) — but a straggler the lagging
        listing hides is still lost, and a reclaimed builder's
        still-running Spark tasks can still write into a new owner's
        dir; closing those fully needs time-bound leases. Multi-host
        deployments must still enforce single-writer externally (one
        owner per state prefix — the same rule every LSM table format
        imposes), with the markers as the defense-in-depth that turns
        most violations into loud errors.
        """
        with writer_lock(self.state_dir, "compact"):
            self._compact_locked()
            self.metrics.compactions += 1
            self.metrics.observe_epoch(self._version())

    def _compact_locked(self) -> None:
        self._gc_epochs()
        cur = self._version()
        if cur == 0:
            return  # nothing appended yet

        def write(path: str) -> None:
            self._prepare_stores(path)
            consumed = {}
            for name in _STORES:
                # the rewrite source is the store's own read path —
                # Spark's file enumeration, not a backend LIST (which
                # would run stale-SHORT under list-after-write lag and
                # silently drop just-appended rows from the rewrite).
                # The consumed set is the frame's OWN inputFiles()
                # snapshot: exactly what the write consumes, which the
                # straggler fold diffs the superseded dir against
                src = self._load_store(name, cur)
                consumed[name] = _data_file_names(src.inputFiles())
                out = os.path.join(path, name)
                self.backend.note_spark_write(out)  # lag-double hook
                rows = src.dropDuplicates()  # heal append-retry duplicates
                # an unknown size keeps the shuffle's own partitioning
                n_files = advisory_partitions(self.spark, [(src, 1)])
                if n_files is not None:
                    rows = rows.repartition(n_files)
                rows.write.mode("overwrite").parquet(out)
            if self.max_bucket_size is not None:
                self._write_hot(path)
            # underscore-prefixed, so invisible to parquet readers; a
            # crash between the flip and the superseded version's
            # removal hands that dir to the next _gc_epochs, which re-runs
            # the straggler fold from this manifest instead of deleting
            # unconsumed appends blind. publish_file/read_file keep the
            # write/read seam symmetric across backends.
            self.backend.publish_file(
                os.path.join(path, "_consumed.json"),
                json.dumps(
                    {"superseded_epoch": cur, "consumed": consumed}
                ).encode(),
            )

        commit_version(
            self.backend, self.state_dir, cur + 1, self._writer_token,
            write, self._fold_stragglers_from_manifest,
        )

    def _write_hot(self, path: str) -> None:
        """Build the viral-cap summary of the version dir ``path`` from
        its just-rewritten bands files: the member count of every key
        with ≥2 canonical members — tiny in a deduplicated store — plus
        ``_files.json``, the bands files the summary covers, so the
        per-batch check reads only files appended later."""
        bands = self.spark.read.schema(_BAND_SCHEMA).parquet(
            os.path.join(path, "bands")
        )
        # Coverage = the files the aggregation below actually reads,
        # taken from the frame's OWN file enumeration. The backend
        # listing would be wrong here: under list-after-write lag it
        # runs stale-SHORT right after the rewrite, and a summary
        # covering FEWER files than it aggregated makes the per-batch
        # refresh delta-count those files on top of the summary —
        # double-counted members, spurious virality, permanently
        # skipped probes (the unsafe direction).
        files = _data_file_names(bands.inputFiles())
        out = os.path.join(path, _HOT)
        self.backend.note_spark_write(out)  # lag-double hook
        (
            bands.groupBy("band_id", "band_key")
            # the rewrite dropped duplicate rows: one row per member
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(out)
        )
        self.backend.publish_file(
            os.path.join(out, "_files.json"), json.dumps(files).encode()
        )

    def _fold_stragglers_from_manifest(self, stray_epoch: int) -> None:
        """The straggler fold of a superseded version dir, run at its
        retirement: by the compaction right after its flip, or by the
        GC when a crash came in between. Reads the consumed manifest
        the compaction persisted in the CURRENT version dir; folds only
        when the manifest names exactly this superseded version —
        otherwise (the first version, or a stray older than cur-1,
        unreachable by the normal protocol) the dir is removed without
        a fold and the listing-lag caveat of :meth:`_fold_stragglers`
        applies. Idempotent-with-duplicates: a crash between this fold
        and the dir removal re-folds the same files next GC; the
        duplicate rows are the store protocol's tolerated kind
        (collapsed by the probe's distinct / the next compact's
        dropDuplicates)."""
        cur = self._version()
        # read through the backend's read_file seam — the symmetric
        # half of the publish_file that wrote it (r11 ADVICE: a raw
        # open() against a backend whose publish_file lands bytes
        # elsewhere silently degrades to blind removal)
        raw = self.backend.read_file(
            os.path.join(self.state_dir, f"v{cur}", "_consumed.json")
        )
        if raw is None:
            return  # v1, the first append's build, consumed nothing
        try:
            manifest = json.loads(raw)
        except ValueError:
            return  # torn/corrupt manifest: degrade to blind removal
        # NOTE (r12 contract change): a NON-absence read error (e.g.
        # PermissionError — read_file maps only FileNotFoundError to
        # None) now PROPAGATES instead of degrading: aborting the GC
        # retains the superseded dir, and the fold retries at the next
        # pass — strictly safer than the pre-r12 blind removal, which
        # could delete a remote host's unconsumed appends.
        if manifest.get("superseded_epoch") != stray_epoch:
            return
        for name in _STORES:  # bands before sigs, as the appends
            self._fold_stragglers(
                name, stray_epoch, manifest["consumed"][name], cur
            )

    def _fold_stragglers(
        self, name: str, stray_epoch: int, consumed: list[str], cur: int
    ) -> None:
        """Detect-and-fold the append-vs-remote-compact race (the gap
        the r10 build markers deliberately left open — markers fence
        COMPACTS, but appends never touch the pointer or a marker):
        any data file present in the superseded version's store dir
        that the just-committed rewrite did not consume was appended
        concurrently by a second writer the advisory lock could not
        see (a remote host). Deleting the dir would silently lose
        those rows — permanent recall loss for every future duplicate
        of the affected docs. Instead, re-append their rows to the
        committed version ``cur`` through the standard append path and
        count the fold in ``metrics.folded_straggler_files`` — any
        nonzero value means the single-writer contract is being
        violated and the operator must intervene.

        Best-effort, not a guarantee: under list-after-write lag the
        post-flip listing can miss a just-landed straggler (closing
        that needs time-bound leases — documented in :meth:`compact`).
        Duplicate rows a fold could introduce are the store protocol's
        tolerated kind (band dups collapse in the probe's distinct;
        the next full compact's dropDuplicates heals both stores)."""
        old_path = self._store_path(name, stray_epoch)
        consumed_set = set(consumed)
        extra = [n for n in self._data_files(old_path) if n not in consumed_set]
        if not extra:
            return
        rows = self.spark.read.schema(_STORES[name]).parquet(
            *(os.path.join(old_path, n) for n in extra)
        )
        self._append_store(name, rows, cur)
        self.metrics.observe_fold(name, len(extra))
