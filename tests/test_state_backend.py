"""The storage seam, proven on the shipped backend and under lag.

`StateStorageBackend` (streaming/state_backend.py) documents an
object-store translation of the versioned pointer-commit protocol.
`LocalPosixBackend` is the one shipped backend; `LaggedListingBackend`
is its test double with list-after-write lag, so a protocol that
resolved anything by a fresh listing would fail under it. This module
drives the SAME lifecycle + crash-window suite through both, with the
crash injected at the seam (the backend methods), not at POSIX
primitives, and with tripwires proving no state file is linked,
copied or renamed: the tx store carries untouched buckets by
reference in its `_parts.json`.

Reference parity: the reference delegates equivalent durability to
Flink checkpoints + Kafka (transactional-cdc-processing
DataStreamV2Job.java:62-65 sync hashmap state backend); this engine
owns its state files, so it owns — and must prove — the protocol.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from streaming_examples_spark.model.fixtures import TxLog
from streaming_examples_spark.streaming.cdc_stream import TxDenormBatchProcessor
from streaming_examples_spark.streaming.state_backend import (
    LaggedListingBackend,
    LocalPosixBackend,
)

BACKENDS = {
    "posix": LocalPosixBackend,
    # list-after-write lag (the classic object-store hazard): every
    # LIST-backed read serves a stale view for 5 operations after a
    # mutation; GETs stay fresh. The same suite must hold — the
    # protocol may never depend on a listing reflecting a just-issued
    # write (the GC and its keep rule, bucket loads). The id keeps the
    # name it had when the double wrapped the retired generation-pointer
    # backend, so test ids stay stable across the consolidation.
    "manifest-lagged": LaggedListingBackend,
}


@pytest.fixture(params=sorted(BACKENDS))
def backend_cls(request):
    return BACKENDS[request.param]


def _seed_log(n=8, base=30000):
    log = TxLog()
    for i in range(n):
        oid = base + i
        log.tx(
            lambda t, oid=oid: t.insert_order(oid),
            lambda t, oid=oid: t.insert_line(oid * 10, oid, price="5.00"),
        )
    return log


def _dfs(spark, log):
    return (
        log.order_events_df(spark),
        log.line_events_df(spark),
        log.tx_events_df(spark),
    )


def _one_line_tx(lsn, tx, line_id, order_id, price):
    log = TxLog()
    log._lsn, log._next_tx = lsn, tx
    log.tx(lambda t: t.insert_line(line_id, order_id, price=price))
    return log


def _crash_once(obj, method, should, exc_msg="injected crash"):
    """Wrap a backend method on the INSTANCE: raise once when `should`
    matches, pass through otherwise — the seam-level analog of the
    os.replace/os.link monkeypatching the POSIX-specific tests do."""
    real = getattr(obj, method)
    state = {"armed": True}

    def wrapper(*a, **kw):
        if state["armed"] and should(*a, **kw):
            state["armed"] = False
            raise RuntimeError(exc_msg)
        return real(*a, **kw)

    setattr(obj, method, wrapper)
    return state


# -- lifecycle: multi-batch, carry chains, restart -----------------------


@pytest.mark.slow
def test_lifecycle_carry_chain_and_restart(spark, tmp_path, backend_cls):
    """Three batches where most buckets go UNTOUCHED twice in a row
    (their ``_parts.json`` entries keep naming ``v1`` through v2 and
    v3, so v1 must outlive two retirements), then a fresh processor
    restarts over the same state dir and both old and new keys
    resolve."""
    state = str(tmp_path / "state")
    proc = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    assert proc.process(*_dfs(spark, _seed_log()), batch_id=0).count() == 8

    # batches 1 and 2 each touch ONE order: 30000's bucket twice
    d1 = proc.process(
        *_dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00")), batch_id=1
    ).collect()
    assert sorted(str(l["price"]) for l in d1[0]["lines"]) == ["5.00", "9.00"]
    d2 = proc.process(
        *_dfs(spark, _one_line_tx(95000, 950, 300002, 30000, "2.00")), batch_id=2
    ).collect()
    assert sorted(str(l["price"]) for l in d2[0]["lines"]) == ["2.00", "5.00", "9.00"]

    # restart: a DIFFERENT order whose bucket has been carried through
    # v1→v2→v3 must still see its batch-0 state
    fresh = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    d3 = fresh.process(
        *_dfs(spark, _one_line_tx(99000, 990, 300073, 30007, "3.00")), batch_id=3
    ).collect()
    assert len(d3) == 1
    assert sorted(str(l["price"]) for l in d3[0]["lines"]) == ["3.00", "5.00"]

    # state inspection sees EVERY key — written and carried buckets
    # alike (a raw spark.read on the version dir would miss the
    # carried buckets, which live in v1)
    keys = {
        r["order_key"]
        for r in fresh.read_state("order_state").select("order_key").collect()
    }
    assert keys == {30000 + i for i in range(8)}


@pytest.mark.slow
def test_state_files_never_linked_copied_or_renamed(
    spark, tmp_path, monkeypatch, backend_cls
):
    """The object-store constraint, enforced with tripwires: run the
    carry-heavy lifecycle while os.link on state files, any directory
    rename and shutil's copies and moves raise unconditionally — the
    batches must still commit, so the store provably used none of them. Untouched
    buckets are carried by reference: the committed ``_parts.json``
    resolves them to the older version dir that wrote them."""
    state = str(tmp_path / "state")
    real_link, real_rename, real_replace = os.link, os.rename, os.replace

    def no_link(src, dst, **kw):
        if not os.path.basename(str(dst)).startswith("_writer.lock"):
            raise AssertionError(f"hardlink attempted on state file: {dst}")
        return real_link(src, dst, **kw)  # writer lock's claim stays legal

    def no_dir_rename(real):
        def guard(src, dst, **kw):
            if os.path.isdir(src):
                raise AssertionError(f"directory rename attempted: {src}")
            return real(src, dst, **kw)

        return guard

    def forbidden(name):
        def trip(*a, **kw):
            raise AssertionError(f"{name} attempted: {a}")

        return trip

    monkeypatch.setattr("os.link", no_link)
    monkeypatch.setattr("os.rename", no_dir_rename(real_rename))
    monkeypatch.setattr("os.replace", no_dir_rename(real_replace))
    for name in ("move", "copy", "copy2", "copyfile", "copytree"):
        monkeypatch.setattr(f"shutil.{name}", forbidden(f"shutil.{name}"))

    proc = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    assert proc.process(*_dfs(spark, _seed_log()), batch_id=0).count() == 8
    docs = proc.process(
        *_dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00")), batch_id=1
    ).collect()
    assert sorted(str(l["price"]) for l in docs[0]["lines"]) == ["5.00", "9.00"]
    # the carried buckets are references, not copies: the committed
    # part map names v1 for them, and the new version dir has no bytes
    # of theirs
    cur = proc._current_version()
    carried = [
        (frame, part, owner)
        for frame, parts in proc._parts(cur).items()
        for part, owner in parts.items()
        if owner != cur
    ]
    assert carried and {owner for _, _, owner in carried} == {1}
    for frame, part, owner in carried:
        assert os.path.isdir(os.path.join(state, f"v{owner}", frame, part))
        assert not os.path.exists(os.path.join(state, f"v{cur}", frame, part))


def _retained(state, proc):
    """(named, on_disk) for every superseded version dir: the
    ``(frame, part)`` pairs the committed ``_parts.json`` names with
    that owner, and the data-bearing entries of each frame dir the
    version still holds on disk (writer-internal files left out, as
    ``list_dir`` leaves them)."""
    cur = proc._current_version()
    named: dict[int, set] = {}
    for frame, parts in proc._parts(cur).items():
        for part, owner in parts.items():
            if owner != cur:
                named.setdefault(owner, set()).add((frame, part))
    on_disk: dict[int, set] = {}
    for e in os.listdir(state):
        if e.startswith("v") and e[1:].isdigit() and int(e[1:]) != cur:
            vdir = os.path.join(state, e)
            on_disk[int(e[1:])] = {
                (frame, entry)
                for frame in os.listdir(vdir)
                if os.path.isdir(os.path.join(vdir, frame))
                for entry in os.listdir(os.path.join(vdir, frame))
                if not entry.startswith(".")
                and not (entry.startswith("_") and "=" not in entry)
            }
    return named, on_disk


@pytest.mark.slow
def test_retirement_keeps_exactly_the_parts_the_committed_sidecar_names(
    spark, tmp_path, backend_cls
):
    """The keep rule, applied by commit_version's retirement and by the
    GC alike: a superseded version loses everything but the parts the
    committed ``_parts.json`` names with it as owner.

    * a crash between the flip and the retirement leaves the superseded
      dir whole; the next batch's GC keeps exactly the named parts;
    * a later batch that rewrites such a bucket releases its part, and
      the next GC drops it;
    * a committed sidecar that cannot be read aborts the GC before it
      removes anything."""
    from tests.conftest import tree_digest

    from streaming_examples_spark.streaming.state_backend import gc_versions

    def fresh():
        return TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())

    state, proc = _first_batch(spark, tmp_path, backend_cls())
    v1 = os.path.join(state, "v1")
    _crash_once(
        proc.backend, "remove_tree", lambda path: str(path).startswith(v1 + os.sep)
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        proc.process(
            *_dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00")), batch_id=1
        )
    assert backend_cls().read_pointer(state) == 2
    assert os.path.isdir(os.path.join(v1, "applied_txs"))  # retirement never ran

    # the next batch's GC retires v1 by the keep rule
    bucket = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(30000 + i,) for i in range(8)], "k long")
        .select("k", proc._bucket_of(F.col("k")).alias("b"))
        .collect()
    }
    other = next(k for k in sorted(bucket) if bucket[k] != bucket[30000])
    assert fresh().process(
        *_dfs(spark, _one_line_tx(95000, 950, 300002, 30000, "2.00")), batch_id=2
    ).count() == 1
    named, on_disk = _retained(state, fresh())
    assert named[1] and named == on_disk
    assert not os.path.exists(os.path.join(v1, "applied_txs"))

    # rewriting `other`'s bucket releases v1's part; the next GC drops it
    gone = ("order_state", f"_bucket={bucket[other]}")
    assert gone in named[1]
    proc = fresh()
    docs = proc.process(
        *_dfs(spark, _one_line_tx(97000, 970, other * 10 + 1, other, "3.00")),
        batch_id=3,
    ).collect()
    assert sorted(str(l["price"]) for l in docs[0]["lines"]) == ["3.00", "5.00"]
    proc = fresh()
    gc_versions(proc.backend, state, proc._writer_token, parts=proc._parts)
    named, on_disk = _retained(state, proc)
    assert gone not in named.get(1, set()) and named == on_disk
    assert not os.path.exists(os.path.join(v1, *gone))
    keys = {r["order_key"] for r in proc.read_state("order_state").collect()}
    assert keys == set(bucket)

    # an unreadable committed sidecar: the sweep raises before it
    # removes anything, crash garbage above the pointer included
    cur = proc._current_version()
    os.makedirs(os.path.join(state, f"v{cur + 1}", "carry_txs"))
    with open(os.path.join(state, f"v{cur + 1}", "carry_txs", "part-0.parquet"), "wb") as fh:
        fh.write(b"crash garbage")
    os.remove(os.path.join(state, f"v{cur}", "_parts.json"))
    before = tree_digest(state)
    with pytest.raises(ValueError, match="rebuild the state dir"):
        gc_versions(proc.backend, state, proc._writer_token, parts=proc._parts)
    assert tree_digest(state) == before
    assert os.path.isdir(os.path.join(state, f"v{cur + 1}", "carry_txs"))


def test_pointer_resolution_with_permanently_stale_listing(tmp_path):
    """Commits through a lag window so wide the state dir's listing
    never reflects ANY of them: read_pointer must still resolve the
    newest commit, because it is a GET of ``CURRENT``, never a LIST."""
    state = str(tmp_path / "state")
    os.makedirs(state)
    lag = LaggedListingBackend(lag_ops=10_000)
    for v in (11, 22, 33):
        lag.commit_pointer(state, v)
    # the stale view really is open: the listing still shows no pointer
    assert lag.list_dir(state) == []
    assert lag.read_pointer(state) == 33
    assert LocalPosixBackend().read_pointer(state) == 33


def test_backends_exclude_writer_sidecars_from_logical_namespace(tmp_path):
    """Hadoop checksum files (.part-*.crc), _SUCCESS markers and
    sidecars are writer-internal: list_dir leaves them out, so the
    keep rule and the detector's file counts never see them. Partition
    dirs (_bucket=K) are data-bearing despite the underscore and must
    survive the filter."""
    d = tmp_path / "bucket"
    d.mkdir()
    (d / "part-0001.parquet").write_bytes(b"x")
    (d / ".part-0001.parquet.crc").write_bytes(b"c")
    (d / "_SUCCESS").write_bytes(b"")
    (d / "_bucket=3").mkdir()
    for be in (LocalPosixBackend(), LaggedListingBackend()):
        assert be.list_dir(str(d)) == ["_bucket=3", "part-0001.parquet"], type(be)


# -- crash windows, injected at the seam ---------------------------------


def _first_batch(spark, tmp_path, backend):
    state = str(tmp_path / "state")
    proc = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend)
    assert proc.process(*_dfs(spark, _seed_log()), batch_id=0).count() == 8
    return state, proc


@pytest.mark.slow
def test_crash_during_carry_replays_complete_old_state(
    spark, tmp_path, backend_cls
):
    """The carry is the ``_parts.json`` publish: it raises, the
    pointer never flips, the replay sees complete OLD state and
    converges — for every backend."""
    state, proc = _first_batch(spark, tmp_path, backend_cls())
    _crash_once(
        proc.backend,
        "publish_file",
        lambda path, data: os.path.basename(path) == "_parts.json",
    )
    batch = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    with pytest.raises(RuntimeError, match="injected crash"):
        proc.process(*batch, batch_id=1)

    fresh = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    docs = fresh.process(*batch, batch_id=1).collect()
    assert len(docs) == 1
    assert sorted(str(l["price"]) for l in docs[0]["lines"]) == ["5.00", "9.00"]
    # untouched keys survived the crash + replay
    d2 = fresh.process(
        *_dfs(spark, _one_line_tx(95000, 950, 300073, 30007, "3.00")), batch_id=2
    ).collect()
    assert sorted(str(l["price"]) for l in d2[0]["lines"]) == ["3.00", "5.00"]


@pytest.mark.slow
def test_crash_at_commit_replays_and_reemits(spark, tmp_path, backend_cls):
    """commit_pointer raises before committing: every frame of the new
    version is on disk but the batch is NOT committed — the replay
    must re-run in full and re-emit (at-least-once), with no
    mixed-frame view."""
    state, proc = _first_batch(spark, tmp_path, backend_cls())
    _crash_once(proc.backend, "commit_pointer", lambda *a, **kw: True)
    batch = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    with pytest.raises(RuntimeError, match="injected crash"):
        proc.process(*batch, batch_id=1)
    assert backend_cls().read_pointer(state) == 1  # still the old version

    fresh = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    docs = fresh.process(*batch, batch_id=1).collect()
    assert len(docs) == 1  # re-emitted, exactly the once for the replay
    assert sorted(str(l["price"]) for l in docs[0]["lines"]) == ["5.00", "9.00"]
    assert backend_cls().read_pointer(state) == 2


@pytest.mark.slow
def test_crash_after_commit_filters_replay(spark, tmp_path, backend_cls):
    """remove_tree raises during post-commit cleanup: state is
    committed, so the replayed batch is dropped by the applied-txs
    filter (its output already reached the sink) and the leftover
    superseded version is GC'd by the next batch. v1 still owns the
    untouched buckets, so its retirement removes entries under it."""
    state, proc = _first_batch(spark, tmp_path, backend_cls())
    v1 = os.path.join(state, "v1")
    _crash_once(
        proc.backend,
        "remove_tree",
        lambda path: str(path).startswith(v1 + os.sep)
        and proc.backend.read_pointer(state) == 2,
    )
    batch = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    with pytest.raises(RuntimeError, match="injected crash"):
        proc.process(*batch, batch_id=1)
    assert backend_cls().read_pointer(state) == 2  # commit stuck

    fresh = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend_cls())
    assert fresh.process(*batch, batch_id=2).count() == 0  # replay filtered
    d = fresh.process(
        *_dfs(spark, _one_line_tx(95000, 950, 300002, 30000, "2.00")), batch_id=3
    ).collect()
    assert sorted(str(l["price"]) for l in d[0]["lines"]) == ["2.00", "5.00", "9.00"]


@pytest.mark.slow
def test_tx_metadata_order_regression_raises_not_silent(
    spark, tmp_path, backend_cls
):
    """The tx-metadata delivery-order contract, ENFORCED: an END whose
    commit LSN is at or below the already-emitted high-watermark must
    fail LOUDLY (the composed e2e's mtime-tie trap showed a reordering
    source otherwise yields silently out-of-commit-order emissions —
    cdc_stream contract docs; the reference is immune via its
    single-partition tx topic, DataStreamV2Job.java:70-97). The
    watermark sidecar rides _store_all's single commit point, so the
    check also holds across a restart; at-least-once REPLAY of an
    applied tx must NOT trip it (anti-joined away before the check)."""
    state, proc = _first_batch(spark, tmp_path, backend_cls())
    # batch 1 at high LSNs emits and advances the watermark to ~90k
    batch1 = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    assert proc.process(*batch1, batch_id=1).count() == 1

    # REPLAY control: redelivering batch 1 verbatim (applied tx) is
    # at-least-once business as usual — dropped, never an order error
    assert proc.process(*batch1, batch_id=2).count() == 0

    # regression: a tx whose END carries a LOWER commit LSN than the
    # emitted watermark arrives in a later batch
    late = _dfs(spark, _one_line_tx(50000, 400, 300002, 30001, "1.00"))
    with pytest.raises(RuntimeError, match="delivery-order violation"):
        proc.process(*late, batch_id=3)

    # the check fires BEFORE any emission or state write: a fresh
    # processor (restart) sees uncorrupted state, re-raises on the
    # same reordered feed, and a conforming batch still goes through
    fresh = TxDenormBatchProcessor(
        spark, state, n_buckets=8, backend=backend_cls()
    )
    with pytest.raises(RuntimeError, match="delivery-order violation"):
        fresh.process(*late, batch_id=3)
    ok = fresh.process(
        *_dfs(spark, _one_line_tx(95000, 950, 300003, 30000, "2.00")),
        batch_id=4,
    ).collect()
    assert sorted(str(l["price"]) for l in ok[0]["lines"]) == [
        "2.00",
        "5.00",
        "9.00",
    ]


@pytest.mark.slow
def test_dual_writer_build_fencing_tx_store(spark, tmp_path, monkeypatch):
    """Two-host schedule over one tx store (the
    advisory lock is per-filesystem — defeated here to model separate
    hosts): (1) a REMOTE builder's claim on the next version dir makes
    the local batch raise 'dual-writer detected' instead of GC'ing and
    interleaving writes; the documented manual heal (remove the
    builder marker of a known-dead host) unblocks. (2) A builder whose
    version dir is reclaimed mid-build (GC + re-claim by a second
    same-host writer once the lock is defeated) must fail its
    commit-time claim validation — never publish a dir it no longer
    owns. State stays all-old-or-all-new throughout."""
    import contextlib

    from streaming_examples_spark.streaming import locks as locks_mod

    monkeypatch.setattr(
        locks_mod, "writer_lock", lambda *a, **kw: contextlib.nullcontext()
    )
    state = str(tmp_path / "state")
    procA = TxDenormBatchProcessor(
        spark, state, n_buckets=8, backend=LocalPosixBackend()
    )
    assert procA.process(*_dfs(spark, _seed_log()), batch_id=0).count() == 8

    # (1) remote host mid-build: its claim blocks the local writer
    b = LocalPosixBackend()
    v2 = os.path.join(state, "v2")
    b.claim_build(v2, "hostB:1:feedface")
    # hostB's in-flight writes must survive the refusal: the refuse
    # runs BEFORE any GC of the contested dir (delete-then-refuse
    # would gut a dir hostB's intact marker still lets it commit)
    b.prepare_dir(v2)
    sentinel = os.path.join(v2, "part-hostB-0000.parquet")
    b.publish_file(sentinel, b"hostB-in-flight")
    batch1 = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    with pytest.raises(RuntimeError, match="dual-writer detected"):
        procA.process(*batch1, batch_id=1)
    assert b.read_pointer(state) == 1  # nothing committed, state intact
    assert os.path.exists(sentinel)  # hostB's build untouched
    b.release_build(v2)  # operator: hostB is dead — remove its marker
    b.remove_tree(v2)  # operator clears the dead build too
    assert procA.process(*batch1, batch_id=1).count() == 1
    assert b.read_pointer(state) == 2

    # (2) mid-build reclaim: B runs a FULL batch between A's claim and
    # A's commit-time validation (B's GC reclaims A's same-host claim —
    # legitimate only because the lock normally forbids this schedule)
    procB = TxDenormBatchProcessor(
        spark, state, n_buckets=8, backend=LocalPosixBackend()
    )
    # A's tx carries the HIGHER commit LSN: after B's tx emits first,
    # A's retry still satisfies the (also enforced) commit-order intake
    batchA = _dfs(spark, _one_line_tx(99000, 990, 300002, 30000, "2.00"))
    batchB = _dfs(spark, _one_line_tx(97000, 970, 300003, 30001, "3.00"))
    real_validate = procA.backend.validate_build
    fired = {"done": False}

    def hijack(path, owner):
        if not fired["done"]:
            fired["done"] = True
            procB.process(*batchB, batch_id=7)
        return real_validate(path, owner)

    monkeypatch.setattr(procA.backend, "validate_build", hijack)
    with pytest.raises(RuntimeError, match="build fencing violation"):
        procA.process(*batchA, batch_id=6)
    # B's commit won; the store is ALL-B for that version — and a
    # fresh processor (A's retry) lands cleanly on top
    assert b.read_pointer(state) == 3
    fresh = TxDenormBatchProcessor(
        spark, state, n_buckets=8, backend=LocalPosixBackend()
    )
    d = fresh.process(*batchA, batch_id=8).collect()
    assert sorted(str(l["price"]) for l in d[0]["lines"]) == [
        "2.00",
        "5.00",
        "9.00",
    ]


class _ForeignSealBackend(LocalPosixBackend):
    """The posix primitives under another seal id: stands in for any
    backend other than the one the engine opens."""

    layout_id = "foreign"


def test_cross_backend_reopen_refused(spark, tmp_path):
    """The layout seals the layout_id of the backend that committed the
    dir, and an opener with another id must RAISE with the rebuild hint
    in both directions: a backend that keeps its commit pointer
    elsewhere would read version 0, treat live state as fresh, and the
    batch-start GC would delete the committed versions as garbage. The
    refused open deletes nothing: the sealed backend resumes on it."""
    log = TxLog()
    log.tx(lambda t: t.insert_order(10001), lambda t: t.insert_line(100001, 10001))
    b0 = _dfs(spark, log)
    for committer, reopener in (
        (LocalPosixBackend, _ForeignSealBackend),
        (_ForeignSealBackend, LocalPosixBackend),
    ):
        state = str(tmp_path / f"state_{committer.layout_id}")
        proc = TxDenormBatchProcessor(spark, state, n_buckets=4, backend=committer())
        assert proc.process(*b0, batch_id=0).count() == 1
        wrong = TxDenormBatchProcessor(spark, state, n_buckets=4, backend=reopener())
        with pytest.raises(ValueError, match="storage backend") as exc:
            wrong.process(*b0, batch_id=1)
        assert "rebuild the state dir from the event log" in str(exc.value)
        again = TxDenormBatchProcessor(spark, state, n_buckets=4, backend=committer())
        assert again.process(*b0, batch_id=1).count() == 0  # replay filtered


@pytest.mark.slow
def test_orphans_reclaimed_and_versions_bounded(spark, tmp_path):
    """Retained versions must CONVERGE, not accumulate: once later
    batches rewrite the buckets whose parts an old version still
    owned, a subsequent GC pass reclaims that version dir entirely,
    and across a long alternating run the number of version dirs stays
    bounded (current + still-owning + at most one awaiting its next
    GC) — the orphan-file story of any manifest table format."""
    import re

    state = str(tmp_path / "state")
    proc = TxDenormBatchProcessor(spark, state, n_buckets=2)

    # two keys provably in DIFFERENT buckets of 2
    cand = [30000 + i for i in range(8)]
    buckets = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in cand], "k long")
        .select("k", proc._bucket_of(F.col("k")).alias("b"))
        .collect()
    }
    key_a = cand[0]
    key_b = next(k for k in cand if buckets[k] != buckets[key_a])

    log = TxLog()
    for oid in (key_a, key_b):
        log.tx(
            lambda t, oid=oid: t.insert_order(oid),
            lambda t, oid=oid: t.insert_line(oid * 10, oid, price="5.00"),
        )
    assert proc.process(*_dfs(spark, log), batch_id=0).count() == 2

    def version_dirs():
        return sorted(
            d for d in os.listdir(state)
            if re.fullmatch(r"v\d+", d) and os.path.isdir(os.path.join(state, d))
        )

    lsn, tx, line = 90000, 900, 300001
    for i in range(1, 7):
        key = key_a if i % 2 else key_b
        out = proc.process(
            *_dfs(spark, _one_line_tx(lsn, tx, line, key, "1.00")), batch_id=i
        )
        assert out.count() == 1
        vdirs = version_dirs()
        assert len(vdirs) <= 3, vdirs  # bounded, never accumulating
        lsn, tx, line = lsn + 5000, tx + 50, line + 1
    # the seed version's parts were released by the first rewrite of
    # each bucket; GC has long since reclaimed the dir itself
    assert "v1" not in version_dirs()
    # and no live byte was lost along the way: every key still resolves
    keys = {
        r["order_key"]
        for r in proc.read_state("order_state").select("order_key").collect()
    }
    assert keys == {key_a, key_b}


@pytest.mark.parametrize("backend_key", sorted(BACKENDS))
def test_acquire_build_claim_first_protocol(tmp_path, backend_key):
    """acquire_build is claim-FIRST (a conditional put, never a
    probe-then-claim): it takes over an abandoned same-host claim
    atomically, refuses a remote host's claim with the dual-writer
    error, and the base class ships NO marker implementation — a real
    object-store backend must provide its own conditional put, or the
    fence would silently compare each host's local disk."""
    import socket

    from streaming_examples_spark.streaming.state_backend import (
        StateStorageBackend,
        acquire_build,
    )

    b = BACKENDS[backend_key]()
    path = str(tmp_path / "v7")

    # virgin dir: claim lands, owner readable, double-claim conflicts
    acquire_build(b, path, "me:1:aaa")
    assert b.read_build_owner(path) == "me:1:aaa"
    with pytest.raises(RuntimeError, match="build conflict"):
        b.claim_build(path, "me:2:bbb")
    b.validate_build(path, "me:1:aaa")
    with pytest.raises(RuntimeError, match="build fencing violation"):
        b.validate_build(path, "me:2:bbb")
    b.release_build(path)
    b.release_build(path)  # idempotent

    # abandoned same-host claim (crashed earlier instance): reclaimed
    b.claim_build(path, f"{socket.gethostname()}:999:dead")
    acquire_build(b, path, "me:3:ccc")
    assert b.read_build_owner(path) == "me:3:ccc"
    b.release_build(path)

    # remote host's claim: refused loudly, claim left intact
    b.claim_build(path, "otherhost:1:feed")
    with pytest.raises(RuntimeError, match="dual-writer detected"):
        acquire_build(b, path, "me:4:ddd")
    assert b.read_build_owner(path) == "otherhost:1:feed"

    # the abstract base carries contracts, not an implementation
    base = StateStorageBackend()
    for call in (
        lambda: base.claim_build(path, "x"),
        lambda: base.read_build_owner(path),
        lambda: base.validate_build(path, "x"),
        lambda: base.release_build(path),
        lambda: base.file_size(path),
    ):
        with pytest.raises(NotImplementedError):
            call()


@pytest.mark.parametrize("backend_key", sorted(BACKENDS))
def test_heal_stale_builds_ages_out_dead_hosts_claims(tmp_path, backend_key):
    """The manual heal, scriptable (state_backend.heal_stale_builds):
    claims older than the operator's threshold are released whatever
    host wrote them (a dead remote host's wedge auto-clears); younger
    claims and dry-run are untouched; a healed-but-alive zombie still
    cannot commit — its commit-time validate_build fails against the
    re-owned marker."""
    import time as _time

    from streaming_examples_spark.streaming.state_backend import (
        acquire_build,
        heal_stale_builds,
    )

    b = BACKENDS[backend_key]()
    root = str(tmp_path / "state")
    old, fresh = os.path.join(root, "v3"), os.path.join(root, "v4")
    b.claim_build(old, "deadhost:1:aaaa")
    b.claim_build(fresh, "livehost:2:bbbb")
    # backdate the dead host's claim beyond the threshold
    stale_t = _time.time() - 3600
    os.utime(b._build_marker(old), (stale_t, stale_t))

    with pytest.raises(ValueError):
        heal_stale_builds(b, root, 0)

    # dry-run reports both, releases neither
    rep = heal_stale_builds(b, root, 600, dry_run=True)
    assert [e["dir"] for e in rep["healed"]] == [old]
    assert [e["dir"] for e in rep["kept"]] == [fresh]
    assert b.read_build_owner(old) == "deadhost:1:aaaa"

    # apply: the stale claim clears, the fresh one survives, and the
    # wedged version becomes buildable again
    rep = heal_stale_builds(b, root, 600)
    assert [e["dir"] for e in rep["healed"]] == [old]
    assert b.read_build_owner(old) is None
    assert b.read_build_owner(fresh) == "livehost:2:bbbb"
    acquire_build(b, old, "me:5:cccc")

    # zombie safety: if deadhost was in fact alive, its commit-time
    # validation fails against the re-owned marker — it cannot publish
    with pytest.raises(RuntimeError, match="build fencing violation"):
        b.validate_build(old, "deadhost:1:aaaa")


def test_heal_stale_builds_tool_covers_both_layouts(tmp_path):
    """tools/heal_stale_builds.py heals a tx state dir and a detector
    state dir alike (both keep their version claims at the root),
    honors dry-run-by-default, and releases only with --apply."""
    import json as _json
    import subprocess
    import sys as _sys
    import time as _time

    from streaming_examples_spark.streaming.state_backend import (
        LocalPosixBackend,
    )

    b = LocalPosixBackend()
    tx_dir = str(tmp_path / "tx" / "v9")
    nd_dir = str(tmp_path / "neardup" / "v2")
    b.claim_build(tx_dir, "deadhost:1:aaaa")
    b.claim_build(nd_dir, "deadhost:1:bbbb")
    stale_t = _time.time() - 7200
    for p in (tx_dir, nd_dir):
        os.utime(b._build_marker(p), (stale_t, stale_t))

    tool = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "heal_stale_builds.py",
    )

    def run(path, *extra):
        proc = subprocess.run(
            [_sys.executable, tool, os.path.dirname(path), "--older-than", "3600", *extra],
            capture_output=True,
            text=True,
            check=True,
        )
        return _json.loads(proc.stdout)

    for path in (tx_dir, nd_dir):
        out = run(path)  # dry-run by default
        assert [e["dir"] for e in out["report"]["healed"]] == [path]
        assert b.read_build_owner(path) is not None  # untouched

        out = run(path, "--apply")
        assert out["apply"] is True
        assert b.read_build_owner(path) is None


# -- randomized dual-host soak over the TX store (VERDICT r10 #5) ---------


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 4711])
def test_random_dual_host_tx_schedules_exactly_once_or_loud(
    spark, tmp_path, seed, monkeypatch
):
    """Randomized dual-HOST soak over one tx store —
    the tx-store counterpart of the detector soak
    (test_incremental_dedup.py): two TxDenormBatchProcessor instances
    with distinct writer tokens (the advisory lock is defeated to
    model separate hosts) drive a random interleaved history through a
    random schedule of plain batches, injected crashes at random
    backend primitives (then retry on a fresh host), host restarts,
    and remote full batches hijacked into the victim's commit window
    (the dual-writer schedule the build markers fence).

    Invariants, asserted at the end regardless of schedule:

      * fail-loud: every op either succeeds or raises a KNOWN loud
        error (injected crash / build fencing violation / dual-writer
        detected) — never silent
      * sink-level at-least-once, nothing lost: the union of pairs
        delivered through emission_sink == the oracle's touched pairs
      * caller-level exactly-once: pairs across successfully RETURNED
        frames are unique and a subset of the oracle's
      * per-frame commit-LSN emission order
      * the store survives: a fresh processor lands a clean tail batch
    """
    import contextlib
    import random as _random

    from test_tx_properties import _naive_replay, _random_log, lsn_cut_bounds

    from streaming_examples_spark.streaming import locks as locks_mod

    monkeypatch.setattr(
        locks_mod, "writer_lock", lambda *a, **kw: contextlib.nullcontext()
    )
    rng = _random.Random(seed)
    log = _random_log(seed)
    exp_orders, exp_lines, exp_touched = _naive_replay(log)
    o, l, x = _dfs(spark, log)
    state = str(tmp_path / "state")

    sink_pairs: list[tuple] = []

    def sink(df, batch_id):
        sink_pairs.extend(
            (r["order_key"], r["commit_lsn"]) for r in df.collect()
        )

    def mk_host():
        return TxDenormBatchProcessor(
            spark, state, n_buckets=8, backend=LocalPosixBackend(),
            emission_sink=sink,
        )

    hosts = [mk_host(), mk_host()]
    LOUD = (
        "injected crash",
        "build fencing violation",
        "dual-writer detected",
    )

    n_batches = rng.randint(3, 4)
    bounds = lsn_cut_bounds(log, [i / n_batches for i in range(1, n_batches)])
    frame_rows: list = []

    def good(df):
        # a successfully returned frame must be in commit-LSN order
        rows = df.collect()
        lsns_f = [r["commit_lsn"] for r in rows]
        assert lsns_f == sorted(lsns_f)
        frame_rows.extend(rows)

    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        cond = (F.col("source.lsn") > F.lit(lo)) & (F.col("source.lsn") <= F.lit(hi))
        batch = (o.filter(cond), l.filter(cond), x)
        event = rng.choice(["plain", "plain", "crash", "restart", "remote_mid_commit"])
        h = rng.randrange(2)
        if event == "restart":
            hosts[h] = mk_host()
            event = "plain"

        if event == "plain":
            good(hosts[h].process(*batch, batch_id=i))
        elif event == "crash":
            prim = rng.choice(["commit_pointer", "publish_file", "remove_tree"])
            calls = {"n": 0, "at": rng.randint(1, 2)}

            def should(*_a, **_k):
                calls["n"] += 1
                return calls["n"] == calls["at"]

            _crash_once(hosts[h].backend, prim, should)
            try:
                good(hosts[h].process(*batch, batch_id=i))
            except RuntimeError as e:
                assert any(p in str(e) for p in LOUD), e
                # retry on a FRESH host (crash-replay contract)
                hosts[h] = mk_host()
                good(hosts[h].process(*batch, batch_id=i))
            else:
                hosts[h] = mk_host()  # uninjected wrapper must not linger
        else:  # remote_mid_commit: other host runs the SAME batch inside
            # the victim's commit window (build-marker fencing schedule)
            victim, remote = hosts[h], hosts[1 - h]
            real_validate = victim.backend.validate_build
            fired = {"done": False}

            def hijack(path, owner, _remote=remote, _batch=batch, _i=i,
                       _real=real_validate):
                if not fired["done"]:
                    fired["done"] = True
                    good(_remote.process(*_batch, batch_id=_i))
                return _real(path, owner)

            monkeypatch.setattr(victim.backend, "validate_build", hijack)
            try:
                good(victim.process(*batch, batch_id=i))
            except RuntimeError as e:
                assert any(p in str(e) for p in LOUD), e
            finally:
                monkeypatch.setattr(victim.backend, "validate_build", real_validate)
            hosts[h] = mk_host()  # victim's in-flight state is untrusted

    # -- invariants ------------------------------------------------------
    exp_pairs = sorted(exp_touched)
    got_frame_pairs = [(r["order_key"], r["commit_lsn"]) for r in frame_rows]
    # caller-level exactly-once: no duplicates, nothing invented
    assert len(got_frame_pairs) == len(set(got_frame_pairs)), got_frame_pairs
    assert set(got_frame_pairs) <= set(exp_pairs)
    # sink-level: nothing lost (dups allowed — at-least-once)
    assert set(sink_pairs) == set(exp_pairs), (
        sorted(set(exp_pairs) - set(sink_pairs)),
        sorted(set(sink_pairs) - set(exp_pairs)),
    )
    # NOTE: no frame-level completeness assertion — a crash injected
    # AFTER the state swap (remove_tree cleanup) correctly makes the
    # retry return an empty frame (applied-tx filter); the pairs were
    # delivered through the sink, which is the completeness gate above.

    # the store survives: a fresh processor lands a clean tail batch
    tail = TxLog()
    tail._lsn, tail._next_tx = 900000, 9000
    tail.tx(lambda t: t.insert_order(90001), lambda t: t.insert_line(990001, 90001))
    fresh = mk_host()
    d = fresh.process(*_dfs(spark, tail), batch_id=99).collect()
    assert len(d) == 1 and d[0]["id"] == 90001


@pytest.mark.slow
def test_stream_gc_horizon_trims_delete_markers(spark, tmp_path):
    """The deleted-order marker retention dial, stream-level: markers
    persist across batches by default (so cross-batch tombstone
    re-emission works — the r10 fix); a callable
    ``order_delete_gc_horizon_lsn`` consulted per batch drops markers
    below the fed horizon LAZILY, when their bucket is next rewritten
    (n_buckets=1 here so every batch touches the marker's bucket)."""
    state = str(tmp_path / "state")
    horizon = {"lsn": None}
    proc = TxDenormBatchProcessor(
        spark, state, n_buckets=1,
        order_delete_gc_horizon_lsn=lambda: horizon["lsn"],
    )
    log = TxLog()
    c1 = log.tx(lambda t: t.insert_order(30000),
                lambda t: t.insert_line(300001, 30000))
    c_del = log.tx(lambda t: t.delete_line(300001),
                   lambda t: t.delete_order(30000))
    c3 = log.tx(lambda t: t.insert_order(30009))
    o, l, x = _dfs(spark, log)

    def batch(lo, hi):
        cond = (F.col("source.lsn") > lo) & (F.col("source.lsn") <= hi)
        return o.filter(cond), l.filter(cond), x

    assert proc.process(*batch(-1, c1), batch_id=0).count() == 1
    assert proc.process(*batch(c1, c_del), batch_id=1).count() == 1

    # horizon unset → the delete marker persisted into state
    st = proc._load_buckets("order_state", [0]).collect()
    assert [(r["order_key"], r["op"]) for r in st] == [(30000, "d")]

    # operator feeds a horizon past the delete; the next batch's state
    # roll (bucket 0 touched by the new order) drops the marker
    horizon["lsn"] = c_del + 1
    assert proc.process(*batch(c_del, c3), batch_id=2).count() == 1
    st2 = proc._load_buckets("order_state", [0]).collect()
    assert {r["order_key"]: r["op"] for r in st2} == {30009: "c"}


def test_carry_enumeration_reads_exact_parts_sidecar(spark, tmp_path):
    """The carry is the committed version's ``_parts.json`` sidecar (a
    GET — immune to list-after-write lag): format 3 maps every part to
    the version dir that holds it. The touched bucket is owned by the
    new version, every untouched one keeps its previous owner, and the
    map is EXACT (every named part exists — a touched bucket whose
    every key was deleted is NOT named), so readers need no existence
    probe."""
    import json as _json

    state, proc = _first_batch(spark, tmp_path, LocalPosixBackend())
    batch = _dfs(spark, _one_line_tx(90000, 900, 300001, 30000, "9.00"))
    assert proc.process(*batch, batch_id=1).count() == 1

    v = proc._current_version()
    with open(os.path.join(state, f"v{v}", "_parts.json")) as fh:
        sidecar = _json.load(fh)
    assert sidecar["format"] == 3
    frames = sidecar["frames"]
    assert sorted(frames) == ["line_state", "order_state"]
    for name in ("order_state", "line_state"):
        parts = frames[name]
        # the seeded 8 orders span several of the 8 buckets; one of
        # them (order 30000's) was rewritten by this batch
        assert all(p.startswith("_bucket=") for p in parts)
        assert sorted(set(parts.values())) == [1, v]
        assert sum(1 for owner in parts.values() if owner == v) == 1
        # EXACT: every named part physically exists in its owner's dir
        for part, owner in parts.items():
            assert os.path.isdir(os.path.join(state, f"v{owner}", name, part)), (
                f"sidecar names absent part v{owner}/{name}/{part}"
            )


def test_store_all_publishes_sidecar_without_bucketed_frames(
    spark, tmp_path, backend_cls
):
    """A version committed with NO bucketed frames must still publish
    the sidecar (truthfully empty) — otherwise the next reader would
    refuse the version as unenumerable."""
    import json as _json

    backend = backend_cls()
    state = str(tmp_path / "state")
    proc = TxDenormBatchProcessor(spark, state, n_buckets=8, backend=backend)
    df = spark.createDataFrame([(1,)], "x long")
    proc._store_all({"carry_orders": df})
    raw = backend.read_file(os.path.join(state, "v1", "_parts.json"))
    assert raw is not None
    data = _json.loads(raw)
    assert data == {"format": 3, "frames": {}}


# -- deleted-order markers: advancing GC horizon + reader contract ----
# r12 (VERDICT r11 #4, #5): the operational GC recipe feeds a
# monotonically ADVANCING horizon (pg_replication_slots.restart_lsn per
# checkpoint), and every public reader of order_state must understand
# the r11 state contract (op='d' marker rows with NULL after).


def _marker_log():
    log = TxLog()
    c1 = log.tx(lambda t: t.insert_order(30000),
                lambda t: t.insert_line(300001, 30000))
    c2 = log.tx(lambda t: t.delete_line(300001),
                lambda t: t.delete_order(30000))
    c3 = log.tx(lambda t: t.insert_order(30009))
    c4 = log.tx(lambda t: t.insert_order(30010))
    return log, (c1, c2, c3, c4)


def _run_marker_batches(spark, state, horizon_schedule):
    """Replay the marker log in 4 single-tx batches; horizon_schedule
    maps batch_id -> horizon fed that batch (None = retention)."""
    horizon = {"lsn": None}
    proc = TxDenormBatchProcessor(
        spark, state, n_buckets=1,
        order_delete_gc_horizon_lsn=lambda: horizon["lsn"],
    )
    log, cuts = _marker_log()
    o, l, x = _dfs(spark, log)
    emissions = []
    bounds = [(-1, cuts[0]), (cuts[0], cuts[1]), (cuts[1], cuts[2]),
              (cuts[2], cuts[3])]
    states = {}
    for bid, (lo, hi) in enumerate(bounds):
        horizon["lsn"] = horizon_schedule.get(bid)
        cond = (F.col("source.lsn") > lo) & (F.col("source.lsn") <= hi)
        emissions += [
            tuple(r)
            for r in proc.process(
                o.filter(cond), l.filter(cond), x, batch_id=bid
            ).collect()
        ]
        states[bid] = [
            (r["order_key"], r["op"])
            for r in proc._load_buckets("order_state", [0]).collect()
        ]
    return proc, emissions, states, cuts


@pytest.mark.slow
def test_stream_gc_horizon_advancing_per_batch(spark, tmp_path):
    """The horizon advances batch-over-batch (the restart_lsn feed):
    markers strictly below each batch's horizon drop at that batch's
    state roll, and the emissions are byte-equal to a full-retention
    run — GC is a pure state-size knob, never a semantics knob."""
    log, cuts = _marker_log()
    c1, c2, c3, c4 = cuts

    _, control_emis, control_states, _ = _run_marker_batches(
        spark, str(tmp_path / "ctl"), {}
    )
    # advancing schedule: each batch feeds (previous batch's max commit
    # LSN) + 1 — always ≤ the oldest in-flight LSN of its own batch
    schedule = {2: c2 + 1, 3: c3 + 1}
    _, gc_emis, gc_states, _ = _run_marker_batches(
        spark, str(tmp_path / "gc"), schedule
    )

    assert sorted(map(str, gc_emis)) == sorted(map(str, control_emis))
    # batch 1 (horizon unset): the marker is in state in BOTH runs
    assert (30000, "d") in gc_states[1]
    assert (30000, "d") in control_states[1]
    # batch 2 (horizon = c2+1 > marker's commit_lsn): the GC run drops
    # it at the roll; the control retains it forever
    assert (30000, "d") not in gc_states[2]
    assert (30000, "d") in control_states[2]
    assert (30000, "d") in control_states[3]
    # live images are never GC'd
    assert (30009, "c") in gc_states[2]


@pytest.mark.slow
def test_stream_gc_horizon_ahead_of_inflight_is_refused(spark, tmp_path):
    """A horizon AHEAD of the oldest in-flight LSN could trim a marker
    a pending tx still needs — the stream refuses it loudly instead of
    applying it (the restart_lsn feed can never legitimately do this:
    restart_lsn ≤ every in-flight LSN by definition)."""
    horizon = {"lsn": None}
    proc = TxDenormBatchProcessor(
        spark, str(tmp_path / "state"), n_buckets=1,
        order_delete_gc_horizon_lsn=lambda: horizon["lsn"],
    )
    log, cuts = _marker_log()
    c1 = cuts[0]
    o, l, x = _dfs(spark, log)
    cond = (F.col("source.lsn") > -1) & (F.col("source.lsn") <= c1)
    b0 = (o.filter(cond), l.filter(cond), x)
    horizon["lsn"] = c1 + 10_000  # ahead of every LSN in flight
    with pytest.raises(ValueError, match="ahead of the oldest in-flight"):
        proc.process(*b0, batch_id=0)
    # the refusal left no committed version behind — a corrected feed
    # replays the same batch cleanly
    horizon["lsn"] = None
    assert proc.process(*b0, batch_id=0).count() == 1


def test_marker_bearing_store_through_public_readers(spark, tmp_path):
    """VERDICT r11 #5: every public reader of a marker-bearing store
    must see the r11 contract — op='d' rows with NULL after."""
    state = str(tmp_path / "state")
    _, _, states, _ = _run_marker_batches(spark, state, {})
    assert (30000, "d") in states[3]

    # read_state: markers visible, after is NULL, live rows intact
    fresh = TxDenormBatchProcessor(spark, state, n_buckets=1)
    rows = {
        r["order_key"]: (r["op"], r["after"])
        for r in fresh.read_state("order_state").collect()
    }
    assert rows[30000][0] == "d" and rows[30000][1] is None
    assert rows[30009][0] == "c" and rows[30009][1] is not None

    # _load_buckets: the bucket-pruned path sees the same contract
    lb = {
        r["order_key"]: r["op"]
        for r in fresh._load_buckets("order_state", [0]).collect()
    }
    assert lb[30000] == "d"


# -- COMPOSED adversarial soak: dual-host × list-after-write lag × crash
# (VERDICT r11 #3). The per-dimension soaks exist separately (dual-host
# above; lag via the backend_cls matrix; crash via _crash_once suites);
# a real object store presents all three AT ONCE. One shared
# LaggedListingBackend models the server-side eventual-consistency
# view both hosts read through; crashes leave same-host-reclaimable
# claims the retry heals; the remote-mid-commit hijack exercises the
# build-marker fence under stale listings.


@pytest.mark.slow
@pytest.mark.parametrize("seed", [101, 9001])
def test_composed_dual_host_lag_crash_tx_soak(
    spark, tmp_path, seed, monkeypatch
):
    """Every op must succeed or fail LOUDLY; at the end: sink-level
    at-least-once completeness, caller-level exactly-once, per-frame
    commit-LSN order, and a fresh processor lands a clean tail batch —
    regardless of the random schedule."""
    import contextlib
    import random as _random

    from test_tx_properties import _naive_replay, _random_log, lsn_cut_bounds

    from streaming_examples_spark.streaming import locks as locks_mod

    monkeypatch.setattr(
        locks_mod, "writer_lock", lambda *a, **kw: contextlib.nullcontext()
    )
    rng = _random.Random(seed)
    log = _random_log(seed)
    exp_orders, exp_lines, exp_touched = _naive_replay(log)
    o, l, x = _dfs(spark, log)
    state = str(tmp_path / "state")

    # ONE shared lag double: the store's eventual-consistency view is
    # server-side, so either host's mutation lags BOTH hosts' listings
    shared_backend = LaggedListingBackend(lag_ops=rng.randint(3, 12))

    sink_pairs: list[tuple] = []

    def sink(df, batch_id):
        sink_pairs.extend(
            (r["order_key"], r["commit_lsn"]) for r in df.collect()
        )

    def mk_host():
        return TxDenormBatchProcessor(
            spark, state, n_buckets=8, backend=shared_backend,
            emission_sink=sink,
        )

    hosts = [mk_host(), mk_host()]
    LOUD = (
        "injected crash",
        "build fencing violation",
        "dual-writer detected",
    )

    n_batches = rng.randint(3, 4)
    bounds = lsn_cut_bounds(log, [i / n_batches for i in range(1, n_batches)])
    frame_rows: list = []

    def good(df):
        rows = df.collect()
        lsns_f = [r["commit_lsn"] for r in rows]
        assert lsns_f == sorted(lsns_f)
        frame_rows.extend(rows)

    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        cond = (F.col("source.lsn") > F.lit(lo)) & (F.col("source.lsn") <= F.lit(hi))
        batch = (o.filter(cond), l.filter(cond), x)
        event = rng.choice(
            ["plain", "plain", "crash", "restart", "remote_mid_commit"]
        )
        h = rng.randrange(2)
        if event == "restart":
            hosts[h] = mk_host()
            event = "plain"

        if event == "plain":
            good(hosts[h].process(*batch, batch_id=i))
        elif event == "crash":
            # publish_file covers the r12 sidecar/scalar publishes —
            # a crash between the bucketed writes and the sidecar (or
            # between sidecar and pointer flip) must replay cleanly
            prim = rng.choice(
                ["commit_pointer", "list_dir", "remove_tree", "publish_file"]
            )
            calls = {"n": 0, "at": rng.randint(1, 2)}

            def should(*_a, **_k):
                calls["n"] += 1
                return calls["n"] == calls["at"]

            _crash_once(shared_backend, prim, should)
            try:
                good(hosts[h].process(*batch, batch_id=i))
            except RuntimeError as e:
                assert any(p in str(e) for p in LOUD), e
                hosts[h] = mk_host()
                good(hosts[h].process(*batch, batch_id=i))
            else:
                hosts[h] = mk_host()
            # drop the instance-level wrapper (fired or not) so later
            # ops fall back to the class method, uninjected
            try:
                delattr(shared_backend, prim)
            except AttributeError:
                pass
        else:  # remote_mid_commit inside the victim's commit window
            victim, remote = hosts[h], hosts[1 - h]
            real_validate = shared_backend.validate_build
            fired = {"done": False}

            def hijack(path, owner, _remote=remote, _batch=batch, _i=i,
                       _real=real_validate):
                if not fired["done"]:
                    fired["done"] = True
                    good(_remote.process(*_batch, batch_id=_i))
                return _real(path, owner)

            monkeypatch.setattr(shared_backend, "validate_build", hijack)
            try:
                good(victim.process(*batch, batch_id=i))
            except RuntimeError as e:
                assert any(p in str(e) for p in LOUD), e
            finally:
                monkeypatch.setattr(
                    shared_backend, "validate_build", real_validate
                )
            hosts[h] = mk_host()

    exp_pairs = sorted(exp_touched)
    got_frame_pairs = [(r["order_key"], r["commit_lsn"]) for r in frame_rows]
    assert len(got_frame_pairs) == len(set(got_frame_pairs)), got_frame_pairs
    assert set(got_frame_pairs) <= set(exp_pairs)
    assert set(sink_pairs) == set(exp_pairs), (
        sorted(set(exp_pairs) - set(sink_pairs)),
        sorted(set(sink_pairs) - set(exp_pairs)),
    )

    tail = TxLog()
    tail._lsn, tail._next_tx = 900000, 9000
    tail.tx(lambda t: t.insert_order(90001), lambda t: t.insert_line(990001, 90001))
    fresh = mk_host()
    d = fresh.process(*_dfs(spark, tail), batch_id=99).collect()
    assert len(d) == 1 and d[0]["id"] == 90001


def test_bucketed_frame_emptied_by_deletes_roundtrip(spark, tmp_path):
    """A touched bucket whose EVERY key is deleted writes no part dirs
    (partitionBy of zero rows leaves only _SUCCESS): the sidecar
    records the frame with zero parts, reads return None instead of
    tripping schema inference on the empty dir, and the next batch
    carries nothing for it."""
    import json as _json

    state = str(tmp_path / "state")
    proc = TxDenormBatchProcessor(spark, state, n_buckets=1)
    log = TxLog()
    c1 = log.tx(lambda t: t.insert_order(30000),
                lambda t: t.insert_line(300001, 30000))
    c2 = log.tx(lambda t: t.delete_line(300001),
                lambda t: t.delete_order(30000))
    c3 = log.tx(lambda t: t.insert_order(30009),
                lambda t: t.insert_line(300091, 30009))
    o, l, x = _dfs(spark, log)

    def batch(lo, hi):
        cond = (F.col("source.lsn") > lo) & (F.col("source.lsn") <= hi)
        return o.filter(cond), l.filter(cond), x

    assert proc.process(*batch(-1, c1), batch_id=0).count() == 1
    assert proc.process(*batch(c1, c2), batch_id=1).count() == 1

    v = proc._current_version()
    raw = proc.backend.read_file(os.path.join(state, f"v{v}", "_parts.json"))
    frames = _json.loads(raw)["frames"]
    # line_state emptied → exact sidecar records it with ZERO parts;
    # order_state keeps the delete marker → one part remains
    assert frames["line_state"] == {}
    assert len(frames["order_state"]) == 1

    assert proc.read_state("line_state") is None
    assert proc._load_buckets("line_state", [0]) is None
    # the marker is still readable through both paths
    assert proc.read_state("order_state").count() == 1

    # the next batch commits cleanly over the empty frame (it carries
    # zero parts) and the new sidecar is exact again
    d = proc.process(*batch(c2, c3), batch_id=2).collect()
    assert len(d) == 1 and d[0]["id"] == 30009
    raw2 = proc.backend.read_file(
        os.path.join(state, f"v{proc._current_version()}", "_parts.json")
    )
    frames2 = _json.loads(raw2)["frames"]
    assert len(frames2["line_state"]) == 1
