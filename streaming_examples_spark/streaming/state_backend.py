"""Storage seam, versioned commit and on-disk seal for the two state
stores.

Both stores (the tx store in ``cdc_stream.py``, the near-dup detector
in ``incremental_dedup.py``) commit through one versioned protocol
defined here: :func:`commit_version` builds the NEXT version dir under
a pointer root (claim, clear, prepare, the caller's writes, validate
the claim, flip one pointer atomically, release, retire the superseded
version) and :func:`gc_versions` reclaims what the pointer does not
name, refusing a lost pointer. A store that reads parts of older
versions (the tx store carries every bucket a batch did not touch by
reference: its committed ``_parts.json`` names each part's owning
version) hands both a ``parts`` hook, and retirement keeps exactly the
parts the committed version still names (:func:`_retire_version`, the
keep rule). The protocol is storage-agnostic: its primitives sit
behind ``StateStorageBackend``, so a deployer can swap in an
object-store backend without touching the protocol. The stores call a
backend from one thread only (the tx store's concurrent frame writes
are Spark writes, announced through ``note_spark_write`` beforehand),
so a backend needs no locking. The translation each method documents
is the one LSM engines and table formats ship on S3/GCS:

  commit_pointer  → a conditional put of the pointer object
                    (if-match on the previous generation/etag — the
                    atomicity primitive object stores actually offer)
  remove_tree     → a prefix delete (async-safe: readers resolve
                    through the pointer, never by listing)
  prepare_dir     → a no-op (object stores have no directories)
  remove_file     → a single-object delete
  dir_exists/list_dir → prefix listing (the LIST-backed reads)

One backend ships, ``LocalPosixBackend``: it flips a ``CURRENT`` file
by ``os.replace`` and never renames a directory. Its test double
``LaggedListingBackend`` adds list-after-write lag to every LIST-backed
read. The crash-injection suites of both stores run parameterized over
the two (tests/test_state_backend.py, tests/test_incremental_dedup.py),
which is what proves the protocol itself: no state file is hardlinked
or copied between versions, and no correctness-bearing read depends on
a listing reflecting a just-issued write.

One on-disk format per store: both stores seal their state dir with
``_layout.json`` = ``{"format": 1, "backend": <layout_id>, <store
fields>}`` (the tx store's bucket count, the detector's store list)
through :func:`write_layout` before their first write, and validate it
with :func:`check_layout` on every open. A dir that is absent or holds
only the writer lock is fresh; anything else without a readable
format-1 seal, or sealed by another backend (such as the retired
generation-pointer one, whose seal names ``manifest``) or with other
store fields, is refused with a ``ValueError`` — an unreadable store is
never read as empty. There is no migration path: rebuild the state dir
from the event log (move it aside, then replay the source from its
start into an empty dir).

Reference parity: the reference delegates the equivalent durability to
Kafka-backed Flink checkpoints (streaming-examples
KafkaChangelogJob.java + Flink's state backend config); this engine
owns its state files, so it owns the commit protocol too.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")


def _internal_name(name: str) -> bool:
    """Writer-internal files that ``list_dir`` leaves out: Hadoop
    checksum files (``.part-*.crc``), ``_SUCCESS`` markers, sidecars,
    publish temps. Partition dirs (``_bucket=K``) ARE data-bearing
    despite the underscore — the ``=`` marks them."""
    if name.startswith("."):
        return True
    return name.startswith("_") and "=" not in name


# -- the one sealed on-disk format ----------------------------------------
#: the only ``_layout.json`` format either store reads or writes
LAYOUT_FORMAT = 1
_LAYOUT = "_layout.json"
#: the one recovery path for a refused dir, quoted by every refusal
REBUILD_HINT = (
    "rebuild the state dir from the event log (move it aside, then replay "
    "the source from its start into an empty dir)"
)


def check_layout(
    backend: "StateStorageBackend", state_dir: str, fields: dict
) -> bool:
    """Validate ``state_dir``'s seal against the opener's backend and
    store fields. Returns False for a fresh dir — absent, or holding
    only the advisory writer lock (``_writer.lock*``) and dot-prefixed
    publish temps — and True for a matching format-1 seal. Raises
    ``ValueError`` for everything else: entries without a seal, an
    unreadable seal, any other format, a backend mismatch (a dir sealed
    by another backend, such as the retired generation-pointer one,
    keeps its commit pointer where this backend does not look, so a
    reopen would read no committed version and GC live state), or a
    store-field mismatch (a bucket count: probes hash into the wrong
    buckets; a store list: the dir holds another layout — either way
    silently empty state)."""
    raw = backend.read_file(os.path.join(state_dir, _LAYOUT))
    if raw is None:
        try:
            entries = os.listdir(state_dir)
        except FileNotFoundError:
            return False
        stray = sorted(
            e for e in entries if not e.startswith(("_writer.lock", "."))
        )
        if not stray:
            return False
        raise ValueError(
            f"state dir {state_dir} holds {stray} but no {_LAYOUT} seal, and a "
            "store that cannot be validated is never read as empty: "
            f"{REBUILD_HINT}"
        )
    try:
        layout = json.loads(raw)
        fmt = layout.get("format")
    except (ValueError, AttributeError) as exc:
        raise ValueError(
            f"state dir {state_dir} has an unreadable {_LAYOUT} ({exc!r}): "
            f"{REBUILD_HINT}"
        ) from exc
    if fmt != LAYOUT_FORMAT:
        raise ValueError(
            f"state dir {state_dir} is sealed with {_LAYOUT} format {fmt!r}, "
            f"but only format {LAYOUT_FORMAT} is readable: {REBUILD_HINT}"
        )
    if layout.get("backend") != backend.layout_id:
        raise ValueError(
            f"state dir {state_dir} was committed by the "
            f"{layout.get('backend')!r} storage backend, which this engine "
            f"no longer reads (it opens {backend.layout_id!r} dirs only): "
            f"{REBUILD_HINT}"
        )
    for key, want in fields.items():
        if layout.get(key) != want:
            raise ValueError(
                f"state dir {state_dir} was sealed with {key}={layout.get(key)} "
                f"but is opened with {key}={want}: if {key} is a constructor "
                f"argument, pass the sealed value; otherwise {REBUILD_HINT}"
            )
    return True


def write_layout(
    backend: "StateStorageBackend", state_dir: str, fields: dict
) -> None:
    """Seal a fresh ``state_dir`` (see :func:`check_layout`). Stores
    call this before their first write into the dir, so every crash
    window after it leaves a sealed dir."""
    os.makedirs(state_dir, exist_ok=True)
    backend.publish_file(
        os.path.join(state_dir, _LAYOUT),
        json.dumps(
            {"format": LAYOUT_FORMAT, "backend": backend.layout_id, **fields}
        ).encode(),
    )


class StateStorageBackend:
    """Abstract storage primitives behind the versioned state commit.

    Implementations must guarantee exactly one property beyond the
    obvious semantics: ``commit_pointer`` is ATOMIC and DURABLE — a
    reader (or a crash-replay) sees either the old pointer or the new
    one, never a torn or lost write. Everything else in the protocol
    tolerates partial completion (crash garbage is GC'd by version).
    """

    #: identity sealed into the state dir's _layout.json — it names the
    #: commit-pointer encoding, so a state dir is only reopened by a
    #: backend of the same identity (check_layout)
    layout_id: str = "abstract"

    def prepare_dir(self, path: str) -> None:
        raise NotImplementedError

    def commit_pointer(self, state_dir: str, version: int) -> None:
        """Atomically and durably set ``state_dir``'s CURRENT pointer
        to ``version``. THE commit point of a batch."""
        raise NotImplementedError

    def read_pointer(self, state_dir: str) -> int:
        """Return the committed version, or 0 if none exists yet."""
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        """Delete the prefix ``path`` and everything under it; an
        absent prefix is a no-op, so the GC may re-issue it."""
        raise NotImplementedError

    def remove_file(self, path: str) -> None:
        raise NotImplementedError

    def note_spark_write(self, path: str) -> None:
        """Hook called immediately BEFORE a DIRECT Spark write (parquet
        append / table save) lands in ``path`` without backend
        mediation. Real backends no-op: Spark-side listing consistency
        is the store's contract with Spark itself (every
        parquet-on-object-store deployment already requires it, and
        S3/GCS/Azure guarantee it today). The eventual-consistency
        test double overrides this to open its list-after-write lag
        window for the dir, so BACKEND listings issued after a Spark
        append run stale-SHORT exactly like they would after a
        backend-mediated write — closing the coverage gap its SCOPE
        note originally documented."""
        return None

    def publish_file(self, path: str, data: bytes) -> None:
        """Atomically publish a small single object (layout seals,
        sidecars): a reader sees the old content, the new content, or
        absence — never a torn write. Object stores give this for free
        (PUT is atomic per object); POSIX needs temp+rename."""
        raise NotImplementedError

    def read_file(self, path: str) -> bytes | None:
        """Read back one small published object (a GET — read-your-
        writes fresh on every store this protocol targets); ``None``
        when absent. The READ half of :meth:`publish_file`: every
        manifest/sidecar written through ``publish_file`` must be read
        through this, never a bare ``open()`` — a backend whose
        ``publish_file`` lands bytes somewhere other than the local
        path overrides BOTH, keeping the seam symmetric (r11 ADVICE:
        asymmetric reads silently degrade to 'absent' on such a
        backend, e.g. a consumed-set manifest read as missing → blind
        straggler removal). The shipped backend stores published
        objects at their literal local path, so the base
        implementation is concrete."""
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    # -- LIST-backed reads -------------------------------------------------
    # The reads an object store may serve stale (list-after-write lag).
    # The protocol uses them only where a stale answer is safe: the GC
    # and the keep rule defer a removal to a later sweep, and the
    # detector's advisory gauges and cap counts fire late.

    def dir_exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_dir(self, path: str) -> list[str]:
        """Entries of ``path``, minus writer-internal files
        (``_internal_name``)."""
        raise NotImplementedError

    # -- multi-writer build fencing ---------------------------------------
    # The advisory writer lock (locks.py) is per-filesystem: on an
    # object store two HOSTS can both believe they hold it and both
    # start BUILDING the same next version/epoch dir — the pointer CAS
    # then picks one commit winner, but the committed dir may hold the
    # loser's interleaved writes (mixed-batch state, the exact poison
    # the versioned commit exists to prevent). The build marker closes
    # that: a conditional put (`if-none-match` on real stores) claims
    # a dir under construction, and the claim is re-validated
    # immediately before commit_pointer. The four primitives are
    # ABSTRACT here — a real object-store backend MUST implement them
    # with the store's own conditional put; silently inheriting a
    # local-disk emulation would leave the dual-writer fence inert on
    # exactly the deployment it targets (each host reading its own
    # local marker). LocalPosixBackend implements them with O_EXCL
    # creates. The marker name (``<dir>.builder``, a SIBLING of the
    # build dir so the claim survives the overwrite of the very dir it
    # fences) is part of the on-disk layout.

    @staticmethod
    def _build_marker(path: str) -> str:
        return path.rstrip(os.sep) + ".builder"

    def claim_build(self, path: str, owner: str) -> None:
        """Exclusively claim the version/epoch dir ``path`` as under
        construction by ``owner`` (a ``host:pid:uuid`` token from
        locks.owner_token()). MUST be a conditional put (create only
        if absent) on the ``_build_marker(path)`` object; raises
        RuntimeError when another owner's claim exists — the
        dual-writer signal. Prefer :func:`acquire_build`, which adds
        the reclaim-of-abandoned-claims protocol."""
        raise NotImplementedError

    def read_build_owner(self, path: str) -> str | None:
        """The claim's owner token (a GET — read-your-writes fresh),
        or None when the dir carries no claim."""
        raise NotImplementedError

    def validate_build(self, path: str, owner: str) -> None:
        """Immediately before commit_pointer: the claim must still be
        OURS. A differing/missing owner means the dir was GC'd and
        re-claimed by another writer while we wrote — committing would
        publish a dir with interleaved foreign writes. Raises
        RuntimeError on violation."""
        raise NotImplementedError

    def release_build(self, path: str) -> None:
        """Drop the claim — after the commit (the dir is live; claims
        only fence construction) or with the GC of a dead builder's
        garbage. Idempotent."""
        raise NotImplementedError

    def file_size(self, path: str) -> int:
        """Size in bytes of one data file (a HEAD request on a real
        store). Advisory-gauge plumbing (store_stats); raises OSError
        when the file vanished mid-walk."""
        raise NotImplementedError

    def build_claim_age(self, path: str) -> float | None:
        """Seconds since the build claim on ``path`` was written (a
        HEAD request's Last-Modified on a real store), or None when
        no claim exists. Input to :func:`heal_stale_builds` only —
        liveness decisions from wall-clock age are the OPERATOR's
        (the protocol itself never ages claims out)."""
        raise NotImplementedError

    def list_build_markers(self, root: str) -> list[str]:
        """Basenames of every ``*.builder`` claim directly under
        ``root`` (a suffix-filtered LIST). Sidecars are excluded from
        the logical namespace (list_dir), so healing needs its own
        enumeration. May lag on a real store — heal runs are
        retryable maintenance, not protocol."""
        raise NotImplementedError


class LocalPosixBackend(StateStorageBackend):
    """The one shipped backend, over a local directory: an fsync'd temp
    + ``os.replace`` flip of the ``CURRENT`` pointer file (with a
    directory fsync for rename durability), and every other primitive
    on local files. The build markers are the O_EXCL emulation of the
    conditional put; a real object-store backend implements them with
    its own (see the fencing contract on StateStorageBackend)."""

    layout_id = "local-posix"

    def commit_pointer(self, state_dir: str, version: int) -> None:
        # durable temp first: fsync the CONTENT before the rename makes
        # it visible, so a power loss can't expose a torn pointer
        tmp = os.path.join(state_dir, f"CURRENT.{version}")
        with open(tmp, "w") as fh:
            fh.write(str(version))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(state_dir, "CURRENT"))
        # fsync the DIRECTORY so the rename itself is durable (some
        # filesystems would otherwise revert the flip on power loss
        # after process() already reported the batch committed)
        dirfd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)

    def read_pointer(self, state_dir: str) -> int:
        try:
            with open(os.path.join(state_dir, "CURRENT")) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return 0

    def prepare_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove_file(self, path: str) -> None:
        try:
            os.unlink(path)
        except OSError:
            pass

    def publish_file(self, path: str, data: bytes) -> None:
        # an object-store PUT is atomic per object; a local open(path,
        # "wb") is not (its truncate-then-write window shows a torn
        # intermediate to a concurrent reader). Emulate the PUT: write
        # a UNIQUE dot-prefixed temp (left out of list_dir by
        # _internal_name), fsync, then a FILE-level os.replace — no
        # directory is ever renamed. The temp name carries pid AND a
        # random component: pid alone collides when two writer hosts
        # are containers that are each pid 1 (the second would
        # truncate the first's temp mid-write — the very torn
        # intermediate the temp exists to rule out).
        import uuid

        d, name = os.path.split(path)
        tmp = os.path.join(d, f".{name}.put-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def dir_exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        return sorted(
            n for n in self._physical_listing(path) if not _internal_name(n)
        )

    def _physical_listing(self, path: str) -> list[str]:
        """The LIST operation — the one primitive real object stores
        have historically served stale (list-after-write lag). Isolated
        so the eventual-consistency double can lag it without touching
        direct object GETs, which stores do serve read-your-writes."""
        return os.listdir(path)

    def claim_build(self, path: str, owner: str) -> None:
        # the marker is a sibling of the build dir: ensure the parent
        # prefix exists (object stores have no dirs to create; the
        # local emulation needs the makedirs)
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        try:
            fd = os.open(
                self._build_marker(path), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            raise RuntimeError(
                f"build conflict on {path}: another writer "
                f"({self.read_build_owner(path)!r}) is already "
                "constructing this version — two writers share one "
                "state dir (dual-host schedule?); refusing to "
                "interleave writes."
            )
        try:
            os.write(fd, owner.encode())
            os.fsync(fd)
        finally:
            os.close(fd)

    def read_build_owner(self, path: str) -> str | None:
        try:
            with open(self._build_marker(path)) as fh:
                return fh.read() or None
        except FileNotFoundError:
            return None

    def validate_build(self, path: str, owner: str) -> None:
        found = self.read_build_owner(path)
        if found != owner:
            raise RuntimeError(
                f"build fencing violation on {path}: claimed by "
                f"{owner!r} but the marker now reads {found!r} — "
                "another writer reclaimed this version dir mid-build; "
                "aborting the commit."
            )

    def release_build(self, path: str) -> None:
        try:
            os.unlink(self._build_marker(path))
        except FileNotFoundError:
            pass

    def file_size(self, path: str) -> int:
        return os.path.getsize(path)

    def build_claim_age(self, path: str) -> float | None:
        try:
            return max(
                0.0, time.time() - os.path.getmtime(self._build_marker(path))
            )
        except FileNotFoundError:
            return None

    def list_build_markers(self, root: str) -> list[str]:
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if n.endswith(".builder"))


def heal_stale_builds(
    backend: "StateStorageBackend",
    root: str,
    older_than_s: float,
    dry_run: bool = False,
) -> dict:
    """Release build claims under ``root`` older than ``older_than_s``
    — the scriptable form of the "remove the marker once the host is
    known dead" manual heal (the `remove_orphan_files(older_than)`
    pattern of LSM table formats). Remote-host claims never age out
    in the protocol itself (acquire_build refuses them regardless of
    age); after a host dies mid-build its claim wedges every future
    build of that version until an operator clears it. This function
    is that operator action, made safe to script:

    - ``older_than_s`` must exceed the LONGEST possible build (batch
      or compaction) plus clock skew between hosts — the age is
      wall-clock metadata, not a lease the builder refreshes.
    - Healing a claim whose builder is in fact alive does NOT publish
      corrupt state by itself: the zombie fails its commit-time
      validate_build (its marker is gone or re-owned). The residual is
      the documented one — its still-running Spark tasks can write
      bytes into a dir a NEW claimer then builds; choose the TTL so
      that cannot be in flight.
    - Callers must hold (or run under) the state dir's advisory
      writer lock so same-filesystem writers are excluded during the
      walk (tools/heal_stale_builds.py does).

    Returns ``{"root", "healed": [...], "kept": [...]}`` with one
    entry per claim: dir, owner token, age, and whether the build dir
    currently exists. ``dry_run`` reports without releasing."""
    if older_than_s <= 0:
        raise ValueError("older_than_s must be positive")
    report: dict = {"root": root, "healed": [], "kept": []}
    for marker in backend.list_build_markers(root):
        path = os.path.join(root, marker[: -len(".builder")])
        age = backend.build_claim_age(path)
        if age is None:
            continue  # released between the listing and the stat
        entry = {
            "dir": path,
            "owner": backend.read_build_owner(path),
            "age_s": round(age, 1),
            "dir_exists": backend.dir_exists(path),
        }
        if age > older_than_s:
            if not dry_run:
                backend.release_build(path)
            report["healed"].append(entry)
        else:
            report["kept"].append(entry)
    return report


def acquire_build(
    backend: "StateStorageBackend", path: str, own_token: str
) -> None:
    """Claim-FIRST acquisition of a build dir (callers hold the state
    dir's advisory writer lock). The order matters: probing for a
    foreign claim and only then claiming leaves a window where a
    second writer's fresh claim is read as absent (or blindly
    released) and both writers end up owning the dir — the exact
    interleaving the marker exists to prevent. Here the conditional
    put runs first; only on CONFLICT is the standing claim consulted:

    - reclaimable (same host — the advisory lock excludes same-host
      in-flight batches, so the claim is necessarily abandoned; see
      locks.claim_reclaimable_under_writer_lock): release it and
      re-claim. The re-claim is itself a conditional put — a racing
      third claimer wins it and THIS caller fails loudly.
    - foreign (remote host, liveness unprovable): raise the
      dual-writer error; the manual heal is documented in it.

    On return the caller owns the claim and may GC/rebuild the dir."""
    from streaming_examples_spark.streaming.locks import (
        claim_reclaimable_under_writer_lock,
    )

    try:
        backend.claim_build(path, own_token)
        return
    except RuntimeError:
        owner = backend.read_build_owner(path)
        if owner is not None and not claim_reclaimable_under_writer_lock(owner):
            raise RuntimeError(
                f"dual-writer detected on {path}: a build claim by "
                f"{owner!r} is held from another host, where liveness "
                "cannot be proven. Two writers share this state dir — "
                "stop the other one; if its host is known dead, remove "
                f"{path + '.builder'} manually."
            )
        backend.release_build(path)
    # abandoned same-host claim cleared (or it vanished between the
    # CAS and the read) — one more conditional put, losable only to a
    # genuinely concurrent claimer, which must stay loud
    backend.claim_build(path, own_token)


# -- the versioned commit, shared by both stores ----------------------------
# A pointer root (either store's state dir) holds version dirs ``v<N>``
# and one committed pointer naming the live N:
# :func:`commit_version` builds and commits the next N, and every
# version the pointer does not name is garbage for :func:`gc_versions`.

_VERSION_DIR = re.compile(r"v(\d+)")


def _versions(root: str, entries: list[str], cur: int) -> list[int]:
    """The version numbers among ``entries`` (a listing of ``root``).
    Raises ``ValueError`` on a LOST pointer: pointer 0 beside a ``v≥2``
    (a partial restore, a deleted CURRENT) — ``v2`` is built
    only once ``v1`` has committed, and reading such a root as fresh or
    reclaiming its dirs would silently reset the store. A ``v1`` beside
    pointer 0 is the first build's crash window."""
    versions = sorted(
        int(m.group(1)) for e in entries if (m := _VERSION_DIR.fullmatch(e))
    )
    lost = [f"v{v}" for v in versions if v >= 2] if cur == 0 else []
    if lost:
        raise ValueError(
            f"state store {root} holds committed version dirs {lost} but no "
            "committed pointer: the pointer was lost (a partial restore or a "
            "deleted CURRENT), and reading or reclaiming the dirs "
            "would silently reset the store. Restore the pointer to the "
            f"store's true version, or {REBUILD_HINT}"
        )
    return versions


def committed_version(backend: "StateStorageBackend", root: str) -> int:
    """The version ``root``'s pointer commits, 0 before the first
    commit; raises on a lost pointer (:func:`_versions`), the readers'
    half of the check :func:`gc_versions` makes before it reclaims."""
    cur = backend.read_pointer(root)
    if cur == 0 and backend.dir_exists(root):
        _versions(root, backend.list_dir(root), cur)
    return cur


def _owned(
    parts: Callable[[int], dict[str, dict[str, int]]] | None, cur: int
) -> dict[int, dict[str, set[str]]]:
    """Version → frame → the part names the committed version ``cur``
    reads from that version, from ``parts(cur)`` (frame → part →
    owning version). Empty for a store without a ``parts`` hook, or
    before the first commit. A hook that cannot read the committed map
    raises, so no sweep ever derives an empty keep set from it."""
    owned: dict[int, dict[str, set[str]]] = {}
    if parts is None or cur == 0:
        return owned
    for frame, entries in parts(cur).items():
        for part, version in entries.items():
            owned.setdefault(version, {}).setdefault(frame, set()).add(part)
    return owned


def _retire_version(
    backend: "StateStorageBackend",
    root: str,
    version: int,
    keep: dict[str, set[str]] | None,
    retire: Callable[[int], None] | None = None,
) -> None:
    """Retire the superseded ``v<version>``: the caller's
    ``retire(version)`` hook (work that must see the dir before it
    goes), then release-then-remove — the dir can carry a marker
    leaked by a crash between its own commit and release.

    THE KEEP RULE, the one place either store reclaims a superseded
    version: everything under the dir goes except the parts ``keep``
    names (frame → part names the committed version still reads from
    this version). With nothing kept the dir goes in one prefix
    delete; otherwise its listings pick every other frame and part.
    They may run stale: the keep set comes from the committed map (a
    GET), so a stale listing only leaves garbage for a later sweep,
    never removes a kept part. Writer-internal files (sidecars,
    ``_SUCCESS``) stay until the dir's last part is released."""
    if retire is not None:
        retire(version)
    path = os.path.join(root, f"v{version}")
    backend.release_build(path)
    if not keep:
        backend.remove_tree(path)
        return
    for frame in backend.list_dir(path):
        frame_path = os.path.join(path, frame)
        if frame not in keep:
            backend.remove_tree(frame_path)
            continue
        for part in backend.list_dir(frame_path):
            if part not in keep[frame]:
                backend.remove_tree(os.path.join(frame_path, part))


def commit_version(
    backend: "StateStorageBackend",
    root: str,
    version: int,
    owner: str,
    write: Callable[[str], T],
    retire: Callable[[int], None] | None = None,
    parts: Callable[[int], dict[str, dict[str, int]]] | None = None,
) -> T:
    """Build ``v<version>`` (the committed version + 1) under ``root``
    and commit it with one pointer flip; returns ``write(path)``.
    Callers hold the writer lock.

      1. claim the dir FIRST (:func:`acquire_build`), THEN clear a
         crashed attempt's leftovers — probing before claiming would
         let a fresh foreign claim land in the gap and be blindly
         released — and prepare the dir;
      2. ``write(path)``: the caller's frames and sidecars;
      3. re-validate the claim (a missing or foreign marker means
         another writer GC'd and re-claimed the dir mid-build:
         committing would publish interleaved writes), flip the
         pointer — THE commit point — and release the claim, which
         only fences construction;
      4. retire ``v<version-1>`` by the keep rule
         (:func:`_retire_version`), keeping the parts the new
         version's ``parts(version)`` map names with that owner; a
         no-op removal of the absent ``v0`` after a store's first
         build.

    A crash before the flip leaves the old version committed and the
    half-built dir to :func:`gc_versions`; a crash after it leaves the
    superseded dir, which the GC retires by the same rule."""
    path = os.path.join(root, f"v{version}")
    acquire_build(backend, path, owner)
    backend.remove_tree(path)
    backend.prepare_dir(path)
    result = write(path)
    backend.validate_build(path, owner)
    backend.commit_pointer(root, version)
    backend.release_build(path)
    keep = _owned(parts, version).get(version - 1)
    _retire_version(backend, root, version - 1, keep, retire)
    return result


def gc_versions(
    backend: "StateStorageBackend",
    root: str,
    owner: str,
    retire: Callable[[int], None] | None = None,
    parts: Callable[[int], dict[str, dict[str, int]]] | None = None,
) -> None:
    """One GC sweep of the pointer root ``root``, under the writer
    lock; refuses a lost pointer and reads the committed part map
    (``parts``, see :func:`commit_version`) before touching anything,
    so a map that cannot be read aborts the sweep. A version ABOVE the
    pointer (a build that died before its flip) is CLAIMED before it
    is removed — :func:`acquire_build` raises on a live foreign
    builder and takes over an abandoned same-host claim, so the sweep
    never races a fresh claimer between a probe and the delete. A
    version BELOW it (superseded, and possibly still owning parts the
    committed version reads) is retired by the keep rule with the
    caller's ``retire`` hook. POSIX ``CURRENT.<n>`` pointer temps are
    removed. A lagging listing only defers a removal to a later
    sweep."""
    if not backend.dir_exists(root):
        return
    cur = backend.read_pointer(root)
    entries = backend.list_dir(root)
    versions = _versions(root, entries, cur)
    owned = _owned(parts, cur)
    for v in versions:
        if v > cur:
            path = os.path.join(root, f"v{v}")
            acquire_build(backend, path, owner)
            backend.remove_tree(path)
            backend.release_build(path)
        elif v < cur:
            _retire_version(backend, root, v, owned.get(v), retire)
    for e in entries:
        if e.startswith("CURRENT."):
            backend.remove_file(os.path.join(root, e))


class LaggedListingBackend(LocalPosixBackend):
    """Eventual-consistency test double over the shipped backend:
    ``list_dir``/``dir_exists`` (the LIST-backed reads) serve STALE
    views for ``lag_ops`` subsequent backend operations after a
    mutation touches a prefix — the classic object-store
    list-after-write hazard. Direct object GETs (the ``CURRENT``
    pointer, sidecars, file opens) stay fresh: that is the
    read-your-writes guarantee real stores do give, and it is why the
    protocol's commit point is a pointer GET, never a listing. The
    state dir's own listing is lagged too (``commit_pointer`` snaps
    it), so the GC's root listing runs stale after every commit. The
    files and the ``local-posix`` seal are the shipped backend's.
    Running the full crash/lifecycle suite under this double is what
    proves the GC and its keep rule never depend on a listing
    reflecting a write that just happened.

    SCOPE — what this double does and does not lag: windows open on
    BACKEND-MEDIATED mutations (prepare_dir/publish_file/remove_*/
    claim_build/commit_pointer) AND on direct Spark writes, which BOTH
    stores announce through ``note_spark_write`` right before each
    parquet append / version rewrite / state-frame write, so backend
    listings after a Spark write run stale-SHORT like any other
    mutation. Stale views are served to every backend LIST. Spark's own
    scan-time file enumeration (Hadoop FS listing) remains
    un-intercepted — that half of listing consistency is the store's
    contract with Spark itself, which every parquet-on-object-store
    deployment already requires (and which S3/GCS/Azure all guarantee
    today). NO correctness-bearing read depends on a backend LIST
    being fresh: store loads resolve existence from the committed
    pointer and, for the tx store, its ``_parts.json`` part map (both
    GETs), and hand the named dirs to Spark to enumerate; the
    remaining backend listings (version GC and its keep rule, the
    detector's cap-count delta enumeration and straggler fold) all
    degrade stale-SAFE (skip-and-retry-later or fire-late), each
    documented at its call site."""

    def __init__(self, lag_ops: int = 5):
        self._lag = lag_ops
        self._ops = 0
        #: dir -> (expiry_op, existed_at_snapshot, listing_at_snapshot)
        self._stale: dict[str, tuple[int, bool, list[str] | None]] = {}

    # -- lag bookkeeping -------------------------------------------------
    def _snap(self, *dirs: str) -> None:
        """Freeze the CURRENT physical view of each dir before the
        mutation lands; later mutations extend the lag window but keep
        the ORIGINAL (oldest) snapshot — stale views do not get
        fresher by being written to again."""
        self._ops += 1
        for d in dirs:
            d = os.path.abspath(d)
            if d in self._stale:
                exp, existed, listing = self._stale[d]
                self._stale[d] = (self._ops + self._lag, existed, listing)
                continue
            existed = os.path.isdir(d)
            listing = sorted(os.listdir(d)) if existed else None
            self._stale[d] = (self._ops + self._lag, existed, listing)

    def _stale_view(self, path: str):
        d = os.path.abspath(path)
        hit = self._stale.get(d)
        if hit is None:
            return None
        exp, existed, listing = hit
        if self._ops >= exp:
            del self._stale[d]
            return None
        return existed, listing

    # -- mutations: count the op, freeze the affected prefixes -----------
    def prepare_dir(self, path: str) -> None:
        self._snap(path, os.path.dirname(os.path.abspath(path)))
        super().prepare_dir(path)

    def publish_file(self, path: str, data: bytes) -> None:
        self._snap(os.path.dirname(os.path.abspath(path)))
        super().publish_file(path, data)

    def remove_file(self, path: str) -> None:
        self._snap(os.path.dirname(os.path.abspath(path)))
        super().remove_file(path)

    def remove_tree(self, path: str) -> None:
        self._snap(path, os.path.dirname(os.path.abspath(path)))
        super().remove_tree(path)

    def claim_build(self, path: str, owner: str) -> None:
        # a conditional put is a mutation: the claimed dir's listing
        # may lag, but the marker itself reads back by GET (fresh)
        self._snap(path)
        super().claim_build(path, owner)

    def note_spark_write(self, path: str) -> None:
        # a DIRECT Spark write is a mutation this double would
        # otherwise never see: freeze the pre-write view so backend
        # listings run stale-SHORT on the appended files too (r10
        # ADVICE — the SCOPE paragraph's original coverage gap)
        d = os.path.abspath(path)
        self._snap(d, os.path.dirname(d))

    def commit_pointer(self, state_dir: str, version: int) -> None:
        # the CURRENT flip mutates the state dir's prefix: freeze its
        # listing like any other, so the GC's root listing runs stale
        # after every commit (resolution is the CURRENT GET, fresh)
        self._snap(state_dir)
        super().commit_pointer(state_dir, version)

    # -- LIST-backed reads: serve the stale view while it lasts ----------
    def dir_exists(self, path: str) -> bool:
        view = self._stale_view(path)
        if view is not None:
            return view[0]
        return super().dir_exists(path)

    def _physical_listing(self, path: str) -> list[str]:
        # list_dir flows through here. A prefix the stale view
        # believes absent LISTS as empty (that is what a real store
        # returns), never as an error.
        view = self._stale_view(path)
        if view is not None:
            existed, listing = view
            return list(listing) if existed else []
        return super()._physical_listing(path)
