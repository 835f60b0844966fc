"""Storage seam, versioned commit and on-disk seal for the two state
stores.

Both stores (the tx store in ``cdc_stream.py``, the near-dup detector
in ``incremental_dedup.py``) commit through one versioned protocol
defined here: :func:`commit_version` builds the NEXT version dir under
a pointer root (claim, clear, prepare, the caller's writes, validate
the claim, flip one pointer atomically, release, retire the superseded
version) and :func:`gc_versions` reclaims every version the pointer
does not name, refusing a lost pointer. The protocol is storage-
agnostic, but its primitives are not: the shipped implementation is
POSIX (hardlink carry, ``os.replace`` flip, directory fsync). This
module isolates those primitives behind ``StateStorageBackend``
so a deployer can swap in an object-store backend without touching the
protocol. The stores call a backend from one thread only (the tx
store's concurrent frame writes are Spark writes, announced through
``note_spark_write`` beforehand), so a backend needs no locking. The translation each method documents is the one LSM engines
and table formats ship on S3/GCS:

  carry_file      → a manifest entry referencing the old object (no
                    byte copy; the "directory" becomes a manifest)
  commit_pointer  → a conditional put of the pointer object
                    (if-match on the previous generation/etag — the
                    atomicity primitive object stores actually offer)
  remove_tree     → a prefix delete (async-safe: readers resolve
                    through the pointer, never by listing)
  prepare_dir     → a no-op (object stores have no directories)
  remove_file     → a single-object delete
  dir_exists/list_dir/read_locations → prefix listing + manifest
                    resolution (the logical namespace; see below)

Two implementations ship: ``LocalPosixBackend`` (hardlinks + rename
flip — the production local backend) and ``ManifestBackend``, a
test-double that enforces object-store constraints over a local
directory — NO hardlinks, NO directory renames: carry is a JSON
manifest entry referencing the original physical file, commit is a
conditional-put emulation (exclusive create of a monotonically
numbered generation object), and remove_tree is a DEFERRED prefix
delete that retains any file still referenced from the committed
version's manifests. The crash-injection suites of both stores run
parameterized over both (tests/test_state_backend.py,
tests/test_incremental_dedup.py), which is what proves the protocol
itself — reads resolve through ``read_locations`` and carry
listings through ``list_dir``, never by assuming the physical tree is
the logical content.

One on-disk format per store: both stores seal their state dir with
``_layout.json`` = ``{"format": 1, "backend": <layout_id>, <store
fields>}`` (the tx store's bucket count, the detector's store list)
through :func:`write_layout` before their first write, and validate it
with :func:`check_layout` on every open. A dir that is absent or holds
only the writer lock is fresh; anything else without a readable
format-1 seal, or sealed by another backend or with other store
fields, is refused with a ``ValueError`` — an unreadable store is never read as empty. There is
no migration path: rebuild the state dir from the event log (move it
aside, then replay the source from its start into an empty dir).

Reference parity: the reference delegates the equivalent durability to
Kafka-backed Flink checkpoints (streaming-examples
KafkaChangelogJob.java + Flink's state backend config); this engine
owns its state files, so it owns the commit protocol too.
"""

from __future__ import annotations

import errno
import json
import os
import re
import shutil
import time
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

# errnos meaning "this filesystem cannot hardlink src→dst" (cross-
# device bind mounts, some network/container filesystems); anything
# else (ENOENT, EIO, injected test errors) must propagate
_LINK_UNSUPPORTED = {
    errno.EXDEV,
    errno.EPERM,
    errno.ENOTSUP,
    getattr(errno, "EOPNOTSUPP", errno.ENOTSUP),
    errno.EMLINK,
}


def _internal_name(name: str) -> bool:
    """Writer-internal sidecar files that must never enter the logical
    namespace: Hadoop checksum files (``.part-*.crc``), ``_SUCCESS``
    markers, temp dirs. Carrying them records dead weight in manifests
    (and the deferred delete then retains stale ``.crc`` bytes via the
    live-reference set indefinitely). Partition dirs (``_bucket=K``)
    ARE data-bearing despite the underscore — the ``=`` marks them."""
    if name.startswith("."):
        return True
    return name.startswith("_") and "=" not in name


def _atomic_publish(path: str, data: bytes) -> None:
    """Durable atomic single-object publish shared by both backends:
    write a UNIQUE dot-prefixed temp (excluded from the logical
    namespace by ``_internal_name``), fsync, then file-level
    ``os.replace`` — a concurrent reader sees old bytes, new bytes, or
    absence, never a truncation. The temp name carries pid AND a
    random component: pid alone collides when two writer hosts are
    containers that are each pid 1 (both would open the same temp, the
    second truncating the first mid-write — exactly the torn
    intermediate this helper exists to rule out)."""
    import uuid

    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.put-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    with open(tmp, "wb") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


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
    unreadable seal, any other format, a backend mismatch (the two
    backends encode the commit pointer differently, so a foreign
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
            f"{layout.get('backend')!r} storage backend but is opened with "
            f"{backend.layout_id!r}: reopen with the sealed backend, or "
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

    #: identity sealed into the state dir's _layout.json — the two
    #: backends encode the commit pointer differently, so a state dir
    #: must be reopened by the backend that committed it (check_layout)
    layout_id: str = "abstract"

    def prepare_dir(self, path: str) -> None:
        raise NotImplementedError

    def carry_file(self, src: str, dst: str) -> None:
        """Make ``dst`` readable with ``src``'s bytes without copying
        them if the storage allows; copying is a legal fallback."""
        raise NotImplementedError

    def commit_pointer(self, state_dir: str, version: int) -> None:
        """Atomically and durably set ``state_dir``'s CURRENT pointer
        to ``version``. THE commit point of a batch."""
        raise NotImplementedError

    def read_pointer(self, state_dir: str) -> int:
        """Return the committed version, or 0 if none exists yet."""
        raise NotImplementedError

    def remove_tree(self, path: str) -> None:
        """Logically delete the prefix ``path``. May defer physical
        deletion of bytes still referenced elsewhere (manifest carry);
        must be idempotent — the GC re-issues it every batch."""
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
        manifests): a reader sees the old content, the new content, or
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
        straggler removal). Both shipped backends store published
        objects at their literal local path, so the base
        implementation is concrete."""
        try:
            with open(path, "rb") as fh:
                return fh.read()
        except FileNotFoundError:
            return None

    # -- logical namespace (reads + carry listings) ----------------------
    # The physical tree is NOT necessarily the logical content: under a
    # manifest backend a carried file has no local bytes at its logical
    # path. Everything in the commit protocol that enumerates or reads
    # state must come through these three, never through os.listdir /
    # spark.read on the logical dir.

    def dir_exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_dir(self, path: str) -> list[str]:
        """Logical entries of ``path``: physical names plus
        manifest-carried names, minus backend-internal files."""
        raise NotImplementedError

    def read_locations(self, path: str) -> list[str]:
        """Concrete locations a Spark reader can scan for the logical
        dir ``path`` — ``[path]`` when the physical tree IS the
        logical content; the dereferenced file list otherwise. Empty
        when the logical dir is absent or holds no data files."""
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
    # local marker). The shipped backends share the O_EXCL emulation
    # via _ExclusiveCreateBuildMarkers. The marker name
    # (``<dir>.builder``, a SIBLING of the build dir so the claim
    # survives the overwrite of the very dir it fences) is part of
    # the cross-backend layout.

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


class _ExclusiveCreateBuildMarkers:
    """The shipped O_EXCL emulation of the build-marker conditional
    put, shared by the local backend and the manifest double (for
    which exclusive-create IS the faithful model of the object
    store's `if-none-match`). Mixed into concrete backends only —
    see the fencing contract on StateStorageBackend."""

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
    (a partial restore, a deleted CURRENT/_pointer) — ``v2`` is built
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
            "deleted CURRENT/_pointer), and reading or reclaiming the dirs "
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


def _retire_version(
    backend: "StateStorageBackend",
    root: str,
    version: int,
    retire: Callable[[int], None] | None = None,
) -> None:
    """Remove the superseded ``v<version>``: the caller's
    ``retire(version)`` hook (work that must see the dir before it
    goes), then release-then-remove — the dir can carry a marker
    leaked by a crash between its own commit and release, and once the
    dir is gone no listing surfaces it again."""
    if retire is not None:
        retire(version)
    path = os.path.join(root, f"v{version}")
    backend.release_build(path)
    backend.remove_tree(path)


def commit_version(
    backend: "StateStorageBackend",
    root: str,
    version: int,
    owner: str,
    write: Callable[[str], T],
    retire: Callable[[int], None] | None = None,
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
      4. retire ``v<version-1>`` (:func:`_retire_version`; a no-op
         removal of the absent ``v0`` after a store's first build).

    A crash before the flip leaves the old version committed and the
    half-built dir to :func:`gc_versions`; a crash after it leaves the
    superseded dir, which the GC retires with the same hook."""
    path = os.path.join(root, f"v{version}")
    acquire_build(backend, path, owner)
    backend.remove_tree(path)
    backend.prepare_dir(path)
    result = write(path)
    backend.validate_build(path, owner)
    backend.commit_pointer(root, version)
    backend.release_build(path)
    _retire_version(backend, root, version - 1, retire)
    return result


def gc_versions(
    backend: "StateStorageBackend",
    root: str,
    owner: str,
    retire: Callable[[int], None] | None = None,
) -> None:
    """One GC sweep of the pointer root ``root``, under the writer
    lock; refuses a lost pointer before touching anything. A version
    ABOVE the pointer (a build that died before its flip) is CLAIMED
    before it is removed — :func:`acquire_build` raises on a live
    foreign builder and takes over an abandoned same-host claim, so
    the sweep never races a fresh claimer between a probe and the
    delete. A version BELOW it (a build that died before its
    retirement) is retired with the caller's ``retire`` hook. POSIX
    ``CURRENT.<n>`` pointer temps are removed. A lagging listing only
    defers a removal to a later sweep."""
    if not backend.dir_exists(root):
        return
    cur = backend.read_pointer(root)
    entries = backend.list_dir(root)
    for v in _versions(root, entries, cur):
        if v > cur:
            path = os.path.join(root, f"v{v}")
            acquire_build(backend, path, owner)
            backend.remove_tree(path)
            backend.release_build(path)
        elif v < cur:
            _retire_version(backend, root, v, retire)
    for e in entries:
        if e.startswith("CURRENT."):
            backend.remove_file(os.path.join(root, e))


class LocalPosixBackend(_ExclusiveCreateBuildMarkers, StateStorageBackend):
    """The shipped backend: hardlink carry (copy fallback for
    filesystems that refuse links), fsync'd temp + ``os.replace``
    pointer flip, directory fsync for rename durability."""

    layout_id = "local-posix"

    def prepare_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def carry_file(self, src: str, dst: str) -> None:
        try:
            os.link(src, dst)
        except OSError as exc:
            if exc.errno not in _LINK_UNSUPPORTED:
                raise
            # correctness needs only that dst has src's bytes; the
            # link is the zero-copy fast path, not a requirement
            shutil.copy2(src, dst)

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

    def remove_tree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def remove_file(self, path: str) -> None:
        try:
            os.unlink(path)
        except OSError:
            pass

    def publish_file(self, path: str, data: bytes) -> None:
        _atomic_publish(path, data)

    def dir_exists(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        return sorted(n for n in os.listdir(path) if not _internal_name(n))

    def read_locations(self, path: str) -> list[str]:
        return [path] if os.path.exists(path) else []


class ManifestBackend(_ExclusiveCreateBuildMarkers, StateStorageBackend):
    """Object-store semantics emulated over a local directory: the
    test-double that proves the commit protocol holds WITHOUT POSIX's
    two load-bearing conveniences. Forbidden here, by construction:

    - **hardlinks** — ``carry_file`` never touches the bytes; it
      appends ``{dst_name: physical_src}`` to the destination dir's
      ``_carry.json`` (the manifest pattern of S3/GCS table formats:
      the "directory" is a file list, a carried object is a reference
      to the original). Chains stay depth-1: carrying an
      already-carried file records the ORIGINAL physical path.
    - **renames** — ``commit_pointer`` emulates a conditional put:
      exclusive create of ``_pointer/gen-<g+1>`` (if-match on the
      previous generation; a concurrent committer loses with an error
      instead of last-writer-wins). ``read_pointer`` resolves the
      latest generation WITHOUT trusting the prefix listing: a
      ``_latest`` hint object (PUT after every successful create,
      BEFORE superseded-generation cleanup) plus forward exact-key
      GET probes recover the true latest with no LIST at all — see
      ``_gen_candidates`` for the invariant.
    - **synchronous prefix delete** — ``remove_tree`` is DEFERRED: a
      file still referenced from the committed version's manifests
      survives (deleting it would destroy carried state — the POSIX
      backend never faces this because hardlinked bytes outlive their
      directory). Unreferenced files and manifests go immediately;
      retained files fall out on a later pass once the buckets
      referencing them are rewritten. Idempotent, like the
      orphan-file GC of any manifest table format.

    Reads resolve through ``read_locations`` (physical data files plus
    dereferenced manifest entries), which is exactly what forces the
    protocol to stop assuming the physical tree is the logical
    content."""

    MANIFEST = "_carry.json"
    #: hint object inside ``_pointer/`` naming the highest generation a
    #: successful commit has published — the GET that frees generation
    #: resolution from the prefix listing (see ``_gen_candidates``)
    LATEST = "_latest"
    layout_id = "manifest"

    # -- manifest helpers -------------------------------------------------
    def _manifest(self, dirpath: str) -> dict[str, str]:
        p = os.path.join(dirpath, self.MANIFEST)
        if not os.path.exists(p):
            return {}
        import json

        with open(p) as fh:
            return json.load(fh)

    def _write_manifest(self, dirpath: str, entries: dict[str, str]) -> None:
        import json

        p = os.path.join(dirpath, self.MANIFEST)
        with open(p, "w") as fh:
            json.dump(entries, fh)
            fh.flush()
            os.fsync(fh.fileno())

    def prepare_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def carry_file(self, src: str, dst: str) -> None:
        # dereference so reference chains never deepen: the manifest
        # entry always names a PHYSICAL file
        src_dir, src_name = os.path.split(src)
        physical = self._manifest(src_dir).get(src_name)
        if physical is None:
            if not os.path.exists(src):
                raise FileNotFoundError(src)
            physical = os.path.abspath(src)
        dst_dir, dst_name = os.path.split(dst)
        entries = self._manifest(dst_dir)
        entries[dst_name] = physical
        self._write_manifest(dst_dir, entries)

    def commit_pointer(self, state_dir: str, version: int) -> int:
        """Returns the generation number this commit won — exposed so
        the multi-writer contention tests can assert exactly one winner
        per generation (callers may ignore it)."""
        gen_dir = os.path.join(state_dir, "_pointer")
        os.makedirs(gen_dir, exist_ok=True)
        # resolve the next generation from the hint + forward GET
        # probes, never a listing: under list-after-write lag a stale
        # listing can miss recent generations, and if the colliding
        # name was already reclaimed by a superseder's cleanup, a
        # listing-derived nxt would EXCLUSIVE-CREATE an already-spent
        # generation number — a silently lost commit (readers resolve
        # a higher gen, this writer thinks it won)
        prev = self._gen_candidates(gen_dir)
        nxt = (prev[-1][0] + 1) if prev else 1
        target = os.path.join(gen_dir, f"gen-{nxt:012d}")
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"pointer generation conflict at {target}: another writer "
                "committed concurrently (conditional put failed)"
            )
        try:
            os.write(fd, str(version).encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        dirfd = os.open(gen_dir, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)
        # ORDER MATTERS: publish the hint BEFORE deleting superseded
        # generations. The resolution invariant — "a deleted generation
        # always has a visible hint ≥ its superseder" — is what lets a
        # reader whose listing is stale recover via the hint GET; a
        # crash in between leaves extra undeleted gens (harmless, the
        # next commit's cleanup reclaims them), never a deleted gen
        # with a stale hint. The exclusive create above was the COMMIT
        # POINT: a failed hint PUT must not report a committed batch as
        # failed (the caller would replay a batch whose state already
        # landed) — the hint is advisory and the +1 probe heals it, so
        # swallow the failure and skip ONLY the cleanup (deleting under
        # a stale hint would break the invariant).
        try:
            self._publish_hint(gen_dir, nxt)
        except Exception:
            import warnings

            warnings.warn(
                f"pointer hint publish failed in {gen_dir} after commit of "
                f"gen-{nxt}; superseded-generation cleanup deferred to the "
                "next successful commit",
                RuntimeWarning,
                stacklevel=2,
            )
            return nxt
        self._reclaim_pointer_garbage(gen_dir, nxt)
        return nxt

    @staticmethod
    def _reclaim_pointer_garbage(
        gen_dir: str, live_gen: int, min_age_s: float = 60.0
    ) -> None:
        """Best-effort object deletes after a commit published its
        hint: every generation below ``live_gen`` (superseded, torn,
        or left by a crash between an earlier hint PUT and its
        cleanup — all safe to delete under a hint ≥ ``live_gen``), and
        ``.<name>.put-*`` temps a crash stranded between write and
        rename. ``_pointer/`` is never remove_tree'd, so without this
        sweep both would accumulate forever. The listing only picks
        garbage — resolution never reads it, so a stale one merely
        defers a delete. The age floor keeps a concurrent writer's
        in-flight temp (lifetime: microseconds) safe; deleting one
        anyway only fails that writer's advisory hint PUT, which
        commit_pointer tolerates."""
        now = time.time()
        try:
            names = os.listdir(gen_dir)
        except FileNotFoundError:
            return
        for name in names:
            full = os.path.join(gen_dir, name)
            try:
                if name.startswith("gen-"):
                    if int(name[4:]) < live_gen:
                        os.unlink(full)
                elif ".put-" in name and now - os.path.getmtime(full) > min_age_s:
                    os.unlink(full)
            except (OSError, ValueError):
                pass

    # -- generation resolution (LIST-free by design) ----------------------
    def _read_hint(self, gen_dir: str) -> int:
        raw = self.read_file(os.path.join(gen_dir, self.LATEST))
        if raw is None:
            return 0
        try:
            return int(raw.decode().strip())
        except ValueError:
            # publish_file is an atomic PUT on every store this
            # protocol targets; unreadable bytes here mean the store
            # broke that contract — resolving without it could return
            # a stale or zero pointer, so fail loud instead
            raise RuntimeError(
                f"corrupt pointer hint {gen_dir}/{self.LATEST}: "
                f"{raw!r} is not a generation number"
            )

    def _publish_hint(self, gen_dir: str, gen: int) -> None:
        # monotonic: a delayed writer must never move the hint
        # backwards — readers rely on "the generation object at the
        # current hint value always exists", which only holds if every
        # deletion happened under a visible hint ≥ its superseder. A
        # bare read-check-write is NOT enough: a writer stalling
        # between its check and its PUT regresses the hint past a
        # superseder's cleanup, silently re-opening the reclaimed-
        # generation reuse this whole mechanism exists to close (found
        # by review with a live two-writer reproduction). Real stores
        # give a conditional PUT (If-Match); the local emulation is an
        # flock held across check+PUT — same standing as O_EXCL for
        # the conditional create, auto-released on process death so a
        # crash can never wedge later committers.
        import fcntl

        lock_path = os.path.join(gen_dir, ".hint.lock")
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            if self._read_hint(gen_dir) >= gen:
                return
            self.publish_file(
                os.path.join(gen_dir, self.LATEST), str(gen).encode()
            )
        finally:
            os.close(fd)  # closing releases the flock

    def _gen_candidates(self, gen_dir: str) -> list[tuple[int, str]]:
        """The generations that MAY be latest: the ``_latest`` hint
        plus forward exact-key GET probes from it (from 0 when there
        is no hint — a store whose first hint PUT failed). No LIST:
        cleanup only ever deletes a generation after a hint ≥ its
        superseder is published (commit order: create → hint →
        delete; the hint write is monotonic), so the generation at the
        current hint value exists unless superseded, and every LIVE
        generation above it is reachable by dense +1 probes (creates
        are dense: nxt = max-observed + 1, collisions fail loud).
        Exact-key GETs are read-your-writes fresh, so no listing
        staleness can hide the latest."""
        cands = {}
        g = self._read_hint(gen_dir)
        if g:
            cands[g] = f"gen-{g:012d}"
        while True:
            name = f"gen-{g + 1:012d}"
            if os.path.exists(os.path.join(gen_dir, name)):  # exact-key GET
                g += 1
                cands[g] = name
            else:
                break
        return sorted(cands.items())

    def read_pointer(self, state_dir: str) -> int:
        # Walk generations newest-first, SKIPPING torn ones: a crash
        # between the exclusive create and the durable write leaves an
        # empty/partial gen object — that commit never happened, so
        # the previous generation is the committed state. A real
        # conditional put is atomic and can't produce this; the
        # emulation must tolerate it rather than wedging every reopen
        # on int(''). Deliberately NO unlink here: a reader cannot
        # distinguish an abandoned torn object from a commit that is
        # mid-write (created, bytes not yet visible) — deleting the
        # latter would destroy a succeeding commit and free its
        # generation number for reuse. Skipped objects are reclaimed
        # by the NEXT successful commit_pointer's superseded-
        # generation cleanup, and their names stay occupied until
        # then (commit_pointer numbers above ALL observed names), so
        # no generation is ever won twice.
        gen_dir = os.path.join(state_dir, "_pointer")
        last_top, stalled = -1, 0
        while True:
            gens = self._gen_candidates(gen_dir)
            top = gens[-1][0] if gens else 0
            if top > last_top:
                last_top, stalled = top, 0
            else:
                # a retry that observes no higher candidate than the
                # one whose object it just found deleted is only
                # legitimate transiently (a superseder mid-publish);
                # unbounded it means the store broke the PUT-visibility
                # contract (e.g. a regressed hint below a deleted gap
                # the +1 probes cannot cross) — fail loud, never spin
                # or silently return a stale/zero pointer
                stalled += 1
                if stalled > 100:
                    raise RuntimeError(
                        f"pointer resolution stalled in {gen_dir}: "
                        f"candidate gen-{top} repeatedly deleted with no "
                        "higher generation visible via the hint or probes"
                    )
            for _g, name in reversed(gens):
                p = os.path.join(gen_dir, name)
                try:
                    with open(p) as fh:
                        return int(fh.read().strip())
                except FileNotFoundError:
                    # superseded by a concurrent commit (the committer
                    # deletes old gens only AFTER publishing its hint):
                    # re-resolve — the fresh hint GET names the newer
                    # generation. Falling through to an older name
                    # instead could return a stale (or worse, zero)
                    # pointer. Terminates: each retry observes a
                    # strictly higher hint than the one whose gen it
                    # just found deleted.
                    break
                except ValueError:
                    continue  # torn: treat as never-committed
            else:
                return 0

    def _live_refs(self, state_dir: str) -> set[str]:
        """Physical paths referenced by the COMMITTED version's
        manifests — the files a deferred delete must retain."""
        cur = self.read_pointer(state_dir)
        refs: set[str] = set()
        if cur == 0:
            return refs
        root = os.path.join(state_dir, f"v{cur}")
        for dirpath, _dirs, files in os.walk(root):
            if self.MANIFEST in files:
                refs.update(
                    os.path.realpath(p) for p in self._manifest(dirpath).values()
                )
        return refs

    def remove_tree(self, path: str) -> None:
        if not os.path.isdir(path):
            return
        # version dirs live directly under the state root; the root is
        # where the pointer (and thus the live-reference set) resolves
        state_dir = os.path.dirname(os.path.abspath(path))
        live = self._live_refs(state_dir)
        for dirpath, _dirs, files in os.walk(path, topdown=False):
            for f in files:
                full = os.path.join(dirpath, f)
                if os.path.realpath(full) in live:
                    continue  # deferred: still carried by the live version
                try:
                    os.unlink(full)
                except OSError:
                    pass
            try:
                os.rmdir(dirpath)  # only succeeds once truly empty
            except OSError:
                pass

    def remove_file(self, path: str) -> None:
        try:
            os.unlink(path)
        except OSError:
            pass

    def publish_file(self, path: str, data: bytes) -> None:
        # a real object-store PUT is atomic per object: a concurrent
        # reader sees the old object, the new object, or absence —
        # never truncated bytes. A direct local open(path, "wb")
        # CANNOT emulate that (the truncate-then-write window shows a
        # torn intermediate to a concurrent process — observable once
        # the _latest pointer hint made published objects multi-
        # writer-hot), so the double uses a unique temp + file-level
        # os.replace, which is an EMULATION of the store's own PUT
        # guarantee exactly like O_EXCL emulates its conditional put —
        # not a protocol dependence on renames (directory renames stay
        # forbidden and tripwired).
        _atomic_publish(path, data)

    def dir_exists(self, path: str) -> bool:
        # Read-your-writes fencing: existence resolves through the
        # dir's manifest object (a GET — the guarantee stores do give)
        # before falling back to the LIST-backed probe. A bucket whose
        # content was carried moments ago IS its manifest; relying on
        # the prefix listing alone loses that bucket for every reader
        # inside the list-after-write lag window (found by running the
        # crash suite under LaggedManifestBackend: the next batch's
        # _load_buckets saw stale-absent, silently dropping state).
        if os.path.exists(os.path.join(path, self.MANIFEST)):
            return True
        return self._dir_probe(path)

    def _dir_probe(self, path: str) -> bool:
        """The LIST-backed existence probe (lagged by the
        eventual-consistency double; the manifest GET above is not)."""
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        physical = [
            n for n in self._physical_listing(path) if not _internal_name(n)
        ]
        carried = [n for n in self._manifest(path) if not _internal_name(n)]
        return sorted(set(physical) | set(carried))

    def read_locations(self, path: str) -> list[str]:
        if not self.dir_exists(path):
            return []
        locs = [
            os.path.join(path, n)
            for n in self._physical_listing(path)
            if not n.startswith(("_", "."))
        ]
        # filter by the CARRIED name, not the physical target's: a
        # legacy manifest may reference a sidecar recorded before
        # list_dir excluded them
        locs.extend(
            phys
            for name, phys in self._manifest(path).items()
            if not _internal_name(name)
        )
        return sorted(locs)

    def _physical_listing(self, path: str) -> list[str]:
        """The LIST operation — the one primitive real object stores
        have historically served stale (list-after-write lag). Isolated
        so the eventual-consistency double can lag it without touching
        direct object GETs, which stores do serve read-your-writes."""
        return os.listdir(path)


class LaggedManifestBackend(ManifestBackend):
    """Eventual-consistency double: ``list_dir``/``dir_exists`` (the
    LIST-backed namespace reads) serve STALE views for ``lag_ops``
    subsequent backend operations after a mutation touches a prefix —
    the classic object-store list-after-write hazard. Direct object
    GETs (manifest reads, pointer generation/hint reads, file opens)
    stay
    fresh: that is the read-your-writes guarantee real stores do give,
    and it is why the protocol's commit point is a pointer GET, never
    a listing. The ``_pointer/`` prefix listing is lagged too
    (``commit_pointer`` snaps it); generation resolution never reads
    it — it rides the ``_latest`` hint object plus exact-key GET
    probes (``_gen_candidates``), with the
    dual-writer lost-commit scenario and stale-listing reads pinned
    by tests. Running the full crash/lifecycle suite under this
    double is what proves the GC's deferred-delete and carry
    enumeration never depend on a listing reflecting a write that
    just happened.

    SCOPE — what this double does and does not lag: windows open on
    BACKEND-MEDIATED mutations (prepare_dir/publish_file/remove_*/
    carry_file/commit_pointer) AND — since r11 — on direct Spark
    writes, which BOTH stores announce through ``note_spark_write``
    right before each parquet append / epoch rewrite / state-frame
    write, so backend listings after a Spark write run stale-SHORT
    like any other mutation. Stale views are served to BACKEND-
    MEDIATED reads (dir_exists probes, list_dir, read_locations'
    physical half). The one formerly correctness-bearing backend LIST
    — the tx store's untouched-bucket carry enumeration — is sidecar-
    driven since r11 (``_parts.json``, a publish_file'd GET), so no
    protocol read left depends on a listing reflecting a just-issued
    write. Spark's own scan-time file enumeration (Hadoop FS listing)
    remains un-intercepted — that half of listing consistency is the
    store's contract with Spark itself, which every parquet-on-object-
    store deployment already requires (and which S3/GCS/Azure all
    guarantee today). The protocol is therefore designed so that NO correctness-
    bearing read depends on a backend LIST being fresh: store loads
    resolve existence from the committed pointer (a GET) and hand the
    epoch dir to Spark to enumerate; the remaining backend listings
    (epoch GC, cap-count delta enumeration, hot-bucket grouping) all
    degrade stale-SAFE (skip-and-retry-later or fire-late), each
    documented at its call site. First contact with this double found
    two real stale-read bugs: the tx suite's dir_exists state loss
    (fixed with the manifest-GET fence above) and the detector's
    _load_store reading a just-written epoch as absent (fixed by the
    pointer-witness direct read)."""

    layout_id = ManifestBackend.layout_id  # same protocol, same seal

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

    def carry_file(self, src: str, dst: str) -> None:
        self._snap(os.path.dirname(os.path.abspath(dst)))
        super().carry_file(src, dst)

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

    def commit_pointer(self, state_dir: str, version: int) -> int:
        # the generation CAS, hint PUT, and superseded-gen deletes all
        # mutate _pointer/: freeze its listing like any other prefix.
        # Resolution never reads it (the _latest hint + exact-key GET
        # probes of _gen_candidates), and running every suite with
        # this window open is what proves it.
        self._snap(os.path.join(os.path.abspath(state_dir), "_pointer"))
        return super().commit_pointer(state_dir, version)

    # -- LIST-backed reads: serve the stale view while it lasts ----------
    def _dir_probe(self, path: str) -> bool:
        view = self._stale_view(path)
        if view is not None:
            return view[0]
        return super()._dir_probe(path)

    def _physical_listing(self, path: str) -> list[str]:
        # list_dir/read_locations flow through here; the manifest
        # merge they add on top is a GET and stays fresh. A prefix the
        # stale view believes absent LISTS as empty (that is what a
        # real store returns), never as an error.
        view = self._stale_view(path)
        if view is not None:
            existed, listing = view
            return list(listing) if existed else []
        return super()._physical_listing(path)
