"""Generation-pointer storage seam for the table layer's atomic snapshots.

An OVERWRITE commit is a two-step protocol: publish staged files into a
fresh ``gen-NNNNNN/`` directory, then swap the table's ``_current``
pointer to name it (see ``snapshot.commit``, which every sink and ALTER
publishes through). Both steps touch only
three storage primitives, which this module isolates behind
:class:`PointerStore` so a deployment can swap the POSIX implementation
for an object-store one (S3/GCS manifest object with conditional PUT /
generation preconditions) without touching the commit protocol itself:

* ``claim_generation`` — reserve a generation name exclusively, so two
  concurrent overwrites can never interleave files into one directory;
* ``swap_pointer``   — compare-and-swap the pointer, so a lost race is a
  loud :class:`ConcurrentWriteError`, never a silently mixed snapshot;
* ``lock``           — serialize whole publish sections of writers on the
  same table, which upgrades "loud failure" to "both writers succeed,
  last commit wins" where the store supports it.

The default :class:`LocalPointerStore` uses ``os.mkdir`` exclusive-create
for claims, write-temp + ``os.replace`` for the swap (atomic on POSIX),
and an advisory ``fcntl.flock`` on ``<table>/_writer.lock`` to serialize
writers. The reference format is a single-file library with an explicit
one-rowgroup misuse guard (``/root/reference/src/write/writer.rs:107-112``)
and no table/catalog layer at all — multi-writer coordination is engine
surface this repo adds, and the same refuse-don't-corrupt posture applies.

Concurrency contract (also stated on the sink): with the default local
store, concurrent writers against one table are serialized by the
advisory lock, so concurrent overwrites commit as two distinct
generations (last pointer swap wins) and an append never publishes into a
generation that an overwrite is concurrently garbage-collecting. On a
store whose ``lock`` is a no-op (object stores without one), generation
claims and append re-verification still detect their races loudly; the
pointer swap itself is check-then-replace here (see the ``swap_pointer``
docstring), so pointer-vs-pointer race detection is best-effort until an
object-store adapter overrides it with a true conditional PUT. In every
case the outcome is last-swap-wins with the superseded generation
retained — never a mixed or torn snapshot.
"""

from __future__ import annotations

import contextlib
import os


class ConcurrentWriteError(RuntimeError):
    """Another writer committed to this table concurrently; this commit was
    refused to avoid publishing a mixed or lost snapshot. The winner's
    snapshot is intact and live; re-running the failed write retries
    cleanly (Spark re-stages its tasks from source)."""


class PointerStore:
    """Storage primitives behind the generation pointer protocol.

    The base class implements the POSIX-correct default behavior; an
    object-store adapter overrides these four methods (and typically makes
    ``lock`` a no-op, leaning on ``claim_generation`` +
    ``swap_pointer``'s CAS for race detection)."""

    #: pointer file naming the live generation
    CURRENT = "_current"
    #: advisory writer lock file (hidden from scans by the `_` prefix)
    LOCKFILE = "_writer.lock"

    def read_pointer(self, table_path: str) -> str | None:
        """Current generation name, or None if the table has no pointer."""
        cur = os.path.join(table_path, self.CURRENT)
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return f.read().strip()

    def claim_generation(self, table_path: str, gen_name: str) -> bool:
        """Exclusively reserve ``gen_name`` for this writer. True if the
        claim succeeded, False if another writer already holds it (caller
        retries with the next number). Exclusive-create of the generation
        directory doubles as the claim token — the directory is invisible
        to readers until the pointer names it."""
        try:
            os.mkdir(os.path.join(table_path, gen_name))
            return True
        except FileExistsError:
            return False

    def swap_pointer(
        self, table_path: str, new_gen: str, expected: str | None
    ) -> None:
        """Compare-and-swap the pointer from ``expected`` to ``new_gen``.

        Raises :class:`ConcurrentWriteError` if the pointer no longer
        names ``expected`` (another writer committed since this writer
        planned), or if the post-swap read-back does not name ``new_gen``
        (a racing swap on a store without locking). Under the local
        store's ``lock`` neither can fire.

        LIMITATION — the base implementation is check-then-replace, not a
        true atomic CAS: on a no-op-lock store two swaps can interleave so
        that writer B reads the expected pointer before A's ``os.replace``
        lands and replaces after A's read-back, letting BOTH report
        success while A's snapshot is silently superseded (last replace
        wins; never a mixed or torn snapshot — A's generation stays
        retained and time-travelable). Race DETECTION on lock-less stores
        is therefore best-effort at this layer; a real object-store
        adapter MUST override ``swap_pointer`` with the store's native
        conditional PUT / generation-precondition primitive to make the
        CAS atomic. The bundled guarantees are: LocalPointerStore (lock
        held) — serialized, no race; UnlockedPointerStore — claim +
        append re-verification still detect their races loudly, and the
        pointer race above narrows to the replace/read-back window."""
        import uuid as _uuid

        current = self.read_pointer(table_path)
        if current != expected:
            raise ConcurrentWriteError(
                f"generation pointer of {table_path} moved from "
                f"{expected!r} to {current!r} during this overwrite — "
                "another writer committed concurrently; this snapshot was "
                "NOT published"
            )
        # per-swap unique temp name: a shared fixed name would let two
        # racing swaps on a lock-less store consume each other's temp file
        # (raw FileNotFoundError, possibly a torn pointer) instead of the
        # contractual ConcurrentWriteError below
        tmp = os.path.join(
            table_path, f"{self.CURRENT}.tmp.{_uuid.uuid4().hex}"
        )
        try:
            with open(tmp, "w") as f:
                f.write(new_gen)
            os.replace(tmp, os.path.join(table_path, self.CURRENT))
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        after = self.read_pointer(table_path)
        if after != new_gen:
            raise ConcurrentWriteError(
                f"generation pointer of {table_path} reads {after!r} "
                f"immediately after swapping to {new_gen!r} — a concurrent "
                "writer raced the swap; table state is their snapshot"
            )

    @contextlib.contextmanager
    def lock(self, table_path: str):
        """Exclusive advisory lock serializing publish sections of writers
        on one table. Held across stage-move + pointer swap + GC, so a
        reader-invisible partial publish can never be observed by a
        concurrent writer's GC. Local impl: ``fcntl.flock`` on
        ``<table>/_writer.lock`` (advisory — both writers must go through
        this sink; an out-of-band ``rm`` is not protected, same as every
        file-based table format)."""
        os.makedirs(table_path, exist_ok=True)
        import fcntl

        fd = os.open(
            os.path.join(table_path, self.LOCKFILE),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            try:
                fcntl.flock(fd, fcntl.LOCK_UN)
            finally:
                os.close(fd)


class LocalPointerStore(PointerStore):
    """POSIX filesystem store (the default). All behavior inherited."""


class UnlockedPointerStore(PointerStore):
    """A store whose ``lock`` is a no-op — models object stores with no
    locking primitive. Generation claims and append re-verification still
    detect their races and raise :class:`ConcurrentWriteError`; the
    inherited pointer swap is best-effort check-then-replace (see
    ``PointerStore.swap_pointer`` — last replace wins, superseded
    snapshots stay retained). Used by tests to pin the loud-failure
    paths, and a template for real S3/GCS adapters, which MUST override
    the pointer methods with conditional PUTs on a manifest object to
    make the swap a true CAS."""

    @contextlib.contextmanager
    def lock(self, table_path: str):
        os.makedirs(table_path, exist_ok=True)
        yield


class PreconditionFailed(Exception):
    """A conditional blob write lost its precondition (version moved or
    the object already exists) — the blob-store analogue of HTTP 412."""


class BlobStore:
    """Minimal conditional-write blob interface — the three primitives a
    real object store provides server-side-atomically (S3 conditional
    writes ``If-None-Match:*`` / ``If-Match``, GCS
    ``x-goog-if-generation-match``, Azure ``If-Match`` ETags):

    * ``get(key) -> (data, version) | None``
    * ``put_if_absent(key, data) -> version`` (raises
      :class:`PreconditionFailed` if the key exists)
    * ``put_if_match(key, data, expected_version) -> version`` (raises
      :class:`PreconditionFailed` if the key's version moved)

    Versions are opaque, monotonically distinct per write (ETag /
    generation number)."""

    def get(self, key: str):
        raise NotImplementedError

    def put_if_absent(self, key: str, data: bytes):
        raise NotImplementedError

    def put_if_match(self, key: str, data: bytes, expected_version):
        raise NotImplementedError


class InMemoryBlobStore(BlobStore):
    """Process-local BlobStore double (unit tests / single-process use).
    A threading lock models the store's server-side atomicity."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._data: dict[str, tuple[bytes, int]] = {}
        self._counter = 0

    def get(self, key):
        with self._lock:
            return self._data.get(key)

    def put_if_absent(self, key, data):
        with self._lock:
            if key in self._data:
                raise PreconditionFailed(key)
            self._counter += 1
            self._data[key] = (data, self._counter)
            return self._counter

    def put_if_match(self, key, data, expected_version):
        with self._lock:
            cur = self._data.get(key)
            if cur is None or cur[1] != expected_version:
                raise PreconditionFailed(key)
            self._counter += 1
            self._data[key] = (data, self._counter)
            return self._counter


class FileBlobStore(BlobStore):
    """File-backed BlobStore double usable ACROSS PROCESSES (the sink's
    commit runs in a spawned Python runner, so an in-memory double can't
    see the driver's writes). Each key is one JSON file under ``root``;
    a per-key ``fcntl`` lock models the object store's SERVER-SIDE
    atomicity of a single conditional PUT — it is not a table-level
    writer lock, and the pointer protocol above it remains lock-free
    (every run of the publish section races freely, exactly the
    object-store posture)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        import hashlib

        return os.path.join(
            self.root, hashlib.sha256(key.encode()).hexdigest() + ".json"
        )

    @contextlib.contextmanager
    def _key_lock(self, key: str):
        import fcntl

        fd = os.open(self._path(key) + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            try:
                fcntl.flock(fd, fcntl.LOCK_UN)
            finally:
                os.close(fd)

    def _read(self, key):
        import json as _json

        try:
            with open(self._path(key)) as f:
                raw = _json.load(f)
            return bytes.fromhex(raw["data"]), raw["version"]
        except (OSError, ValueError, KeyError):
            return None

    def _write(self, key, data: bytes, version: int) -> None:
        import json as _json
        import uuid as _uuid

        p = self._path(key)
        tmp = f"{p}.tmp.{_uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _json.dump({"data": data.hex(), "version": version}, f)
        os.replace(tmp, p)

    def get(self, key):
        with self._key_lock(key):
            return self._read(key)

    def put_if_absent(self, key, data):
        with self._key_lock(key):
            if self._read(key) is not None:
                raise PreconditionFailed(key)
            self._write(key, data, 1)
            return 1

    def put_if_match(self, key, data, expected_version):
        with self._key_lock(key):
            cur = self._read(key)
            if cur is None or cur[1] != expected_version:
                raise PreconditionFailed(key)
            self._write(key, data, cur[1] + 1)
            return cur[1] + 1


class ConditionalPutPointerStore(PointerStore):
    """Object-store pointer adapter: a TRUE atomic CAS via conditional
    PUTs on a pointer object — closes the base class's check-then-replace
    window (two racing swaps can never both succeed: exactly one
    ``put_if_match`` wins the version precondition, the other raises).

    ``lock`` is a no-op (object stores have none); ``claim_generation``
    is a ``put_if_absent`` on a claim object; ``swap_pointer`` reads the
    pointer object's (value, version), verifies the value equals the
    writer's expected generation, and CASes on the VERSION — the
    read-check-CAS has no TOCTOU window because the version precondition
    covers it, and value ABA is impossible (generation numbers never
    repeat going forward; a rollback re-points but still bumps the
    version).

    POSIX-reader bridge: this repo's scan path resolves generations by
    reading the ``_current`` file, so after every successful CAS the
    committed value is MIRRORED into it, guarded by a version file +
    short local lock so a slow loser can never roll the mirror backward.
    A real S3/GCS deployment reads the pointer object directly and drops
    the mirror. Deployment note: pick ONE store per table — the blob
    pointer is authoritative for writers; tables previously written by
    the local store should be migrated by seeding the pointer object."""

    #: blob keys, per table
    PTR = "_current"

    def __init__(self, blob: BlobStore):
        self.blob = blob

    @contextlib.contextmanager
    def lock(self, table_path: str):
        os.makedirs(table_path, exist_ok=True)
        yield

    def _key(self, table_path: str, name: str) -> str:
        return f"{os.path.realpath(table_path)}/{name}"

    def read_pointer(self, table_path: str) -> str | None:
        got = self.blob.get(self._key(table_path, self.PTR))
        return None if got is None else got[0].decode()

    def claim_generation(self, table_path: str, gen_name: str) -> bool:
        try:
            self.blob.put_if_absent(
                self._key(table_path, f"{gen_name}.claim"), b"claimed"
            )
        except PreconditionFailed:
            return False
        # data files still live on the filesystem in this repo; a real
        # object-store deployment has no directories to create
        os.makedirs(os.path.join(table_path, gen_name), exist_ok=True)
        return True

    def swap_pointer(
        self, table_path: str, new_gen: str, expected: str | None
    ) -> None:
        key = self._key(table_path, self.PTR)
        got = self.blob.get(key)
        value = got[0].decode() if got else None
        if value != expected:
            raise ConcurrentWriteError(
                f"generation pointer of {table_path} moved from "
                f"{expected!r} to {value!r} during this overwrite — "
                "another writer committed concurrently; this snapshot "
                "was NOT published"
            )
        try:
            if got is None:
                version = self.blob.put_if_absent(key, new_gen.encode())
            else:
                version = self.blob.put_if_match(
                    key, new_gen.encode(), got[1]
                )
        except PreconditionFailed:
            raise ConcurrentWriteError(
                f"conditional PUT of {table_path} pointer "
                f"({expected!r} -> {new_gen!r}) lost its precondition — "
                "a concurrent writer committed; this snapshot was NOT "
                "published"
            ) from None
        self._mirror(table_path, new_gen, version)

    def _mirror(self, table_path: str, value: str, version) -> None:
        """Reflect the committed pointer into the local ``_current`` file
        for POSIX readers. Version-gated under a short local lock so
        mirrors only advance — a loser delayed past a newer winner's
        mirror cannot roll it back."""
        import fcntl
        import uuid as _uuid

        vfile = os.path.join(table_path, self.CURRENT + ".version")
        fd = os.open(vfile + ".lock", os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                with open(vfile) as f:
                    prev = int(f.read().strip() or 0)
            except (OSError, ValueError):
                prev = 0
            if int(version) <= prev:
                return
            tmp = os.path.join(
                table_path, f"{self.CURRENT}.tmp.{_uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(value)
            os.replace(tmp, os.path.join(table_path, self.CURRENT))
            with open(vfile + ".tmp", "w") as f:
                f.write(str(int(version)))
            os.replace(vfile + ".tmp", vfile)
        finally:
            try:
                fcntl.flock(fd, fcntl.LOCK_UN)
            finally:
                os.close(fd)


#: process-wide active store; swap with :func:`set_pointer_store` to plug
#: in an object-store adapter (or a fault-injecting fake in tests)
_ACTIVE: PointerStore = LocalPointerStore()


def get_pointer_store() -> PointerStore:
    return _ACTIVE


def store_from_option(value: str | None) -> PointerStore:
    """The store a write's ``pointer_store`` option names: ``"unlocked"``
    forces the lock-less object-store posture, ``"cas:<root>"`` the
    conditional-PUT one over a FileBlobStore (the stand-in for S3/GCS),
    anything else the active store. An option rather than
    set_pointer_store because the Python sinks (``format("quiver")``,
    ``"arrowipc"``) commit in a Spark-spawned runner a driver-side
    set_pointer_store never reaches — the option travels with the
    serialized writer. Production object-store adapters
    still install process-wide via set_pointer_store."""
    value = value or ""
    if value.lower() == "unlocked":
        return UnlockedPointerStore()
    if value.startswith("cas:"):
        return ConditionalPutPointerStore(FileBlobStore(value[len("cas:"):]))
    return get_pointer_store()


def set_pointer_store(store: PointerStore) -> PointerStore:
    """Install ``store`` as the active pointer store; returns the previous
    one so callers (tests) can restore it."""
    global _ACTIVE
    prev = _ACTIVE
    _ACTIVE = store
    return prev
