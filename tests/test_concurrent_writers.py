"""Multi-writer coordination pins for the generation-snapshot commit.

The reference is a single-file library whose only concurrency posture is a
misuse-refusal guard (one rowgroup per file, refuse the second write —
/root/reference/src/write/writer.rs:107-112); the table/generation layer is
engine surface this repo adds, so these tests pin ITS contract (stated in
``pointer_store.py`` and ``snapshot.commit``):

* concurrent OVERWRITEs commit as two DISTINCT generations — never a mixed
  directory — with a deterministic winner (last pointer swap);
* an APPEND racing an overwrite either lands in the live snapshot (local
  store: writers serialize on the advisory lock) or fails LOUDLY
  (lock-less store: CAS detection) — never silent row loss;
* generation names stay collision-proof and resolvable past 6 digits.

These drive ``snapshot.commit`` directly (the driver-side commit every
write publishes through) so fake stores and barriers can force the exact
interleavings; the end-to-end Spark write path over the default store is
covered on top.
"""

from __future__ import annotations

import os
import threading
import uuid

import pyarrow as pa
import pytest

from quiver_spark import sources
from quiver_spark.format.reader import read_table
from quiver_spark.format.writer import WriteOptions, write_table
from quiver_spark.sources import register, snapshot
from quiver_spark.sources.pointer_store import (
    ConcurrentWriteError,
    LocalPointerStore,
    PointerStore,
    UnlockedPointerStore,
    get_pointer_store,
    set_pointer_store,
)
from quiver_spark.sources.quiver_datasource import _data_root, _list_files


@pytest.fixture(autouse=True)
def _restore_store():
    """Every test leaves the process-wide store as it found it."""
    prev = get_pointer_store()
    yield
    set_pointer_store(prev)


def _stage(table_path: str, ids: list[int]) -> tuple[str, tuple[str, ...]]:
    """Fabricate one task's staged output ``(staging dir, files)``: what
    a write leaves behind for the driver-side commit to move into place."""
    task_dir = os.path.join(table_path, snapshot.STAGING_DIR, uuid.uuid4().hex)
    os.makedirs(task_dir, exist_ok=True)
    rel = f"part-{uuid.uuid4().hex}.quiver"
    write_table(
        pa.table({"id": pa.array(ids, type=pa.int64())}),
        os.path.join(task_dir, rel),
        WriteOptions(),
    )
    return task_dir, (rel,)


def _table_ids(table_path: str) -> list[int]:
    out: list[int] = []
    for f in _list_files(table_path):
        out.extend(read_table(f).column("id").to_pylist())
    return sorted(out)


def _publish(staged, table_path: str, overwrite: bool, keep_generations=1):
    """Commit ``staged`` task output into ``table_path`` the way a write
    does: an overwrite as a generation swap, an append into the live
    root."""
    snapshot.commit(
        table_path,
        ("*.quiver",),
        overwrite=overwrite,
        staged=staged,
        fmt="quiver",
        keep=keep_generations,
    )


def test_concurrent_overwrites_distinct_generations_last_swap_wins(tmp_path):
    """Two overwrites racing through the default (locking) store commit as
    two DISTINCT generations; the pointer names the later committer and
    each generation holds exactly its own writer's rows — no mixing."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)  # gen-000001

    barrier = threading.Barrier(2)
    errs: list[Exception] = []

    def run(ids):
        msg = _stage(tbl, ids)
        barrier.wait()
        try:
            _publish([msg], tbl, overwrite=True, keep_generations=3)
        except Exception as exc:  # noqa: BLE001 — collected for assert
            errs.append(exc)

    a = threading.Thread(target=run, args=([1, 2],))
    b = threading.Thread(target=run, args=([3, 4],))
    a.start(), b.start(), a.join(), b.join()

    assert not errs, errs
    gens = sorted(d for d in os.listdir(tbl) if d.startswith("gen-"))
    assert gens == ["gen-000001", "gen-000002", "gen-000003"], gens
    # each racer's generation holds exactly one writer's rows
    g2 = _table_ids(os.path.join(tbl, "gen-000002"))
    g3 = _table_ids(os.path.join(tbl, "gen-000003"))
    assert {tuple(g2), tuple(g3)} == {(1, 2), (3, 4)}
    # live snapshot is the LAST committer, whole
    assert _table_ids(tbl) in ([1, 2], [3, 4])
    assert _table_ids(tbl) == _table_ids(
        os.path.join(tbl, "gen-000003")
    ), "pointer must name the last swap"


def test_gen_claim_collision_retries_next_number(tmp_path):
    """If another writer claims the planned generation name between the
    directory listing and our claim, the publish bumps to the next free
    number instead of publishing into the contested directory."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)  # gen-000001

    class RacedOnce(LocalPointerStore):
        """First claim attempt loses (a racer took the name and we model
        their directory appearing), later attempts behave normally."""

        def __init__(self):
            self.denied: list[str] = []

        def claim_generation(self, table_path, gen_name):
            if not self.denied:
                self.denied.append(gen_name)
                os.makedirs(os.path.join(table_path, gen_name), exist_ok=True)
                return False
            return super().claim_generation(table_path, gen_name)

    store = RacedOnce()
    set_pointer_store(store)
    _publish([_stage(tbl, [7, 8])], tbl, overwrite=True, keep_generations=9)
    assert store.denied == ["gen-000002"]
    assert os.path.basename(_data_root(tbl)) == "gen-000003"
    assert _table_ids(tbl) == [7, 8]


def test_lockless_overwrite_race_loses_loudly(tmp_path):
    """On a store without locking (object-store posture), the overwrite
    that loses the race gets ConcurrentWriteError from the CAS swap —
    never a silently overwritten/mixed pointer — and the winner's
    snapshot stays live and intact."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)  # gen-000001

    class InterleavedStore(UnlockedPointerStore):
        """Deterministic interleaving: after the victim writer has read
        its expected pointer and claimed its generation, a full rival
        overwrite commits; the victim's CAS must then fail."""

        def __init__(self):
            self.fired = False

        def claim_generation(self, table_path, gen_name):
            ok = super().claim_generation(table_path, gen_name)
            if ok and not self.fired:
                self.fired = True
                # rival commits completely while the victim is mid-publish
                rival = _stage(tbl, [100])
                set_pointer_store(UnlockedPointerStore())
                try:
                    _publish([rival], tbl, overwrite=True, keep_generations=9)
                finally:
                    set_pointer_store(self)
            return ok

    set_pointer_store(InterleavedStore())
    victim = _stage(tbl, [200])
    with pytest.raises(ConcurrentWriteError, match="moved from"):
        _publish([victim], tbl, overwrite=True, keep_generations=9)
    # winner's snapshot is live and whole
    assert _table_ids(tbl) == [100]


def test_lockless_append_into_superseded_generation_is_loud(tmp_path):
    """An append whose destination generation is superseded mid-publish
    (lock-less store) must raise — the rows are not in the live snapshot
    and silent success would be silent loss."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)  # gen-000001

    class PointerMovedStore(UnlockedPointerStore):
        """Models an overwrite swapping the pointer between the append's
        root resolution and its publish-time liveness verify."""

        def read_pointer(self, table_path):
            return "gen-000042"

    set_pointer_store(PointerMovedStore())
    with pytest.raises(ConcurrentWriteError, match="NOT in the live"):
        _publish([_stage(tbl, [1, 2])], tbl, overwrite=False)


def test_append_blocks_on_concurrent_overwrite_then_lands_live(tmp_path):
    """Default store end-to-end serialization: an append that arrives
    while an overwrite holds the writer lock waits, then resolves the NEW
    generation and lands in the live snapshot — the exact interleaving
    that was silent row loss before the lock existed."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)  # gen-000001

    in_lock = threading.Event()
    release = threading.Event()

    class SlowOverwriteStore(LocalPointerStore):
        def claim_generation(self, table_path, gen_name):
            ok = super().claim_generation(table_path, gen_name)
            if ok:
                in_lock.set()  # overwrite holds the flock; let append try
                release.wait(timeout=30)
            return ok

    set_pointer_store(SlowOverwriteStore())
    ow_msg = _stage(tbl, [10, 11])
    ap_msg = _stage(tbl, [99])
    errs: list[Exception] = []

    def overwrite():
        try:
            _publish([ow_msg], tbl, overwrite=True)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    def append():
        in_lock.wait(timeout=30)
        # append now contends for the flock the overwrite holds; give the
        # overwrite a beat to reach its swap, then release it
        threading.Timer(0.3, release.set).start()
        try:
            _publish([ap_msg], tbl, overwrite=False)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=overwrite)
    t2 = threading.Thread(target=append)
    t1.start(), t2.start(), t1.join(30), t2.join(30)

    assert not errs, errs
    assert _table_ids(tbl) == [10, 11, 99], (
        "append must land inside the overwrite's new live generation"
    )
    assert os.path.basename(_data_root(tbl)) == "gen-000002"


def test_generation_names_resolve_past_six_digits(tmp_path):
    """gen-1000000 (7 digits) must stay claimable, orderable, and
    resolvable — numeric ordering everywhere, regex is \\d{6,}."""
    tbl = str(tmp_path / "tbl")
    os.makedirs(os.path.join(tbl, "gen-999999"))
    write_table(
        pa.table({"id": pa.array([1], type=pa.int64())}),
        os.path.join(tbl, "gen-999999", "part-0.quiver"),
        WriteOptions(),
    )
    with open(os.path.join(tbl, "_current"), "w") as f:
        f.write("gen-999999")
    # the millionth overwrite: max+1 widens to 7 digits
    _publish([_stage(tbl, [5])], tbl, overwrite=True, keep_generations=2)
    assert os.path.basename(_data_root(tbl)) == "gen-1000000"
    assert _table_ids(tbl) == [5]
    # numeric retention order: the NEXT overwrite must see 1000000 as
    # newest (lexicographic order would GC it and keep 999999)
    assert snapshot.generations(tbl) == ["gen-999999", "gen-1000000"]
    # and time travel to the retained 6-digit generation still works
    assert _table_ids(os.path.join(tbl, "gen-999999")) == [1]


def test_cas_swap_rejects_stale_expected(tmp_path):
    """PointerStore.swap_pointer is a real CAS: a stale expected value is
    refused and the pointer is left untouched."""
    tbl = str(tmp_path / "tbl")
    os.makedirs(os.path.join(tbl, "gen-000001"))
    os.makedirs(os.path.join(tbl, "gen-000002"))
    store = LocalPointerStore()
    store.swap_pointer(tbl, "gen-000001", None)
    assert store.read_pointer(tbl) == "gen-000001"
    with pytest.raises(ConcurrentWriteError):
        store.swap_pointer(tbl, "gen-000002", None)  # stale: now gen-000001
    assert store.read_pointer(tbl) == "gen-000001"
    store.swap_pointer(tbl, "gen-000002", "gen-000001")
    assert store.read_pointer(tbl) == "gen-000002"


def test_end_to_end_concurrent_spark_overwrites_no_mixing(spark, tmp_path):
    """Full Spark write path, default store: two overwrite jobs launched
    concurrently produce a live table equal to EXACTLY one job's dataset
    (serialized by the per-table writer lock), never a union or subset."""
    register(spark)
    out = str(tmp_path / "race")
    sources.write(spark.range(5), out)

    errs: list[Exception] = []

    def job(lo, hi):
        try:
            # Spark 4's JVM activeSession is thread-local and PySpark pins
            # a fresh JVM thread per Python thread, so Python data source
            # lookup fails in a new thread unless the session is re-pinned
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            sources.write(spark.range(lo, hi), out, keep_generations="4")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=job, args=(100, 150))
    t2 = threading.Thread(target=job, args=(500, 580))
    t1.start(), t2.start(), t1.join(120), t2.join(120)

    assert not errs, errs
    ids = sorted(
        r[0] for r in spark.read.format("quiver").load(out).collect()
    )
    assert ids in (list(range(100, 150)), list(range(500, 580))), (
        "live snapshot must be exactly one job's rows, got "
        f"{len(ids)} rows"
    )


def test_pointer_store_seam_is_pluggable(tmp_path):
    """The publish protocol runs against whatever store is installed —
    a fully fake in-memory pointer (object-store adapter shape) works
    end-to-end through set_pointer_store()."""
    tbl = str(tmp_path / "tbl")

    class MemoryPointerStore(PointerStore):
        """Pointer lives in a dict, not a file — the shape of an
        S3/GCS manifest-object adapter (conditional PUT = the dict
        compare below). Generation dirs still land on local disk."""

        def __init__(self):
            self.ptr: dict[str, str] = {}
            self.swaps = 0

        def read_pointer(self, table_path):
            return self.ptr.get(table_path)

        def swap_pointer(self, table_path, new_gen, expected):
            if self.ptr.get(table_path) != expected:
                raise ConcurrentWriteError("conditional PUT failed")
            self.ptr[table_path] = new_gen
            self.swaps += 1
            # keep the on-disk pointer in sync so _data_root resolves
            tmp = os.path.join(table_path, self.CURRENT + ".tmp")
            with open(tmp, "w") as f:
                f.write(new_gen)
            os.replace(tmp, os.path.join(table_path, self.CURRENT))

        def lock(self, table_path):
            os.makedirs(table_path, exist_ok=True)
            import contextlib

            return contextlib.nullcontext()

    store = MemoryPointerStore()
    set_pointer_store(store)
    _publish([_stage(tbl, [1, 2, 3])], tbl, overwrite=True)
    assert store.swaps == 1
    assert store.read_pointer(tbl) == "gen-000001"
    assert _table_ids(tbl) == [1, 2, 3]


def test_mid_scan_overwrite_isolation_requires_retention(tmp_path):
    """Documented (ADVICE r7): a reader that froze its generation at plan
    time survives a concurrent overwrite ONLY when the writer retains the
    superseded generation (keep_generations >= 2). At the default keep=1
    the frozen files are GC'd at commit and the in-flight read fails with
    a missing-file error — loud, never silently empty; with keep=2 the
    frozen snapshot stays readable to the end."""
    from quiver_spark.sources.quiver_datasource import QuiverScanReader

    for keep, survives in ((1, False), (2, True)):
        tbl = str(tmp_path / f"iso_keep{keep}")
        _publish([_stage(tbl, [1, 2, 3])], tbl, overwrite=True)
        reader = QuiverScanReader({"path": tbl}, None)
        parts = reader.partitions()  # freezes gen-000001's file list
        assert parts
        _publish([_stage(tbl, [9])], tbl, overwrite=True, keep_generations=keep)
        if survives:
            rows = sum(
                b.num_rows for p in parts for b in reader.read(p)
            )
            assert rows == 3, "retained snapshot must stay readable"
        else:
            with pytest.raises(OSError):
                for p in parts:
                    list(reader.read(p))


def test_retention_keeps_previously_live_generation_after_rollback(tmp_path):
    """Code-review regression pin: after a ROLLBACK makes an old
    generation live, the next overwrite's retention must keep that
    previously-live generation (what mid-scan readers froze), not the
    numerically-newest orphans — keep_generations >= 2 means 'current +
    what was live before', whatever its number."""
    from quiver_spark.maintenance import rollback_generation

    tbl = str(tmp_path / "tbl")
    for ids in ([1], [2], [3]):
        _publish([_stage(tbl, ids)], tbl, overwrite=True, keep_generations=9)
    rollback_generation(tbl, 1)
    assert _table_ids(tbl) == [1]
    # overwrite with keep=2: gen-000004 becomes current; the retained
    # slot must go to gen-000001 (previously live), NOT gen-000003
    _publish([_stage(tbl, [4])], tbl, overwrite=True, keep_generations=2)
    gens = sorted(d for d in os.listdir(tbl) if d.startswith("gen-"))
    assert gens == ["gen-000001", "gen-000004"], gens
    assert _table_ids(tbl) == [4]
    assert _table_ids(os.path.join(tbl, "gen-000001")) == [1]


def test_lockless_loser_generation_is_removed(tmp_path):
    """Code-review regression pin: the overwrite that loses a lock-less
    CAS race must remove its claimed generation — an orphan full of
    never-committed data would be time-travelable and would count toward
    retention, displacing genuinely-retained snapshots."""
    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0])], tbl, overwrite=True)

    class InterleavedStore(UnlockedPointerStore):
        def __init__(self):
            self.fired = False

        def claim_generation(self, table_path, gen_name):
            ok = super().claim_generation(table_path, gen_name)
            if ok and not self.fired:
                self.fired = True
                rival = _stage(tbl, [100])
                set_pointer_store(UnlockedPointerStore())
                try:
                    _publish([rival], tbl, overwrite=True, keep_generations=9)
                finally:
                    set_pointer_store(self)
            return ok

    set_pointer_store(InterleavedStore())
    with pytest.raises(ConcurrentWriteError):
        _publish([_stage(tbl, [200])], tbl, overwrite=True, keep_generations=9)
    gens = sorted(d for d in os.listdir(tbl) if d.startswith("gen-"))
    # victim claimed gen-000002, rival committed gen-000003; the victim's
    # orphan must be gone
    assert gens == ["gen-000001", "gen-000003"], gens
    assert _table_ids(tbl) == [100]


def test_end_to_end_lockless_spark_overwrite_race(spark, tmp_path):
    """Full Spark write path under the LOCK-LESS store posture
    (``sources.write(..., pointer_store="unlocked")``). Contract pinned: each
    racing overwrite either succeeds or fails loudly with
    ConcurrentWriteError; the live snapshot is EXACTLY one job's dataset
    (never a union/subset/mix); and every retained generation is itself
    unmixed — last-swap-wins with superseded snapshots retained."""
    register(spark)
    out = str(tmp_path / "race_unlocked")
    sources.write(spark.range(5), out, pointer_store="unlocked")

    errs: list[Exception] = []

    def job(lo, hi):
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            sources.write(
                spark.range(lo, hi),
                out,
                pointer_store="unlocked",
                keep_generations="6",
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=job, args=(100, 150))
    t2 = threading.Thread(target=job, args=(500, 580))
    t1.start(), t2.start(), t1.join(120), t2.join(120)

    # a loser must fail LOUDLY (ConcurrentWriteError wrapped by py4j) —
    # anything else (silent loss aside, which the content checks below
    # would catch) is a contract break
    for e in errs:
        assert "ConcurrentWriteError" in str(
            e
        ) or "concurrent" in str(e).lower(), e

    datasets = {
        "a": list(range(100, 150)),
        "b": list(range(500, 580)),
        "seed": list(range(5)),
    }
    ids = sorted(
        r[0] for r in spark.read.format("quiver").load(out).collect()
    )
    assert ids in (datasets["a"], datasets["b"]), (
        "live snapshot must be exactly one job's rows, got "
        f"{len(ids)} rows"
    )
    # every retained generation is one whole dataset — never mixed
    for g in os.listdir(out):
        if not snapshot.GEN_RE.fullmatch(g):
            continue
        got = sorted(
            r[0]
            for r in spark.read.format("quiver")
            .option("version", int(g.split("-")[1]))
            .load(out)
            .collect()
        )
        assert got in list(datasets.values()), (g, len(got))


def test_conditional_put_cas_closes_check_then_replace_window(tmp_path):
    """The exact interleaving that slips past the base class's
    check-then-replace CAS (ADVICE r8): A and B both read expected, A
    swaps, B swaps after A's read-back. With the conditional-PUT adapter
    the version precondition makes B's put fail — exactly one winner,
    the loser loud."""
    from quiver_spark.sources.pointer_store import (
        ConditionalPutPointerStore,
        InMemoryBlobStore,
    )

    blob = InMemoryBlobStore()
    a = ConditionalPutPointerStore(blob)
    b = ConditionalPutPointerStore(blob)
    tbl = str(tmp_path / "t")
    os.makedirs(tbl)
    for g in ("gen-000001", "gen-000002", "gen-000003"):
        os.makedirs(os.path.join(tbl, g))
    # seed pointer at gen-000001
    a.swap_pointer(tbl, "gen-000001", None)
    assert b.read_pointer(tbl) == "gen-000001"

    # both writers observed gen-000001; A commits first
    a.swap_pointer(tbl, "gen-000002", "gen-000001")
    # B's swap carries the stale expectation — MUST fail loudly, never
    # silently supersede A (base-class behavior on a lock-less store)
    with pytest.raises(ConcurrentWriteError):
        b.swap_pointer(tbl, "gen-000003", "gen-000001")
    assert a.read_pointer(tbl) == "gen-000002"
    # POSIX-reader mirror followed the winner
    assert _data_root(tbl).endswith("gen-000002")

    # first-overwrite race: both expect None — put_if_absent arbitrates
    blob2 = InMemoryBlobStore()
    c = ConditionalPutPointerStore(blob2)
    d = ConditionalPutPointerStore(blob2)
    tbl2 = str(tmp_path / "t2")
    os.makedirs(tbl2)
    c.swap_pointer(tbl2, "gen-000001", None)
    with pytest.raises(ConcurrentWriteError):
        d.swap_pointer(tbl2, "gen-000002", None)


def test_conditional_put_mirror_never_rolls_back(tmp_path):
    """A loser delayed past a newer winner's mirror must not roll the
    POSIX `_current` mirror backward (the mirror is version-gated)."""
    from quiver_spark.sources.pointer_store import (
        ConditionalPutPointerStore,
        InMemoryBlobStore,
    )

    blob = InMemoryBlobStore()
    s = ConditionalPutPointerStore(blob)
    tbl = str(tmp_path / "t")
    os.makedirs(tbl)
    for g in ("gen-000001", "gen-000002"):
        os.makedirs(os.path.join(tbl, g))
    s.swap_pointer(tbl, "gen-000001", None)
    s.swap_pointer(tbl, "gen-000002", "gen-000001")
    # replay of the OLD mirror write (version 1) after the new one landed
    s._mirror(tbl, "gen-000001", 1)
    assert _data_root(tbl).endswith("gen-000002")


def test_file_blob_store_contract(tmp_path):
    """FileBlobStore honors the conditional-write contract across
    instances (the cross-process double behind `pointer_store=cas:`)."""
    from quiver_spark.sources.pointer_store import (
        FileBlobStore,
        PreconditionFailed,
    )

    root = str(tmp_path / "blob")
    x, y = FileBlobStore(root), FileBlobStore(root)
    v1 = x.put_if_absent("k", b"one")
    with pytest.raises(PreconditionFailed):
        y.put_if_absent("k", b"two")
    data, ver = y.get("k")
    assert (data, ver) == (b"one", v1)
    v2 = y.put_if_match("k", b"two", v1)
    assert v2 != v1
    with pytest.raises(PreconditionFailed):
        x.put_if_match("k", b"three", v1)  # stale version
    assert x.get("k")[0] == b"two"


def test_end_to_end_cas_spark_overwrite_race(spark, tmp_path):
    """Full Spark write path under the conditional-PUT object-store
    posture (``pointer_store="cas:<blob_root>"``): same loud
    contract as the lock-less test, but the swap is a TRUE atomic CAS —
    two swaps racing on the same expectation can never both succeed."""
    register(spark)
    out = str(tmp_path / "race_cas")
    blob = str(tmp_path / "blob")
    ps = f"cas:{blob}"
    sources.write(spark.range(5), out, pointer_store=ps)

    errs: list[Exception] = []

    def job(lo, hi):
        try:
            spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            sources.write(
                spark.range(lo, hi),
                out,
                pointer_store=ps,
                keep_generations="6",
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t1 = threading.Thread(target=job, args=(100, 150))
    t2 = threading.Thread(target=job, args=(500, 580))
    t1.start(), t2.start(), t1.join(120), t2.join(120)

    for e in errs:
        assert "ConcurrentWriteError" in str(
            e
        ) or "concurrent" in str(e).lower(), e

    datasets = {
        "a": list(range(100, 150)),
        "b": list(range(500, 580)),
        "seed": list(range(5)),
    }
    ids = sorted(
        r[0] for r in spark.read.format("quiver").load(out).collect()
    )
    assert ids in (datasets["a"], datasets["b"]), (
        "live snapshot must be exactly one job's rows, got "
        f"{len(ids)} rows"
    )
    for g in os.listdir(out):
        if not snapshot.GEN_RE.fullmatch(g):
            continue
        got = sorted(
            r[0]
            for r in spark.read.format("quiver")
            .option("version", int(g.split("-")[1]))
            .load(out)
            .collect()
        )
        assert got in list(datasets.values()), (g, len(got))


def test_lockless_alter_loses_loudly_to_concurrent_overwrite(tmp_path):
    """Schema-evolution DDL rides the same claim/CAS protocol as every
    write: on a LOCK-LESS store, an ALTER whose table is overwritten
    between its snapshot resolution and its pointer swap must fail with
    a loud ConcurrentWriteError — and the rival's snapshot stays fully
    intact (no declared schema, no rename maps from the dead ALTER)."""
    from quiver_spark import maintenance as M
    from quiver_spark.sources.manifest import load_manifest

    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0, 1])], tbl, overwrite=True)

    class InterleavedStore(UnlockedPointerStore):
        def __init__(self):
            self.fired = False

        def claim_generation(self, table_path, gen_name):
            ok = super().claim_generation(table_path, gen_name)
            if ok and not self.fired:
                self.fired = True
                rival = _stage(tbl, [500])
                set_pointer_store(UnlockedPointerStore())
                try:
                    _publish([rival], tbl, overwrite=True, keep_generations=9)
                finally:
                    set_pointer_store(self)
            return ok

    set_pointer_store(InterleavedStore())
    with pytest.raises(ConcurrentWriteError):
        M.rename_column(tbl, "id", "renamed_id")
    # rival snapshot live, unmixed, and untouched by the dead ALTER
    assert _table_ids(tbl) == [500]
    man = load_manifest(_data_root(tbl))
    assert man.table_schema() is None
    assert not any(e.cmap for e in man.entries.values())


def test_lost_alter_cleans_up_its_claimed_generation(tmp_path):
    """The ALTER that loses a lock-less CAS race removes its claimed
    generation — the orphan would otherwise be the newest number on
    disk, surviving retention forever while displacing real snapshots."""
    from quiver_spark import maintenance as M

    tbl = str(tmp_path / "tbl")
    _publish([_stage(tbl, [0, 1])], tbl, overwrite=True)

    class InterleavedStore(UnlockedPointerStore):
        def __init__(self):
            self.fired = False

        def claim_generation(self, table_path, gen_name):
            ok = super().claim_generation(table_path, gen_name)
            if ok and not self.fired:
                self.fired = True
                rival = _stage(tbl, [500])
                set_pointer_store(UnlockedPointerStore())
                try:
                    _publish([rival], tbl, overwrite=True, keep_generations=9)
                finally:
                    set_pointer_store(self)
            return ok

    set_pointer_store(InterleavedStore())
    with pytest.raises(ConcurrentWriteError):
        M.add_column(tbl, "extra", "bigint")
    gens = sorted(d for d in os.listdir(tbl) if d.startswith("gen-"))
    # victim claimed gen-000002; rival committed gen-000003 — the
    # victim's orphan must be gone
    assert gens == ["gen-000001", "gen-000003"], gens
    assert _table_ids(tbl) == [500]
