"""Crash matrix for the shared snapshot commit (``sources/snapshot.py``).

Every table commit that needs a snapshot — ``sources.write``'s and the
arrowipc sink's — publishes through ``snapshot.commit``: claim a
generation, publish staged files, hard-link carried files, write the
manifest, CAS-swap the pointer. A process that dies between two of
those steps must leave the table reading as the old snapshot or the new
one, never a mix, and ``vacuum(staging_age_sec=0)`` must then leave no
orphan generation or staging directory behind.

The crash is a ``BaseException`` raised at the injection point, so no
``except Exception`` cleanup runs — the same residue a killed process
leaves. The overwrite drives ``snapshot.commit`` with fabricated staged
output; ``delete_where`` runs the real rewrite, whose ``sources.write``
stages the files in a quiverjvm job and commits them in this process,
where the injection reaches. Each case then re-runs the operation to
show the table is healthy.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pytest

from quiver_spark import maintenance as M
from quiver_spark import sources
from quiver_spark.format.writer import WriteOptions, write_table
from quiver_spark.sources import snapshot
from quiver_spark.sources.pointer_store import (
    LocalPointerStore,
    get_pointer_store,
    set_pointer_store,
)

POINTS = ("staged", "published", "manifest", "swapped")


class Crash(BaseException):
    """The committing process dies here."""


@pytest.fixture(autouse=True)
def _restore_store():
    prev = get_pointer_store()
    yield
    set_pointer_store(prev)


def _stage(table: str, ids: list[int]) -> tuple[str, tuple[str, ...]]:
    task_dir = os.path.join(table, snapshot.STAGING_DIR, uuid.uuid4().hex)
    os.makedirs(task_dir)
    rel = f"part-{uuid.uuid4().hex}.quiver"
    write_table(
        pa.table({"id": pa.array(ids, type=pa.int64())}),
        os.path.join(task_dir, rel),
        WriteOptions(),
    )
    return task_dir, (rel,)


def _publish(table: str, staged, overwrite: bool, **carry) -> None:
    """The driver-side commit of staged output, as a write runs it."""
    snapshot.commit(
        table, ("*.quiver",), overwrite=overwrite, staged=staged,
        fmt="quiver", **carry,
    )


def _overwrite(table: str, *groups: list[int]) -> None:
    _publish(table, [_stage(table, ids) for ids in groups], overwrite=True)


def _inject(monkeypatch, point: str) -> None:
    if point == "staged":

        class NoClaim(LocalPointerStore):
            def claim_generation(self, table_path, gen_name):
                raise Crash

        set_pointer_store(NoClaim())
    elif point == "swapped":

        class DiesAfterSwap(LocalPointerStore):
            def swap_pointer(self, table_path, new_gen, expected):
                super().swap_pointer(table_path, new_gen, expected)
                raise Crash

        set_pointer_store(DiesAfterSwap())
    else:
        real = snapshot._write_manifest

        def write_manifest(*args, **kwargs):
            if point == "manifest":
                real(*args, **kwargs)
            raise Crash

        monkeypatch.setattr(snapshot, "_write_manifest", write_manifest)


def _state(spark, table: str) -> tuple:
    df = sources.scan(spark, table)
    return tuple(df.columns), sorted(map(tuple, df.collect()))


OLD_IDS = [(i,) for i in range(10)]
#: operation, and the snapshot it commits when it succeeds
OPS = {
    "overwrite": (
        lambda spark, t: _overwrite(t, [100, 101]),
        (("id",), [(100,), (101,)]),
    ),
    "delete_where": (
        lambda spark, t: M.delete_where(spark, t, "id < 3"),
        (("id",), OLD_IDS[3:]),
    ),
    "alter": (
        lambda spark, t: M.rename_column(t, "id", "key"),
        (("key",), OLD_IDS),
    ),
}


@pytest.mark.parametrize("point", POINTS)
@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_leaves_old_or_new_snapshot(
    spark, tmp_path, monkeypatch, op, point
):
    run, new = OPS[op]
    table = str(tmp_path / "t")
    # two files, so the DELETE rewrites one and carries the other
    _overwrite(table, list(range(5)), list(range(5, 10)))
    old = _state(spark, table)
    assert old == (("id",), OLD_IDS)

    _inject(monkeypatch, point)
    with pytest.raises(Crash):
        run(spark, table)
    monkeypatch.undo()
    set_pointer_store(LocalPointerStore())

    assert _state(spark, table) == (new if point == "swapped" else old)
    time.sleep(0.05)  # the sweep takes entries strictly older than now
    M.vacuum(table, staging_age_sec=0)
    live = os.path.basename(snapshot.data_root(table))
    assert snapshot.generations(table) == [live]
    assert not os.path.exists(os.path.join(table, snapshot.STAGING_DIR))
    assert _state(spark, table) == (new if point == "swapped" else old)

    if point != "swapped":
        run(spark, table)
        assert _state(spark, table) == new


def test_refused_alter_removes_its_claim(tmp_path):
    """An ALTER its own validation refuses (here: a column that already
    exists) fails inside the commit, after the claim: the claimed
    generation goes with it instead of lingering as the newest number."""
    table = str(tmp_path / "t")
    _overwrite(table, [0, 1])
    with pytest.raises(ValueError, match="already exists"):
        M.add_column(table, "id", "bigint")
    assert snapshot.generations(table) == ["gen-000001"]


# -- the JVM half: the same commit behind ``sources.write``'s staged path --
#
# The quiverjvm job writes into ``_temporary/jvm-<uuid>/`` and this
# process publishes through ``snapshot.commit``, so the injection points
# above reach the real write path with nothing replaced.

JVM_OPS = {
    "overwrite": (
        lambda spark, t: sources.write(
            spark.range(100, 102, 1, 1), t, mode="overwrite"
        ),
        (("id",), [(100,), (101,)]),
    ),
    "delete_where": (
        lambda spark, t: M.delete_where(spark, t, "id < 3"),
        (("id",), OLD_IDS[3:]),
    ),
}


def _jvm_table(spark, table: str) -> None:
    """The old snapshot: ids 0-9 in two files (0-4, 5-9), so the DELETE
    rewrites one and carries the other, as generation 1."""
    assert (
        sources.write(spark.range(0, 10, 1, 2), table, keep_generations=1)
        == "quiverjvm"
    )


def _jvm_staging(table: str) -> list[str]:
    stage_root = os.path.join(table, snapshot.STAGING_DIR)
    if not os.path.isdir(stage_root):
        return []
    return [e for e in os.listdir(stage_root) if e.startswith("jvm-")]


def _spy_engines(monkeypatch) -> list[str]:
    engines: list[str] = []
    real = sources.write

    def write(*args, **kwargs):
        engines.append(real(*args, **kwargs))
        return engines[-1]

    monkeypatch.setattr(sources, "write", write)
    return engines


@pytest.mark.parametrize("point", POINTS)
@pytest.mark.parametrize("op", sorted(JVM_OPS))
def test_jvm_crash_leaves_old_or_new_snapshot(
    spark, tmp_path, monkeypatch, op, point
):
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    run, new = JVM_OPS[op]
    table = str(tmp_path / "t")
    _jvm_table(spark, table)
    old = _state(spark, table)
    assert old == (("id",), OLD_IDS)

    engines = _spy_engines(monkeypatch)
    _inject(monkeypatch, point)
    with pytest.raises(Crash):
        run(spark, table)
    assert engines == [] and len(_jvm_staging(table)) <= 1
    monkeypatch.undo()
    set_pointer_store(LocalPointerStore())

    assert _state(spark, table) == (new if point == "swapped" else old)
    time.sleep(0.05)  # the sweep takes entries strictly older than now
    M.vacuum(table, staging_age_sec=0)
    live = os.path.basename(snapshot.data_root(table))
    assert snapshot.generations(table) == [live]
    assert _jvm_staging(table) == []
    assert not os.path.exists(os.path.join(table, snapshot.STAGING_DIR))
    assert _state(spark, table) == (new if point == "swapped" else old)

    if point != "swapped":
        engines = _spy_engines(monkeypatch)
        run(spark, table)
        assert engines == ["quiverjvm"]
        assert _state(spark, table) == new
        assert _jvm_staging(table) == []


def test_jvm_failed_task_leaves_old_rows_and_no_staging(spark, tmp_path):
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    table = str(tmp_path / "t")
    _jvm_table(spark, table)
    old = _state(spark, table)
    boom = sources.scan(spark, table).selectExpr(
        "if(id >= 0, raise_error('staged task failed'), id) AS id"
    )
    with pytest.raises(Exception, match="staged task failed"):
        sources.write(boom, table, mode="overwrite")
    assert _state(spark, table) == old
    assert _jvm_staging(table) == []
    assert snapshot.generations(table) == ["gen-000001"]


# -- the commit's own guards, without Spark --


def _ids(table: str) -> list[int]:
    from quiver_spark.format.reader import read_table

    root = snapshot.data_root(table)
    return sorted(
        v
        for f in snapshot.list_files(root, "*.quiver")
        for v in read_table(f).column("id").to_pylist()
    )


@pytest.mark.parametrize("layout", ["flat", "generation"])
def test_rewrite_refuses_rows_appended_after_planning(tmp_path, layout):
    """A row-level rewrite is planned against the live generation's (or
    flat root's) file set. An append into that same snapshot before the
    rewrite commits must fail the rewrite: carrying the planned files
    alone would drop the appended rows from the new snapshot."""
    from quiver_spark.format.reader import read_table
    from quiver_spark.sources.pointer_store import ConcurrentWriteError

    table = str(tmp_path / "t")
    if layout == "generation":
        _overwrite(table, [0, 1], [2, 3])
    else:
        os.makedirs(table)
        for name, ids in (("a", [0, 1]), ("b", [2, 3])):
            write_table(
                pa.table({"id": pa.array(ids, type=pa.int64())}),
                os.path.join(table, f"{name}.quiver"),
                WriteOptions(),
            )
    gens = snapshot.generations(table)
    planned, root, files = M._snapshot(table)
    touched = [
        f
        for f in files
        if 0 in read_table(os.path.join(root, f)).column("id").to_pylist()
    ]
    untouched = [f for f in files if f not in touched]
    _publish(table, [_stage(table, [50])], overwrite=False)
    with pytest.raises(ConcurrentWriteError, match="since the rewrite was"):
        _publish(
            table, [_stage(table, [1])], overwrite=True,
            carry=untouched, carry_src=planned,
        )
    assert _ids(table) == [0, 1, 2, 3, 50]
    assert snapshot.generations(table) == gens


def test_vacuum_removes_flat_root_leftovers(tmp_path):
    """A first overwrite of a flat table that dies between its pointer
    swap and its flat-root sweep leaves the old flat files behind the
    new pointer, where no reader sees them; vacuum removes them."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    write_table(
        pa.table({"id": pa.array([7], type=pa.int64())}),
        os.path.join(table, "flat.quiver"),
        WriteOptions(),
    )
    assert os.path.exists(os.path.join(table, "flat.quiver" + snapshot.SIDECAR))

    class DiesAfterSwap(LocalPointerStore):
        def swap_pointer(self, table_path, new_gen, expected):
            super().swap_pointer(table_path, new_gen, expected)
            raise Crash

    set_pointer_store(DiesAfterSwap())
    with pytest.raises(Crash):
        _overwrite(table, [1, 2])
    set_pointer_store(LocalPointerStore())
    assert _ids(table) == [1, 2]
    assert os.path.exists(os.path.join(table, "flat.quiver"))

    report = M.vacuum(table, staging_age_sec=0)
    assert sorted(report["flat_files_removed"]) == [
        "flat.quiver",
        "flat.quiver" + snapshot.SIDECAR,
    ]
    assert sorted(os.listdir(table)) == ["_current", "_writer.lock", "gen-000001"]
    assert _ids(table) == [1, 2]


@pytest.mark.parametrize("point", POINTS)
def test_flat_crash_reads_old_or_new_on_both_engines(
    spark, tmp_path, monkeypatch, point
):
    """The first overwrite of a FLAT table claims ``gen-000001`` under the
    flat root. Until its pointer swap that directory is no part of the
    table: both readers skip it, and vacuum removes it as an orphan."""
    from quiver_spark.jvm import attach_jar
    from quiver_spark.sources import register

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    register(spark)
    table = str(tmp_path / "t")
    os.makedirs(table)
    write_table(
        pa.table({"id": pa.array([7], type=pa.int64())}),
        os.path.join(table, "flat.quiver"),
        WriteOptions(),
    )

    def both() -> list[tuple]:
        got = [
            sorted(map(tuple, spark.read.format(f).load(table).collect()))
            for f in ("quiver", "quiverjvm")
        ]
        assert got[0] == got[1], got
        return got[0]

    _inject(monkeypatch, point)
    with pytest.raises(Crash):
        _overwrite(table, [1, 2])
    monkeypatch.undo()
    set_pointer_store(LocalPointerStore())

    want = [(1,), (2,)] if point == "swapped" else [(7,)]
    assert both() == want
    time.sleep(0.05)  # the sweeps take entries strictly older than now
    M.vacuum(table, staging_age_sec=0)
    assert snapshot.generations(table) == (
        ["gen-000001"] if point == "swapped" else []
    )
    assert not os.path.exists(os.path.join(table, snapshot.STAGING_DIR))
    assert both() == want
