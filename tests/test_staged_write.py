"""Edge cases of the staged JVM write: ``sources.write`` aims every
quiverjvm write it routes (appends, loads, overwrites and row-level
rewrites) at ``_temporary/jvm-<uuid>/``, then publishes the files
through ``snapshot.commit`` in the driver. Each case checks the rows
(against a model computed without the table), the layout, and that no
staging directory is left behind."""

from __future__ import annotations

import glob
import os

import pytest

from quiver_spark import maintenance as M
from quiver_spark import sources
from quiver_spark.sources import snapshot


@pytest.fixture(autouse=True)
def _jar(spark):
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")


@pytest.fixture()
def engines(monkeypatch):
    """Every engine ``sources.write`` picks during the test."""
    got: list[str] = []
    real = sources.write

    def write(*args, **kwargs):
        got.append(real(*args, **kwargs))
        return got[-1]

    monkeypatch.setattr(sources, "write", write)
    return got


def _rows(spark, table: str) -> list[tuple]:
    return sorted(map(tuple, sources.scan(spark, table).collect()))


def _no_staging(table: str) -> bool:
    return not glob.glob(os.path.join(table, snapshot.STAGING_DIR, "jvm-*"))


def _table(spark, table: str, n: int = 200, parts: int = 4) -> list[tuple]:
    df = spark.range(0, n, 1, parts).selectExpr(
        "id", "id % 5 AS k", "concat('v', id) AS s"
    )
    assert sources.write(df, table, keep_generations=1) == "quiverjvm"
    return [(i, i % 5, f"v{i}") for i in range(n)]


def test_delete_of_every_row_leaves_an_empty_schema_bearing_table(
    spark, tmp_path, engines
):
    table = str(tmp_path / "t")
    _table(spark, table)
    engines.clear()
    M.delete_where(spark, table, "id >= 0 OR id < 0")
    assert engines == ["quiverjvm"]
    df = sources.scan(spark, table)
    assert df.columns == ["id", "k", "s"]
    assert df.collect() == []
    assert spark.read.format("quiver").load(table).collect() == []
    assert _no_staging(table)


def test_partitioned_compact_keeps_its_hive_layout(spark, tmp_path, engines):
    table = str(tmp_path / "t")
    df = spark.range(0, 300, 1, 6).selectExpr("id", "id % 3 AS k")
    assert sources.write(df, table, partition_by=["k"]) == "quiverjvm"
    sources.write(df, table, mode="append", partition_by=["k"])
    want = sorted([(i, i % 3) for i in range(300)] * 2)
    out = M.compact(spark, table)
    assert engines[-1] == "quiverjvm"
    assert out["partition_by"] == ["k"] and out["rows_after"] == 600
    root = snapshot.data_root(table)
    assert root != table  # swapped in as a generation
    assert sorted(
        d for d in os.listdir(root) if not d.startswith("_")
    ) == ["k=0", "k=1", "k=2"]
    for k in range(3):
        files = glob.glob(os.path.join(root, f"k={k}", "*.quiver"))
        assert len(files) == 1, files
    assert sorted(
        (r.id, r.k) for r in sources.scan(spark, table).collect()
    ) == want
    assert _no_staging(table)


def test_update_merge_and_cluster_rows(spark, tmp_path, engines):
    table = str(tmp_path / "t")
    model = {r[0]: r for r in _table(spark, table)}
    engines.clear()

    M.update_where(spark, table, {"s": "concat('u', id)"}, "id < 40")
    for i in range(40):
        model[i] = (i, i % 5, f"u{i}")
    assert _rows(spark, table) == sorted(model.values())

    src = spark.range(150, 260).selectExpr(
        "id", "CAST(7 AS BIGINT) AS k", "concat('m', id) AS s"
    )
    M.merge_upsert(spark, table, src, on=["id"])
    for i in range(150, 260):
        model[i] = (i, 7, f"m{i}")
    assert _rows(spark, table) == sorted(model.values())

    out = M.cluster_by(spark, table, ["k", "id"], target_rows_per_file=100)
    assert out["rows_after"] == len(model)
    assert _rows(spark, table) == sorted(model.values())
    assert engines == ["quiverjvm"] * 3
    assert snapshot.generations(table) == [
        os.path.basename(snapshot.data_root(table))
    ]
    assert _no_staging(table)


def test_pointer_store_option_reaches_the_driver_commit(spark, tmp_path):
    """``pointer_store`` is consumed by the commit in this process: the
    lock-less store takes no writer lock, and ``cas:<root>`` keeps the
    pointer in its blob store (mirrored into ``_current``)."""
    from quiver_spark.sources.pointer_store import store_from_option

    df = spark.range(0, 50, 1, 2)
    want = [(i,) for i in range(50)]

    unlocked = str(tmp_path / "unlocked")
    for mode in ("overwrite", "append", "overwrite"):
        assert (
            sources.write(df, unlocked, mode=mode, pointer_store="unlocked")
            == "quiverjvm"
        )
    assert _rows(spark, unlocked) == want
    assert not os.path.exists(os.path.join(unlocked, "_writer.lock"))
    assert snapshot.generations(unlocked) == ["gen-000002"]

    cas = str(tmp_path / "cas")
    opt = f"cas:{tmp_path / 'blobs'}"
    sources.write(df, cas, pointer_store=opt)
    sources.write(df, cas, mode="overwrite", pointer_store=opt)
    assert store_from_option(opt).read_pointer(cas) == "gen-000002"
    assert os.path.exists(os.path.join(cas, "_current.version"))
    assert not os.path.exists(os.path.join(cas, "_writer.lock"))
    assert _rows(spark, cas) == want
    assert _no_staging(unlocked) and _no_staging(cas)


def test_failed_append_task_leaves_old_rows_and_no_staging(spark, tmp_path):
    """A routed append publishes nothing until every task succeeded: its
    tasks stage their files, and only the driver's commit publishes
    them. Here the last of four tasks fails after the other three have
    written their files."""
    table = str(tmp_path / "t")
    assert sources.write(spark.range(0, 10, 1, 1), table) == "quiverjvm"
    boom = spark.range(100, 140, 1, 4).selectExpr(
        "if(id = 139 AND reflect('java.lang.Thread', 'sleep', 3000L) "
        "IS NOT NULL, raise_error('last append task failed'), id) AS id"
    )
    with pytest.raises(Exception, match="last append task failed"):
        sources.write(boom, table, mode="append")
    assert _rows(spark, table) == [(i,) for i in range(10)]
    assert _no_staging(table)


@pytest.mark.parametrize(
    "rewrite",
    [
        lambda spark, t: M.compact(spark, t),
        lambda spark, t: M.cluster_by(spark, t, ["k"]),
    ],
    ids=["compact", "cluster_by"],
)
def test_in_place_rewrite_refuses_a_commit_landing_before_its_swap(
    spark, tmp_path, monkeypatch, rewrite
):
    """An append that commits while an in-place compaction or clustering
    runs must not vanish from the rewritten snapshot: the rewrite's
    commit refuses, and the table keeps every row."""
    from quiver_spark.sources.pointer_store import ConcurrentWriteError

    table = str(tmp_path / "t")
    want = _table(spark, table, n=400)
    more = spark.range(400, 450, 1, 1).selectExpr(
        "id", "id % 5 AS k", "concat('v', id) AS s"
    )
    real = snapshot.commit
    appended: list[str] = []

    def commit(table_, globs, **kwargs):
        if kwargs["overwrite"] and not appended:
            appended.append(sources.write(more, table, mode="append"))
        return real(table_, globs, **kwargs)

    monkeypatch.setattr(snapshot, "commit", commit)
    gens = snapshot.generations(table)
    with pytest.raises(ConcurrentWriteError):
        rewrite(spark, table)
    assert appended == ["quiverjvm"]
    assert _rows(spark, table) == sorted(
        want + [(i, i % 5, f"v{i}") for i in range(400, 450)]
    )
    assert snapshot.generations(table) == gens
    assert _no_staging(table)


def test_first_swap_of_a_flat_hive_table_leaves_no_key_dirs(spark, tmp_path):
    """The first in-place compaction of a flat Hive-partitioned table
    moves its rows into a generation; the emptied ``k=v/`` directories
    at the root go with the old files."""
    table = str(tmp_path / "t")
    df = spark.range(0, 70, 1, 2).selectExpr("id", "id % 7 AS k")
    assert sources.write(df, table, partition_by=["k"]) == "quiverjvm"
    assert len(glob.glob(os.path.join(table, "k=*"))) == 7
    M.compact(spark, table)
    assert glob.glob(os.path.join(table, "k=*")) == []
    root = snapshot.data_root(table)
    assert len(glob.glob(os.path.join(root, "k=*"))) == 7
    assert sorted(
        (r.id, r.k) for r in sources.scan(spark, table).collect()
    ) == [(i, i % 7) for i in range(70)]


def test_racing_loads_into_a_new_directory_keep_the_later_commit(
    spark, tmp_path, monkeypatch
):
    """Two overwrites into the same new directory, both started while it
    was empty: the one that commits second replaces the first. Whether a
    load publishes flat or swaps in a generation is settled under the
    table lock, not when the write starts."""
    table = str(tmp_path / "t")
    real = snapshot.commit
    raced: list[str] = []

    def commit(table_, globs, **kwargs):
        if not raced:
            raced.append("")
            raced[0] = sources.write(spark.range(100, 110, 1, 1), table)
        return real(table_, globs, **kwargs)

    monkeypatch.setattr(snapshot, "commit", commit)
    assert sources.write(spark.range(0, 10, 1, 2), table) == "quiverjvm"
    assert raced == ["quiverjvm"]
    assert _rows(spark, table) == [(i,) for i in range(10)]
    assert snapshot.generations(table) == ["gen-000001"]
    assert _no_staging(table)


def test_empty_first_write_of_a_hive_table_takes_later_appends(
    spark, tmp_path
):
    """A partitioned write with an empty result leaves a placeholder
    holding the data columns only, as every file of a Hive table does,
    so a later partitioned append (a routed stream's first batches are
    often empty) reads back through the JVM reader, whose schema check
    refuses a table whose files disagree on their columns."""
    table = str(tmp_path / "t")
    df = spark.range(0, 20, 1, 2).selectExpr("id", "id % 3 AS k")
    assert sources.write(df.filter("id < 0"), table, partition_by="k") == (
        "quiverjvm"
    )
    assert sources.write(df, table, mode="append", partition_by="k") == (
        "quiverjvm"
    )
    want = sorted((i, i % 3) for i in range(20))
    for read in (spark.read.format("quiverjvm").load(table),
                 sources.scan(spark, table)):
        assert sorted(map(tuple, read.select("id", "k").collect())) == want
    assert _no_staging(table)
