"""Row-level DELETE / UPDATE / MERGE (maintenance.delete_where & co):
file-level copy-on-write over the generation protocol.

Contract pinned here:
* correctness — results match the equivalent DataFrame algebra exactly,
  including SQL NULL semantics (DELETE keeps NULL-predicate rows);
* minimality — only files the predicate can touch are rewritten
  (zone-map detection), everything else is HARD-LINKED into the new
  generation (same inode, no data copied);
* atomicity/concurrency — a concurrent overwrite between detection and
  commit fails the rewrite loudly (ConcurrentWriteError), never a mixed
  snapshot; a no-op predicate publishes nothing.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quiver_spark import maintenance
from quiver_spark import sources
from quiver_spark.sources.manifest import load_manifest
from quiver_spark.sources.quiver_datasource import (
    _data_root,
    _list_files,
    register,
)


@pytest.fixture(autouse=True)
def _register(spark):
    register(spark)


def _base_df(spark, n=1000, lo=0):
    return (
        spark.range(lo, n)
        .select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            F.concat(F.lit("row-"), F.col("id")).alias("tag"),
        )
        .coalesce(1)
        .sortWithinPartitions("id")
    )


def _write_ranged(spark, tbl, n, step):
    """One file per contiguous id range [k*step, (k+1)*step) — exact,
    disjoint zone-map ranges (overwrite the first slice, append the
    rest; each single-task slice writes one file)."""
    for k, lo in enumerate(range(0, n, step)):
        mode = "overwrite" if k == 0 else "append"
        sources.write(_base_df(spark, min(lo + step, n), lo), tbl, mode=mode)


def _write(spark, df, path, **opts):
    sources.write(df, path, **opts)


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.format("quiver").load(path).collect()
    )


def test_delete_where_basic(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write_ranged(spark, tbl, 1000, 100)
    summary = maintenance.delete_where(spark, tbl, "id % 10 = 3")
    expect = sorted(
        (i, i % 7, f"row-{i}") for i in range(1000) if i % 10 != 3
    )
    assert _rows(spark, tbl) == expect
    assert summary["files_rewritten"] >= 1
    # every file of the new snapshot is in its manifest (carried entries
    # copied, rewritten entries built)
    root = _data_root(tbl)
    man = load_manifest(root)
    for f in _list_files(root):
        assert man.lookup(f) is not None, f


def test_delete_rewrites_only_candidate_files_and_links_the_rest(
    spark, tmp_path
):
    tbl = str(tmp_path / "t")
    # disjoint 100-row id ranges per file → zone maps make exactly
    # one file a candidate for a range predicate
    _write_ranged(spark, tbl, 1000, 100)
    old_root = _data_root(tbl)
    old_files = {
        os.path.relpath(f, old_root): os.stat(f).st_ino
        for f in _list_files(old_root)
    }
    assert len(old_files) == 10
    summary = maintenance.delete_where(
        spark, tbl, "id >= 150 AND id <= 160", keep_generations="2"
    )
    assert summary["files_rewritten"] == 1
    assert summary["files_carried"] == 9
    new_root = _data_root(tbl)
    assert new_root != old_root
    carried = 0
    for f in _list_files(new_root):
        rel = os.path.relpath(f, new_root)
        if rel in old_files:
            # carried file: hard link, not a copy
            assert os.stat(f).st_ino == old_files[rel], rel
            carried += 1
    assert carried == 9
    expect = sorted(
        (i, i % 7, f"row-{i}") for i in range(1000) if not (150 <= i <= 160)
    )
    assert _rows(spark, tbl) == expect


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    tbl = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3)], "id int, val int"
    ).coalesce(1)
    _write(spark, df, tbl)
    maintenance.delete_where(spark, tbl, "val > 5")
    # SQL DELETE semantics: rows where the predicate is NULL survive
    assert _rows(spark, tbl) == [(2, None), (3, 3)]


def test_delete_noop_publishes_nothing(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 100), tbl)
    root_before = _data_root(tbl)
    summary = maintenance.delete_where(spark, tbl, "id > 100000")
    assert summary["files_rewritten"] == 0
    assert "note" in summary
    assert _data_root(tbl) == root_before  # no new generation


def test_update_where(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write_ranged(spark, tbl, 300, 100)
    summary = maintenance.update_where(
        spark,
        tbl,
        {"grp": "grp + 100", "tag": "upper(tag)"},
        "id < 50",
    )
    assert summary["files_rewritten"] == 1
    expect = sorted(
        (i, i % 7 + 100 if i < 50 else i % 7,
         f"ROW-{i}" if i < 50 else f"row-{i}")
        for i in range(300)
    )
    assert _rows(spark, tbl) == expect
    # type preserved: grp is still bigint after the expression rewrite
    assert dict(spark.read.format("quiver").load(tbl).dtypes)["grp"] == (
        "bigint"
    )


def test_update_unknown_column_raises(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 10), tbl)
    with pytest.raises(ValueError, match="unknown columns"):
        maintenance.update_where(spark, tbl, {"nope": "1"}, "id = 1")


def test_merge_upsert(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write_ranged(spark, tbl, 100, 50)
    source = spark.range(50, 150).select(
        F.col("id"),
        F.lit(999).cast("long").alias("grp"),
        F.lit("merged").alias("tag"),
    )
    summary = maintenance.merge_upsert(spark, tbl, source, on=["id"])
    # ids 50..99 exist in file 2 only → exactly one file rewritten
    assert summary["files_rewritten"] == 1
    assert summary["files_carried"] == 1
    expect = sorted(
        [(i, i % 7, f"row-{i}") for i in range(50)]
        + [(i, 999, "merged") for i in range(50, 150)]
    )
    assert _rows(spark, tbl) == expect


def test_merge_pure_insert(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 50), tbl)
    source = spark.range(1000, 1010).select(
        F.col("id"),
        F.lit(1).cast("long").alias("grp"),
        F.lit("new").alias("tag"),
    )
    summary = maintenance.merge_upsert(spark, tbl, source, on=["id"])
    assert summary["files_rewritten"] == 0
    assert summary["files_carried"] == 1
    expect = sorted(
        [(i, i % 7, f"row-{i}") for i in range(50)]
        + [(i, 1, "new") for i in range(1000, 1010)]
    )
    assert _rows(spark, tbl) == expect


def test_merge_missing_source_column_raises(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 10), tbl)
    source = spark.range(5).select(F.col("id"))
    with pytest.raises(ValueError, match="missing target columns"):
        maintenance.merge_upsert(spark, tbl, source, on=["id"])


def test_partitioned_delete_preserves_layout(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(
        spark,
        _base_df(spark, 210),
        tbl,
        partition_by="grp",
        max_rows_per_file=1000,
    )
    summary = maintenance.delete_where(spark, tbl, "grp = 3 AND id < 100")
    # partition pruning: only grp=3 files are candidates
    assert summary["files_rewritten"] == 1
    expect = sorted(
        (i, i % 7, f"row-{i}")
        for i in range(210)
        if not (i % 7 == 3 and i < 100)
    )
    got = sorted(
        (r.id, r.grp, r.tag)
        for r in spark.read.format("quiver").load(tbl).collect()
    )
    assert got == expect
    # carried files keep their Hive subdirectories
    root = _data_root(tbl)
    assert any(
        os.sep + "grp=5" + os.sep in f for f in _list_files(root)
    )


def test_rewrite_race_fails_loudly(spark, tmp_path, monkeypatch):
    """A concurrent overwrite landing between detection and commit must
    fail the rewrite with ConcurrentWriteError — the carried file list
    was resolved against a snapshot that is no longer live."""
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 100), tbl)

    real = maintenance._touched_files

    def hijacked(sp, table, predicate):
        touched = real(sp, table, predicate)
        # rival overwrite while the delete is between plan and commit
        _write(sp, _base_df(sp, 20), table)
        return touched

    monkeypatch.setattr(maintenance, "_touched_files", hijacked)
    with pytest.raises(Exception, match="ConcurrentWriteError|concurrent"):
        maintenance.delete_where(spark, tbl, "id < 10")
    # the rival's snapshot is intact and unmixed
    assert _rows(spark, tbl) == sorted(
        (i, i % 7, f"row-{i}") for i in range(20)
    )


@pytest.mark.parametrize("op", ["update", "merge"])
def test_update_and_merge_race_fail_loudly(spark, tmp_path, monkeypatch, op):
    """UPDATE and MERGE keep the DELETE race contract: a rival overwrite
    landing right before the rewrite commits fails the rewrite with
    ConcurrentWriteError, and the rival's snapshot stays intact and
    unmixed."""
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 100), tbl)

    real = maintenance._rewrite_commit

    def rival_first(sp, table, *args, **kwargs):
        _write(sp, _base_df(sp, 20), table)
        return real(sp, table, *args, **kwargs)

    monkeypatch.setattr(maintenance, "_rewrite_commit", rival_first)
    with pytest.raises(Exception, match="ConcurrentWriteError|concurrent"):
        if op == "update":
            maintenance.update_where(spark, tbl, {"tag": "'x'"}, "id < 10")
        else:
            source = spark.createDataFrame(
                [(5, 0, "m"), (500, 0, "n")], "id long, grp long, tag string"
            )
            maintenance.merge_upsert(spark, tbl, source, on=["id"])
    assert _rows(spark, tbl) == sorted(
        (i, i % 7, f"row-{i}") for i in range(20)
    )


def test_file_column_and_files_subset(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write_ranged(spark, tbl, 300, 100)
    root = _data_root(tbl)
    rels = sorted(os.path.relpath(f, root) for f in _list_files(root))
    df = (
        spark.read.format("quiver")
        .option("file_column", "_src")
        .load(tbl)
    )
    seen = sorted(
        r[0] for r in df.select("_src").distinct().collect()
    )
    assert seen == rels
    # every row's file column names the file that holds its id range
    per_file = (
        df.groupBy("_src").agg(F.count("*").alias("n")).collect()
    )
    assert {r.n for r in per_file} == {100}
    # files subset: scanning one file yields exactly its 100 rows
    import json as _json

    one = (
        spark.read.format("quiver")
        .option("files", _json.dumps([rels[0]]))
        .load(tbl)
    )
    assert one.count() == 100


def test_file_column_collision_raises(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 10), tbl)
    with pytest.raises(Exception, match="collides"):
        (
            spark.read.format("quiver")
            .option("file_column", "tag")
            .load(tbl)
            .schema
        )


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    """MERGE with duplicate source keys must refuse loudly — the update
    would be nondeterministic and the insert would double rows."""
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 20), tbl)
    source = spark.createDataFrame(
        [(5, 1, "a"), (5, 2, "b")], "id long, grp long, tag string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        maintenance.merge_upsert(spark, tbl, source, on=["id"])
    # target untouched
    assert _rows(spark, tbl) == sorted(
        (i, i % 7, f"row-{i}") for i in range(20)
    )


def test_carried_file_vanishing_fails_loudly(spark, tmp_path, monkeypatch):
    """Code-review regression pin: a carried (untouched) file missing at
    link time — e.g. a rival's GC inside a lock-less store's window —
    must abort the rewrite with ConcurrentWriteError, never commit a
    snapshot silently missing that file's rows."""
    tbl = str(tmp_path / "t")
    _write_ranged(spark, tbl, 300, 100)

    real = maintenance._touched_files

    def hijacked(sp, table, predicate):
        touched = real(sp, table, predicate)
        # simulate the rival GC: remove one UNTOUCHED file from the live
        # snapshot after detection
        root = _data_root(table)
        victims = [
            f
            for f in _list_files(root)
            if os.path.relpath(f, root) not in set(touched)
        ]
        os.remove(victims[0])
        return touched

    monkeypatch.setattr(maintenance, "_touched_files", hijacked)
    with pytest.raises(Exception, match="ConcurrentWriteError|missing"):
        maintenance.delete_where(spark, tbl, "id < 50")


def test_partition_drop_fast_path_skips_rewrite(spark, tmp_path):
    """A partition-only DELETE predicate drops whole partitions without
    reading a single data row (files_rewritten == 0): the predicate is
    constant per file, so touched files vanish and untouched files
    carry. A mixed predicate keeps the normal rewrite path."""
    tbl = str(tmp_path / "t")
    sources.write(_base_df(spark, 210), tbl, partition_by="grp")
    summary = maintenance.delete_where(spark, tbl, "grp = 2")
    assert summary["files_rewritten"] == 0
    assert summary["files_dropped_wholesale"] >= 1
    assert summary["files_carried"] >= 1
    got = sorted(
        (r.id, r.grp)
        for r in spark.read.format("quiver").load(tbl).collect()
    )
    assert got == [(i, i % 7) for i in range(210) if i % 7 != 2]
    # mixed predicate (references a data column) uses the rewrite path
    summary2 = maintenance.delete_where(spark, tbl, "grp = 3 AND id < 10")
    assert summary2["files_rewritten"] >= 1
    assert summary2["files_dropped_wholesale"] == 0
    got2 = sorted(
        (r.id, r.grp)
        for r in spark.read.format("quiver").load(tbl).collect()
    )
    assert got2 == [
        (i, i % 7)
        for i in range(210)
        if i % 7 != 2 and not (i % 7 == 3 and i < 10)
    ]


def test_merge_with_delete_predicate_applies_cdc_feed(spark, tmp_path):
    """delete_predicate turns merge into a full CDC apply: source rows
    matching it (e.g. op='delete' markers) remove their key; the rest
    upsert. One commit, untouched files carried."""
    tbl = str(tmp_path / "t")
    _write(spark, _base_df(spark, 10), tbl)
    feed = spark.createDataFrame(
        [
            (3, 99, "updated", "upsert"),
            (100, 2, "row-100", "upsert"),
            (5, 5, "row-5", "delete"),
            (77, 0, "never-was", "delete"),  # absent key: no-op
        ],
        "id long, grp long, tag string, op string",
    )
    res = maintenance.merge_upsert(
        spark, tbl, feed, on=["id"], delete_predicate="op = 'delete'"
    )
    assert res["delete_keys"] == 2
    rows = {
        r.id: (r.grp, r.tag)
        for r in spark.read.format("quiver").load(tbl).collect()
    }
    assert 5 not in rows and 77 not in rows
    assert rows[3] == (99, "updated")
    assert rows[100] == (2, "row-100")
    assert len(rows) == 10  # 10 base - 1 deleted + 1 inserted
    for i in (0, 1, 2, 4, 6, 7, 8, 9):
        assert rows[i] == (i % 7, f"row-{i}")


def _spy_reader_formats(monkeypatch) -> list[str]:
    """Record every format name handed to DataFrameReader.format."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: list[str] = []
    real = DataFrameReader.format

    def spy(self, source):
        seen.append(source)
        return real(self, source)

    monkeypatch.setattr(DataFrameReader, "format", spy)
    return seen


def test_maintenance_reads_route_through_jvm_reader(
    spark, tmp_path, monkeypatch
):
    """On a table the JVM reader accepts, compaction, clustering and every
    row-level op read through quiverjvm — never through the Python
    "quiver" DataSource."""
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    schema = "id long, grp long, tag string"
    tbl = str(tmp_path / "t")
    # nullable columns throughout, like the merge source's: the JVM guard
    # refuses a table whose files disagree on a column's nullability
    for k in range(3):
        rows = [(i, i % 7, f"row-{i}") for i in range(100 * k, 100 * k + 100)]
        sources.write(
            spark.createDataFrame(rows, schema).coalesce(1),
            tbl,
            mode="append" if k else "overwrite",
        )
    source = spark.createDataFrame([(50, 1, "m"), (400, 2, "n")], schema)
    seen = _spy_reader_formats(monkeypatch)
    maintenance.delete_where(spark, tbl, "id < 10")
    maintenance.update_where(spark, tbl, {"tag": "'u'"}, "id >= 290")
    maintenance.merge_upsert(spark, tbl, source, on=["id"])
    maintenance.compact(spark, tbl)
    maintenance.cluster_by(spark, tbl, ["id"])
    monkeypatch.undo()
    assert "quiverjvm" in seen and "quiver" not in seen, seen
    want = {i: (i % 7, f"row-{i}") for i in range(10, 300)}
    want.update({i: (i % 7, "u") for i in range(290, 300)})
    want.update({50: (1, "m"), 400: (2, "n")})
    assert _rows(spark, tbl) == sorted((k, *v) for k, v in want.items())


def test_shadowed_file_column_falls_back_to_python_reader(
    spark, tmp_path, monkeypatch
):
    """A data column named ``_quiver_file`` shadows the JVM reader's file
    metadata column, so touched-file detection reads through the Python
    DataSource. DELETE, UPDATE, MERGE and in-place compaction still give
    exactly the rows a pyarrow model of the same operations gives."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = 300
    tbl = str(tmp_path / "t")
    _write(
        spark,
        spark.range(n)
        .selectExpr("id", "concat('f', id % 3) AS _quiver_file", "id * 2 AS v")
        .repartition(3),
        tbl,
    )
    model = pa.table(
        {
            "id": pa.array(range(n), pa.int64()),
            "_quiver_file": [f"f{i % 3}" for i in range(n)],
            "v": pa.array([i * 2 for i in range(n)], pa.int64()),
        }
    )
    seen = _spy_reader_formats(monkeypatch)

    maintenance.delete_where(spark, tbl, "id < 30")
    model = model.filter(pc.greater_equal(model["id"], 30))

    maintenance.update_where(spark, tbl, {"v": "v + 1000"}, "_quiver_file = 'f1'")
    model = model.set_column(
        2,
        "v",
        pc.if_else(
            pc.equal(model["_quiver_file"], "f1"),
            pc.add(model["v"], 1000),
            model["v"],
        ),
    )

    rows = [(50, "g", -1), (500, "h", 7)]
    source = spark.createDataFrame(rows, "id long, _quiver_file string, v long")
    maintenance.merge_upsert(spark, tbl, source, on=["id"])
    model = pa.concat_tables(
        [
            model.filter(pc.invert(pc.is_in(model["id"], pa.array([50, 500])))),
            pa.Table.from_pylist(
                [dict(zip(model.column_names, r)) for r in rows], model.schema
            ),
        ]
    )

    maintenance.compact(spark, tbl)
    monkeypatch.undo()
    assert "quiver" in seen, seen
    want = sorted(tuple(r.values()) for r in model.to_pylist())
    assert _rows(spark, tbl) == want
