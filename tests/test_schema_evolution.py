"""Schema evolution across an accreting quiver directory: files written at
different times may gain or lack columns. Default table schema is the first
file's (parquet's default); merge_schemas=true unions footers; scans
null-fill columns a file lacks and ignore columns beyond the table schema;
type conflicts fail loudly with the file named."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from quiver_spark import sources
from quiver_spark.format.writer import write_table
from quiver_spark.sources import register


def _dir(tmp_path, name, tables):
    d = tmp_path / name
    os.makedirs(d, exist_ok=True)
    for fname, t in tables:
        write_table(t, str(d / fname))
    return str(d)


@pytest.fixture()
def evolved_dir(tmp_path):
    a = pa.table(
        {
            "k": pa.array([1, 2, 3], pa.int64()),
            "s": pa.array(["a", "b", "c"]),
        }
    )
    b = pa.table(
        {
            "k": pa.array([4, 5], pa.int64()),
            "s": pa.array(["d", "e"]),
            "extra": pa.array([1.5, 2.5], pa.float64()),
        }
    )
    return _dir(tmp_path, "evo", [("a.quiver", a), ("b.quiver", b)])


def test_default_schema_is_first_file_extra_ignored(spark, evolved_dir):
    register(spark)
    df = spark.read.format("quiver").load(evolved_dir)
    assert df.columns == ["k", "s"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


def test_merge_schemas_unions_and_null_fills(spark, evolved_dir):
    register(spark)
    df = (
        spark.read.format("quiver")
        .option("merge_schemas", "true")
        .load(evolved_dir)
    )
    assert df.columns == ["k", "s", "extra"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [
        (1, "a", None),
        (2, "b", None),
        (3, "c", None),
        (4, "d", 1.5),
        (5, "e", 2.5),
    ]


def test_file_missing_table_column_null_fills(spark, tmp_path):
    register(spark)
    a = pa.table(
        {"k": pa.array([1, 2], pa.int64()), "s": pa.array(["a", "b"])}
    )
    b = pa.table({"k": pa.array([3], pa.int64())})  # dropped column s
    d = _dir(tmp_path, "dropped", [("a.quiver", a), ("b.quiver", b)])
    df = spark.read.format("quiver").load(d)
    rows = sorted(map(tuple, df.collect()), key=lambda r: r[0])
    assert rows == [(1, "a"), (2, "b"), (3, None)]


def _tree_bytes(d):
    out = {}
    for base, _dirs, names in os.walk(d):
        for n in names:
            path = os.path.join(base, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, d)] = fh.read()
    return out


def test_maintenance_on_dir_whose_later_file_lacks_a_column_fails(
    spark, tmp_path
):
    """A manifest-less directory whose later file lacks a column of the
    first's is refused at plan time, naming merge_schemas: sources.scan,
    compaction and row-level DML raise before any job and leave the
    directory as it was. (Taking the first file's schema as the table's
    would lose the column when a rewritten file sorts after b.quiver.)
    With merge_schemas the scan null-fills the column."""
    from quiver_spark import maintenance
    from quiver_spark.sources import scan

    register(spark)
    a = pa.table(
        {"k": pa.array([1, 2, 3], pa.int64()), "s": pa.array(["a", "b", "c"])}
    )
    b = pa.table({"k": pa.array([4, 5], pa.int64())})
    d = _dir(tmp_path, "lacks", [("a.quiver", a), ("b.quiver", b)])
    before = _tree_bytes(d)
    with pytest.raises(Exception, match="merge_schemas"):
        scan(spark, d)
    with pytest.raises(Exception, match="merge_schemas"):
        maintenance.compact(spark, d)
    with pytest.raises(Exception, match="merge_schemas"):
        maintenance.delete_where(spark, d, "k = 4")
    with pytest.raises(Exception, match="merge_schemas"):
        maintenance.update_where(spark, d, {"s": "'u'"}, "k = 5")
    assert _tree_bytes(d) == before
    got = sorted(map(tuple, scan(spark, d, merge_schemas="true").collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, None)]


def test_maintenance_on_dir_whose_later_file_adds_a_column_fails(
    spark, evolved_dir
):
    """A later file carrying a column the first lacks fails compaction and
    row-level DML loudly, as it fails sources.scan: a rewrite under the
    first file's schema would drop the extra column's values. The
    directory is left as it was."""
    from quiver_spark import maintenance

    register(spark)
    before = _tree_bytes(evolved_dir)
    with pytest.raises(Exception, match="heterogeneous"):
        maintenance.compact(spark, evolved_dir)
    with pytest.raises(Exception, match="heterogeneous"):
        maintenance.delete_where(spark, evolved_dir, "k = 4")
    assert _tree_bytes(evolved_dir) == before


def test_type_conflict_fails_loudly(spark, tmp_path):
    register(spark)
    a = pa.table({"k": pa.array([1], pa.int64())})
    b = pa.table({"k": pa.array(["oops"])})
    d = _dir(tmp_path, "conflict", [("a.quiver", a), ("b.quiver", b)])
    with pytest.raises(Exception, match="merge_schemas type conflict"):
        (
            spark.read.format("quiver")
            .option("merge_schemas", "true")
            .load(d)
            .collect()
        )
    with pytest.raises(Exception, match="type conflict|SCHEMA"):
        spark.read.format("quiver").load(d).collect()


def test_projection_of_null_filled_column_only(spark, tmp_path):
    """Selecting ONLY an evolved-away column still returns the right row
    count per file (probe decode supplies row counts)."""
    register(spark)
    a = pa.table(
        {"k": pa.array([1, 2], pa.int64()), "s": pa.array(["a", "b"])}
    )
    b = pa.table({"k": pa.array([3, 4, 5], pa.int64())})
    d = _dir(tmp_path, "projnull", [("a.quiver", a), ("b.quiver", b)])
    df = spark.read.format("quiver").load(d).select("s")
    vals = sorted((r[0] or "~") for r in df.collect())
    assert vals == ["a", "b", "~", "~", "~"]


def test_streaming_read_evolving_dir(spark, tmp_path):
    """The quiver STREAM source must apply the same evolution semantics as
    batch: a file lacking a stream-schema column is null-filled (the
    stream's fixed schema is forwarded to the per-partition reader —
    without that, a late slim file would emit wrong-schema batches)."""
    register(spark)
    a = pa.table(
        {"k": pa.array([1, 2], pa.int64()), "s": pa.array(["a", "b"])}
    )
    b = pa.table({"k": pa.array([3], pa.int64())})
    d = _dir(tmp_path, "stream_evo", [("a.quiver", a), ("b.quiver", b)])
    q = (
        spark.readStream.format("quiver")
        .load(d)
        .writeStream.format("memory")
        .queryName("evo_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-evo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(map(tuple, spark.table("evo_stream").collect()))
    assert rows == [(1, "a"), (2, "b"), (3, None)]


def test_schema_evolution_inside_live_generation(spark, tmp_path):
    """Generations × evolution: an overwrite creates gen-000001; a later
    APPEND with an extra column lands inside the live generation, and
    merge_schemas=true unions the fields with null-fill — the same
    evolution contract as a flat directory, just resolved through the
    pointer."""
    from pyspark.sql import functions as F

    from quiver_spark.sources import register
    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    out = str(tmp_path / "evo_gen")
    sources.write(
        spark.range(10).selectExpr("id AS a"), out, keep_generations="1"
    )
    sources.write(
        spark.range(5).selectExpr("id + 100 AS a", "id AS b"),
        out,
        mode="append",
    )
    import os as _os

    # both files live under the single live generation
    gen = _data_root(out)
    assert _os.path.basename(gen) == "gen-000001"
    merged = (
        spark.read.format("quiver")
        .option("merge_schemas", "true")
        .load(out)
    )
    assert sorted(merged.columns) == ["a", "b"]
    assert merged.count() == 15
    assert merged.filter(F.col("b").isNull()).count() == 10


# ---------------------------------------------------------------------------
# ALTER-style DDL (maintenance.add_column / drop_column / rename_column):
# metadata-only evolution on the generation protocol. Each ALTER publishes a
# hard-linked generation whose manifest carries a DECLARED table schema
# (overriding footer inference) and per-file declared->physical rename maps.
# The reference format is single-file/fixed-schema (src/lib.rs); this layer
# is directory-level, like Delta column mapping but name-based.
# ---------------------------------------------------------------------------


def _write_kv(spark, path):
    sources.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
        ),
        path,
        keep_generations="1",
    )


def test_add_column_null_fills_and_next_append_populates(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_add")
    _write_kv(spark, tbl)
    rep = M.add_column(tbl, "score", "double")
    assert rep["op"] == "add_column" and rep["files_linked"] >= 1
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "s", "score"]
    assert all(r.score is None for r in df.collect())
    sources.write(
        spark.createDataFrame(
            [(4, "d", 9.5)], "k long, s string, score double"
        ),
        tbl,
        mode="append",
    )
    rows = sorted(map(tuple, spark.read.format("quiver").load(tbl).collect()))
    assert rows == [
        (1, "a", None), (2, "b", None), (3, "c", None), (4, "d", 9.5),
    ]


def test_rename_resolves_old_files_and_pushdown_works(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_ren")
    _write_kv(spark, tbl)
    M.rename_column(tbl, "s", "name")
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "name"]
    got = sorted(map(tuple, df.filter("name >= 'b'").collect()))
    assert got == [(2, "b"), (3, "c")]
    # projecting ONLY the renamed column decodes the physical one
    assert sorted(r[0] for r in df.select("name").collect()) == ["a", "b", "c"]
    # a post-rename append carries the new name physically; both resolve
    sources.write(
        spark.createDataFrame([(4, "d")], "k long, name string"),
        tbl,
        mode="append",
    )
    rows = sorted(map(tuple, spark.read.format("quiver").load(tbl).collect()))
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_drop_column_hides_bytes_and_name_stays_reserved(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_drop")
    _write_kv(spark, tbl)
    M.drop_column(tbl, "s")
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k"]
    # the dropped name is still physically present in live files — re-adding
    # it would resurrect old bytes, so the DDL layer refuses
    with pytest.raises(ValueError, match="physically"):
        M.add_column(tbl, "s", "string")
    # compaction materializes the declared schema and frees the name
    M.compact(spark, tbl)
    M.add_column(tbl, "s", "string")
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "s"]
    assert all(r.s is None for r in df.collect())


def test_alter_guards(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_guard")
    _write_kv(spark, tbl)
    with pytest.raises(ValueError, match="already exists"):
        M.add_column(tbl, "s", "string")
    with pytest.raises(ValueError, match="no column"):
        M.drop_column(tbl, "zz")
    with pytest.raises(ValueError, match="no column"):
        M.rename_column(tbl, "zz", "yy")
    with pytest.raises(ValueError, match="already exists"):
        M.rename_column(tbl, "k", "s")
    M.drop_column(tbl, "s")
    with pytest.raises(ValueError, match="cannot drop a table's last"):
        M.drop_column(tbl, "k")
    # nested ADDs are supported since round 12 (null-fill only) — the
    # remaining type guard is a genuinely unparseable DDL string
    with pytest.raises(ValueError, match="unsupported"):
        M.add_column(tbl, "x", "array<notatype>")


def test_alter_time_travel_and_rollback(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_tt")
    _write_kv(spark, tbl)
    M.rename_column(tbl, "s", "name")
    # pre-ALTER generation keeps the pre-ALTER schema
    v1 = spark.read.format("quiver").option("version", "1").load(tbl)
    assert v1.columns == ["k", "s"]
    live = spark.read.format("quiver").load(tbl)
    assert live.columns == ["k", "name"]
    # rollback undoes the ALTER like any commit
    M.rollback_generation(tbl, 1)
    back = spark.read.format("quiver").load(tbl)
    assert back.columns == ["k", "s"]
    assert back.count() == 3


def test_dml_after_alter_preserves_declared_schema(spark, tmp_path):
    """A DELETE's carry/rewrite commit must keep the evolved schema —
    without the table_schema carry in update_manifest, the first DML
    after an ALTER would silently revert to footer inference."""
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_dml")
    _write_kv(spark, tbl)
    # second file so the DELETE carries at least one untouched file —
    # the carry path is exactly where the schema could be lost
    sources.write(
        spark.createDataFrame([(9, "z")], "k long, s string"),
        tbl,
        mode="append",
    )
    M.rename_column(tbl, "s", "name")
    M.add_column(tbl, "score", "double")
    rep = M.delete_where(spark, tbl, "name = 'b'")
    assert rep["files_rewritten"] >= 1 and rep["files_carried"] >= 1
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "name", "score"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a", None), (3, "c", None), (9, "z", None)]


def test_alter_on_arrow_ipc_table(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_arrow")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, s string"
    ).write.format("arrowipc").mode("overwrite").save(tbl)
    M.rename_column(tbl, "s", "name")
    M.add_column(tbl, "w", "int")
    df = spark.read.format("arrowipc").load(tbl)
    assert df.columns == ["k", "name", "w"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a", None), (2, "b", None)]


def test_alter_partition_column_refused(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_part")
    sources.write(
        spark.createDataFrame(
            [(1, "x", "p1"), (2, "y", "p2")], "k long, s string, p string"
        ),
        tbl,
        partition_by="p",
    )
    with pytest.raises(ValueError, match="partition column"):
        M.drop_column(tbl, "p")
    with pytest.raises(ValueError, match="partition column"):
        M.rename_column(tbl, "p", "q")


def test_alter_is_metadata_only_commit_for_incremental_scans(spark, tmp_path):
    """An ALTER bumps the commit counter (shows in history) but stamps no
    file — a changes_since cursor taken before the ALTER sees nothing."""
    from quiver_spark import maintenance as M
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    tbl = str(tmp_path / "t_inc")
    _write_kv(spark, tbl)
    seq_before = load_manifest(_data_root(tbl)).commit_seq
    M.add_column(tbl, "extra", "bigint")
    seq_after = load_manifest(_data_root(tbl)).commit_seq
    assert seq_after == seq_before + 1
    inc = (
        spark.read.format("quiver")
        .option("changes_since", str(seq_before))
        .load(tbl)
    )
    assert inc.count() == 0
    # ...but the commit HISTORY shows the DDL as a labeled zero-file row
    from quiver_spark.tools import cmd_commits

    hist = cmd_commits(tbl)
    ddl_rows = [c for c in hist["commits"] if c.get("op")]
    assert ddl_rows and ddl_rows[-1]["op"] == "add_column"
    assert ddl_rows[-1]["files"] == 0


def test_alter_cli_round_trip(spark, tmp_path, capsys):
    from quiver_spark.tools import main as tools_main

    register(spark)
    tbl = str(tmp_path / "t_cli")
    _write_kv(spark, tbl)
    assert tools_main(["alter", "add-column", tbl, "score", "double"]) in (
        0,
        None,
    )
    out = capsys.readouterr().out
    assert '"op": "add_column"' in out
    assert tools_main(["alter", "rename-column", tbl, "s", "name"]) in (0, None)
    capsys.readouterr()
    assert tools_main(["alter", "drop-column", tbl, "score"]) in (0, None)
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "name"]
    capsys.readouterr()
    # DESCRIBE analogue: declared schema + rename maps on the live
    # snapshot, footer-inferred pre-ALTER schema under --version
    assert tools_main(["schema", tbl]) in (0, None)
    import json as _json

    desc = _json.loads(capsys.readouterr().out)
    assert desc["schema_source"] == "declared (ALTER DDL)"
    assert [c["name"] for c in desc["columns"]] == ["k", "name"]
    assert any(
        cm == {"name": "s"} for cm in desc["renamed_files"].values()
    )
    assert tools_main(["schema", tbl, "--version", "1"]) in (0, None)
    desc1 = _json.loads(capsys.readouterr().out)
    assert desc1["schema_source"].startswith("inferred")
    assert [c["name"] for c in desc1["columns"]] == ["k", "s"]


# --- column defaults (Iceberg-style initial-default) ----------------------


def test_add_column_refuses_a_default_the_reader_cannot_fill(
    spark, tmp_path
):
    """The quiverjvm reader constant-fills defaults of numeric, boolean,
    date, timestamp, decimal and string columns only. A binary default
    would be stored as its str() (``b"x"`` fills as ``b"b'x'"``), so
    add_column refuses it before the manifest changes."""
    from quiver_spark import maintenance as M

    tbl = str(tmp_path / "t")
    sources.write(spark.range(3), tbl)
    before = _tree_bytes(tbl)
    with pytest.raises(ValueError, match="no initial default"):
        M.add_column(tbl, "b", "binary", default=b"x")
    assert _tree_bytes(tbl) == before


@pytest.mark.parametrize("fmt", ["quiver", "arrowipc"])
def test_add_column_with_default_fills_and_evolves(spark, tmp_path, fmt):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / f"t_dflt_{fmt}")

    def put(df, mode):
        if fmt == "quiver":
            sources.write(df, tbl, mode=mode)
        else:
            df.write.format(fmt).mode(mode).save(tbl)

    put(spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        "overwrite")
    rep = M.add_column(tbl, "grade", "string", default="unknown")
    assert rep["default"] == "unknown"
    M.add_column(tbl, "score", "double", default=1.5)
    M.add_column(tbl, "flag", "boolean")  # no default → null
    rows = sorted(map(tuple, spark.read.format(fmt).load(tbl).collect()))
    assert rows == [
        (1, "a", "unknown", 1.5, None),
        (2, "b", "unknown", 1.5, None),
    ]
    # a post-ALTER append carries real values; old files keep the default
    put(
        spark.createDataFrame(
            [(3, "c", "real", 9.9, True)],
            "k long, s string, grade string, score double, flag boolean",
        ),
        "append",
    )
    # rename re-keys the default; drop removes it
    M.rename_column(tbl, "grade", "quality")
    rows = sorted(
        map(tuple, spark.read.format(fmt).load(tbl).select("k", "quality").collect())
    )
    assert rows == [(1, "unknown"), (2, "unknown"), (3, "real")]
    M.drop_column(tbl, "score")
    assert spark.read.format(fmt).load(tbl).columns == [
        "k", "s", "quality", "flag",
    ]


def test_typed_defaults_date_decimal(spark, tmp_path):
    import datetime
    import decimal

    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_typed")
    sources.write(spark.createDataFrame([(1,)], "k long"), tbl)
    M.add_column(tbl, "d", "date", default="2026-01-01")
    M.add_column(tbl, "dec", "decimal(10,2)", default="12.34")
    got = spark.read.format("quiver").load(tbl).collect()[0]
    assert got.d == datetime.date(2026, 1, 1)
    assert got.dec == decimal.Decimal("12.34")


def test_bad_default_rejected_at_alter_time(spark, tmp_path):
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_bad")
    _write_kv(spark, tbl)
    with pytest.raises(ValueError, match="not valid for column type"):
        M.add_column(tbl, "n", "bigint", default="not-a-number")
    with pytest.raises(ValueError, match="cannot be NULL"):
        from quiver_spark.sources.manifest import encode_default
        import pyarrow as pa

        encode_default(None, pa.int64())


def test_default_survives_dml_rewrite(spark, tmp_path):
    """The carry commit of a DELETE must keep column_defaults — losing it
    would silently flip defaulted fills back to null."""
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_dml_dflt")
    _write_kv(spark, tbl)
    sources.write(
        spark.createDataFrame([(9, "z")], "k long, s string"),
        tbl,
        mode="append",
    )
    M.add_column(tbl, "grade", "string", default="unknown")
    M.delete_where(spark, tbl, "s = 'b'")
    rows = sorted(map(tuple, spark.read.format("quiver").load(tbl).collect()))
    # NOTE: rewritten files MATERIALIZE the default (they are written
    # through the declared-schema read); carried files still fill at scan
    assert rows == [(1, "a", "unknown"), (3, "c", "unknown"), (9, "z", "unknown")]


def test_alter_cli_default_and_schema_shows_it(spark, tmp_path, capsys):
    import json as _json

    from quiver_spark.tools import main as tools_main

    register(spark)
    tbl = str(tmp_path / "t_cli_dflt")
    _write_kv(spark, tbl)
    assert tools_main(
        ["alter", "add-column", tbl, "grade", "string", "--default", '"unknown"']
    ) in (0, None)
    capsys.readouterr()
    assert tools_main(["schema", tbl]) in (0, None)
    desc = _json.loads(capsys.readouterr().out)
    grade = [c for c in desc["columns"] if c["name"] == "grade"][0]
    assert grade["default"] == "unknown"
    rows = spark.read.format("quiver").load(tbl).select("grade").collect()
    assert {r.grade for r in rows} == {"unknown"}


def test_alter_on_flat_library_written_dir_migrates(spark, tmp_path):
    """An ALTER on a FLAT directory (library writer, no generations, no
    manifest) rebuilds the manifest on the fly, publishes gen-000001,
    and sweeps the superseded flat copies — the same migration the
    sink's first overwrite performs."""
    import glob

    from quiver_spark import maintenance as M
    from quiver_spark.format.writer import write_table

    register(spark)
    tbl = tmp_path / "flat"
    tbl.mkdir()
    write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()),
                  "s": pa.array(["a", "b"])}),
        str(tbl / "a.quiver"),
    )
    write_table(
        pa.table({"k": pa.array([3], pa.int64()), "s": pa.array(["c"])}),
        str(tbl / "b.quiver"),
    )
    tbl = str(tbl)
    rep = M.rename_column(tbl, "s", "name")
    assert rep["generation"] == "gen-000001"
    M.add_column(tbl, "grade", "string", default="x")
    rows = sorted(map(tuple, spark.read.format("quiver").load(tbl).collect()))
    assert rows == [(1, "a", "x"), (2, "b", "x"), (3, "c", "x")]
    # append works post-migration; no flat leftovers remain
    sources.write(
        spark.createDataFrame(
            [(4, "d", "y")], "k long, name string, grade string"
        ),
        tbl,
        mode="append",
    )
    assert spark.read.format("quiver").load(tbl).count() == 4
    assert not glob.glob(os.path.join(tbl, "*.quiver"))


def test_alter_on_partitioned_table_keeps_layout_and_dml(spark, tmp_path):
    """ALTERing DATA columns of a Hive-partitioned table: partition
    columns stay in the schema (appended after the declared schema),
    directory pruning still works, and DML on the evolved table keeps
    the declared schema."""
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_part_alter")
    sources.write(
        spark.createDataFrame(
            [(1, "x", "p1"), (2, "y", "p2"), (3, "z", "p1")],
            "k long, s string, p string",
        ),
        tbl,
        partition_by="p",
    )
    M.add_column(tbl, "grade", "string", default="g0")
    M.rename_column(tbl, "s", "name")
    df = spark.read.format("quiver").load(tbl)
    assert df.columns == ["k", "name", "grade", "p"]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [
        (1, "x", "g0", "p1"), (2, "y", "g0", "p2"), (3, "z", "g0", "p1"),
    ]
    got = sorted(
        map(tuple, df.filter("p = 'p1'").select("k", "name").collect())
    )
    assert got == [(1, "x"), (3, "z")]
    M.delete_where(spark, tbl, "p = 'p2'")
    out = spark.read.format("quiver").load(tbl)
    assert out.count() == 2
    assert out.columns == ["k", "name", "grade", "p"]


def test_mid_stream_alter_fails_loudly(spark, tmp_path):
    """Delta posture for streams × DDL: a rename AFTER a stream started
    makes the stream's fixed schema stale — the next micro-batch fails
    loudly asking for a restart (silent null-fill of the renamed column
    would be data loss); a FRESH stream picks up the evolved schema. A
    pre-stream ALTER matches by construction and passes."""
    from quiver_spark import maintenance as M

    register(spark)
    tbl = str(tmp_path / "t_stream_ddl")
    _write_kv(spark, tbl)
    # pre-stream ALTER: stream starts on the evolved schema and works
    M.add_column(tbl, "grade", "string", default="g")
    q = (
        spark.readStream.format("quiver")
        .load(tbl)
        .writeStream.format("memory")
        .queryName("ddl_stream_ok")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table("ddl_stream_ok").columns == ["k", "s", "grade"]
    assert spark.table("ddl_stream_ok").count() == 3
    # mid-stream ALTER: rename lands between two micro-batches of a
    # NEW stream → the batch planned after it must fail loudly
    M.rename_column(tbl, "s", "name")
    sources.write(
        spark.createDataFrame(
            [(9, "z", "g9")], "k long, name string, grade string"
        ),
        tbl,
        mode="append",
    )
    q2 = (
        spark.readStream.format("quiver")
        .schema(spark.table("ddl_stream_ok").schema)  # stale: still 's'
        .load(tbl)
        .writeStream.format("memory")
        .queryName("ddl_stream_stale")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="evolved mid-stream"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()
    # a fresh stream with the evolved schema works
    q3 = (
        spark.readStream.format("quiver")
        .load(tbl)
        .writeStream.format("memory")
        .queryName("ddl_stream_fresh")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    assert spark.table("ddl_stream_fresh").columns == ["k", "name", "grade"]
    assert spark.table("ddl_stream_fresh").count() == 4


def test_add_column_nested_types_null_fill(spark, tmp_path):
    """ALTER ADD COLUMN with array/map/struct DDL types (round 12):
    metadata-only, old files null-fill, a post-ALTER append serves real
    nested values; nested ADDs refuse initial defaults loudly (a nested
    default would round-trip through str() in the manifest and decode as
    garbage — the ALTER fails, never the later scan)."""
    import pytest as _pytest

    from quiver_spark import maintenance as M
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "nested_add")
    sources.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, s string"
        ).coalesce(1),
        d,
    )
    M.add_column(d, "tags", "array<string>")
    M.add_column(d, "meta", "struct<a:int,b:string>")
    M.add_column(d, "kv", "map<string,double>")
    with _pytest.raises(ValueError, match="no initial default"):
        M.add_column(d, "bad", "array<int>", default=[1])
    sources.write(
        spark.createDataFrame(
            [(3, "c", ["t"], (7, "x"), {"k": 1.5})],
            "id bigint, s string, tags array<string>,"
            " meta struct<a:int,b:string>, kv map<string,double>",
        ).coalesce(1),
        d,
        mode="append",
    )
    rows = {r["id"]: r for r in spark.read.format("quiver").load(d).collect()}
    assert rows[1]["tags"] is None and rows[1]["meta"] is None and rows[1]["kv"] is None
    assert rows[3]["tags"] == ["t"]
    assert rows[3]["meta"]["a"] == 7 and rows[3]["kv"] == {"k": 1.5}
