"""CHECK constraints: table-level SQL predicates stored in the manifest
(maintenance.add_constraint), enforced by every writer on every Arrow
batch via DuckDB (SQL CHECK semantics: NULL passes, FALSE aborts before
anything publishes). The reference format has no constraint layer
(/root/reference/src/lib.rs); this is the Delta CHECK-constraint
analogue on the generation protocol."""

from __future__ import annotations

import pytest

from quiver_spark import maintenance as M
from quiver_spark.sources import register


def _write(spark, tbl, rows, mode="overwrite", fmt="quiver"):
    spark.createDataFrame(rows, "k long, s string, v double").write.format(
        fmt
    ).mode(mode).save(tbl)


@pytest.mark.parametrize("fmt", ["quiver", "arrowipc"])
def test_constraint_lifecycle(spark, tmp_path, fmt):
    register(spark)
    tbl = str(tmp_path / f"t_{fmt}")
    _write(spark, tbl, [(1, "a", 10.0), (2, "b", 20.0)], fmt=fmt)
    rep = M.add_constraint(spark, tbl, "v_positive", "v > 0", format=fmt)
    assert rep["op"] == "add_constraint" and rep["validated_rows"] == 0
    # valid append passes
    _write(spark, tbl, [(3, "c", 30.0)], mode="append", fmt=fmt)
    # violating append aborts; nothing leaks into the table
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(4, "d", -5.0)], mode="append", fmt=fmt)
    assert spark.read.format(fmt).load(tbl).count() == 3
    # NULL passes (standard SQL CHECK)
    _write(spark, tbl, [(5, "e", None)], mode="append", fmt=fmt)
    assert spark.read.format(fmt).load(tbl).count() == 4
    # a violating OVERWRITE aborts too and the old snapshot stays live
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(9, "x", -1.0)], fmt=fmt)
    assert spark.read.format(fmt).load(tbl).count() == 4
    # constraints survive a VALID overwrite (table property, not snapshot)
    _write(spark, tbl, [(7, "g", 70.0)], fmt=fmt)
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(8, "h", -2.0)], mode="append", fmt=fmt)
    # drop → the same write is accepted
    M.drop_constraint(tbl, "v_positive")
    _write(spark, tbl, [(8, "h", -2.0)], mode="append", fmt=fmt)
    assert spark.read.format(fmt).load(tbl).count() == 2


def test_add_refuses_existing_violations_and_bad_expressions(
    spark, tmp_path
):
    register(spark)
    tbl = str(tmp_path / "t_guard")
    _write(spark, tbl, [(1, "a", -1.0)])
    with pytest.raises(ValueError, match="existing row"):
        M.add_constraint(spark, tbl, "vp", "v > 0")
    with pytest.raises(ValueError, match="does not bind"):
        M.add_constraint(spark, tbl, "bad", "nosuchcol > 0")
    # validate=False skips the scan but still binds
    rep = M.add_constraint(spark, tbl, "vp", "v > -100", validate=False)
    assert rep["validated_rows"] == "skipped"
    with pytest.raises(ValueError, match="already exists"):
        M.add_constraint(spark, tbl, "vp", "v > 0", validate=False)
    with pytest.raises(ValueError, match="no constraint"):
        M.drop_constraint(tbl, "nope")


def test_constraint_enforced_on_dml_rewrite(spark, tmp_path):
    """UPDATE writes through the same sink — an assignment that would
    violate the constraint aborts, and the table is untouched."""
    register(spark)
    tbl = str(tmp_path / "t_dml")
    _write(spark, tbl, [(1, "a", 10.0), (2, "b", 20.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(Exception, match="v_positive"):
        M.update_where(spark, tbl, {"v": "-1.0"}, "k = 1")
    rows = sorted(map(tuple, spark.read.format("quiver").load(tbl).collect()))
    assert rows == [(1, "a", 10.0), (2, "b", 20.0)]
    # a valid UPDATE passes and the constraint survives the carry commit
    M.update_where(spark, tbl, {"v": "99.0"}, "k = 1")
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(3, "c", -3.0)], mode="append")


def test_constraint_enforced_on_streaming_sink(spark, tmp_path):
    """The streaming micro-batch writer is the same writer class — a
    violating micro-batch fails the query; the table stays clean."""
    import pyarrow as pa

    from quiver_spark.format.writer import write_table

    register(spark)
    src = tmp_path / "src"
    src.mkdir()
    write_table(
        pa.table({"k": pa.array([1], pa.int64()),
                  "s": pa.array(["a"]),
                  "v": pa.array([-5.0], pa.float64())}),
        str(src / "a.quiver"),
    )
    dst = str(tmp_path / "dst")
    _write(spark, dst, [(1, "a", 1.0)])
    M.add_constraint(spark, dst, "v_positive", "v > 0")
    q = (
        spark.readStream.format("quiver")
        .load(str(src))
        .writeStream.format("quiver")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="v_positive"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert spark.read.format("quiver").load(dst).count() == 1


def test_constraint_enforced_on_routed_writes(spark, tmp_path):
    """sources.write and sources.stream_writer send every write into a
    CHECK-constrained table to the Python sink, the writer that evaluates
    the constraints: a violating append (batch or micro-batch) raises and
    leaves the rows unchanged, a valid one lands."""
    import pyarrow as pa

    from quiver_spark import sources
    from quiver_spark.format.writer import write_table

    def df(rows):
        return spark.createDataFrame(rows, "k long, s string, v double")

    def rows():
        return sorted(map(tuple, sources.scan(spark, tbl).collect()))

    register(spark)
    tbl = str(tmp_path / "t_routed")
    sources.write(df([(1, "a", 10.0)]), tbl)
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(Exception, match="v_positive"):
        sources.write(df([(4, "d", -5.0)]), tbl, mode="append")
    assert rows() == [(1, "a", 10.0)]
    assert sources.write(df([(2, "b", 20.0)]), tbl, mode="append") == "quiver"
    assert rows() == [(1, "a", 10.0), (2, "b", 20.0)]

    src = tmp_path / "src"
    src.mkdir()
    write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "s": pa.array(["c"]),
                  "v": pa.array([-3.0], pa.float64())}),
        str(src / "a.quiver"),
    )
    w = sources.stream_writer(
        spark.readStream.format("quiver").load(str(src)), tbl
    )
    assert w._quiver_engine == "quiver"
    q = (
        w.option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="v_positive"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    assert rows() == [(1, "a", 10.0), (2, "b", 20.0)]


def test_quiverjvm_writers_refuse_constrained_tables(spark, tmp_path):
    """The quiverjvm writers do not evaluate CHECK constraints, so their
    batch and streaming write builders refuse a table whose live
    manifest has any, before a task runs: a direct violating append
    cannot land, and the table keeps its rows."""
    import pyarrow as pa

    from quiver_spark import sources
    from quiver_spark.format.writer import write_table
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")
    register(spark)
    tbl = str(tmp_path / "t_jvm")
    _write(spark, tbl, [(1, "a", 10.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        _write(spark, tbl, [(4, "d", -5.0)], mode="append", fmt="quiverjvm")

    src = tmp_path / "src"
    src.mkdir()
    write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "s": pa.array(["c"]),
                  "v": pa.array([-3.0], pa.float64())}),
        str(src / "a.quiver"),
    )
    q = (
        spark.readStream.format("quiver").load(str(src))
        .writeStream.format("quiverjvm")
        .option("path", tbl)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="CHECK constraints"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    rows = sorted(map(tuple, sources.scan(spark, tbl).collect()))
    assert rows == [(1, "a", 10.0)]


def test_constraint_cli_drop_and_schema_listing(spark, tmp_path, capsys):
    import json as _json

    from quiver_spark.tools import main as tools_main

    register(spark)
    tbl = str(tmp_path / "t_cli")
    _write(spark, tbl, [(1, "a", 1.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    assert tools_main(["schema", tbl]) in (0, None)
    desc = _json.loads(capsys.readouterr().out)
    assert desc["check_constraints"] == {"v_positive": "v > 0"}
    assert tools_main(["constraint", "drop", tbl, "v_positive"]) in (0, None)
    capsys.readouterr()
    assert tools_main(["schema", tbl]) in (0, None)
    desc = _json.loads(capsys.readouterr().out)
    assert desc["check_constraints"] == {}


def test_constrained_column_cannot_be_dropped_or_renamed(spark, tmp_path):
    """Delta posture: DROP/RENAME of a column a CHECK constraint
    references is refused — the predicate text cannot be rewritten, and
    leaving it would fail every subsequent write's evaluation."""
    register(spark)
    tbl = str(tmp_path / "t_guard2")
    _write(spark, tbl, [(1, "a", 1.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(ValueError, match="referenced by CHECK constraint"):
        M.drop_column(tbl, "v")
    with pytest.raises(ValueError, match="referenced by CHECK constraint"):
        M.rename_column(tbl, "v", "w")
    # unrelated columns still evolve freely
    M.rename_column(tbl, "s", "name")
    # and after dropping the constraint, the column is free
    M.drop_constraint(tbl, "v_positive")
    M.rename_column(tbl, "v", "w")
    assert spark.read.format("quiver").load(tbl).columns == ["k", "name", "w"]
