"""CHECK constraints: table-level SQL predicates stored in the manifest
(maintenance.add_constraint, quiver tables only) and checked in the
Spark plan of every write through ``sources.write``: one projection that
raises on the first row whose predicate IS FALSE (SQL CHECK semantics:
NULL passes), so Spark both validates existing rows and checks new ones.
Nothing publishes on a violation. The direct sinks (``"quiverjvm"``
batch, ``"arrowipc"`` batch and stream) refuse a constrained table;
``format("quiver")`` has no write at all, and ``"quiverjvm"`` no
streaming write. Routed
streams run each micro-batch through ``sources.write``. The reference format has no
constraint layer; this is the Delta CHECK-constraint analogue on the
generation protocol."""

from __future__ import annotations

import pytest

from quiver_spark import maintenance as M
from quiver_spark import sources
from quiver_spark.sources import register

SCHEMA = "k long, s string, v double"


def _write(spark, tbl, rows, mode="overwrite", schema=SCHEMA):
    return sources.write(spark.createDataFrame(rows, schema), tbl, mode=mode)


def _rows(spark, tbl):
    return sorted(map(tuple, sources.scan(spark, tbl).collect()))


def _constrain(tbl, name, expr):
    """Store a CHECK constraint without add_constraint (which refuses
    arrowipc tables): the state an arrowipc table constrained by an
    older release is in."""

    def mutate(man, root, rel_schemas, raw):
        raw.setdefault("check_constraints", {})[name] = expr
        return {"op": "add_constraint"}

    M._commit_evolution(tbl, mutate)


def _fail_stream(q, match):
    with pytest.raises(Exception, match=match):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


@pytest.mark.parametrize("fmt", ["quiver", "arrowipc"])
def test_constraint_lifecycle(spark, tmp_path, fmt):
    """quiver: add, check on append and overwrite, drop. arrowipc: no
    router writes it, so add_constraint refuses the table; one
    constrained before (stored in the manifest) refuses direct writes,
    naming the constraint, until drop_constraint."""
    register(spark)
    tbl = str(tmp_path / f"t_{fmt}")
    if fmt == "arrowipc":
        def direct(rows, mode):
            spark.createDataFrame(rows, SCHEMA).write.format(fmt).mode(
                mode
            ).save(tbl)

        direct([(1, "a", 10.0)], "overwrite")
        with pytest.raises(ValueError, match="arrowipc"):
            M.add_constraint(spark, tbl, "v_positive", "v > 0")
        _constrain(tbl, "v_positive", "v > 0")
        for mode in ("append", "overwrite"):
            with pytest.raises(
                Exception, match="v_positive.*quiver_spark.sources.write"
            ):
                direct([(2, "b", 20.0)], mode)
        assert spark.read.format(fmt).load(tbl).count() == 1
        M.drop_constraint(tbl, "v_positive")
        direct([(8, "h", -2.0)], "append")
        assert spark.read.format(fmt).load(tbl).count() == 2
        return
    _write(spark, tbl, [(1, "a", 10.0), (2, "b", 20.0)])
    rep = M.add_constraint(spark, tbl, "v_positive", "v > 0")
    assert rep["op"] == "add_constraint" and rep["validated_rows"] == 0
    # valid append passes
    _write(spark, tbl, [(3, "c", 30.0)], mode="append")
    # violating append aborts; nothing leaks into the table
    with pytest.raises(Exception, match="CHECK constraint 'v_positive'"):
        _write(spark, tbl, [(4, "d", -5.0)], mode="append")
    assert len(_rows(spark, tbl)) == 3
    # NULL passes (standard SQL CHECK)
    _write(spark, tbl, [(5, "e", None)], mode="append")
    assert len(_rows(spark, tbl)) == 4
    # a violating OVERWRITE aborts too and the old snapshot stays live
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(9, "x", -1.0)])
    assert len(_rows(spark, tbl)) == 4
    # constraints survive a VALID overwrite (table property, not snapshot)
    _write(spark, tbl, [(7, "g", 70.0)])
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(8, "h", -2.0)], mode="append")
    # drop → the same write is accepted
    M.drop_constraint(tbl, "v_positive")
    _write(spark, tbl, [(8, "h", -2.0)], mode="append")
    assert len(_rows(spark, tbl)) == 2


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
    """UPDATE writes through ``sources.write`` too — an assignment that would
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


def _source(tmp_path, name, k, v):
    """A one-row quiver directory to stream from."""
    import pyarrow as pa

    from quiver_spark.format.writer import write_table

    src = tmp_path / name
    src.mkdir()
    write_table(
        pa.table({"k": pa.array([k], pa.int64()),
                  "s": pa.array([name]),
                  "v": pa.array([v], pa.float64())}),
        str(src / "a.quiver"),
    )
    return str(src)


def test_constraint_enforced_on_streaming_sink(spark, tmp_path):
    """The quiver format has no streaming write: a stream into a
    constrained table through ``writeStream.format("quiver")`` fails,
    naming ``sources.stream_writer``, and the table stays clean."""
    register(spark)
    src = _source(tmp_path, "src", 1, -5.0)
    dst = str(tmp_path / "dst")
    _write(spark, dst, [(1, "a", 1.0)])
    M.add_constraint(spark, dst, "v_positive", "v > 0")
    q = (
        spark.readStream.format("quiver")
        .load(src)
        .writeStream.format("quiver")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _fail_stream(q, "quiver_spark.sources.stream_writer")
    assert _rows(spark, dst) == [(1, "a", 1.0)]


def test_constraint_enforced_on_routed_writes(spark, tmp_path):
    """sources.write checks the constraints in the plan and writes
    through the JVM; sources.stream_writer runs a stream into a
    constrained table through foreachBatch, one sources.write per
    micro-batch: a violating append (batch or micro-batch) raises and
    leaves the rows unchanged, a valid one lands."""
    register(spark)
    tbl = str(tmp_path / "t_routed")
    _write(spark, tbl, [(1, "a", 10.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(Exception, match="v_positive"):
        _write(spark, tbl, [(4, "d", -5.0)], mode="append")
    assert _rows(spark, tbl) == [(1, "a", 10.0)]
    assert _write(spark, tbl, [(2, "b", 20.0)], mode="append") == "quiverjvm"
    assert _rows(spark, tbl) == [(1, "a", 10.0), (2, "b", 20.0)]

    def stream(name, k, v):
        w = sources.stream_writer(
            spark.readStream.format("quiver").load(
                _source(tmp_path, name, k, v)
            ),
            tbl,
        )
        return (
            w.option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )

    _fail_stream(stream("bad", 3, -3.0), "v_positive")
    assert _rows(spark, tbl) == [(1, "a", 10.0), (2, "b", 20.0)]
    stream("good", 3, 30.0).awaitTermination(120)
    assert _rows(spark, tbl) == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "good", 30.0)
    ]


def test_routed_stream_batch_publishes_once(spark, tmp_path):
    """The foreachBatch function of a routed stream, called twice with
    the same batch id (a replay after a driver failure), publishes the
    batch once: the ``_quiver_commits/<batchId>`` marker guards it."""
    register(spark)
    tbl = str(tmp_path / "t_once")
    _write(spark, tbl, [(1, "a", 10.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    run = sources._append_batch(tbl, {})
    batch = spark.createDataFrame([(2, "b", 20.0)], SCHEMA)
    run(batch, 7)
    run(batch, 7)
    assert _rows(spark, tbl) == [(1, "a", 10.0), (2, "b", 20.0)]
    run(batch, 8)
    assert len(_rows(spark, tbl)) == 3


def test_quiverjvm_writers_refuse_constrained_tables(spark, tmp_path):
    """The quiverjvm writer does not evaluate CHECK constraints, so its
    batch write builder refuses a table whose live manifest has any,
    before a task runs, and the format has no streaming write at all: a
    direct violating append or stream cannot land, and the table keeps
    its rows."""
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")
    register(spark)
    tbl = str(tmp_path / "t_jvm")
    _write(spark, tbl, [(1, "a", 10.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    with pytest.raises(Exception, match="CHECK constraints"):
        spark.createDataFrame([(4, "d", -5.0)], SCHEMA).write.format(
            "quiverjvm"
        ).mode("append").save(tbl)

    with pytest.raises(Exception, match="does not support streamed writing"):
        (
            spark.readStream.format("quiver").load(
                _source(tmp_path, "src", 3, -3.0)
            )
            .writeStream.format("quiverjvm")
            .option("path", tbl)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    assert _rows(spark, tbl) == [(1, "a", 10.0)]


def test_check_concat_with_null_is_refused(spark, tmp_path):
    """The write checks with the dialect that validated the existing rows
    at add time (Spark), whose concat is NULL when an argument is: a row
    Spark counts as violating ``concat(s, t) IS NOT NULL`` is refused."""
    register(spark)
    schema = "k long, s string, t string"
    tbl = str(tmp_path / "concat")
    _write(spark, tbl, [(1, "a", "x")], schema=schema)
    M.add_constraint(spark, tbl, "st", "concat(s, t) IS NOT NULL")
    with pytest.raises(Exception, match="CHECK constraint 'st'"):
        _write(spark, tbl, [(2, "b", None)], mode="append", schema=schema)
    assert _rows(spark, tbl) == [(1, "a", "x")]


def test_check_accepts_what_add_constraint_accepted(spark, tmp_path):
    """Spark's ``substring(s, 0, 2)`` is the first two characters: a row
    add_constraint validated against ``substring(s, 0, 2) = 'ab'`` is
    accepted when the same row is appended."""
    register(spark)
    schema = "k long, s string, t string"
    tbl = str(tmp_path / "substring")
    _write(spark, tbl, [(1, "abc", "x")], schema=schema)
    M.add_constraint(spark, tbl, "ab", "substring(s, 0, 2) = 'ab'")
    _write(spark, tbl, [(2, "abc", "y")], mode="append", schema=schema)
    assert _rows(spark, tbl) == [(1, "abc", "x"), (2, "abc", "y")]


def test_check_sees_only_written_rows(spark, tmp_path):
    """Violating rows removed before the write, by the frame's own filter
    or by an inner join, never reach the check: the optimizer cannot
    move a projection below a filter or into one side of a join."""
    register(spark)
    tbl = str(tmp_path / "t_plan")
    _write(spark, tbl, [(1, "a", 10.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    src = spark.createDataFrame([(2, "b", 20.0), (3, "c", -3.0)], SCHEMA)
    sources.write(src.filter("k = 2"), tbl, mode="append")
    src = spark.createDataFrame([(4, "d", 40.0), (5, "e", -5.0)], SCHEMA)
    keys = spark.createDataFrame([(4,)], "k long")
    sources.write(src.join(keys, "k"), tbl, mode="append")
    assert _rows(spark, tbl) == [
        (1, "a", 10.0), (2, "b", 20.0), (4, "d", 40.0)
    ]


def test_checked_append_keeps_written_schema(spark, tmp_path):
    """The check keeps the frame's schema, nullability included: an
    append to a table first written from ``spark.range`` stores ``id``
    non-nullable in its new file, and sources.scan still plans the JVM
    reader."""
    from quiver_spark.format.reader import read_table
    from quiver_spark.sources import snapshot

    register(spark)
    tbl = str(tmp_path / "t_range")
    assert sources.write(spark.range(3), tbl) == "quiverjvm"
    M.add_constraint(spark, tbl, "id_nonneg", "id >= 0")
    assert sources.write(spark.range(3, 6), tbl, mode="append") == "quiverjvm"
    files = snapshot.list_files(snapshot.data_root(tbl), "*.quiver")
    assert files
    for f in files:
        assert not read_table(f).schema.field("id").nullable, f
    df = sources.scan(spark, tbl)
    assert "quiverjvm" in df._jdf.queryExecution().analyzed().toString()
    assert not df.schema["id"].nullable
    assert sorted(r.id for r in df.collect()) == list(range(6))


def test_constrained_rewrites_take_the_jvm_writer(spark, tmp_path, monkeypatch):
    """A constrained append, update_where and an in-place compact all
    write through the staged quiverjvm write, with the check in the
    plan."""
    register(spark)
    tbl = str(tmp_path / "t_engines")
    _write(spark, tbl, [(1, "a", 10.0), (2, "b", 20.0)])
    M.add_constraint(spark, tbl, "v_positive", "v > 0")
    engines = []
    real = sources.write

    def spy(*args, **kwargs):
        engines.append(real(*args, **kwargs))
        return engines[-1]

    monkeypatch.setattr(sources, "write", spy)
    sources.write(
        spark.createDataFrame([(3, "c", 30.0)], SCHEMA), tbl, mode="append"
    )
    M.update_where(spark, tbl, {"v": "99.0"}, "k = 1")
    M.compact(spark, tbl)
    assert engines == ["quiverjvm"] * 3
    assert _rows(spark, tbl) == [
        (1, "a", 99.0), (2, "b", 20.0), (3, "c", 30.0)
    ]


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
