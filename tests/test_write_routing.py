"""Maintenance write routing: every quiver write in ``maintenance.py`` goes
through ``sources.write``, the one place that picks a batch write engine,
and ``maintenance.py`` never hands a format to ``DataFrameWriter`` itself.
The codec each call passes is pinned too. Every engine the router picks
defaults to lz4, so a call names a codec only when it means another one
(``ingest``: zstd)."""

from __future__ import annotations

import os
import sys

import pytest

from conftest import SF_DIR


def _spy(monkeypatch):
    """Record every ``sources.write`` call (path, mode, options, engine)
    and the file of every caller of ``DataFrameWriter.format``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from quiver_spark import sources

    writes: list[dict] = []
    format_callers: list[str] = []
    real_write, real_format = sources.write, DataFrameWriter.format

    def write(df, path, mode="overwrite", partition_by=None, **options):
        engine = real_write(df, path, mode, partition_by, **options)
        writes.append({"path": path, "mode": mode, "engine": engine,
                       "options": options})
        return engine

    def fmt(self, source):
        format_callers.append(sys._getframe(1).f_code.co_filename)
        return real_format(self, source)

    monkeypatch.setattr(sources, "write", write)
    monkeypatch.setattr(DataFrameWriter, "format", fmt)
    return writes, format_callers


def test_maintenance_writes_go_through_sources_write(spark, tmp_path, monkeypatch):
    from quiver_spark import maintenance as M
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    orders = f"{SF_DIR}/orders.parquet"
    src = spark.read.parquet(orders).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t, moved, conv = (str(tmp_path / n) for n in ("t", "moved", "conv"))
    writes, format_callers = _spy(monkeypatch)

    def one_write(call, path, mode, engine, codec, carry=False):
        before = len(writes)
        call()
        assert len(writes) == before + 1, writes[before:]
        w = writes[-1]
        assert (w["path"], w["mode"], w["engine"]) == (path, mode, engine)
        assert w["options"].get("codec") == codec
        assert ("carry_files" in w["options"]) == carry

    # loads into a new directory take the JVM writer, with the codec the
    # caller names (ingest: zstd; convert_parquet and a compaction into a
    # fresh directory: lz4)
    one_write(lambda: M.ingest(spark, src, t), t, "overwrite",
              "quiverjvm", "zstd")
    one_write(lambda: M.convert_parquet(spark, orders, conv), conv,
              "overwrite", "quiverjvm", "lz4")
    one_write(lambda: M.compact(spark, t, moved), moved, "overwrite",
              "quiverjvm", "lz4")
    # rewrites of an existing table take the staged JVM write, published
    # as a generation swap by the driver-side snapshot commit
    one_write(lambda: M.compact(spark, t), t, "overwrite", "quiverjvm",
              "lz4")
    one_write(lambda: M.cluster_by(spark, t, ["o_orderkey"]), t,
              "overwrite", "quiverjvm", "lz4")
    one_write(lambda: M.delete_where(spark, t, "o_orderkey < 100"), t,
              "overwrite", "quiverjvm", None, carry=True)
    one_write(
        lambda: M.update_where(spark, t, {"o_totalprice": "0.0"},
                               "o_orderkey < 200"),
        t, "overwrite", "quiverjvm", None, carry=True,
    )
    one_write(
        lambda: M.merge_upsert(
            spark, t, src.filter("o_orderkey < 300"), on=["o_orderkey"]
        ),
        t, "overwrite", "quiverjvm", None, carry=True,
    )
    assert format_callers, "the spy saw no DataFrameWriter.format call"
    here = {os.path.basename(f) for f in format_callers}
    assert "maintenance.py" not in here, here


def test_routed_writes_default_to_lz4(spark, tmp_path):
    """A write that names no codec stores lz4 blocks: a load into a new
    directory, an append and an overwrite, and a load naming
    ``require_not_null``."""
    from quiver_spark import sources
    from quiver_spark.format.stat import stat_file
    from quiver_spark.jvm import attach_jar
    from quiver_spark.sources import snapshot

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    df = spark.range(0, 20000, 1, 1).selectExpr(
        "sha2(CAST(id AS STRING), 256) AS h"
    )

    def codecs(table):
        root = snapshot.data_root(table)
        return {
            p.codec
            for f in snapshot.list_files(root, "*.quiver")
            for pages in stat_file(f).values()
            for p in pages
        }

    jvm, py = str(tmp_path / "jvm"), str(tmp_path / "py")
    assert sources.write(df, jvm) == "quiverjvm"
    assert sources.write(df, jvm, mode="append") == "quiverjvm"
    assert codecs(jvm) == {"lz4"}
    assert sources.write(df, jvm, mode="overwrite") == "quiverjvm"
    assert codecs(jvm) == {"lz4"}
    assert sources.write(df, py, require_not_null="h") == "quiverjvm"
    assert codecs(py) == {"lz4"}


def test_attach_jar_remembers_only_a_verified_success(monkeypatch):
    """``attach_jar`` probes the session's data source lookup until one
    succeeds, then answers from memory for that session."""
    from quiver_spark import jvm

    probes: list[object] = []
    resolves = [False]
    monkeypatch.setattr(
        jvm, "_resolves", lambda s: probes.append(s) or resolves[0]
    )
    monkeypatch.setattr(jvm, "ensure_jar", lambda build=True: None)

    class Session:
        pass

    s = Session()
    assert not jvm.attach_jar(s) and not jvm.attach_jar(s)
    assert len(probes) == 2
    resolves[0] = True
    assert jvm.attach_jar(s) and jvm.attach_jar(s)
    assert len(probes) == 3
    assert jvm.attach_jar(Session()) and len(probes) == 4


def _job_bomb(spark, *cols):
    """A frame whose every row raises ``job ran`` when a job evaluates it:
    a refusal that surfaces any other error came after a job started."""
    return spark.range(3).selectExpr(
        "if(id >= 0, raise_error('job ran'), id) AS id", *cols
    )


def test_require_not_null_is_a_plan_check(spark, tmp_path):
    """``require_not_null`` is checked in the plan of the quiverjvm
    write: a valid load takes the JVM writer; a NULL raises ``NOT NULL
    constraint violated`` and publishes nothing, leaving no stage; a
    column the frame lacks is refused before any job."""
    from quiver_spark import sources
    from quiver_spark.jvm import attach_jar
    from quiver_spark.sources import snapshot

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id", "concat('v', id) AS s")
    assert sources.write(df, t, require_not_null="id,s") == "quiverjvm"
    before = sorted(map(tuple, sources.scan(spark, t).collect()))
    bad = spark.range(30, 33).selectExpr(
        "id", "if(id = 31, NULL, 'x') AS s"
    )
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        sources.write(bad, t, mode="append", require_not_null="s")
    assert sorted(map(tuple, sources.scan(spark, t).collect())) == before
    assert not os.path.exists(os.path.join(t, snapshot.STAGING_DIR))
    with pytest.raises(ValueError, match="require_not_null column 'nope'"):
        sources.write(_job_bomb(spark), t, mode="append",
                      require_not_null="nope")
    assert not os.path.exists(os.path.join(t, snapshot.STAGING_DIR))


@pytest.mark.parametrize(
    "cols, options, match",
    [
        (("NULL AS n",), {}, "n void"),
        ((), {"page_stats": "false"}, "page_stats"),
        ((), {"max_page_size": 0}, "max_page_size must be a positive"),
        ((), {"max_rows_per_file": 0}, "max_rows_per_file must be a positive"),
    ],
    ids=["null_typed_column", "unknown_option", "max_page_size_0",
         "max_rows_per_file_0"],
)
def test_write_refusals_come_before_any_job(spark, tmp_path, cols, options,
                                            match):
    """A column the quiverjvm writer cannot encode, an option
    ``sources.write`` does not take, and a page size or file row cap
    that is not a positive integer (the JVM encoder divides by the page
    size; a cap of 0 would flush a file per row) each raise ValueError,
    naming it, before any job runs and before a stage (or the table)
    exists."""
    from quiver_spark import sources

    t = str(tmp_path / "t")
    with pytest.raises(ValueError, match=match):
        sources.write(_job_bomb(spark, *cols), t, **options)
    assert not os.path.exists(t)


@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_quiver_format_refuses_batch_writes(spark, tmp_path, mode):
    """``df.write.format("quiver")`` fails before any task runs, naming
    ``quiver_spark.sources.write``, and leaves no data file."""
    import glob

    from quiver_spark import sources

    sources.register(spark)
    d = str(tmp_path / "t")
    with pytest.raises(Exception, match="quiver_spark.sources.write"):
        _job_bomb(spark).write.format("quiver").mode(mode).save(d)
    assert glob.glob(os.path.join(d, "**", "*.quiver"), recursive=True) == []


def test_write_without_the_jar_names_the_build(spark, tmp_path, monkeypatch):
    """No fallback engine: when the jar does not attach, ``sources.write``
    raises before any job, naming the jar's build script."""
    from quiver_spark import jvm, sources

    monkeypatch.setattr(jvm, "attach_jar", lambda s: False)
    t = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="jvm/build.sh"):
        sources.write(_job_bomb(spark), t)
    assert not os.path.exists(t)


@pytest.mark.parametrize("how", ["arrowipc", "sources.write"])
def test_max_rows_per_file_rolls_at_exactly_n(spark, tmp_path, how):
    """One task of 2N+3 rows writes files of N, N and 3 rows on every
    writer: the arrowipc sink rolls at exactly N, as quiverjvm does."""
    import pyarrow.ipc as ipc

    from quiver_spark import sources
    from quiver_spark.format.reader import read_table
    from quiver_spark.jvm import attach_jar
    from quiver_spark.sources import snapshot

    n = 10
    df = spark.range(0, 2 * n + 3, 1, 1)
    t = str(tmp_path / "t")
    if how == "sources.write":
        if not attach_jar(spark):
            pytest.skip("quiverjvm jar cannot attach")
        sources.write(df, t, max_rows_per_file=n)
    else:
        sources.register_arrow(spark)
        df.write.format(how).option("max_rows_per_file", str(n)).mode(
            "overwrite"
        ).save(t)
    root = snapshot.data_root(t)
    if how == "arrowipc":
        sizes = [
            ipc.open_file(f).read_all().num_rows
            for f in snapshot.list_files(root, "*.arrow")
        ]
    else:
        sizes = [
            read_table(f).num_rows
            for f in snapshot.list_files(root, "*.quiver")
        ]
    assert sorted(sizes) == [3, n, n]


def test_plain_session_writes_and_scans_on_quiverjvm(tmp_path):
    """A plain session (one JVM, ``local[1]``, no ``spark.jars``):
    ``sources.write`` attaches the jar and returns ``"quiverjvm"``, and
    ``sources.scan`` reads the rows back on the JVM reader."""
    import subprocess
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        assert not spark.conf.get("spark.jars", "")
        from quiver_spark import sources
        t = {str(tmp_path / "t")!r}
        df = spark.range(50).selectExpr("id", "concat('v', id) AS s")
        assert sources.write(df, t) == "quiverjvm"
        back = sources.scan(spark, t)
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "quiverjvm" in plan.lower(), plan
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, df.collect()))
        print("PLAIN_SESSION_OK")
        """
    )
    env = {
        k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"
    }
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH", "")) if p
    )
    p = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env=env,
    )
    assert p.returncode == 0, (p.stdout[-1500:], p.stderr[-3000:])
    assert "PLAIN_SESSION_OK" in p.stdout
