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
    """A write that names no codec stores lz4 blocks on either engine:
    a load into a new directory, an append and an overwrite through the
    JVM writer, and a write the Python sink takes."""
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
    assert sources.write(df, py, require_not_null="h") == "quiver"
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
