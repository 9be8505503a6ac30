"""Maintenance write routing: every quiver write in ``maintenance.py`` goes
through ``sources.write``, the one place that picks a batch write engine,
and ``maintenance.py`` never hands a format to ``DataFrameWriter`` itself.
The codec each call passes is pinned too: a direct JVM write defaults to
zstd, while a staged JVM write and the Python sink default to lz4, so a
call that can land on more than one of them must name the codec it
writes."""

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
    # fresh directory: lz4, as they wrote on the Python sink)
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
