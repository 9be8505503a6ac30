"""Operator read routing: every quiver read in the format queries goes
through ``sources.scan``, so the JVM columnar reader serves every table its
guards accept and the Python "quiver" DataSource is only the fallback."""

from __future__ import annotations

import pytest

from conftest import SF_DIR

#: format queries that still read through the Python DataSource, and why
PYTHON_DS_READERS = {
    # probes the fallback on purpose with a Python-DS-only option
    "quiver_unified_scan",
}


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


def test_format_queries_read_through_sources_scan(spark, monkeypatch):
    from quiver_spark.jvm import attach_jar
    from quiver_spark.operators.format_queries import (
        quiver_dir,
        quiver_relation,
        quiver_table,
    )
    from quiver_spark.registry import load_all_operators

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    specs = load_all_operators()
    names = sorted(n for n, s in specs.items() if "format" in s.tags)
    # build every cached fixture first, so the spy sees the queries' own
    # reads and not the one-time fixture writes
    for name in names:
        specs[name].spark(spark, SF_DIR)
    seen = _spy_reader_formats(monkeypatch)
    python_ds = set()
    for name in names:
        before = len(seen)
        specs[name].spark(spark, SF_DIR)
        if "quiver" in seen[before:]:
            python_ds.add(name)
    assert python_ds == PYTHON_DS_READERS
    before = len(seen)
    quiver_table(
        spark, SF_DIR, "lineitem", sort_by="l_shipdate",
        columns=["l_shipdate", "l_quantity"],
    )
    quiver_relation(
        spark, quiver_dir(spark, SF_DIR, "orders"), limit="10",
        columns="o_orderkey",
    )
    assert seen[before:] == ["quiverjvm", "quiverjvm"]


def test_quiver_relation_python_engine_reads_python_ds(spark, monkeypatch):
    """``engine="python"`` keeps the raw Python-DS load the bench's
    engine-labelled proxies measure, so it must never reach quiverjvm."""
    from quiver_spark.operators import format_queries
    from quiver_spark.operators.format_queries import (
        quiver_dir,
        quiver_relation,
    )

    d = quiver_dir(spark, SF_DIR, "orders")
    # a relation cached by an earlier test would skip the load
    monkeypatch.setattr(format_queries, "_DF_CACHE", {})
    seen = _spy_reader_formats(monkeypatch)
    quiver_relation(spark, d, engine="python", columns="o_orderkey")
    assert seen == ["quiver"]


@pytest.mark.parametrize("option", ["page_prune", "partition_prune"])
def test_quiver_relation_refuses_pruning_options(spark, option):
    """The relation is cached, and a cached pruning relation on the Python
    DS would replay a stale plan — refused even under ``python -O``."""
    from quiver_spark.operators.format_queries import quiver_relation

    with pytest.raises(ValueError, match="page_prune/partition_prune"):
        quiver_relation(spark, "/nonexistent", **{option: "true"})


def test_verify_checksums_scan_routes_to_jvm(spark, monkeypatch, tmp_path):
    """``verify_checksums`` is served by the JVM reader: a scan with it
    reads through quiverjvm, not the Python DataSource, and a corrupted
    page fails the default (checked) read loudly; ``"false"`` routes
    there too."""
    import glob
    import os

    from quiver_spark import sources
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar cannot attach")
    d = str(tmp_path / "t")
    sources.write(spark.range(5000).selectExpr("id", "id * 2 AS v")
                  .coalesce(1), d)
    seen = _spy_reader_formats(monkeypatch)
    healthy = sources.scan(spark, d, verify_checksums="true")
    assert seen == ["quiverjvm"]
    assert healthy.count() == 5000
    f = glob.glob(os.path.join(d, "**", "*.quiver"), recursive=True)[0]
    with open(f, "rb") as fh:
        body = bytearray(fh.read())
    body[len(body) // 4] ^= 0xFF
    with open(f, "wb") as fh:
        fh.write(bytes(body))
    del seen[:]
    for opts in ({}, {"verify_checksums": "true"}):
        with pytest.raises(Exception):
            sources.scan(spark, d, **opts).collect()
    sources.scan(spark, d, verify_checksums="false")
    assert set(seen) == {"quiverjvm"}
