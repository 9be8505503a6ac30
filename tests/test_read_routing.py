"""Read routing: every quiver read in the format queries goes through
``sources.scan``, which has one engine: the quiverjvm columnar reader
serves each read or refuses it before any job, naming the remedy. Only
``quiver_relation(engine="python")`` loads the Python "quiver"
DataSource, for the bench's engine-labelled proxies."""

from __future__ import annotations

import os

import pytest

from conftest import SF_DIR

#: format queries that still read through the Python DataSource
PYTHON_DS_READERS: set[str] = set()


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
    """``engine="python"`` loads the Python DataSource directly — the
    read the bench's engine-labelled proxies measure — so it must never
    reach quiverjvm."""
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


def test_scan_refusals_come_before_any_job(spark, tmp_path, monkeypatch):
    """An option the quiverjvm reader does not take raises ValueError
    naming it, and a jar that does not attach raises RuntimeError naming
    its build script — both before any Spark job runs."""
    from quiver_spark import jvm, sources

    d = str(tmp_path / "t")
    sources.write(spark.range(5), d)
    tracker = spark.sparkContext.statusTracker()
    jobs = len(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="planning_parallelism"):
        sources.scan(spark, d, planning_parallelism="8")
    monkeypatch.setattr(jvm, "attach_jar", lambda s: False)
    with pytest.raises(RuntimeError, match="jvm/build.sh"):
        sources.scan(spark, d)
    assert len(tracker.getJobIdsForGroup(None)) == jobs


def _order_files(d: str, first_rows: int) -> None:
    """Rename the data files of flat table ``d`` so the file holding
    ``first_rows`` rows sorts first, then rebuild its manifest (which
    interns the schemas in listing order)."""
    import glob

    from quiver_spark.format.reader import read_table
    from quiver_spark.sources.manifest import rebuild_manifest

    files = glob.glob(os.path.join(d, "*.quiver"))
    for f in files:
        first = read_table(f).num_rows == first_rows
        os.rename(f, os.path.join(d, ("a" if first else "b") + ".quiver"))
    rebuild_manifest(d)


@pytest.mark.parametrize("manifest", [True, False], ids=["manifest", "footers"])
@pytest.mark.parametrize("range_first", [True, False],
                         ids=["range_first", "nullable_first"])
def test_nullable_append_to_range_table_reads_on_jvm(
    spark, tmp_path, range_first, manifest
):
    """A table first written from ``spark.range`` (non-nullable ``id``)
    then appended a nullable frame holding a NULL has files that differ
    only in nullability. In either file order, with the manifest or
    from footers alone, it reads on quiverjvm with ``id`` nullable and
    the NULL kept."""
    import glob

    from quiver_spark import sources

    d = str(tmp_path / "t")
    sources.write(spark.range(3).coalesce(1), d)
    sources.write(
        spark.createDataFrame([(None,), (7,)], "id bigint").coalesce(1),
        d, mode="append",
    )
    _order_files(d, 3 if range_first else 2)
    if not manifest:
        for m in glob.glob(os.path.join(d, "_manifest*")):
            os.remove(m)
    df = sources.scan(spark, d)
    assert "quiverjvm" in df._jdf.queryExecution().analyzed().toString()
    assert df.schema["id"].nullable
    assert df.count() == 5
    assert df.filter("id IS NULL").count() == 1
    assert sorted(r.id for r in df.collect() if r.id is not None) == [
        0, 1, 2, 7
    ]


def test_two_column_sets_need_merge_schemas(spark, tmp_path):
    """The table ``quiver_merge_schemas_scan`` builds (nation keyed by
    name, then an append keyed by region) is refused without
    ``merge_schemas``, naming it, whichever file sorts first; with
    ``merge_schemas="true"`` it unions by name and null-fills."""
    from quiver_spark import sources

    n = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    total = n.count()
    for i in range(3):
        d = str(tmp_path / f"t{i}")
        sources.write(n.select("n_nationkey", "n_name"), d)
        sources.write(n.select("n_nationkey", "n_regionkey"), d,
                      mode="append")
        with pytest.raises(Exception, match="merge_schemas"):
            sources.scan(spark, d)
        m = sources.scan(spark, d, merge_schemas="true")
        assert sorted(m.columns) == ["n_name", "n_nationkey", "n_regionkey"]
        got = m.selectExpr(
            "count(*)", "count(n_name)", "count(n_regionkey)"
        ).first()
        assert tuple(got) == (2 * total, total, total)
