"""Commit-time manifest: O(1) plan-time metadata (VERDICT r8 top item).

Pins the contract from quiver_spark/sources/manifest.py:
* every sink commit (overwrite / append / streaming batch, both formats)
  publishes a manifest describing the files it moved;
* planning serves footers + sidecars from the manifest — ZERO per-file
  footer reads on the fast path (the O(files) → O(1) fix);
* stale or absent entries fall back to real footer reads (correct, slower);
* the manifest participates in the atomic snapshot (per-generation file,
  written before the pointer swap; flat-root copy GC'd on first overwrite);
* quiver-tools manifest verify/rebuild complete the ops story.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quiver_spark.sources import manifest as man_mod
from quiver_spark.sources import quiver_datasource as qd
from quiver_spark.sources import stream_writer
from quiver_spark.sources.manifest import (
    MANIFEST_NAME,
    load_manifest,
    rebuild_manifest,
    verify_manifest,
)
from quiver_spark.sources.quiver_datasource import (
    QuiverScanReader,
    _data_root,
    _file_footer,
    _list_files,
    register,
)

from conftest import SF_DIR


def _write_sink(spark, df, path, mode="overwrite", **options):
    register(spark)
    w = df.write.format("quiver").mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


@pytest.fixture(scope="module")
def nation_df(spark):
    return spark.read.parquet(f"{SF_DIR}/nation.parquet")


def test_overwrite_writes_manifest_into_generation(spark, nation_df, tmp_path):
    d = str(tmp_path / "t1")
    _write_sink(spark, nation_df, d)
    root = _data_root(d)
    assert os.path.basename(root).startswith("gen-")
    assert os.path.exists(os.path.join(root, MANIFEST_NAME))
    man = load_manifest(root)
    files = _list_files(d)
    assert files
    for f in files:
        served = man.footer(f)
        assert served is not None
        schema, metas = _file_footer(f)
        assert served[0] == schema
        assert [m.offset for m in served[1]] == [m.offset for m in metas]
        assert [
            (p.length, p.num_values) for m in served[1] for p in m.pages
        ] == [(p.length, p.num_values) for m in metas for p in m.pages]


def test_partitions_zero_footer_reads_with_manifest(
    spark, nation_df, tmp_path, monkeypatch
):
    """The headline pin: a manifest-backed plan opens NO data files —
    plan-time I/O is one manifest read (+ stats), O(1) in file count."""
    d = str(tmp_path / "t2")
    _write_sink(spark, nation_df.repartition(4), d)
    files = _list_files(d)
    assert len(files) >= 3  # multiple files so the claim is meaningful

    calls = []
    real = qd._file_footer

    def counting(file):
        calls.append(file)
        return real(file)

    monkeypatch.setattr(qd, "_file_footer", counting)
    reader = QuiverScanReader({"path": d}, None)
    parts = reader.partitions()
    assert parts and calls == []

    # and the fallback really is exercised when the manifest disappears
    os.unlink(os.path.join(_data_root(d), MANIFEST_NAME))
    reader2 = QuiverScanReader({"path": d}, None)
    parts2 = reader2.partitions()
    assert {(p.file, p.page_start, p.page_end) for p in parts2} == {
        (p.file, p.page_start, p.page_end) for p in parts
    }
    assert calls  # footer reads happened without the manifest


def test_append_updates_manifest(spark, nation_df, tmp_path):
    d = str(tmp_path / "t3")
    _write_sink(spark, nation_df, d)
    _write_sink(spark, nation_df.limit(5), d, mode="append")
    root = _data_root(d)
    man = load_manifest(root)
    files = _list_files(d)
    assert all(man.footer(f) is not None for f in files)
    # round-trip through Spark: 25 + 5 rows
    assert spark.read.format("quiver").load(d).count() == 30


def test_flat_append_creates_root_manifest_then_gc_on_overwrite(
    spark, nation_df, tmp_path
):
    from quiver_spark.format.writer import WriteOptions, write_table

    d = str(tmp_path / "t4")
    os.makedirs(d)
    t = pq.read_table(f"{SF_DIR}/nation.parquet")
    write_table(t, os.path.join(d, "part-lib.quiver"), WriteOptions())
    # append via the sink into the FLAT root: manifest lands at the root
    # and covers the appended file; the library-written file stays
    # manifest-absent (fallback) — reads stay correct either way
    _write_sink(spark, nation_df.limit(3), d, mode="append")
    assert os.path.exists(os.path.join(d, MANIFEST_NAME))
    assert spark.read.format("quiver").load(d).count() == 28
    # first overwrite: generations take over; the stale flat-root manifest
    # must not survive (it described swept files)
    _write_sink(spark, nation_df, d)
    assert not os.path.exists(os.path.join(d, MANIFEST_NAME))
    assert os.path.exists(os.path.join(_data_root(d), MANIFEST_NAME))
    assert spark.read.format("quiver").load(d).count() == 25


def test_stale_entry_falls_back_to_footer(spark, nation_df, tmp_path):
    d = str(tmp_path / "t5")
    _write_sink(spark, nation_df, d)
    root = _data_root(d)
    f = _list_files(d)[0]
    # out-of-band rewrite: same path, different bytes → stat mismatch
    from quiver_spark.format.writer import WriteOptions, write_table

    t = pq.read_table(f"{SF_DIR}/nation.parquet").slice(0, 4)
    os.unlink(f)
    write_table(t, f, WriteOptions())
    man = load_manifest(root)
    assert man.footer(f) is None  # stale entry refused
    assert spark.read.format("quiver").load(d).count() == 4


def test_empty_overwrite_manifested(spark, nation_df, tmp_path):
    d = str(tmp_path / "t6")
    _write_sink(spark, nation_df.where("n_nationkey < 0"), d)
    root = _data_root(d)
    man = load_manifest(root)
    files = _list_files(d)
    assert len(files) == 1 and man.footer(files[0]) is not None
    assert spark.read.format("quiver").load(d).count() == 0


def test_streaming_sink_updates_manifest_per_batch(spark, tmp_path):
    register(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    spark.read.parquet(f"{SF_DIR}/nation.parquet").write.parquet(src)
    q = (
        stream_writer(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(
                src
            ),
            dst,
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    man = load_manifest(_data_root(dst))
    files = _list_files(dst)
    assert files and man is not None
    assert all(man.footer(f) is not None for f in files)


def test_arrow_manifest_and_planning(spark, nation_df, tmp_path, monkeypatch):
    from quiver_spark.sources import arrow_datasource as ad

    d = str(tmp_path / "ta")
    register(spark)
    nation_df.repartition(4).write.format("arrowipc").mode(
        "overwrite"
    ).save(d)
    root = _data_root(d)
    man = load_manifest(root)
    files = ad._list_arrow_files(d)
    assert len(files) >= 3
    for f in files:
        ent = man.lookup(f)
        assert ent is not None and ent.batches is not None

    opens = []
    real = ad._plan_info

    def counting(file):
        opens.append(file)
        return real(file)

    monkeypatch.setattr(ad, "_plan_info", counting)
    reader = ad.ArrowIpcScanReader({"path": d}, None)
    parts = reader.partitions()
    assert parts and opens == []


def test_arrow_merge_schemas_unions_by_name(spark, tmp_path):
    import pyarrow.ipc as ipc

    d = tmp_path / "tm"
    d.mkdir()
    t1 = pa.table({"a": pa.array([1, 2], pa.int64())})
    t2 = pa.table(
        {
            "a": pa.array([3], pa.int64()),
            "b": pa.array(["x"], pa.string()),
        }
    )
    # lexicographic first file lacks column b
    with ipc.new_file(str(d / "part-0.arrow"), t1.schema) as w:
        w.write_table(t1)
    with ipc.new_file(str(d / "part-1.arrow"), t2.schema) as w:
        w.write_table(t2)
    register(spark)
    df = (
        spark.read.format("arrowipc")
        .option("merge_schemas", "true")
        .load(str(d))
    )
    assert set(df.columns) == {"a", "b"}
    rows = {(r["a"], r["b"]) for r in df.collect()}
    assert rows == {(1, None), (2, None), (3, "x")}
    # default (no merge) keeps first-file schema
    df1 = spark.read.format("arrowipc").load(str(d))
    assert df1.columns == ["a"]


def test_page_prune_uses_manifest_sidecar(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "tp")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    _write_sink(
        spark,
        li.orderBy("l_orderkey"),
        d,
        max_page_size="512",
    )
    root = _data_root(d)
    man = load_manifest(root)
    f = _list_files(d)[0]
    ent = man.lookup(f)
    assert ent is not None and ent.sidecar is not None

    from quiver_spark.format import stats as stats_mod

    loads = []
    real = stats_mod.load_sidecar

    def counting(path):
        loads.append(path)
        return real(path)

    monkeypatch.setattr(stats_mod, "load_sidecar", counting)
    reader = QuiverScanReader({"path": d, "page_prune": "true"}, None)

    class Gt:
        attribute = ("l_orderkey",)
        value = 10**9  # prunes everything

    Gt.__name__ = "GreaterThan"
    reader.pushFilters([Gt()])
    parts = reader.partitions()
    assert loads == []  # sidecar served from the manifest
    # fully pruned → single empty anchor partition
    assert len(parts) == 1 and parts[0].page_end == parts[0].page_start


def test_manifest_cli_verify_and_rebuild(spark, nation_df, tmp_path, capsys):
    from quiver_spark.tools import main

    d = str(tmp_path / "tc")
    _write_sink(spark, nation_df, d)
    assert main(["manifest", "verify", d]) == 0
    rep = verify_manifest(_data_root(d))
    assert rep["ok"] and rep["checked"] >= 1 and not rep["unlisted"]

    # a library-written dir has no manifest → rebuild creates one
    from quiver_spark.format.writer import WriteOptions, write_table

    d2 = str(tmp_path / "lib")
    os.makedirs(d2)
    t = pq.read_table(f"{SF_DIR}/nation.parquet")
    write_table(t, os.path.join(d2, "a.quiver"), WriteOptions())
    write_table(t, os.path.join(d2, "b.quiver"), WriteOptions())
    out = rebuild_manifest(d2)
    assert out["files"] == 2 and out["schemas"] == 1
    man = load_manifest(d2)
    for f in _list_files(d2):
        assert man.footer(f) is not None
    assert verify_manifest(d2)["ok"]

    # tamper with a data file: verify reports it as stale (stat mismatch)
    with open(os.path.join(d2, "a.quiver"), "ab") as fh:
        fh.write(b"x")
    rep2 = verify_manifest(d2)
    assert "a.quiver" in rep2["stale"]


def test_manifest_corrupt_file_degrades_to_fallback(
    spark, nation_df, tmp_path
):
    d = str(tmp_path / "tx")
    _write_sink(spark, nation_df, d)
    root = _data_root(d)
    with open(os.path.join(root, MANIFEST_NAME), "wb") as f:
        f.write(b"not gzip")
    man_mod._MANIFEST_CACHE.clear()
    assert load_manifest(root) is None
    assert spark.read.format("quiver").load(d).count() == 25
