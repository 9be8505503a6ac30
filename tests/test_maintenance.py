"""Compaction maintenance: many small files → few row-targeted files, flat
and Hive-partitioned, contents preserved exactly."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from quiver_spark import maintenance
from quiver_spark import sources
from quiver_spark.sources import register
from quiver_spark.sources.quiver_datasource import _data_root

from conftest import SF_DIR


def _rows(spark, d):
    return sorted(
        map(tuple, spark.read.format("quiver").load(d).collect())
    )


def test_compact_flat_dir(spark, tmp_path):
    register(spark)
    src, dst = str(tmp_path / "small"), str(tmp_path / "big")
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    sources.write(df.repartition(30), src)
    n_small = len(glob.glob(os.path.join(_data_root(src), "*.quiver")))
    assert n_small == 30  # one small file per task — the streaming-sink shape
    before = _rows(spark, src)

    out = maintenance.compact(spark, src, dst, target_rows_per_file=100_000)
    assert out["files_before"] == n_small
    assert out["files_after"] < n_small and out["files_after"] <= 2
    assert out["rows"] == out["rows_after"] == len(before)
    assert _rows(spark, dst) == before


def test_compact_partitioned_dir(spark, tmp_path):
    register(spark)
    src, dst = str(tmp_path / "psmall"), str(tmp_path / "pbig")
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("long")
    )
    sources.write(
        df.repartition(8),
        src,
        partition_by="lang",
        max_rows_per_file="50",
    )
    before = _rows(spark, src)
    out = maintenance.compact(spark, src, dst, target_rows_per_file=100_000)
    assert out["partition_by"] == ["lang"]
    assert out["files_after"] < out["files_before"]
    # layout preserved: lang=... subdirs, no top-level files
    langs = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(_data_root(dst), "lang=*"))
    )
    assert langs and all(d.startswith("lang=") for d in langs)
    assert not glob.glob(os.path.join(_data_root(dst), "*.quiver"))
    assert _rows(spark, dst) == before


def test_compact_local_flat(spark, tmp_path):
    register(spark)
    src = str(tmp_path / "lsmall")
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    sources.write(df.repartition(5), src)
    dst = str(tmp_path / "merged.quiver")
    out = maintenance.compact_local(src, dst)
    assert out["files_before"] == 5 and out["files_after"] == 1
    from quiver_spark.format.reader import read_table

    assert read_table(dst).num_rows == df.count()


def test_compact_local_refuses_partitioned(spark, tmp_path):
    register(spark)
    src = str(tmp_path / "lpart")
    sources.write(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"),
        src,
        partition_by="lang",
    )
    with pytest.raises(ValueError, match="partitioned"):
        maintenance.compact_local(src, str(tmp_path / "x.quiver"))


def test_compact_refuses_nested_destination(spark, tmp_path):
    """A destination NESTED inside the source (or vice versa) is refused —
    the rewrite would race its own input. Exact dst==src is the supported
    in-place path (atomic generation swap; separate test)."""
    register(spark)
    src = str(tmp_path / "inplace")
    df = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    sources.write(df, src)
    for dst in (os.path.join(src, "sub"), str(tmp_path)):
        with pytest.raises(ValueError, match="overlaps source"):
            maintenance.compact(spark, src, dst)
    # the source is untouched by the refused attempts
    assert len(glob.glob(os.path.join(_data_root(src), "*.quiver"))) > 0


def test_compact_in_place(spark, tmp_path):
    """In-place compaction (dst omitted) rides the generation swap: many
    small files become few, contents exact, and the rewrite never deletes
    its own input mid-job. Works from both a flat (library-written)
    layout and a generational one."""
    from quiver_spark.format.writer import WriteOptions, write_table

    import pyarrow.parquet as pq_mod

    src = str(tmp_path / "self")
    os.makedirs(src)
    t = pq_mod.read_table(f"{SF_DIR}/orders.parquet")
    step = 100
    for i, start in enumerate(range(0, t.num_rows, step)):
        write_table(
            t.slice(start, step),
            os.path.join(src, f"part-{i:05d}.quiver"),
            WriteOptions(),
        )
    register(spark)
    before = _rows(spark, src)
    n_before = len(glob.glob(os.path.join(src, "*.quiver")))
    assert n_before >= 10

    out = maintenance.compact(spark, src, target_rows_per_file=1 << 20)
    assert out["src"] == out["dst"] == src
    assert out["rows"] == out["rows_after"] == len(before)
    assert out["files_after"] < n_before
    assert _rows(spark, src) == before
    # flat originals swept; data now lives under the live generation
    assert not glob.glob(os.path.join(src, "*.quiver"))
    assert os.path.basename(_data_root(src)).startswith("gen-")

    # second in-place pass (generational source) also round-trips
    out2 = maintenance.compact(spark, src, target_rows_per_file=1 << 20)
    assert out2["rows"] == out2["rows_after"] == len(before)
    assert _rows(spark, src) == before


def test_compact_local_refuses_destination_inside_source(tmp_path):
    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table

    src = str(tmp_path / "flat")
    os.makedirs(src)
    write_table(
        pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
        os.path.join(src, "part-0.quiver"),
        WriteOptions(),
    )
    with pytest.raises(ValueError, match="inside source"):
        maintenance.compact_local(src, os.path.join(src, "merged.quiver"))
    # sibling destination works
    out = maintenance.compact_local(src, str(tmp_path / "merged.quiver"))
    assert out["rows"] == 3


def test_dir_stats_rows_with_nested_first_column(tmp_path):
    """A list-led schema stores SLOT counts in the first column's page
    metas; _dir_stats/file_row_count must still report ROWS (via the first
    flat leaf, or the nested page's u32 row prefix when every column is
    nested)."""
    import pyarrow as pa

    from quiver_spark.format.reader import read_footer
    from quiver_spark.format.writer import WriteOptions, write_table

    lists = pa.array([[1, 2, 3], [], [4, 5], None, [6]] * 10)
    d1 = str(tmp_path / "nested_first")
    os.makedirs(d1)
    write_table(
        pa.table({"vals": lists, "k": pa.array(range(50), pa.int64())}),
        os.path.join(d1, "part-0.quiver"),
        WriteOptions(),
    )
    assert maintenance._dir_stats(d1) == (1, 50)

    d2 = str(tmp_path / "all_nested")
    os.makedirs(d2)
    f2 = os.path.join(d2, "part-0.quiver")
    write_table(pa.table({"vals": lists}), f2, WriteOptions())
    # drop the sidecar so the u32-row-prefix fallback is the path under test
    sc = f2 + ".stats.json"
    if os.path.exists(sc):
        os.remove(sc)
    assert maintenance._dir_stats(d2) == (1, 50)

    from quiver_spark.tools import cmd_inspect

    assert cmd_inspect(os.path.join(d1, "part-0.quiver"))["rows"] == 50
    assert cmd_inspect(f2)["rows"] == 50


def test_convert_parquet_roundtrip(spark, tmp_path):
    """Distributed parquet->quiver conversion preserves contents exactly,
    sizes output from footer metadata, and supports Hive fan-out."""
    dst = str(tmp_path / "converted")
    out = maintenance.convert_parquet(
        spark, f"{SF_DIR}/orders.parquet", dst, target_rows_per_file=500
    )
    p = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert out["rows"] == p.count()
    q = spark.read.format("quiver").load(dst)
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, p.collect()))
    assert out["files_after"] >= 3  # 1,500 rows / 500-row target

    # Hive fan-out variant
    dst2 = str(tmp_path / "converted_bylang")
    out2 = maintenance.convert_parquet(
        spark, f"{SF_DIR}/documents.parquet", dst2, partition_by="lang"
    )
    assert out2["partition_by"] == ["lang"]
    q2 = (
        spark.read.format("quiver")
        .load(dst2)
        .groupBy("lang")
        .count()
        .collect()
    )
    want = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("lang")
        .count()
        .collect()
    )
    assert sorted(map(tuple, q2)) == sorted(map(tuple, want))


def test_expire_generations(spark, tmp_path):
    """Retention sweep: keep the newest K snapshots, never the live one
    removed, flat tables a no-op."""
    register(spark)
    out = str(tmp_path / "retain")
    for n in (10, 20, 30):
        sources.write(spark.range(n), out, keep_generations="99")
    import os as _os

    gens = sorted(d for d in _os.listdir(out) if d.startswith("gen-"))
    assert gens == ["gen-000001", "gen-000002", "gen-000003"]

    res = maintenance.expire_generations(out, keep=2)
    assert res["removed"] == ["gen-000001"]
    assert spark.read.format("quiver").load(out).count() == 30
    assert (
        spark.read.format("quiver").option("version", "2").load(out).count()
        == 20
    )
    # keep=1 leaves only the live generation
    res2 = maintenance.expire_generations(out, keep=1)
    assert res2["removed"] == ["gen-000002"]
    assert spark.read.format("quiver").load(out).count() == 30
    # flat dir: no-op
    flat = str(tmp_path / "flat")
    _os.makedirs(flat)
    assert maintenance.expire_generations(flat)["removed"] == []


def test_rollback_generation(spark, tmp_path):
    """Overwrite → rollback → the old snapshot is live again; rollback is
    itself reversible while the rolled-past generation is retained; a
    rollback to an unretained generation or of a flat table fails
    loudly."""
    import os as _os

    register(spark)
    out = str(tmp_path / "rb")
    for n in (10, 20, 30):
        sources.write(spark.range(n), out, keep_generations="99")
    assert spark.read.format("quiver").load(out).count() == 30

    res = maintenance.rollback_generation(out, 2)
    assert res["rolled_back_to"] == "gen-000002"
    assert res["previous"] == "gen-000003"
    assert spark.read.format("quiver").load(out).count() == 20
    # rolled-PAST generation is retained, so the rollback is reversible
    assert maintenance.rollback_generation(out, 3)["rolled_back_to"] == (
        "gen-000003"
    )
    assert spark.read.format("quiver").load(out).count() == 30
    # already-live rollback is a no-op, not an error
    assert maintenance.rollback_generation(out, 3)["note"] == "already live"

    # unretained target → loud
    maintenance.expire_generations(out, keep=1)
    with pytest.raises(ValueError, match="not retained"):
        maintenance.rollback_generation(out, 1)
    # flat table (no pointer) → loud
    flat = str(tmp_path / "rb_flat")
    _os.makedirs(flat)
    with pytest.raises(ValueError, match="no generation pointer"):
        maintenance.rollback_generation(flat, 1)


def test_rollback_cli(spark, tmp_path):
    """`python -m quiver_spark rollback <dir> --to N` round-trips
    overwrite → rollback → read-old through the CLI entry point."""
    import subprocess
    import sys as _sys

    register(spark)
    out = str(tmp_path / "rb_cli")
    for n in (5, 7):
        sources.write(spark.range(n), out, keep_generations="9")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [_sys.executable, "-m", "quiver_spark", "rollback", out, "--to", "1"],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    assert r.returncode == 0, r.stderr
    import json as _json

    assert _json.loads(r.stdout)["rolled_back_to"] == "gen-000001"
    assert spark.read.format("quiver").load(out).count() == 5


def test_cluster_by_tightens_zone_maps_for_dml(spark, tmp_path):
    """cluster_by turns hash-scattered files into range-disjoint ones:
    the SAME narrow DELETE that touches every file before clustering
    touches at most 2 after (row content identical throughout)."""
    from quiver_spark import maintenance

    register(spark)
    tbl = str(tmp_path / "t")
    df = (
        spark.range(4000)
        .select(
            F.col("id"), (F.col("id") % 13).alias("v")
        )
        # hash-scatter: every file's id min/max spans ~the whole domain
        .repartition(8)
    )
    sources.write(df, tbl)

    probe = maintenance._touched_files(
        spark, tbl, "id >= 100 AND id < 120"
    )
    assert len(probe) == 8  # unclustered: all files are candidates

    summary = maintenance.cluster_by(
        spark, tbl, ["id"], target_rows_per_file=500
    )
    assert summary["rows_after"] == 4000
    assert summary["files_after"] >= 8

    probe2 = maintenance._touched_files(
        spark, tbl, "id >= 100 AND id < 120"
    )
    assert len(probe2) <= 2, probe2  # clustered: O(selectivity) files

    res = maintenance.delete_where(spark, tbl, "id >= 100 AND id < 120")
    assert res["files_rewritten"] <= 2
    assert res["files_carried"] >= summary["files_after"] - 2
    got = sorted(
        r.id for r in spark.read.format("quiver").load(tbl).collect()
    )
    assert got == [i for i in range(4000) if not (100 <= i < 120)]


def test_cluster_by_missing_column_raises(spark, tmp_path):
    from quiver_spark import maintenance

    register(spark)
    tbl = str(tmp_path / "t")
    sources.write(spark.range(10), tbl)
    with pytest.raises(ValueError, match="not in schema"):
        maintenance.cluster_by(spark, tbl, ["nope"])


def test_zorder_clustering_prunes_on_every_column(spark, tmp_path):
    """Lexicographic sort gives only the LEADING column pruning power;
    Z-order interleaving gives every cluster column file-locality. Grid
    data, same narrow predicate on x and on y:
    - plain cluster_by(["x","y"]): y-predicate candidates ~ all files
    - zorder: BOTH predicates' candidates < half the files
    Row content identical throughout."""
    from quiver_spark import maintenance

    register(spark)
    n = 128
    grid = (
        spark.range(n * n)
        .selectExpr(
            "CAST(id % 128 AS BIGINT) AS x",
            "CAST(id DIV 128 AS BIGINT) AS y",
            "id AS payload",
        )
        .repartition(8)
    )

    plain = str(tmp_path / "plain")
    sources.write(grid, plain)
    maintenance.cluster_by(
        spark, plain, ["x", "y"], target_rows_per_file=1024
    )
    zord = str(tmp_path / "zord")
    sources.write(grid, zord)
    zsum = maintenance.cluster_by(
        spark, zord, ["x", "y"], target_rows_per_file=1024, zorder=True
    )
    assert zsum["zorder"] is True
    assert zsum["rows_after"] == n * n

    def candidates(tbl, pred):
        return len(maintenance._touched_files(spark, tbl, pred))

    n_plain = len(
        maintenance._snapshot(plain)[2]
    )
    n_zord = len(maintenance._snapshot(zord)[2])
    assert n_plain >= 8 and n_zord >= 8

    px = "x >= 16 AND x < 32"
    py = "y >= 16 AND y < 32"
    # leading column prunes under both layouts
    assert candidates(plain, px) <= n_plain // 2
    assert candidates(zord, px) <= n_zord // 2
    # trailing column: plain sort cannot prune (every file spans y);
    # z-order must
    assert candidates(plain, py) >= n_plain - 2
    assert candidates(zord, py) <= n_zord // 2, (
        candidates(zord, py),
        n_zord,
    )

    # content identical
    a = sorted(
        tuple(r)
        for r in spark.read.format("quiver").load(plain).collect()
    )
    b = sorted(
        tuple(r)
        for r in spark.read.format("quiver").load(zord).collect()
    )
    assert a == b


def test_clone_snapshot_zero_copy_and_independent(spark, tmp_path):
    """clone_snapshot hard-links a snapshot into a new table (no data
    copied — same inodes), and the clone evolves independently: DML on
    the clone never changes the source."""
    from quiver_spark import maintenance
    from quiver_spark.sources.quiver_datasource import _list_files

    register(spark)
    src = str(tmp_path / "src")
    sources.write(
        spark.range(100)
        .selectExpr("id", "id % 5 AS g")
        .coalesce(1),
        src,
        keep_generations="3",
    )
    sources.write(
        spark.range(200).selectExpr("id", "id % 5 AS g").coalesce(1),
        src,
        keep_generations="3",
    )

    dst = str(tmp_path / "clone")
    res = maintenance.clone_snapshot(src, dst)
    assert res["files_linked"] >= 1
    got = sorted(r.id for r in spark.read.format("quiver").load(dst).collect())
    assert got == list(range(200))
    # same inodes — nothing copied
    src_inodes = {os.stat(f).st_ino for f in _list_files(_data_root(src))}
    dst_inodes = {os.stat(f).st_ino for f in _list_files(_data_root(dst))}
    assert dst_inodes <= src_inodes

    # version clone of the retained first generation
    dstv = str(tmp_path / "clone_v1")
    maintenance.clone_snapshot(src, dstv, version=1)
    assert spark.read.format("quiver").load(dstv).count() == 100

    # independence: delete on the clone, source unchanged
    maintenance.delete_where(spark, dst, "id < 150")
    assert spark.read.format("quiver").load(dst).count() == 50
    assert spark.read.format("quiver").load(src).count() == 200

    # refuse clobbering an existing table
    with pytest.raises(ValueError, match="already exists"):
        maintenance.clone_snapshot(src, dst)


def test_clone_snapshot_arrowipc_table(spark, tmp_path):
    """clone_snapshot is format-agnostic: an arrowipc table clones the
    same way (hard links + manifest + pointer)."""
    from quiver_spark import maintenance

    register(spark)
    src = str(tmp_path / "src_arrow")
    spark.range(40).write.format("arrowipc").mode("overwrite").save(src)
    dst = str(tmp_path / "dst_arrow")
    res = maintenance.clone_snapshot(src, dst)
    assert res["files_linked"] >= 1
    got = sorted(
        r.id for r in spark.read.format("arrowipc").load(dst).collect()
    )
    assert got == list(range(40))


def test_clone_crash_leaves_no_partial_table(spark, tmp_path, monkeypatch):
    """A clone interrupted mid-link must leave the destination INVISIBLE
    (hidden staging, skipped by listings) — never a partial table that
    flat resolution would silently read."""
    import shutil as _shutil

    from quiver_spark import maintenance
    from quiver_spark.sources.quiver_datasource import _list_files

    register(spark)
    src = str(tmp_path / "src")
    sources.write(spark.range(50).coalesce(1), src)
    dst = str(tmp_path / "dst")

    boom = RuntimeError("simulated crash mid-clone")

    def exploding_copy2(*a, **k):
        raise boom

    # the manifest carry uses shutil.copy2 — crash there, after links
    monkeypatch.setattr(_shutil, "copy2", exploding_copy2)
    with pytest.raises(RuntimeError, match="simulated crash"):
        maintenance.clone_snapshot(src, dst)
    monkeypatch.undo()
    # nothing reader-visible landed
    assert _list_files(dst) in ([], [dst])
    assert not os.path.exists(os.path.join(dst, "gen-000001"))
    # the retry succeeds (hidden staging residue is swept, not counted)
    res = maintenance.clone_snapshot(src, dst)
    assert res["files_linked"] >= 1
    assert spark.read.format("quiver").load(dst).count() == 50


def test_clone_crash_between_pointer_and_rename_is_loud_and_retryable(
    spark, tmp_path, monkeypatch
):
    """Code-review pin for the pointer-first publish order: a crash
    after the pointer lands but before the generation rename leaves the
    clone LOUDLY unreadable (corrupt-pointer error, not a silent partial
    table), and the retry completes it."""
    from quiver_spark import maintenance
    from quiver_spark.sources.quiver_datasource import _data_root as droot

    register(spark)
    src = str(tmp_path / "src")
    sources.write(spark.range(25).coalesce(1), src)
    dst = str(tmp_path / "dst")

    real_rename = os.rename

    def exploding_rename(a, b):
        raise RuntimeError("simulated crash before rename")

    monkeypatch.setattr(os, "rename", exploding_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        maintenance.clone_snapshot(src, dst)
    monkeypatch.setattr(os, "rename", real_rename)
    # loud, not silent: the pointer names a not-yet-existing generation
    with pytest.raises(ValueError, match="corrupt generation pointer"):
        droot(dst)
    # retry completes the clone
    maintenance.clone_snapshot(src, dst)
    assert spark.read.format("quiver").load(dst).count() == 25


def test_vacuum_housekeeping(spark, tmp_path):
    """vacuum = expire + staging sweep + orphan-sidecar removal, safe on
    a live table (current generation and its files untouched)."""
    import os
    import time

    from quiver_spark import maintenance
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "t")
    for k in range(3):
        sources.write(
            spark.range(k * 10, (k + 1) * 10),
            d,
            keep_generations="5",
        )
    # abandoned staging attempt (old) + orphan sidecar in the live root
    stage = os.path.join(d, "_temporary", "task-dead")
    os.makedirs(stage)
    os.utime(os.path.join(d, "_temporary", "task-dead"),
             (time.time() - 90000, time.time() - 90000))
    from quiver_spark.sources.quiver_datasource import _data_root

    root = _data_root(d)
    orphan = os.path.join(root, "gone.quiver.stats.json")
    with open(orphan, "w") as f:
        f.write("{}")
    res = maintenance.vacuum(d, keep=1)
    assert res["expired_generations"] == ["gen-000001", "gen-000002"]
    assert res["staging_swept"] == ["task-dead"]
    assert res["orphan_sidecars_removed"] == ["gone.quiver.stats.json"]
    back = spark.read.format("quiver").load(d)
    assert sorted(r.id for r in back.collect()) == list(range(20, 30))


def test_vacuum_sweeps_crashed_clone_staging(spark, tmp_path):
    """A crashed clone's _clone_tmp staging is reclaimed by vacuum (age-
    guarded), and failed removals are never reported as swept."""
    import os
    import time

    from quiver_spark import maintenance
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "t")
    sources.write(spark.range(5), d)
    ct = os.path.join(d, "_clone_tmp")
    os.makedirs(ct)
    old = time.time() - 90000
    os.utime(ct, (old, old))
    res = maintenance.vacuum(d)
    assert "_clone_tmp" in res["staging_swept"]
    assert not os.path.exists(ct)
    # a FRESH clone staging (in-flight) is left alone
    os.makedirs(ct)
    res2 = maintenance.vacuum(d)
    assert res2["staging_swept"] == []
    assert os.path.exists(ct)


def test_compact_partition_evolution(spark, tmp_path):
    """compact(partition_by=...) is partition EVOLUTION: a flat table
    re-lays out under new Hive keys (and [] removes partitioning), all
    on the atomic generation swap. (The rewrite uses the write's default
    retention, so the pre-evolution generation expires unless the
    rewrite is issued with keep_generations > 1.)"""
    import glob

    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    d = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(60)], "id long, grp int, s string"
    )
    sources.write(df, d, keep_generations="3")
    # flat → partitioned on grp
    rep = maintenance.compact(spark, d, partition_by=["grp"])
    assert rep["partition_by"] == ["grp"]
    subdirs = glob.glob(os.path.join(_data_root(d), "grp=*"))
    assert len(subdirs) == 3, subdirs
    rows = sorted(
        (r.id, r.grp, r.s)
        for r in spark.read.format("quiver").load(d).collect()
    )
    assert rows == sorted((i, i % 3, f"r{i}") for i in range(60))
    # partitioned → flat via []
    maintenance.compact(spark, d, partition_by=[])
    assert not glob.glob(os.path.join(_data_root(d), "grp=*"))
    assert spark.read.format("quiver").load(d).count() == 60
    # unknown column refused
    with pytest.raises(ValueError, match="not in the table schema"):
        maintenance.compact(spark, d, partition_by=["nope"])


def test_analyze_table_stats_round_trip(spark, tmp_path, capsys):
    """ANALYZE stores exact table/column stats in the manifest via a
    labeled metadata-only commit; quiver-tools stats reads them back
    with a staleness flag against the current commit."""
    import json as _json

    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.tools import main as tools_main

    register(spark)
    d = str(tmp_path / "t")
    sources.write(
        spark.createDataFrame(
            [(1, "a", None), (2, "b", 2.5), (2, None, 2.5)],
            "k long, s string, v double",
        ),
        d,
    )
    rep = maintenance.analyze_table(spark, d, exact_ndv=True)
    assert rep["row_count"] == 3
    st = load_manifest(_data_root(d)).table_stats
    assert st["columns"]["k"] == {
        "type": "bigint", "nulls": 0, "ndv": 2, "min": "1", "max": "2",
    }
    assert st["columns"]["s"]["nulls"] == 1
    assert st["columns"]["s"]["ndv"] == 2
    assert st["columns"]["s"]["avg_len"] == 1.0
    assert st["columns"]["v"]["nulls"] == 1
    # fresh stats are not stale; the analyze shows in the history
    assert tools_main(["stats", d]) in (0, None)
    out = _json.loads(capsys.readouterr().out)
    assert out["stale"] is False and out["row_count"] == 3
    capsys.readouterr()
    assert tools_main(["commits", d]) in (0, None)
    hist = _json.loads(capsys.readouterr().out)
    assert any(c.get("op") == "analyze" for c in hist["commits"])
    # a later append makes them stale (detectably), and an incremental
    # cursor taken before the ANALYZE sees no files from it
    sources.write(
        spark.createDataFrame([(9, "z", 1.0)], "k long, s string, v double"),
        d,
        mode="append",
    )
    capsys.readouterr()
    assert tools_main(["stats", d]) in (0, None)
    out = _json.loads(capsys.readouterr().out)
    assert out["stale"] is True
    # stats survive a DML carry commit (still marked stale)
    maintenance.delete_where(spark, d, "k = 9")
    st2 = load_manifest(_data_root(d)).table_stats
    assert st2 is not None and st2["row_count"] == 3
    # ...and die with a full overwrite (the data they describe is gone)
    sources.write(
        spark.createDataFrame([(5, "q", 0.5)], "k long, s string, v double"),
        d,
    )
    assert load_manifest(_data_root(d)).table_stats is None


def test_analyze_unknown_column_refused(spark, tmp_path):
    register(spark)
    d = str(tmp_path / "t")
    sources.write(spark.range(5), d)
    with pytest.raises(ValueError, match="not in"):
        maintenance.analyze_table(spark, d, columns=["nope"])


def test_snapshot_diff_insert_delete_update(spark, tmp_path):
    """snapshot_diff = Delta-CDF analogue via exceptAll bag semantics:
    inserts, deletes, and updates (delete+insert) between two retained
    generations; duplicates diff by multiplicity."""
    register(spark)
    d = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c")], "k long, s string"
    )
    sources.write(base, d, keep_generations="3")
    # v2: row 1 updated, row 2 deleted, one duplicate of (3,c) removed,
    # row 4 inserted
    sources.write(
        spark.createDataFrame(
            [(1, "A"), (3, "c"), (4, "d")], "k long, s string"
        ),
        d,
        keep_generations="3",
    )
    diff = maintenance.snapshot_diff(spark, d, from_version=1)
    got = sorted(map(tuple, diff.collect()))
    assert got == [
        (1, "A", "insert"),
        (1, "a", "delete"),
        (2, "b", "delete"),
        (3, "c", "delete"),  # multiplicity: one of the two dups removed
        (4, "d", "insert"),
    ]
    # explicit to_version: diffing v1 against itself is empty
    assert maintenance.snapshot_diff(spark, d, 1, to_version=1).count() == 0


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """Across an ALTER the diff restricts to the common columns (the
    Delta-CDF restriction); disjoint schemas error."""
    register(spark)
    d = str(tmp_path / "t2")
    sources.write(
        spark.createDataFrame([(1, "a")], "k long, s string"),
        d,
        keep_generations="4",
    )
    maintenance.rename_column(d, "s", "name")
    sources.write(
        spark.createDataFrame([(2, "b")], "k long, name string"),
        d,
        mode="append",
    )
    diff = maintenance.snapshot_diff(spark, d, from_version=1)
    # common column is k only (v1 declares s, live declares name)
    assert diff.columns == ["k", "_change_type"]
    assert sorted(map(tuple, diff.collect())) == [(2, "insert")]


def test_clone_carries_declared_schema_and_constraints(spark, tmp_path):
    """clone_snapshot copies the manifest wholesale, so an ALTERed
    table's clone reads through the same declared schema (renames,
    defaults) and keeps enforcing its CHECK constraints."""
    register(spark)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    sources.write(
        spark.createDataFrame(
            [(1, "a", 1.0)], "k long, s string, v double"
        ),
        src,
    )
    maintenance.rename_column(src, "s", "name")
    maintenance.add_column(src, "grade", "string", default="g")
    maintenance.add_constraint(spark, src, "v_pos", "v > 0")
    maintenance.clone_snapshot(src, dst)
    df = spark.read.format("quiver").load(dst)
    assert df.columns == ["k", "name", "v", "grade"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", 1.0, "g")]
    from quiver_spark.sources import write

    with pytest.raises(Exception, match="CHECK constraint 'v_pos'"):
        write(
            spark.createDataFrame(
                [(2, "b", -1.0, "x")],
                "k long, name string, v double, grade string",
            ),
            dst,
            mode="append",
        )
    assert spark.read.format("quiver").load(dst).count() == 1


def test_retention_ignores_newer_than_live_orphans(spark, tmp_path):
    """An orphaned generation NEWER than the live pointer (crashed/raced
    commit) must neither survive retention as if it were a snapshot nor
    displace genuinely retained ones; vacuum reclaims it once stale."""
    import shutil as _shutil
    import time as _time

    register(spark)
    d = str(tmp_path / "t")
    for i in range(3):  # gens 1..3, live = 3
        sources.write(spark.range(10 + i), d, keep_generations="9")
    # fabricate an orphan claim newer than live (a crashed writer's dir
    # never gets the _committed marker a successful swap stamps)
    orphan = os.path.join(d, "gen-000009")
    _shutil.copytree(os.path.join(d, "gen-000003"), orphan)
    from quiver_spark.sources.snapshot import COMMITTED as _COMMITTED

    try:
        os.remove(os.path.join(orphan, _COMMITTED))
    except FileNotFoundError:
        pass
    out = maintenance.expire_generations(d, keep=2)
    # keep=2 keeps gens 2 and 3 (real snapshots); the orphan neither
    # counts toward the window nor displaces gen-000002
    assert out["removed"] == ["gen-000001"]
    assert out["skipped_inflight"] == ["gen-000009"]
    assert sorted(out["kept"]) == ["gen-000002", "gen-000003"]
    assert os.path.isdir(orphan)  # expire never touches in-flight claims
    # a FRESH orphan survives vacuum (could be a live writer's claim)...
    rep = maintenance.vacuum(d, keep=2, staging_age_sec=3600)
    assert rep["orphan_generations_swept"] == []
    assert os.path.isdir(orphan)
    # ...a stale one is a corpse and gets reclaimed
    old = _time.time() - 7200
    os.utime(orphan, (old, old))
    rep = maintenance.vacuum(d, keep=2, staging_age_sec=3600)
    assert rep["orphan_generations_swept"] == ["gen-000009"]
    assert not os.path.exists(orphan)
    # the table stayed live and whole throughout
    assert spark.read.format("quiver").load(d).count() == 12


def test_vacuum_never_sweeps_rollback_retained_generation(spark, tmp_path):
    """A rollback leaves the rolled-away-from generation NEWER than the
    live pointer — a retained snapshot, not a corpse. Its commit marker
    protects it from vacuum's orphan sweep no matter how stale."""
    import time as _time

    register(spark)
    d = str(tmp_path / "t")
    for n in (10, 20):
        sources.write(spark.range(n), d, keep_generations="5")
    maintenance.rollback_generation(d, 1)  # live = gen-1; gen-2 newer
    g2 = os.path.join(d, "gen-000002")
    old = _time.time() - 7 * 24 * 3600
    os.utime(g2, (old, old))
    rep = maintenance.vacuum(d, keep=1, staging_age_sec=3600)
    assert rep["orphan_generations_swept"] == []
    assert os.path.isdir(g2)
    # time travel back onto it still works
    assert (
        spark.read.format("quiver").option("version", "2").load(d).count()
        == 20
    )
