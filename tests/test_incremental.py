"""Incremental (CDC-lite) scans over the manifest commit sequence.

Pins the contract from sources/manifest.py + maintenance.table_changes:
* every sink commit bumps a monotone ``commit_seq`` and stamps the files
  it published; the sequence survives generation swaps (overwrite seeds
  the fresh manifest's counter from the superseded snapshot's);
* ``.option("changes_since", N)`` scans ONLY files committed after N —
  appends surface exactly the appended rows, copy-on-write rewrites
  surface rewritten files wholesale while carried (hard-linked) files
  keep their original stamp and never reappear;
* files the manifest cannot vouch for are conservatively included
  (at-least-once for change consumers, never silent loss);
* both table formats share the contract.

At 100 TB this is what lets a downstream pipeline process a table's new
data without rescanning the table: the planner reads one manifest and
plans O(changed files), not O(files).
"""

from __future__ import annotations

import os

import pytest

from quiver_spark import maintenance, sources
from quiver_spark.sources import stream_writer
from quiver_spark.sources.manifest import load_manifest
from quiver_spark.sources.quiver_datasource import _data_root, register

from conftest import SF_DIR


def _write(spark, df, path, mode, fmt="quiver", **options):
    if fmt == "quiver":
        sources.write(df, path, mode=mode, **options)
        return
    register(spark)
    w = df.write.format(fmt).mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.save(path)


@pytest.fixture(scope="module")
def nation_df(spark):
    return spark.read.parquet(f"{SF_DIR}/nation.parquet")


def test_commit_seq_increments_and_survives_overwrite(
    spark, nation_df, tmp_path
):
    d = str(tmp_path / "t")
    _write(spark, nation_df, d, "overwrite")
    assert maintenance.current_commit(d) == 1
    _write(spark, nation_df.limit(3), d, "append")
    assert maintenance.current_commit(d) == 2
    # overwrite publishes a FRESH generation manifest — the counter must
    # continue, not restart, or consumers' cursors would go backwards
    _write(spark, nation_df.limit(5), d, "overwrite")
    assert maintenance.current_commit(d) == 3
    man = load_manifest(_data_root(d))
    assert man.commit_seq == 3
    assert {e.commit for e in man.entries.values()} == {3}


def test_changes_since_returns_exactly_the_appended_rows(
    spark, nation_df, tmp_path
):
    d = str(tmp_path / "t")
    _write(spark, nation_df.filter("n_nationkey < 10"), d, "overwrite")
    cursor = maintenance.current_commit(d)
    _write(
        spark,
        nation_df.filter("n_nationkey >= 10 and n_nationkey < 20"),
        d,
        "append",
    )
    _write(spark, nation_df.filter("n_nationkey >= 20"), d, "append")
    got = sorted(
        r.n_nationkey
        for r in maintenance.table_changes(spark, d, cursor).collect()
    )
    assert got == list(range(10, 25))
    # cursor at head → empty; cursor 0 → everything
    head = maintenance.current_commit(d)
    assert maintenance.table_changes(spark, d, head).count() == 0
    assert maintenance.table_changes(spark, d, 0).count() == 25


def test_dml_rewrite_changes_exclude_carried_files(spark, nation_df, tmp_path):
    d = str(tmp_path / "t")
    _write(
        spark,
        nation_df.repartitionByRange(5, "n_nationkey"),
        d,
        "overwrite",
    )
    files_before = len(load_manifest(_data_root(d)).entries)
    assert files_before == 5
    cursor = maintenance.current_commit(d)
    res = maintenance.delete_where(spark, d, "n_nationkey = 3")
    assert res["files_rewritten"] < files_before
    changed = (
        spark.read.format("quiver")
        .option("changes_since", str(cursor))
        .option("file_column", "_file")
        .load(d)
    )
    rows = changed.collect()
    # only the rewritten file(s) surface: the deleted key's 5-row
    # neighborhood minus the deleted row — carried files never reappear
    keys = sorted(r.n_nationkey for r in rows)
    assert 3 not in keys
    # rewritten-file rows only, never the whole table
    assert 0 < len(keys) < 20
    # and the carried entries kept their ORIGINAL stamp
    after = load_manifest(_data_root(d))
    assert after.commit_seq == cursor + 1
    carried = [e for e in after.entries.values() if e.commit <= cursor]
    assert len(carried) == res["files_carried"]
    assert len({r._file for r in rows}) == len(after.entries) - len(carried)


def test_unvouched_files_are_conservatively_included(
    spark, nation_df, tmp_path
):
    d = str(tmp_path / "t")
    _write(spark, nation_df, d, "overwrite")
    cursor = maintenance.current_commit(d)
    assert maintenance.table_changes(spark, d, cursor).count() == 0
    # an out-of-band writer (library write_table, older engine) drops a
    # file the manifest doesn't list → it must surface as changed
    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table

    root = _data_root(d)
    # the table's own schema: the subject is vouching, not schema drift
    extra = pa.table(
        {
            "n_nationkey": pa.array([99], pa.int32()),
            "n_name": pa.array(["X"], pa.string()),
            "n_regionkey": pa.array([0], pa.int32()),
        }
    )
    write_table(extra, os.path.join(root, "oob.quiver"), WriteOptions())
    got = maintenance.table_changes(spark, d, cursor).collect()
    assert [r.n_nationkey for r in got] == [99]


def test_arrow_format_shares_the_contract(spark, nation_df, tmp_path):
    d = str(tmp_path / "t")
    _write(spark, nation_df.filter("n_nationkey < 20"), d, "overwrite",
           fmt="arrowipc")
    cursor = maintenance.current_commit(d)
    _write(spark, nation_df.filter("n_nationkey >= 20"), d, "append",
           fmt="arrowipc")
    got = sorted(
        r.n_nationkey
        for r in maintenance.table_changes(
            spark, d, cursor, format="arrowipc"
        ).collect()
    )
    assert got == list(range(20, 25))


def test_rebuild_preserves_cursor_space_over_intact_manifest(
    spark, nation_df, tmp_path
):
    """A rebuild over a READABLE manifest is a faithful reconstruction:
    the commit counter and per-file stamps carry (stat-matched), so a
    consumer's cursor never rewinds — rewinding would let the next
    commit reuse a sequence number the consumer already passed (silent
    loss). Only a rebuild with NO previous manifest (legacy migration)
    resets to baseline."""
    d = str(tmp_path / "t")
    _write(spark, nation_df, d, "overwrite")
    assert maintenance.current_commit(d) == 1
    from quiver_spark.sources.manifest import rebuild_manifest

    rebuild_manifest(_data_root(d))
    # counter and per-file stamps preserved: a cursor at 1 still sees
    # nothing new, and the original rows remain visible from 0
    assert maintenance.current_commit(d) == 1
    assert maintenance.table_changes(spark, d, 1).count() == 0
    assert maintenance.table_changes(spark, d, 0).count() == nation_df.count()
    _write(spark, nation_df.limit(2), d, "append")
    assert maintenance.current_commit(d) == 2
    assert maintenance.table_changes(spark, d, 1).count() == 2


def test_rebuild_without_manifest_resets_to_baseline(
    spark, nation_df, tmp_path
):
    """Legacy migration path: no readable manifest → rebuilt files are
    the commit-0 baseline and the sequence restarts."""
    import os as _os

    d = str(tmp_path / "t")
    _write(spark, nation_df, d, "overwrite")
    from quiver_spark.sources.manifest import (
        manifest_path,
        rebuild_manifest,
    )

    _os.remove(manifest_path(_data_root(d)))
    rebuild_manifest(_data_root(d))
    assert maintenance.current_commit(d) == 0
    assert maintenance.table_changes(spark, d, 0).count() == 0
    _write(spark, nation_df.limit(2), d, "append")
    assert maintenance.current_commit(d) == 1
    assert maintenance.table_changes(spark, d, 0).count() == 2


def test_start_commit_with_rate_limit_never_redelivers(
    spark, nation_df, tmp_path
):
    """Review pin: initialOffset must seed the rate-limit cursor —
    otherwise latestOffset under max_files_per_trigger computes an end
    offset BELOW the initial offset and the skipped backfill re-delivers
    on the next batch."""
    from quiver_spark.sources.quiver_datasource import QuiverStreamReader

    d = str(tmp_path / "t")
    _write(spark, nation_df.repartitionByRange(5, "n_nationkey"), d,
           "overwrite")
    cursor = maintenance.current_commit(d)
    _write(spark, nation_df.limit(3).repartition(2), d, "append")
    r = QuiverStreamReader(
        {"path": d, "start_commit": str(cursor),
         "max_files_per_trigger": "1"},
        None,
    )
    start = r.initialOffset()
    assert len(start["files"]) == 5  # the backfill, pre-consumed
    delivered: set[str] = set(start["files"])
    for _ in range(6):
        end = r.latestOffset()
        # end offsets only ever GROW past the initial offset
        assert set(start["files"]) <= set(end["files"])
        new = [f for f in end["files"] if f not in delivered]
        assert len(new) <= 1
        delivered.update(new)
    # everything delivered beyond the seed is the append, nothing older
    appended = delivered - set(start["files"])
    assert len(appended) == 2


def test_rollback_fast_forwards_commit_seq(spark, nation_df, tmp_path):
    """Review pin: rollback must not let the sequence re-issue numbers
    the rolled-back head already used (a cursor past them would silently
    skip new commits)."""
    d = str(tmp_path / "t")
    _write(spark, nation_df.limit(5), d, "overwrite",
           keep_generations="3")
    _write(spark, nation_df.limit(10), d, "overwrite",
           keep_generations="3")
    assert maintenance.current_commit(d) == 2
    maintenance.rollback_generation(d, 1)
    # restored snapshot serves the HEAD's sequence, not its own old one
    assert maintenance.current_commit(d) == 2
    _write(spark, nation_df.filter("n_nationkey >= 20"), d, "append")
    assert maintenance.current_commit(d) == 3
    got = sorted(
        r.n_nationkey
        for r in maintenance.table_changes(spark, d, 2).collect()
    )
    assert got == list(range(20, 25))


def test_empty_overwrite_is_one_commit(spark, nation_df, tmp_path):
    """Review pin: the empty-result placeholder write is part of the
    SAME logical commit — the sequence bumps once, not twice."""
    d = str(tmp_path / "t")
    _write(spark, nation_df, d, "overwrite")
    assert maintenance.current_commit(d) == 1
    _write(spark, nation_df.filter("n_nationkey < 0"), d, "overwrite")
    assert maintenance.current_commit(d) == 2
    assert maintenance.table_changes(spark, d, 2).count() == 0


def test_corrupt_manifest_jumps_sequence_past_cursors(
    spark, nation_df, tmp_path
):
    """Review pin: losing the manifest history must never stamp new
    files BELOW a standing cursor — the fresh counter jumps to epoch
    seconds, so consumers re-deliver (at-least-once), never skip."""
    from quiver_spark.sources.manifest import manifest_path

    d = str(tmp_path / "t")
    _write(spark, nation_df.limit(10), d, "overwrite")
    cursor = maintenance.current_commit(d)
    root = _data_root(d)
    with open(manifest_path(root), "wb") as f:
        f.write(b"not a gzip manifest")
    _write(spark, nation_df.filter("n_nationkey >= 20"), d, "append")
    assert maintenance.current_commit(d) > 1_000_000_000
    # the appended rows surface for the old cursor; the baseline files
    # (now unvouched — their entries died with the manifest) also
    # re-deliver, which is the documented at-least-once direction
    got = {
        r.n_nationkey
        for r in maintenance.table_changes(spark, d, cursor).collect()
    }
    assert set(range(20, 25)) <= got


def test_commit_at_time_based_cursor(spark, nation_df, tmp_path):
    """commit_at resolves a wall-clock instant to the last commit at or
    before it — the bookkeeping-free entry to table_changes."""
    import time

    d = str(tmp_path / "t")
    _write(spark, nation_df.limit(10), d, "overwrite")
    t1 = time.time()
    time.sleep(1.1)  # commit times are whole seconds
    _write(spark, nation_df.filter("n_nationkey >= 20"), d, "append")
    assert maintenance.commit_at(d, t1) == 1
    assert maintenance.commit_at(d, time.time() + 1) == 2
    # before any commit → 0 → everything (at-least-once direction)
    assert maintenance.commit_at(d, 1.0) == 0
    got = sorted(
        r.n_nationkey
        for r in maintenance.table_changes(
            spark, d, maintenance.commit_at(d, t1)
        ).collect()
    )
    assert got == list(range(20, 25))
    # the map survives a generation swap
    _write(spark, nation_df.limit(3), d, "overwrite")
    assert maintenance.commit_at(d, t1) == 1


def test_commit_seq_property_random_interleavings(tmp_path):
    """Property pin (library level, no Spark): across any interleaving
    of appends, overwrites (fresh roots seeded via prev_root), and
    carries, the sequence is strictly monotone per commit, every new
    file's stamp equals its commit, and carried stamps are preserved."""
    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources.manifest import (
        load_manifest,
        update_manifest,
    )

    rng = __import__("random").Random(42)
    root = str(tmp_path / "g1")
    os.makedirs(root)
    seq_seen = 0
    stamps: dict[str, int] = {}  # file -> expected stamp
    counter = 0
    for step in range(30):
        op = rng.choice(["append", "overwrite", "carry_overwrite"])
        if op == "append":
            rels = []
            for _ in range(rng.randint(1, 3)):
                counter += 1
                rel = f"f{counter}.quiver"
                write_table(
                    pa.table({"x": pa.array([counter], pa.int64())}),
                    os.path.join(root, rel),
                    WriteOptions(),
                )
                rels.append(rel)
            seq = update_manifest(root, rels, "quiver")
            for r in rels:
                stamps[r] = seq
        else:
            new_root = str(tmp_path / f"g{step + 2}")
            os.makedirs(new_root)
            counter += 1
            rel = f"f{counter}.quiver"
            write_table(
                pa.table({"x": pa.array([counter], pa.int64())}),
                os.path.join(new_root, rel),
                WriteOptions(),
            )
            carry = None
            carried_stamps = {}
            if op == "carry_overwrite" and stamps:
                pick = rng.sample(
                    sorted(stamps), rng.randint(1, len(stamps))
                )
                for c in pick:
                    os.link(
                        os.path.join(root, c),
                        os.path.join(new_root, c),
                    )
                    carried_stamps[c] = stamps[c]
                carry = (root, pick)
            seq = update_manifest(
                new_root, [rel], "quiver", carry=carry, prev_root=root
            )
            stamps = {rel: seq, **carried_stamps}
            root = new_root
        assert seq == seq_seen + 1, f"non-monotone at step {step}"
        seq_seen = seq
        man = load_manifest(root)
        assert man.commit_seq == seq
        for r, expect in stamps.items():
            ent = man.entries.get(r)
            assert ent is not None and ent.commit == expect, (
                f"step {step}: {r} stamped {ent and ent.commit}, "
                f"expected {expect}"
            )


def test_changes_since_with_schema_evolution(spark, nation_df, tmp_path):
    """An append that ADDS a column still surfaces through an
    incremental read: merge_schemas unions the footers and the changed
    files' new column is read, baseline files stay excluded."""
    d = str(tmp_path / "t")
    _write(spark, nation_df.select("n_nationkey", "n_name"), d,
           "overwrite")
    cursor = maintenance.current_commit(d)
    from pyspark.sql import functions as F

    _write(
        spark,
        nation_df.select("n_nationkey", "n_name")
        .filter("n_nationkey >= 20")
        .withColumn("n_nationkey", F.col("n_nationkey") + 100)
        .withColumn("flag", F.lit("new")),
        d,
        "append",
    )
    got = maintenance.table_changes(
        spark, d, cursor, merge_schemas="true"
    ).collect()
    assert sorted(r.n_nationkey for r in got) == list(range(120, 125))
    assert all(r.flag == "new" for r in got)


def test_changes_since_on_partitioned_table(spark, nation_df, tmp_path):
    """The daily-partition append — the most common CDC shape: appends
    into a Hive-partitioned table surface exactly the new partition's
    rows, with partition discovery intact on the incremental read."""
    d = str(tmp_path / "t")
    _write(spark, nation_df.filter("n_regionkey < 3"), d, "overwrite",
           partition_by="n_regionkey")
    cursor = maintenance.current_commit(d)
    _write(spark, nation_df.filter("n_regionkey >= 3"), d, "append",
           partition_by="n_regionkey")
    got = maintenance.table_changes(spark, d, cursor)
    rows = got.collect()
    assert sorted({r.n_regionkey for r in rows}) == [3, 4]
    expect = {r.n_nationkey for r in
              nation_df.filter("n_regionkey >= 3").collect()}
    assert {r.n_nationkey for r in rows} == expect


def test_streaming_sink_commits_are_cdc_consumable(spark, tmp_path):
    """The streaming SINK is a CDC producer out of the box: each
    micro-batch commit bumps the sequence, so a batch consumer can tail
    a stream-landed table with table_changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    register(spark)
    src_dir = str(tmp_path / "landing")
    os.makedirs(src_dir)
    pq.write_table(
        pa.table({"id": pa.array(range(10), pa.int64())}),
        os.path.join(src_dir, "a.parquet"),
    )
    out = str(tmp_path / "sinked")
    q = (
        stream_writer(spark.readStream.schema("id long").parquet(src_dir), out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cursor_after_first = maintenance.current_commit(out)
    assert cursor_after_first >= 1
    # a second landing file → a second micro-batch → a later commit
    pq.write_table(
        pa.table({"id": pa.array(range(10, 15), pa.int64())}),
        os.path.join(src_dir, "b.parquet"),
    )
    q2 = (
        stream_writer(spark.readStream.schema("id long").parquet(src_dir), out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert maintenance.current_commit(out) > cursor_after_first
    got = sorted(
        r.id
        for r in maintenance.table_changes(
            spark, out, cursor_after_first
        ).collect()
    )
    assert got == list(range(10, 15))
