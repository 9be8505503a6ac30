"""JVM scan path ("quiverjvm" reads, quiver_spark/jvm): the Java
DataSourceV2 columnar reader must agree with the Python DataSource on
every file the Python WRITER can produce — the full adaptive codec
surface, nulls, decimals, generation layouts — and prune columns via
Catalyst (the projection the Python DS needs an explicit option for)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from quiver_spark import sources
from quiver_spark.jvm import ensure_jar, session_has_jar

from conftest import SF_DIR_MID

RNG = np.random.default_rng(7)

pytestmark = pytest.mark.skipif(
    ensure_jar(build=True) is None,
    reason="quiver-jvm-writer.jar absent and javac unavailable",
)


def _require_jar(spark):
    if not session_has_jar(spark):
        pytest.skip("session built without the quiverjvm jar on spark.jars")


def _assert_same(spark, d: str):
    """quiverjvm read == Python-DS read of the same directory."""
    from quiver_spark.sources import register

    register(spark)
    jvm = spark.read.format("quiverjvm").load(d)
    py = spark.read.format("quiver").load(d)
    assert jvm.schema == py.schema, f"{jvm.schema} vs {py.schema}"
    key = lambda r: tuple(repr(x) for x in r)
    a = sorted(map(tuple, jvm.collect()), key=key)
    b = sorted(map(tuple, py.collect()), key=key)
    assert a == b, f"first diff: {next(((x, y) for x, y in zip(a, b) if x != y), None)}"


def test_jvm_read_forced_codecs(spark, tmp_path):
    """Every typed codec the adaptive writer can emit decodes identically
    in the JVM reader (the reference's forced-codec CI matrix posture),
    non-null and nullable variants."""
    _require_jar(spark)
    from quiver_spark.format.writer import WriteOptions, write_table

    n = 4096
    cases = {
        "freq": pa.array(
            np.where(RNG.random(n) < 0.95, 1000, RNG.integers(0, 1 << 20, n)).astype(np.int64)
        ),
        "dict": pa.array(RNG.integers(0, 5, n).astype(np.int64)),
        "rle": pa.array(np.repeat(np.arange(16, dtype=np.int64), 256)),
        "one_value": pa.array(np.full(n, 7, dtype=np.int64)),
        "bitpacking": pa.array(RNG.integers(0, 1 << 10, n).astype(np.int32)),
        "delta_bitpacking": pa.array(np.sort(RNG.integers(0, 1 << 20, n)).astype(np.int32)),
        "patas": pa.array(np.tile(np.round(RNG.random(64) * 10, 1), 64)),
    }
    all_codecs = tuple(cases)
    for target, arr in cases.items():
        forbidden = tuple(c for c in all_codecs if c != target)
        d = str(tmp_path / f"codec_{target}")
        import os

        os.makedirs(d)
        write_table(
            pa.table({"x": arr}),
            f"{d}/f.quiver",
            WriteOptions(compress_ratio=1.01, max_page_size=1024, forbidden=forbidden),
        )
        # nullable twin (delta_bitpacking requires no nulls; patas/bitpack
        # pages ffill — nulls only legal where the encoder accepts them)
        if target in ("freq", "dict", "rle", "one_value"):
            mask = RNG.random(n) < 0.1
            nullable = pa.array(
                [None if m else v for v, m in zip(arr.to_pylist(), mask)], type=arr.type
            )
            write_table(
                pa.table({"x": nullable}),
                f"{d}/g.quiver",
                WriteOptions(compress_ratio=1.01, max_page_size=1024, forbidden=forbidden),
            )
        _assert_same(spark, d)


def test_jvm_read_binary_codecs(spark, tmp_path):
    """String columns across the binary cascade: one_value, freq (plain
    exceptions), dict (recursive indices), and the two-frame basic path."""
    _require_jar(spark)
    import os

    from quiver_spark.format.writer import WriteOptions, write_table

    n = 4096
    cases = {
        "one_value": pa.array(["same"] * n),
        "freq": pa.array(
            np.where(RNG.random(n) < 0.95, "common", "rare-" + str(1)).tolist()
        ),
        "dict": pa.array([f"val-{i % 6}" for i in range(n)]),
        "basic": pa.array([f"unique-{i}" for i in range(n)]),
    }
    for target, arr in cases.items():
        forbidden = (
            tuple(c for c in ("one_value", "freq", "dict") if c != target)
            if target != "basic"
            else ("one_value", "freq", "dict")
        )
        d = str(tmp_path / f"bin_{target}")
        os.makedirs(d)
        write_table(
            pa.table({"s": arr}),
            f"{d}/f.quiver",
            WriteOptions(compress_ratio=1.01, max_page_size=1024, forbidden=forbidden),
        )
        mask = RNG.random(n) < 0.15
        nullable = pa.array(
            [None if m else v for v, m in zip(arr.to_pylist(), mask)], type=arr.type
        )
        write_table(
            pa.table({"s": nullable}),
            f"{d}/g.quiver",
            WriteOptions(compress_ratio=1.01, max_page_size=1024, forbidden=forbidden),
        )
        _assert_same(spark, d)


def test_jvm_read_bool_and_decimal(spark, tmp_path):
    """Boolean one_value/rle/basic and the decimal128 fixed-width cascade
    (one_value/rle/dict/freq + basic), with nulls."""
    _require_jar(spark)
    import decimal
    import os

    from quiver_spark.format.writer import WriteOptions, write_table

    n = 4096
    bools = pa.table(
        {
            "all_true": pa.array([True] * n),
            "runs": pa.array(np.repeat([True, False], n // 2).tolist()),
            "rand": pa.array((RNG.random(n) < 0.5).tolist()),
            "nullable": pa.array(
                [None if RNG.random() < 0.1 else bool(v) for v in RNG.random(n) < 0.5]
            ),
        }
    )
    d1 = str(tmp_path / "bools")
    os.makedirs(d1)
    write_table(bools, f"{d1}/f.quiver", WriteOptions(compress_ratio=1.5, max_page_size=1024))
    _assert_same(spark, d1)

    big = decimal.Decimal("12345678901234567890.1234")
    decs = pa.table(
        {
            "one": pa.array([big] * n, type=pa.decimal128(38, 4)),
            "runs": pa.array(
                [decimal.Decimal(i // 256) for i in range(n)], type=pa.decimal128(18, 2)
            ),
            "mixed": pa.array(
                [
                    None if i % 7 == 0 else decimal.Decimal(i) * decimal.Decimal("1.01")
                    for i in range(n)
                ],
                type=pa.decimal128(20, 2),
            ),
        }
    )
    d2 = str(tmp_path / "decs")
    os.makedirs(d2)
    write_table(decs, f"{d2}/f.quiver", WriteOptions(compress_ratio=1.5, max_page_size=1024))
    _assert_same(spark, d2)


def test_jvm_read_sink_tables_match_parquet(spark, tmp_path):
    """sf0.01 lineitem + documents written by ``sources.write`` (adaptive
    zstd, generation layout + manifest) read back through the JVM scan
    equal to the parquet originals."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    for name in ("lineitem", "documents"):
        src = spark.read.parquet(f"{SF_DIR_MID}/{name}.parquet")
        d = str(tmp_path / name)
        sources.write(src, d, codec="zstd", keep_generations=1)
        back = spark.read.format("quiverjvm").load(d)
        key = lambda r: tuple(repr(x) for x in r)
        assert sorted(map(tuple, back.collect()), key=key) == sorted(
            map(tuple, src.collect()), key=key
        ), name


def test_jvm_read_prunes_columns_via_catalyst(spark, tmp_path):
    """Catalyst column pruning reaches the JVM DSv2 (the projection the
    Python DS structurally cannot receive): a 1-of-N projection's scan
    reads ONLY that column."""
    _require_jar(spark)
    from quiver_spark import plans
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "prune")
    sources.write(spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet"), d)
    df = spark.read.format("quiverjvm").load(d).select("l_quantity")
    # DSv2 plans carry the pruned projection in the BatchScan output list
    scan_line = next(
        (ln for ln in plans.physical_plan(df).splitlines() if "BatchScan" in ln), ""
    )
    assert "l_quantity" in scan_line, scan_line
    assert "l_orderkey" not in scan_line and "l_comment" not in scan_line, scan_line
    got = df.agg(F.sum("l_quantity")).collect()[0][0]
    want = (
        spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
        .agg(F.sum("l_quantity"))
        .collect()[0][0]
    )
    assert got == want


def test_jvm_read_serves_altered_tables(spark, tmp_path):
    """Round-11 guard lift: ALTER-DDL tables (rename maps, add/drop
    column) read through the JVM scan identically to the Python DS —
    columns resolve per file BY NAME through the cmap, and columns a file
    predates null-fill."""
    _require_jar(spark)
    from quiver_spark import maintenance
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "altered")
    sources.write(spark.range(100).selectExpr("id", "id * 2 AS v"), d)
    maintenance.rename_column(d, "v", "w")
    _assert_same(spark, d)
    jdf = spark.read.format("quiverjvm").load(d)
    assert jdf.columns == ["id", "w"]
    assert jdf.agg(F.sum("w")).collect()[0][0] == sum(2 * i for i in range(100))

    # add_column (no default): old files null-fill the new column; then
    # append a file that HAS it — heterogeneous schemas under a declared
    # table schema must serve
    maintenance.add_column(d, "extra", "bigint")
    _assert_same(spark, d)
    sources.write(
        spark.range(5).selectExpr(
            "id + 1000 AS id", "id AS w", "id * 10 AS extra"
        ),
        d,
        mode="append",
    )
    _assert_same(spark, d)
    jdf = spark.read.format("quiverjvm").load(d)
    assert jdf.filter("extra IS NOT NULL").count() == 5
    assert jdf.filter("extra IS NULL").count() == 100

    # drop_column: the physical column stays in old files but vanishes
    # from the declared schema
    maintenance.drop_column(d, "w")
    _assert_same(spark, d)


def test_jvm_read_serves_hive_partitioned(spark, tmp_path):
    """Round-11 guard lift: Hive-partitioned layouts read through the JVM
    scan — directory-key columns are plan-time constants appended per
    split (long/double/string kind inference, Python-DS parity), and a
    pushed predicate on one prunes WHOLE files at plan time."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    h = str(tmp_path / "hive")
    sources.write(
        spark.range(100).selectExpr("id", "id % 3 AS p"),
        h,
        partition_by="p",
    )
    _assert_same(spark, h)
    jdf = spark.read.format("quiverjvm").load(h)
    assert dict(jdf.dtypes)["p"] == "bigint"
    assert jdf.filter("p = 1").count() == spark.range(100).filter("id % 3 = 1").count()
    # partition-constant file pruning: only p=1's file survives planning
    assert (
        jdf.filter("p = 1").rdd.getNumPartitions()
        < jdf.rdd.getNumPartitions()
    ) or jdf.rdd.getNumPartitions() == 1

    # string partition keys with characters that exercise %-unquoting
    h2 = str(tmp_path / "hive_str")
    df = spark.createDataFrame(
        [(1, "us east"), (2, "eu/west"), (3, "us east"), (4, None)],
        "id bigint, region string",
    )
    sources.write(df, h2, partition_by="region")
    _assert_same(spark, h2)
    j2 = spark.read.format("quiverjvm").load(h2)
    assert j2.filter(F.col("region") == "eu/west").count() == 1
    assert j2.filter(F.col("region").isNull()).count() == 1


def test_jvm_read_rejects_what_python_ds_owns(spark, tmp_path):
    """Correctness boundary that remains after the round-12/13 lifts
    (nested / unsigned / large / defaults / ts-units all serve now): an
    exotic leaf shape the fill path does not speak — a date64 leaf
    (8-byte millis; the 4-byte day decode would misread), which the
    Python DS normalizes to date32 — refuses loudly at plan time instead
    of serving wrong data."""
    _require_jar(spark)
    import datetime
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "d64")
    os.makedirs(d)
    write_table(
        pa.table({"d": pa.array([datetime.date(2020, 1, 2)], pa.date64())}),
        f"{d}/f.quiver",
        WriteOptions(),
    )
    with pytest.raises(Exception, match="date unit"):
        spark.read.format("quiverjvm").load(d).collect()
    # ...and the Python DS serves it (normalized to date32)
    back = spark.read.format("quiver").load(d).collect()
    assert back == [((datetime.date(2020, 1, 2)),)] or back[0][0] == datetime.date(
        2020, 1, 2
    )


def test_jvm_plan_zero_footer_reads_with_manifest(spark, tmp_path):
    """Manifest-served planning, JVM edition: with the commit-time manifest
    present, plan + schema inference read ZERO file footers (the round-8/9
    O(files)-metadata lesson); with it gone, the planner falls back to
    footers and still answers identically."""
    _require_jar(spark)
    import glob
    import os

    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "manifested")
    src = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    sources.write(src.repartition(8), d)
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPlanFooterReads()
    n = spark.read.format("quiverjvm").load(d).count()
    assert n == src.count()
    assert J.planFooterReads() == 0, J.planFooterReads()

    for m in glob.glob(d + "/**/_manifest.json.gz", recursive=True):
        os.remove(m)
    J.resetPlanFooterReads()
    assert spark.read.format("quiverjvm").load(d).count() == n
    assert J.planFooterReads() > 0


def test_jvm_manifest_stale_entry_falls_back_per_file(spark, tmp_path):
    """A file appended WITHOUT a manifest update (foreign writer) must not
    be skipped or misplanned: its footer serves the plan while the other
    files stay manifest-served."""
    _require_jar(spark)
    import os

    import pyarrow.parquet as pq

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register
    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    d = str(tmp_path / "stale")
    src = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    sources.write(src, d)
    root = _data_root(d)
    t = pq.read_table(f"{SF_DIR_MID}/orders.parquet").slice(0, 100)
    write_table(t, os.path.join(root, "zz-foreign.quiver"), WriteOptions())
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPlanFooterReads()
    got = spark.read.format("quiverjvm").load(d).count()
    assert got == src.count() + 100
    # exactly the foreign file's footer was read (per planning pass)
    assert J.planFooterReads() >= 1


def test_jvm_rejects_heterogeneous_schemas(spark, tmp_path):
    """merge-schemas tables (files with different schemas) are the Python
    DS's job: with a manifest the guard rejects at plan time; without one
    the open-time footer check refuses to misread through table-schema
    projection indexes."""
    _require_jar(spark)
    import os

    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources.manifest import rebuild_manifest

    d = str(tmp_path / "hetero")
    os.makedirs(d)
    write_table(
        pa.table({"a": pa.array([1, 2, 3], type=pa.int64())}),
        f"{d}/f1.quiver",
        WriteOptions(),
    )
    write_table(
        pa.table(
            {
                "a": pa.array([4, 5], type=pa.int64()),
                "b": pa.array(["x", "y"]),
            }
        ),
        f"{d}/f2.quiver",
        WriteOptions(),
    )
    rebuild_manifest(d)
    with pytest.raises(Exception, match="quiver"):
        spark.read.format("quiverjvm").load(d).collect()

    # manifest-less: same two files, rejection moves to open time
    os.remove(f"{d}/_manifest.json.gz")
    with pytest.raises(Exception, match="quiver"):
        spark.read.format("quiverjvm").load(d).collect()


def test_jvm_zone_map_page_pruning(spark, tmp_path):
    """Pushed predicates prune page ranges at plan time from the
    manifest-inlined sidecars (zero extra plan I/O) with format/stats.py
    page_may_match semantics — and NEVER change results: every filter is
    also re-evaluated row-level by Spark above the scan."""
    _require_jar(spark)
    from pyspark.sql import functions as F
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "pruned")
    src = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    sources.write(src.orderBy("l_shipdate").coalesce(4), d)
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    jdf = spark.read.format("quiverjvm").load(d)

    J.resetPagesPruned()
    J.resetPlanFooterReads()
    cutoff = F.lit("1998-01-01").cast("timestamp_ntz")
    got = jdf.filter(F.col("l_shipdate") >= cutoff).count()
    assert got == src.filter(F.col("l_shipdate") >= cutoff).count()
    assert J.pagesPruned() > 0, "sorted range scan must prune pages"
    assert J.planFooterReads() == 0, "stats must ride the manifest"

    # exactness across filter shapes, row-for-row vs the parquet source
    for cond in [
        "l_orderkey = 1",
        "l_quantity < 3",
        "l_returnflag = 'R' AND l_discount >= 0.09",
        "l_shipdate < TIMESTAMP_NTZ '1992-06-01 00:00:00'",
        "l_suppkey IN (1, 2, 3)",
    ]:
        a = sorted(map(repr, jdf.filter(cond).collect()))
        b = sorted(map(repr, src.filter(cond).collect()))
        assert a == b, cond


def test_jvm_pruning_keeps_null_pages_honest(spark, tmp_path):
    """isnull/isnotnull pruning against per-page null counts: a column
    whose nulls cluster in one file's pages must still return every null
    row (and only those) through the JVM scan."""
    _require_jar(spark)
    import os

    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources.manifest import rebuild_manifest

    d = str(tmp_path / "nulls")
    os.makedirs(d)
    n = 2048
    write_table(
        pa.table({"k": pa.array(range(n), type=pa.int64()),
                  "v": pa.array([None] * n, type=pa.int64())}),
        f"{d}/f1.quiver",
        WriteOptions(max_page_size=256),
    )
    write_table(
        pa.table({"k": pa.array(range(n, 2 * n), type=pa.int64()),
                  "v": pa.array(list(range(n)), type=pa.int64())}),
        f"{d}/f2.quiver",
        WriteOptions(max_page_size=256),
    )
    rebuild_manifest(d)
    df = spark.read.format("quiverjvm").load(d)
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPagesPruned()
    assert df.filter("v IS NULL").count() == n
    assert J.pagesPruned() > 0, "all-valued pages must be pruned for IS NULL"
    J.resetPagesPruned()
    assert df.filter("v IS NOT NULL").count() == n
    assert J.pagesPruned() > 0, "all-null pages must be pruned for IS NOT NULL"
    # value predicates are null-rejecting: the all-null file contributes 0
    assert df.filter("v >= 0").count() == n


def test_jar_not_stale():
    """Staleness pin (VERDICT r10 item 1): the checked-in jar must be
    built from the .java sources at HEAD. build.sh embeds a SHA-256 of
    the sources into the jar; this recomputes it from src/** and compares
    — so editing a .java without rebuilding fails HERE, loudly, instead
    of as a confusing missing-method Py4JError deep in another test."""
    from quiver_spark.jvm import jar_fingerprint, source_fingerprint

    baked = jar_fingerprint()
    assert baked is not None, (
        "jar missing or predates the fingerprint pin — run "
        "bash quiver_spark/jvm/build.sh and commit the jar"
    )
    assert baked == source_fingerprint(), (
        "quiver-jvm-writer.jar is STALE relative to quiver_spark/jvm/src "
        "— run bash quiver_spark/jvm/build.sh and commit the jar"
    )


def test_jvm_blake2b_matches_python(spark):
    """The Java BLAKE2b-128 (bloom hash) must agree with CPython's
    hashlib.blake2b(digest_size=16) byte-for-byte — a divergence would
    silently disable (or worse, mis-aim) bloom pruning."""
    _require_jar(spark)
    import hashlib

    J = spark._jvm.io.quiverspark.QuiverJvmRead
    cases = [
        b"",
        b"i:0",
        b"i:-12345678901234567",
        b"s:hello world",
        "s:\u00e9\u4e2d\u6587".encode("utf-8"),
        bytes(range(256)),          # multi-block (>128 bytes)
        b"x" * 128,                 # exactly one block
        b"y" * 129,                 # one full block + 1
    ]
    for b in cases:
        want = hashlib.blake2b(b, digest_size=16).hexdigest()
        got = J.blake2b128Hex(bytearray(b))
        assert got == want, (b, got, want)


def test_jvm_bloom_point_lookup_pruning(spark, tmp_path):
    """Per-page bloom data skipping in the JVM scan: a hash-scattered key
    column (zone maps useless — every page spans the domain) still prunes
    pages on eq/IN point lookups, with zero lost rows (no false negatives
    by construction)."""
    _require_jar(spark)
    from pyspark.sql import functions as F
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "bloomed")
    src = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    sources.write(
        src.repartition(4),
        d,
        max_page_size="1024",
        bloom_columns="o_orderkey",
    )
    jdf = spark.read.format("quiverjvm").load(d)
    J = spark._jvm.io.quiverspark.QuiverJvmRead

    J.resetPagesPruned()
    keys = [3, 41, 500, 999, 1203]
    a = sorted(map(repr, jdf.filter(F.col("o_orderkey").isin(keys)).collect()))
    b = sorted(map(repr, src.filter(F.col("o_orderkey").isin(keys)).collect()))
    assert a == b
    assert J.pagesPruned() > 0, "bloom must prune pages min/max cannot"

    J.resetPagesPruned()
    one = jdf.filter(F.col("o_orderkey") == 777).collect()
    want = src.filter(F.col("o_orderkey") == 777).collect()
    assert sorted(map(repr, one)) == sorted(map(repr, want))
    assert J.pagesPruned() > 0


def test_jvm_ingest_one_pass_manifest_and_sidecars(spark, tmp_path):
    """One-pass JVM ingest (VERDICT r10 item 3): the quiverjvm job commit
    itself emits per-file stats sidecars AND the table manifest (entry
    facts ride the WriterCommitMessages — no rebuild_manifest retrofit, no
    footer re-reads). The resulting table must (a) plan with ZERO footer
    reads on the JVM path, (b) zone-map- and bloom-prune pages, and (c)
    read identically on the Python DS, whose planner validates each entry
    against the file's exact size + mtime_ns stat."""
    _require_jar(spark)
    import os

    from pyspark.sql import functions as F
    from quiver_spark.sources import register
    from quiver_spark.sources.manifest import load_manifest

    register(spark)
    d = str(tmp_path / "onepass")
    src = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    (
        src.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.format("quiverjvm")
        .mode("overwrite")
        .option("max_page_size", "1024")
        .option("bloom_columns", "o_orderkey")
        .save(d)
    )
    # the manifest exists IMMEDIATELY after the write — nothing rebuilt it
    man = load_manifest(d)
    assert man is not None and len(man.entries) == 4
    for rel, e in man.entries.items():
        assert man.lookup(os.path.join(d, rel)) is not None, (
            "entry stat (size/mtime_ns) must match the published file"
        )
        assert e.rows and e.metas() and e.sidecar["version"] == 1
        assert "bloom" in e.sidecar["columns"]["o_orderkey"]

    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPlanFooterReads()
    jdf = spark.read.format("quiverjvm").load(d)
    assert jdf.count() == src.count()
    assert J.planFooterReads() == 0, "ingest output must be manifest-served"

    # zone maps (sorted o_orderdate) and blooms (scattered o_orderkey)
    # both came from the JVM-written sidecars
    J.resetPagesPruned()
    cond = F.col("o_orderdate") >= F.lit("1998-01-01").cast("date")
    assert jdf.filter(cond).count() == src.filter(cond).count()
    assert J.pagesPruned() > 0
    J.resetPagesPruned()
    a = sorted(map(repr, jdf.filter("o_orderkey = 7").collect()))
    assert a == sorted(map(repr, src.filter("o_orderkey = 7").collect()))
    assert J.pagesPruned() > 0

    # Python DS parity on the same directory
    _assert_same(spark, d)


def test_jvm_append_merges_manifest(spark, tmp_path):
    """Appending via quiverjvm must MERGE into the existing manifest —
    dropping prior entries would silently degrade their planning back to
    footer reads."""
    _require_jar(spark)
    from quiver_spark.sources import register
    from quiver_spark.sources.manifest import load_manifest

    register(spark)
    d = str(tmp_path / "appended")
    src = spark.read.parquet(f"{SF_DIR_MID}/region.parquet")
    src.coalesce(1).write.format("quiverjvm").mode("overwrite").save(d)
    src.coalesce(1).write.format("quiverjvm").mode("append").save(d)
    man = load_manifest(d)
    assert man is not None and len(man.entries) == 2
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPlanFooterReads()
    assert spark.read.format("quiverjvm").load(d).count() == 2 * src.count()
    assert J.planFooterReads() == 0


def test_unified_scan_routes_by_eligibility(spark, tmp_path):
    """sources.scan — ONE entry point, one engine: flat tables, column
    defaults and nested schemas ride the quiverjvm columnar reader, and
    columns= translates onto the JVM relation. An option the reader does
    not take (the Python DS's split knob) raises before any job."""
    _require_jar(spark)
    from quiver_spark import maintenance
    from quiver_spark.sources import register, scan

    register(spark)

    def engine(df):
        return "jvm" if "quiverjvm" in df._jdf.queryExecution().analyzed().toString() else "python"

    flat = str(tmp_path / "flat")
    sources.write(spark.range(50).selectExpr("id", "id * 2 AS v"), flat)
    df = scan(spark, flat)
    assert engine(df) == "jvm"
    assert df.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(50))

    # columns= translates to a Catalyst select on the JVM relation
    # (round 14); an option outside the reader's sets is refused
    df_opt = scan(spark, flat, columns="id")
    assert engine(df_opt) == "jvm"
    assert df_opt.columns == ["id"]
    assert df_opt.count() == 50
    with pytest.raises(ValueError, match="planning_parallelism"):
        scan(spark, flat, columns="id", planning_parallelism="8")

    # column defaults: JVM-served since the round-12 lift — files that
    # predate the ALTER constant-fill the default
    maintenance.add_column(flat, "src", "string", default="seed")
    df2 = scan(spark, flat)
    assert engine(df2) == "jvm"
    assert df2.filter("src = 'seed'").count() == 50

    # nested schema: JVM-served since the round-12 Dremel lift
    nested = str(tmp_path / "nested")
    sources.write(
        spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0])], "id bigint, emb array<double>"
        ),
        nested,
    )
    df3 = scan(spark, nested)
    assert engine(df3) == "jvm"
    assert df3.count() == 2
    assert df3.selectExpr("sum(aggregate(emb, 0D, (a, x) -> a + x))").collect()[0][
        0
    ] == pytest.approx(6.0)


def test_unified_scan_raises_jvm_faults_and_refusals(spark, tmp_path):
    """sources.scan has no fallback engine: a genuine JVM fault on an
    otherwise-eligible table (a corrupt, non-gzip manifest) and a guard
    refusal (a foreign manifest whose column default is a list) both
    raise from ``scan`` itself, at plan time, with no RuntimeWarning and
    no reroute."""
    _require_jar(spark)
    import base64
    import glob
    import gzip
    import json
    import warnings

    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "corrupt_man")
    sources.write(
        spark.range(40).selectExpr("id", "id * 3 AS v").coalesce(1),
        d,
    )
    guarded = str(tmp_path / "nonscalar_default")
    sources.write(spark.range(3).selectExpr("id").coalesce(1), guarded)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = scan(spark, d)
        assert "quiverjvm" in df._jdf.queryExecution().analyzed().toString()
        assert df.count() == 40

        real_man = sorted(glob.glob(f"{d}/**/_manifest.json.gz", recursive=True))[-1]
        with open(real_man, "wb") as f:
            f.write(b"this is not gzip data")
        with pytest.raises(Exception, match="GZIP"):
            scan(spark, d)

        gman = sorted(
            glob.glob(f"{guarded}/**/_manifest.json.gz", recursive=True)
        )[-1]
        with gzip.open(gman, "rt") as fh:
            man = json.load(fh)
        man["table_schema"] = base64.b64encode(
            pa.schema([("id", pa.int64())]).serialize()
        ).decode()
        man["column_defaults"] = {"id": [1, 2]}
        with gzip.open(gman, "wt") as fh:
            json.dump(man, fh)
        with pytest.raises(Exception, match="non-scalar column default"):
            scan(spark, guarded)


def test_jvm_hive_key_colliding_with_file_column(spark, tmp_path):
    """A directory key whose name COLLIDES with a real file column is not
    a partition column — the file's stored data wins on both engines
    (the Python DS's _discover_partitions dup rule). A path constant
    silently shadowing stored values would be a wrong-data bug."""
    _require_jar(spark)
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "collide")
    os.makedirs(d + "/p=9")
    write_table(
        pa.table({"id": pa.array([1, 2, 3], type=pa.int64()),
                  "p": pa.array([5, 6, 7], type=pa.int64())}),
        d + "/p=9/f.quiver",
        WriteOptions(),
    )
    _assert_same(spark, d)
    jv = spark.read.format("quiverjvm").load(d)
    assert sorted(r.p for r in jv.collect()) == [5, 6, 7]


def test_jvm_nested_roundtrip_parity(spark, tmp_path):
    """Nested types through the JVM reader (round-12 guard lift): list /
    struct / map / deep compositions with nulls, empties and all-absent
    pages, Python-writer shredded (format/nested.py), Java-assembled
    (QuiverNested) — row-exact against the Python DS on the same files.
    One row per file, so some files carry pages where EVERY parent is
    null/empty (the shred clamp case)."""
    _require_jar(spark)
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register

    register(spark)

    cases = [
        (
            [(1, [1.0, 2.0, 3.0]), (2, []), (3, None), (4, [4.5])],
            "id bigint, emb array<double>",
        ),
        (
            [
                (1, {"a": 1, "b": "x"}, {"k1": 1.5}, ["u", None, "w"]),
                (2, {"a": None, "b": "y"}, {}, None),
                (3, None, None, []),
            ],
            "id bigint, s struct<a:bigint,b:string>, m map<string,double>,"
            " arr array<string>",
        ),
        (
            [
                (1, [{"x": 1, "ys": [0.1, 0.2]}, {"x": None, "ys": []}], {"a": [1, 2]}),
                (2, [], {"b": None}),
                (3, None, None),
            ],
            "id bigint, lst array<struct<x:int,ys:array<double>>>,"
            " m map<string,array<int>>",
        ),
    ]
    for i, (rows, schema) in enumerate(cases):
        d = str(tmp_path / f"nested_{i}")
        os.makedirs(d)
        t = spark.createDataFrame(rows, schema).toArrow()
        for j in range(t.num_rows):
            write_table(t.slice(j, 1), f"{d}/part-{j}.quiver", WriteOptions())
        got = spark.read.format("quiverjvm").load(d).orderBy("id").collect()
        exp = spark.read.format("quiver").load(d).orderBy("id").collect()
        assert got == exp, f"case {i}: {got} != {exp}"


def test_jvm_nested_exotic_leaves_multipage(spark, tmp_path):
    """Library-written nested files with the leaf types Spark can't easily
    sink — fixed-size-list (maps to ArrayType), decimal128-in-list,
    struct of timestamp/date/binary/bool — across 2-row pages so every
    page boundary exercises the assembler. The Python DS cannot return
    FixedSizeList batches through Spark's arrow bridge at all, so the
    expectation is literal (the JVM reader EXCEEDS the Python DS here)."""
    _require_jar(spark)
    import datetime
    import decimal
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register

    register(spark)
    t = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "fsl": pa.array(
                [[1.0, 2.0], [3.0, 4.0], None], pa.list_(pa.float32(), 2)
            ),
            "decs": pa.array(
                [[decimal.Decimal("1.23")], [], None], pa.list_(pa.decimal128(9, 2))
            ),
            "st": pa.array(
                [
                    {
                        "ts": datetime.datetime(2020, 1, 1),
                        "d": datetime.date(2021, 2, 3),
                        "b": b"xy",
                        "f": True,
                    },
                    None,
                    {"ts": None, "d": None, "b": None, "f": None},
                ],
                pa.struct(
                    [
                        ("ts", pa.timestamp("us")),
                        ("d", pa.date32()),
                        ("b", pa.binary()),
                        ("f", pa.bool_()),
                    ]
                ),
            ),
        }
    )
    d = str(tmp_path / "exotic")
    os.makedirs(d)
    write_table(t, f"{d}/part-0.quiver", WriteOptions(max_page_size=2))
    rows = {r["id"]: r for r in spark.read.format("quiverjvm").load(d).collect()}
    assert rows[1]["fsl"] == [1.0, 2.0] and rows[3]["fsl"] is None
    assert rows[1]["decs"] == [decimal.Decimal("1.23")]
    assert rows[2]["decs"] == [] and rows[3]["decs"] is None
    assert rows[1]["st"]["ts"] == datetime.datetime(2020, 1, 1)
    assert rows[1]["st"]["d"] == datetime.date(2021, 2, 3)
    assert rows[1]["st"]["b"] == b"xy" and rows[1]["st"]["f"] is True
    assert rows[2]["st"] is None
    assert rows[3]["st"].asDict() == {"ts": None, "d": None, "b": None, "f": None}


def test_jvm_nested_real_tables_parity(spark, tmp_path):
    """The embeddings and documents tables (every dedup/ANN gate's input)
    through the JVM nested path, multi-page and multi-file, value-exact
    vs the Python DS — the fixture class VERDICT r11 item 3 asked for."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    for tbl, page in [("embeddings", "1000"), ("documents", "500")]:
        d = str(tmp_path / tbl)
        sources.write(
            spark.read.parquet(f"{SF_DIR_MID}/{tbl}.parquet").coalesce(2),
            d,
            max_page_size=page,
        )
        got = sorted(
            repr(tuple(r)) for r in spark.read.format("quiverjvm").load(d).collect()
        )
        exp = sorted(
            repr(tuple(r)) for r in spark.read.format("quiver").load(d).collect()
        )
        assert got == exp and len(got) > 0


def test_jvm_large_string_scan(spark, tmp_path):
    """large_utf8/large_binary columns (8-byte offsets) — the other
    round-12 guard lift: the decode paths take the offset width from the
    footer's arrow type, flat and as nested leaves."""
    _require_jar(spark)
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register

    register(spark)
    t = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "big": pa.array(["alpha", None, "gamma"], pa.large_string()),
            "bin": pa.array([b"\x00\x01", b"", None], pa.large_binary()),
            "lbig": pa.array([["a", "bb"], None, []], pa.large_list(pa.large_string())),
        }
    )
    d = str(tmp_path / "large")
    os.makedirs(d)
    write_table(t, f"{d}/part-0.quiver", WriteOptions(max_page_size=2))
    rows = {r["id"]: r for r in spark.read.format("quiverjvm").load(d).collect()}
    assert rows[1]["big"] == "alpha" and rows[2]["big"] is None
    assert rows[1]["bin"] == bytearray(b"\x00\x01") and rows[3]["bin"] is None
    assert rows[1]["lbig"] == ["a", "bb"] and rows[2]["lbig"] is None
    assert rows[3]["lbig"] == []


def test_jvm_uint_widening_parity(spark, tmp_path):
    """Unsigned widening (round-12 lift): uint8/16/32/64 leaves — flat and
    inside a list — decode through the JVM scan into the widened Spark
    types (short/int/long/decimal(20,0), SURVEY §1.3) value-exact against
    the Python DS, including top-half values a same-width signed map
    would corrupt and nulls."""
    _require_jar(spark)
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register, scan

    register(spark)
    t = pa.table(
        {
            "u8": pa.array([0, 200, None, 255], pa.uint8()),
            "u16": pa.array([0, 65000, None, 65535], pa.uint16()),
            "u32": pa.array([0, 4000000000, None, 4294967295], pa.uint32()),
            "u64": pa.array([0, 18446744073709551615, None, 12345], pa.uint64()),
            "lu": pa.array([[1, 255], None, [], [128]], pa.list_(pa.uint8())),
        }
    )
    d = str(tmp_path / "uints")
    os.makedirs(d)
    write_table(t, f"{d}/f.quiver", WriteOptions(max_page_size=2))
    jvm = spark.read.format("quiverjvm").load(d)
    py = spark.read.format("quiver").load(d)
    assert jvm.schema == py.schema
    assert sorted(repr(tuple(r)) for r in jvm.collect()) == sorted(
        repr(tuple(r)) for r in py.collect()
    )
    # and the router now sends uint tables to the JVM engine
    assert "quiverjvm" in scan(spark, d)._jdf.queryExecution().analyzed().toString()


def test_jvm_default_fill_parity(spark, tmp_path):
    """Column initial-defaults (round-12 lift): files predating an ALTER
    add_column WITH default constant-fill the typed default (string,
    double, boolean, date, timestamp_ntz, decimal) while post-ALTER files
    serve stored values — JVM vs Python DS row-exact, and the router
    keeps the table on the JVM engine."""
    _require_jar(spark)
    from quiver_spark import maintenance
    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "defaults")
    sources.write(
        spark.range(6).selectExpr("id", "id * 2 AS v").coalesce(1),
        d,
    )
    maintenance.add_column(d, "src", "string", default="seed")
    maintenance.add_column(d, "w", "double", default=2.5)
    maintenance.add_column(d, "flag", "boolean", default=True)
    maintenance.add_column(d, "d0", "date", default="2021-06-01")
    maintenance.add_column(d, "ts0", "timestamp_ntz", default="2020-01-02 03:04:05.500000")
    maintenance.add_column(d, "dec0", "decimal(10,2)", default="9.75")
    sources.write(
        spark.createDataFrame(
            [(100, 200, "real", 1.0, False, None, None, None)],
            "id bigint, v bigint, src string, w double, flag boolean,"
            " d0 date, ts0 timestamp_ntz, dec0 decimal(10,2)",
        ).coalesce(1),
        d,
        mode="append",
    )
    jvm = spark.read.format("quiverjvm").load(d)
    py = spark.read.format("quiver").load(d)
    assert sorted(repr(tuple(r)) for r in jvm.collect()) == sorted(
        repr(tuple(r)) for r in py.collect()
    )
    assert jvm.filter("src = 'seed' AND flag AND dec0 = 9.75").count() == 6
    assert "quiverjvm" in scan(spark, d)._jdf.queryExecution().analyzed().toString()


def test_jvm_alter_with_nested_columns(spark, tmp_path):
    """ALTER-DDL tables whose columns are NESTED ride the JVM scan:
    rename_column resolves a nested column through the per-file cmap,
    nested add_columns null-fill in files that predate them (putNulls on
    complex vectors), and a post-ALTER append mixes both physical
    schemas in one plan — row-exact vs the Python DS, routed to the JVM
    engine by sources.scan."""
    _require_jar(spark)
    from quiver_spark import maintenance as M
    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "nested_alter")
    sources.write(
        spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, None), (3, [3.0])], "id bigint, emb array<double>"
        ).coalesce(1),
        d,
    )
    M.rename_column(d, "emb", "vec")
    M.add_column(d, "tags", "array<string>")
    M.add_column(d, "meta", "struct<a:int,b:string>")
    sources.write(
        spark.createDataFrame(
            [(4, [4.0], ["t4"], (7, "x"))],
            "id bigint, vec array<double>, tags array<string>,"
            " meta struct<a:int,b:string>",
        ).coalesce(1),
        d,
        mode="append",
    )
    df = scan(spark, d)
    assert "quiverjvm" in df._jdf.queryExecution().analyzed().toString()
    got = sorted(repr(tuple(r)) for r in df.collect())
    exp = sorted(
        repr(tuple(r)) for r in spark.read.format("quiver").load(d).collect()
    )
    assert got == exp and len(got) == 4


def test_jvm_limit_pushdown_caps_planning(spark, tmp_path):
    """SupportsPushDownLimit (round 12): a pure scan+limit plans only
    enough leading pages to cover the limit (LIMIT 1000 over a 100k-file
    table plans one small split, not every file). The cap is ADVISORY —
    pushLimit returns false so Spark's own limit trims above the scan —
    and it disarms whenever translated predicates exist (Spark also only
    offers the limit with no residual filter below it)."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    src = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    d = str(tmp_path / "lim")
    src.repartition(64).write.format("quiverjvm").mode("overwrite").save(d)
    t = spark.read.format("quiverjvm").load(d)
    full_parts = t._jdf.queryExecution().toRdd().getNumPartitions()

    lim = t.limit(100)
    plan = lim._jdf.queryExecution().executedPlan().toString()
    assert "planLimit: 100" in plan, plan
    lim_parts = lim._jdf.queryExecution().toRdd().getNumPartitions()
    assert lim_parts <= full_parts
    assert len(lim.collect()) == 100
    # correctness: the limited prefix is a subset of the table
    keys = {r["l_orderkey"] for r in lim.select("l_orderkey").collect()}
    allk = {r["l_orderkey"] for r in src.select("l_orderkey").collect()}
    assert keys <= allk

    # with a filter the cap must not engage (and results stay exact)
    f = t.filter("l_orderkey > 100")
    fplan = f._jdf.queryExecution().executedPlan().toString()
    assert "planLimit" not in fplan
    assert f.count() == src.filter("l_orderkey > 100").count()


def _engine_of(df):
    return (
        "jvm"
        if "quiverjvm" in df._jdf.queryExecution().analyzed().toString()
        else "python"
    )


def test_jvm_serves_semantic_reader_options(spark, tmp_path):
    """Round 13 (VERDICT r12 Next #1): the semantic reader options —
    version (time travel), changes_since (CDC cursor), files (rewrite
    subsets) — route onto the JVM engine through sources.scan instead of
    pinning the scan to the Python DS's many-small-files floor. Each
    option's JVM answer must equal the Python DS's for the same option."""
    _require_jar(spark)
    import warnings

    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "gens")
    # two retained generations: v1 = ids 0..19, live = ids 0..49
    for n in (20, 50):
        sources.write(
            spark.range(n).selectExpr("id", "id * 2 AS v").coalesce(1),
            d,
            keep_generations="3",
        )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # routing must be silent
        tt = scan(spark, d, version="1")
        assert _engine_of(tt) == "jvm"
        assert tt.count() == 20
        assert tt.agg(F.sum("v")).collect()[0][0] == sum(
            2 * i for i in range(20)
        )
        live = scan(spark, d)
        assert _engine_of(live) == "jvm"
        assert live.count() == 50
    # parity with the Python DS's own version read
    py = spark.read.format("quiver").option("version", "1").load(d)
    assert sorted(map(tuple, tt.collect())) == sorted(map(tuple, py.collect()))

    # plan description surfaces the pin (the plan test the verdict asked for)
    plan = tt._jdf.queryExecution().executedPlan().toString()
    assert "version: 1" in plan, plan

    # changes_since: three commits (overwrite + 2 appends), cursor = 1
    # keeps only the appends' files
    inc = str(tmp_path / "inc")
    sources.write(
        spark.range(10).selectExpr("id", "'base' AS tag").coalesce(1),
        inc,
    )
    sources.write(
        spark.range(10, 15).selectExpr("id", "'a1' AS tag").coalesce(1),
        inc,
        mode="append",
    )
    sources.write(
        spark.range(15, 18).selectExpr("id", "'a2' AS tag").coalesce(1),
        inc,
        mode="append",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cdc = scan(spark, inc, changes_since="1")
    assert _engine_of(cdc) == "jvm"
    assert sorted(r["id"] for r in cdc.collect()) == list(range(10, 18))
    cdc2 = scan(spark, inc, changes_since="2")
    assert sorted(r["id"] for r in cdc2.collect()) == list(range(15, 18))
    pycdc = (
        spark.read.format("quiver").option("changes_since", "1").load(inc)
    )
    assert sorted(map(tuple, cdc.collect())) == sorted(
        map(tuple, pycdc.collect())
    )

    # files= subset: only the named root-relative files are scanned
    import glob
    import json
    import os

    from quiver_spark.sources.quiver_datasource import _data_root

    root = _data_root(inc)
    rels = sorted(
        os.path.relpath(f, root)
        for f in glob.glob(f"{root}/**/*.quiver", recursive=True)
    )
    one = json.dumps(rels[:1])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sub = scan(spark, inc, files=one)
    assert _engine_of(sub) == "jvm"
    pysub = spark.read.format("quiver").option("files", one).load(inc)
    assert sorted(map(tuple, sub.collect())) == sorted(
        map(tuple, pysub.collect())
    )
    assert 0 < sub.count() < 18

    # an option OUTSIDE the semantic+translated sets is refused
    with pytest.raises(ValueError, match="planning_parallelism"):
        scan(spark, inc, planning_parallelism="8")


def test_jvm_serves_translated_reader_options(spark, tmp_path):
    """Round 14 (VERDICT r13 Next #2): ``columns=`` / ``limit=`` no longer
    pin a scan to the Python DS — they translate to Catalyst select /
    limit on the JVM relation (the JVM reader does projection pruning and
    pushLimit natively; file_column= maps to the _quiver_file metadata
    column). Through the unified entry, limit=N is exact-N and takes the
    same file-order prefix as the Python DS's read."""
    _require_jar(spark)
    import warnings

    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "trans")
    sources.write(
        spark.range(1000).selectExpr(
            "id", "id * 3 AS v", "CAST(id % 7 AS STRING) AS tag"
        ).coalesce(4),
        d,
        keep_generations="1",
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # routing must be silent
        narrow = scan(spark, d, columns="id, v")
        assert _engine_of(narrow) == "jvm"
        assert narrow.columns == ["id", "v"]
        lim = scan(spark, d, limit="100")
        assert _engine_of(lim) == "jvm"
        both = scan(spark, d, columns="v", limit="50")
        assert _engine_of(both) == "jvm"
        # composes with a semantic option on the same relation
        ver = scan(spark, d, version="1", columns="id", limit="10")
        assert _engine_of(ver) == "jvm"
        assert len(ver.collect()) == 10
    # exact-N, the same file-order prefix the Python DS takes
    assert len(lim.collect()) == 100
    py = (
        spark.read.format("quiver").option("planning_parallelism", "8")
        .load(d).limit(100)
    )
    assert sorted(map(tuple, lim.collect())) == sorted(
        map(tuple, py.collect())
    )
    # the narrow projection reaches the DSv2 scan (pruned ReadSchema)
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert "tag" not in plan, plan

    # file_column= rides the JVM too (round 14: the _quiver_file
    # metadata column), value-identical to the Python DS's option —
    # including the columns= interplay (the file column survives a
    # columns= pruning only when LISTED, Python-DS parity)
    fc = scan(spark, d, columns="id, __f", file_column="__f")
    assert _engine_of(fc) == "jvm"
    assert fc.columns == ["id", "__f"]
    pyfc = (
        spark.read.format("quiver")
        .option("columns", "id, __f")
        .option("file_column", "__f")
        .load(d)
    )
    assert sorted(map(tuple, fc.collect())) == sorted(
        map(tuple, pyfc.collect())
    )
    pruned = scan(spark, d, columns="id", file_column="__f")
    assert _engine_of(pruned) == "jvm"
    assert pruned.columns == ["id"]
    plain = scan(spark, d, file_column="__f")
    assert _engine_of(plain) == "jvm"
    assert plain.columns == ["id", "v", "tag", "__f"]
    pyplain = (
        spark.read.format("quiver").option("file_column", "__f").load(d)
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, pyplain.collect())
    )
    # collision keeps the Python DS's documented error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collides"):
        scan(spark, d, file_column="id")

    # an option only the Python DS implements is refused
    with _pytest.raises(ValueError, match="planning_parallelism"):
        scan(spark, d, columns="id", planning_parallelism="8")

    # ADVICE r14 engine-parity edges: the literal '_quiver_file' in
    # columns= WITHOUT file_column= must raise the Python DS's error
    # (it is not a table column), never silently resolve the JVM
    # metadata column
    with _pytest.raises(ValueError, match="not present in the table"):
        scan(spark, d, columns="id, _quiver_file")
    # same message through the raw Python DS (Spark wraps the plan-time
    # ValueError in AnalysisException)
    with _pytest.raises(Exception, match="not present in the table"):
        spark.read.format("quiver").option(
            "columns", "id, _quiver_file"
        ).load(d).collect()
    # any misspelled column fails at plan time with the same error class
    # on both engines (the JVM path previously deferred to an
    # AnalysisException at action time)
    with _pytest.raises(ValueError, match="not present in the table"):
        scan(spark, d, columns="nope")
    # columns='' (empty) means absent on BOTH engines — full schema
    empty = scan(spark, d, columns="")
    assert _engine_of(empty) == "jvm"
    assert empty.columns == ["id", "v", "tag"]
    pyempty = (
        spark.read.format("quiver")
        .option("columns", "")
        .option("planning_parallelism", "8")
        .load(d)
    )
    assert pyempty.columns == ["id", "v", "tag"]


def test_jvm_changes_since_keeps_unvouched_files(spark, tmp_path):
    """_files_changed_since parity: a file the manifest cannot vouch for
    (no entry — e.g. a pre-manifest or foreign writer dropped it in) is
    conservatively KEPT by the JVM cursor scan — at-least-once delivery,
    never silent loss."""
    _require_jar(spark)
    import glob
    import shutil

    from quiver_spark.sources import register, scan
    from quiver_spark.sources.quiver_datasource import _data_root

    register(spark)
    d = str(tmp_path / "unvouched")
    sources.write(spark.range(5).selectExpr("id").coalesce(1), d)
    sources.write(
        spark.range(5, 9).selectExpr("id").coalesce(1),
        d,
        mode="append",
    )
    root = _data_root(d)
    # drop in a foreign copy of the first file the manifest knows nothing of
    src = sorted(glob.glob(f"{root}/*.quiver"))[0]
    shutil.copy(src, f"{root}/zz-foreign.quiver")
    cdc = scan(spark, d, changes_since="999")  # cursor beyond every commit
    assert _engine_of(cdc) == "jvm"
    # only the unvouched foreign file's rows surface
    got = sorted(r["id"] for r in cdc.collect())
    srcrows = sorted(
        r["id"] for r in spark.read.format("quiverjvm").load(src).collect()
    )
    assert got == srcrows


def test_jvm_merge_schemas_union(spark, tmp_path):
    """merge_schemas=true unions per-file schemas by name on the JVM
    engine (round 13 — VERDICT r12 Next #3): files carrying subsets of
    the union null-fill absent columns; answers equal the Python DS's
    merge read. Without the option the directory is refused at plan
    time, naming merge_schemas; a same-name type conflict is refused
    even with it."""
    _require_jar(spark)
    import warnings

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register, scan

    register(spark)
    d = tmp_path / "merge"
    d.mkdir()
    write_table(
        pa.table({"a": pa.array([1, 2], pa.int64())}),
        str(d / "f1.quiver"),
        WriteOptions(),
    )
    write_table(
        pa.table(
            {
                "a": pa.array([3], pa.int64()),
                "b": pa.array(["x"], pa.string()),
            }
        ),
        str(d / "f2.quiver"),
        WriteOptions(),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        m = scan(spark, str(d), merge_schemas="true")
        assert _engine_of(m) == "jvm"
        rows = sorted(map(tuple, m.collect()))
    py = (
        spark.read.format("quiver")
        .option("merge_schemas", "true")
        .load(str(d))
    )
    assert rows == sorted(map(tuple, py.collect()))
    assert rows == [(1, None), (2, None), (3, "x")]
    # without the option the directory is refused, naming the option
    with pytest.raises(Exception, match="merge_schemas"):
        scan(spark, str(d))

    # type conflict: refused at plan time
    d2 = tmp_path / "conflict"
    d2.mkdir()
    write_table(
        pa.table({"a": pa.array([1], pa.int64())}),
        str(d2 / "f1.quiver"),
        WriteOptions(),
    )
    write_table(
        pa.table({"a": pa.array(["s"], pa.string())}),
        str(d2 / "f2.quiver"),
        WriteOptions(),
    )
    with pytest.raises(Exception, match="type conflict"):
        scan(spark, str(d2), merge_schemas="true")


def test_jvm_nested_write_rejects_null_in_non_nullable(spark, tmp_path):
    """ADVICE r12 (medium): a NULL in a non-nullable nested position must
    FAIL the write loudly — emitting a slot would desync present-value
    ranks and persist an undecodable file. (Reachable only when an
    upstream violates a containsNull=false contract.)"""
    _require_jar(spark)
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    # Spark's Python-side producers (createDataFrame, Python UDFs) coerce
    # such nulls to 0 before the sink ever sees them, so drive the
    # shredder directly through its test hook — the violating upstream is
    # a JVM-side producer (Scala UDF, custom InternalRow)
    schema = StructType(
        [StructField("xs", ArrayType(LongType(), containsNull=False), True)]
    )
    hook = spark._jvm.io.quiverspark.QuiverNestedWrite.shredJsonForTest
    # a LEGAL value shreds fine (2 slots for 2 elements)
    assert hook(schema.json(), "[1, 2]") == 2
    with pytest.raises(Exception, match="non-nullable nested position"):
        hook(schema.json(), "[1, null]")
    # struct variant: null for a non-nullable struct FIELD also refuses
    schema2 = StructType(
        [
            StructField(
                "s",
                StructType([StructField("a", LongType(), nullable=False)]),
                True,
            )
        ]
    )
    assert hook(schema2.json(), '{"a": 3}') == 1
    with pytest.raises(Exception, match="non-nullable nested position"):
        hook(schema2.json(), '{"a": null}')


def test_jvm_default_fillability_guard_is_plan_time(spark, tmp_path):
    """ADVICE r12 (low): a column default the JVM reader cannot
    MATERIALIZE (here: a default on a declared BINARY column, a foreign-
    manifest shape — maintenance.add_column refuses one) must be
    refused when the relation is built, before any job — not discovered
    executor-side in PartitionReader init after the job started."""
    _require_jar(spark)
    import base64
    import glob
    import gzip
    import json

    from quiver_spark.sources import register, try_jvm_scan

    register(spark)
    d = str(tmp_path / "foreign_default")
    sources.write(spark.range(6).selectExpr("id").coalesce(1), d)
    man_path = sorted(glob.glob(f"{d}/**/_manifest.json.gz", recursive=True))[-1]
    with gzip.open(man_path, "rt") as f:
        man = json.load(f)
    declared = pa.schema([("id", pa.int64()), ("b", pa.binary())])
    man["table_schema"] = base64.b64encode(declared.serialize()).decode()
    man["column_defaults"] = {"b": "seed"}
    with gzip.open(man_path, "wt") as f:
        json.dump(man, f)

    with pytest.raises(Exception, match="cannot be filled"):
        try_jvm_scan(spark, d)


def test_jvm_timestamp_units_parity(spark, tmp_path):
    """Non-us timestamp units (round 13 — VERDICT r12 Next #5): s/ms/ns
    leaves decode through the JVM reader into Spark's us domain exactly
    as the Python DS's pyarrow cast does — flat AND nested (list<ts>)
    columns, nulls included; a ns value that cannot be represented in us
    RAISES on both engines (pyarrow safe-cast parity), never truncates."""
    _require_jar(spark)
    import datetime
    import os

    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources import register, try_jvm_scan

    register(spark)
    base = datetime.datetime(2021, 3, 4, 5, 6, 7)
    vals = [base, None, datetime.datetime(1969, 12, 31, 23, 59, 59)]
    for unit in ("s", "ms", "ns"):
        d = str(tmp_path / f"ts_{unit}")
        os.makedirs(d)
        write_table(
            pa.table(
                {
                    "ts": pa.array(vals, pa.timestamp(unit)),
                    "nested": pa.array(
                        [[base], None, [base, None]],
                        pa.list_(pa.timestamp(unit)),
                    ),
                }
            ),
            f"{d}/f.quiver",
            WriteOptions(),
        )
        _assert_same(spark, d)
        # the unified router serves these on the JVM now (guard lifted)
        assert try_jvm_scan(spark, d) is not None, unit

    # ns truncation: both engines refuse rather than silently losing data
    d2 = str(tmp_path / "ts_ns_trunc")
    os.makedirs(d2)
    write_table(
        pa.table({"ts": pa.array([1234567891], pa.timestamp("ns"))}),
        f"{d2}/f.quiver",
        WriteOptions(),
    )
    with pytest.raises(Exception, match="lose data"):
        spark.read.format("quiverjvm").load(d2).collect()
    with pytest.raises(Exception):
        spark.read.format("quiver").load(d2).collect()


def test_jvm_catalog_table_survives_restart(tmp_path):
    """CREATE TABLE … USING quiverjvm survives a REAL session restart
    (round 13 — VERDICT r12 Next #2): two sequential JVMs share a Derby
    metastore; the first creates the catalog table + INSERTs through the
    SQL path, the second (a fresh process) reads it back with pure SQL."""
    import subprocess
    import sys as _sys
    import textwrap

    ms = tmp_path / "metastore"
    wh = tmp_path / "warehouse"
    data = tmp_path / "tbl"
    common = textwrap.dedent(
        f"""
        import sys; sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.warehouse.dir", "{wh}")
            .config("spark.hadoop.javax.jdo.option.ConnectionURL",
                    "jdbc:derby:;databaseName={ms};create=true")
            .enableHiveSupport().getOrCreate())
        from quiver_spark.jvm import attach_jar
        assert attach_jar(spark)
        """
    )
    create = common + textwrap.dedent(
        f"""
        spark.range(20).selectExpr("id", "id * 3 AS v").write.format(
            "quiverjvm").mode("overwrite").save("{data}")
        spark.sql("CREATE TABLE restart_qt USING quiverjvm LOCATION '{data}'")
        spark.sql("INSERT INTO restart_qt VALUES (100, 300)")
        assert spark.sql("SELECT COUNT(*) c FROM restart_qt").collect()[0][0] == 21
        print("CREATED_OK")
        """
    )
    read = common + textwrap.dedent(
        """
        r = spark.sql(
            "SELECT COUNT(*) c, SUM(v) s FROM restart_qt").collect()[0]
        assert r[0] == 21, r
        assert r[1] == sum(3 * i for i in range(20)) + 300, r
        print("RESTART_READ_OK")
        """
    )
    for step, code in (("create", create), ("read", read)):
        p = subprocess.run(
            [_sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(tmp_path),
            env={
                **__import__("os").environ,
                "PYTHONPATH": "/root/repo",
            },
        )
        assert p.returncode == 0, (step, p.stdout[-1500:], p.stderr[-1500:])
    assert "RESTART_READ_OK" in p.stdout


def test_jvm_catalog_insert_overwrite(spark, tmp_path):
    """INSERT OVERWRITE on a quiverjvm catalog table is refused before
    any task runs (the format cannot replace a table atomically; the
    message names quiver_spark.sources.write) and the table keeps its
    rows; INSERT INTO appends."""
    _require_jar(spark)
    d = str(tmp_path / "tbl")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.format(
        "quiverjvm"
    ).mode("overwrite").save(d)
    spark.sql("DROP TABLE IF EXISTS ow_qt")
    spark.sql(f"CREATE TABLE ow_qt USING quiverjvm LOCATION '{d}'")
    assert spark.sql("SELECT COUNT(*) FROM ow_qt").collect()[0][0] == 10
    with pytest.raises(Exception, match="quiver_spark.sources.write"):
        spark.sql("INSERT OVERWRITE ow_qt SELECT id, id * 7 AS v FROM range(5)")
    rows = sorted(map(tuple, spark.sql("SELECT * FROM ow_qt").collect()))
    assert rows == [(i, i * 2) for i in range(10)], rows
    spark.sql("INSERT INTO ow_qt VALUES (99, 1)")
    assert spark.sql("SELECT COUNT(*) FROM ow_qt").collect()[0][0] == 11
    back = spark.read.format("quiverjvm").load(d)
    assert back.count() == 11
    spark.sql("DROP TABLE ow_qt")


def _python_append(df, table: str) -> None:
    """Append ``df`` to the flat ``table`` as one file the Python writer
    encodes from Spark's Arrow batches, recorded in the manifest."""
    import os
    import uuid

    from quiver_spark.format.writer import write_table
    from quiver_spark.sources.manifest import update_manifest

    rel = f"part-{uuid.uuid4().hex}.quiver"
    write_table(df.toArrow(), os.path.join(table, rel))
    update_manifest(table, [rel], "quiver")


def test_mixed_engine_table_keeps_fast_path(spark, tmp_path):
    """A table written by BOTH engines (JVM overwrite + Python-writer
    append) interns two schema-IPC byte strings that differ only in
    serialization minutiae (empty-vs-absent custom_metadata) — the
    heterogeneous-schema guard must compare PARSED schemas and keep
    serving the table, not refuse over representation bytes. A REAL
    conflict (same name, different type) must still refuse to the
    Python DataSource."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "mixed")
    spark.range(10).selectExpr("id", "concat('a', id) AS s").coalesce(
        1
    ).write.format("quiverjvm").mode("overwrite").save(d)
    _python_append(
        spark.range(10, 20).selectExpr("id", "concat('b', id) AS s"), d
    )
    got = sorted(map(tuple, spark.read.format("quiverjvm").load(d).collect()))
    want = sorted(map(tuple, spark.read.format("quiver").load(d).collect()))
    assert got == want and len(got) == 20

    # real type conflict: id becomes a string in the appended file
    d2 = str(tmp_path / "conflict")
    spark.range(5).selectExpr("id", "concat('a', id) AS s").coalesce(
        1
    ).write.format("quiverjvm").mode("overwrite").save(d2)
    _python_append(
        spark.range(5, 10).selectExpr(
            "CAST(id AS STRING) AS id", "concat('b', id) AS s"
        ),
        d2,
    )
    with pytest.raises(Exception, match="heterogeneous|Python 'quiver'"):
        spark.read.format("quiverjvm").load(d2).collect()
