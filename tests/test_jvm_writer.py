"""JVM bulk-ingest writer ("quiverjvm", quiver_spark/jvm): the Java
DataSourceV2 path that keeps rows in the JVM — byte-compatible with the
Python reader. Tests skip when the jar is absent and javac unavailable
(the jar is checked in, so normally they run)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quiver_spark.jvm import ensure_jar, session_has_jar, supports_schema

from conftest import SF_DIR_MID

pytestmark = pytest.mark.skipif(
    ensure_jar(build=True) is None,
    reason="quiver-jvm-writer.jar absent and javac unavailable",
)


def _require_jar(spark):
    if not session_has_jar(spark):
        pytest.skip("session built without the quiverjvm jar on spark.jars")


def test_jvm_roundtrip_lineitem(spark, tmp_path):
    """sf0.01 lineitem written by the JVM writer reads back EXACTLY through
    the Python quiver scan — longs, ints, doubles, strings, dates."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    df = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    out = str(tmp_path / "li")
    df.write.format("quiverjvm").mode("overwrite").save(out)
    back = spark.read.format("quiver").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("codec", ["zstd", "lz4", "none", "snappy"])
def test_jvm_type_surface(spark, tmp_path, codec):
    """Every supported flat type, with nulls, across all three basic
    codecs: i8/i16/i32/i64, float/double, decimal18/38, string, binary,
    bool, date, timestamp_ntz."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    df = spark.sql(
        """
        SELECT id,
          CAST(id AS INT) i32, CAST(id % 128 AS TINYINT) i8,
          CAST(id % 30000 AS SMALLINT) i16,
          CAST(id * 1.5 AS DOUBLE) d, CAST(id * 0.5 AS FLOAT) f,
          CASE WHEN id % 7 = 0 THEN NULL
               ELSE CAST(id * 100.01 AS DECIMAL(18,4)) END dec18,
          CAST(id * -123456789.123 AS DECIMAL(38,6)) dec38,
          CASE WHEN id % 3 = 0 THEN NULL ELSE concat('s-', id) END s,
          CAST(concat('b', id) AS BINARY) b,
          id % 2 = 0 AS flag,
          CASE WHEN id % 5 = 0 THEN NULL ELSE id % 2 = 1 END nflag,
          DATE_ADD(DATE'2020-01-01', CAST(id % 1000 AS INT)) dt,
          TIMESTAMP_NTZ'2024-01-01 00:00:00'
            + make_interval(0,0,0,0,0,0,id) tsn,
          CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id AS BIGINT) END nlong
        FROM range(20000)
        """
    )
    out = str(tmp_path / f"types_{codec}")
    df.write.format("quiverjvm").option("codec", codec).mode("overwrite").save(out)
    exp = sorted(map(tuple, df.collect()))
    back = spark.read.format("quiver").load(out)
    assert sorted(map(tuple, back.collect())) == exp
    back_jvm = spark.read.format("quiverjvm").load(out)
    assert sorted(map(tuple, back_jvm.collect())) == exp


def test_jvm_multi_file_roll_and_pages(spark, tmp_path):
    """max_rows_per_file rolls files; max_page_size slices pages — the scan
    sees one consistent table either way."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    df = spark.range(50000).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    ).repartition(2)
    out = str(tmp_path / "roll")
    (
        df.write.format("quiverjvm")
        .option("max_rows_per_file", "8000")
        .option("max_page_size", "1000")
        .mode("overwrite")
        .save(out)
    )
    files = [f for f in os.listdir(out) if f.endswith(".quiver")]
    assert len(files) >= 4  # 2 partitions x ceil(25000/8000)
    back = spark.read.format("quiver").load(out)
    assert back.count() == 50000
    assert back.agg(F.sum("id")).collect()[0][0] == 50000 * 49999 // 2


def _tree_bytes(d):
    """Every file under ``d``, relative path → contents."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_jvm_overwrite_of_non_empty_dir_is_refused(spark, tmp_path):
    """The quiverjvm format cannot replace a table atomically, so a
    direct overwrite of a directory that holds anything is refused at
    plan time, naming the router, and every file of the table stays
    byte-identical. An overwrite into a new or an empty directory
    still writes."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "ovw")
    spark.range(100).write.format("quiverjvm").mode("overwrite").save(out)
    before = _tree_bytes(out)
    with pytest.raises(Exception, match="quiver_spark.sources.write"):
        spark.range(7).write.format("quiverjvm").mode("overwrite").save(out)
    assert _tree_bytes(out) == before
    assert spark.read.format("quiver").load(out).count() == 100
    empty = tmp_path / "empty"
    empty.mkdir()
    spark.range(7).write.format("quiverjvm").mode("overwrite").save(str(empty))
    assert spark.read.format("quiver").load(str(empty)).count() == 7


def test_ingest_uses_jvm_and_rebuilds_manifest(spark, tmp_path):
    """maintenance.ingest routes flat schemas to the JVM writer and leaves
    a manifest behind so the first scan plans from one metadata read."""
    _require_jar(spark)
    from quiver_spark import maintenance
    from quiver_spark.sources.manifest import load_manifest

    df = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    out = str(tmp_path / "ing")
    summary = maintenance.ingest(spark, df, out)
    assert summary["engine"] == "jvm"
    assert summary["rows"] == df.count()
    assert load_manifest(out) is not None
    back = spark.read.format("quiver").load(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_ingest_writes_nested_on_jvm_and_refuses_void(spark, tmp_path):
    """Nested schemas ride the JVM sink since the round-12 shredder —
    same call, same durable result; a leaf the Java writer does not
    encode (void) is refused before any job, naming the column."""
    from quiver_spark import maintenance

    df = spark.range(500).select(
        F.col("id"), F.array(F.col("id"), F.col("id") + 1).alias("arr")
    )
    assert supports_schema(df.schema)
    out = str(tmp_path / "nested")
    summary = maintenance.ingest(spark, df, out)
    assert summary["engine"] == "jvm"
    back = spark.read.format("quiver").load(out)
    assert back.count() == 500
    assert back.agg(F.sum(F.element_at("arr", 2))).collect()[0][0] == sum(
        i + 1 for i in range(500)
    )

    df2 = spark.range(10).select(F.col("id"), F.lit(None).alias("v"))
    assert not supports_schema(df2.schema)
    out2 = str(tmp_path / "voidcol")
    with pytest.raises(ValueError, match="v void"):
        maintenance.ingest(spark, df2, out2)
    assert not os.path.exists(out2)


def test_jvm_adaptive_codecs_fire_and_decode_both_ways(spark, tmp_path):
    """Round-11 adaptive JVM encoder (VERDICT r10 stretch): OneValue /
    RLE / Dict (with recursively-encoded u32 code frames, incl.
    Bitpacking) are chosen per page by the Python chooser's eligibility
    rules, decode identically on BOTH readers, and bring JVM-written
    storage to parity with the Python adaptive writer (the former ~8%
    basic-codec storage tax)."""
    _require_jar(spark)
    import glob

    from quiver_spark.format.stat import stat_file
    from quiver_spark.sources import register

    register(spark)
    n = 32768
    df = spark.range(n).selectExpr(
        "CAST(7 AS BIGINT) AS const_col",                 # one_value
        "CAST(id DIV 4096 AS BIGINT) AS run_col",         # rle
        "CAST(id % 50 AS BIGINT) AS dict_col",            # dict (+bitpacked codes)
        "CAST(id % 1000 AS INT) AS bp_col",               # bitpacking (int32, >=0)
        "CAST(id AS INT) AS sorted_col",                  # delta bitpacking (ascending)
        "CAST(CASE WHEN id % 20 = 0 THEN id + 1000 ELSE 777 END AS BIGINT) AS freq_col",  # freq (95% one value, max>=256)
        "CASE WHEN id % 15 = 0 THEN concat('rare-', id) ELSE 'common' END AS str_freq_col",  # binary freq
        "concat('cat-', id % 6) AS str_dict_col",         # binary dict
        "'fixed' AS str_const_col",                       # binary one_value
        "id % 2 = 0 AS bool_col",                         # bool (alternating: basic)
        "(id DIV 1024) % 2 = 0 AS bool_run_col",          # bool rle (runs inside a page)
        "CAST(id AS DOUBLE) AS plain_col"                 # basic fallback
    )
    d = str(tmp_path / "adaptive")
    df.coalesce(1).write.format("quiverjvm").mode("overwrite").option(
        "codec", "zstd"
    ).save(d)
    f = glob.glob(d + "/*.quiver")[0]
    st = stat_file(f)
    codec_of = {c: st[c][0].codec for c in st}
    assert codec_of["const_col"] == "one_value", codec_of
    assert codec_of["run_col"] == "rle", codec_of
    assert codec_of["dict_col"] == "dict", codec_of
    assert codec_of["bp_col"] == "bitpacking", codec_of
    assert codec_of["sorted_col"] == "delta_bitpacking", codec_of
    assert codec_of["freq_col"] == "freq", codec_of
    assert codec_of["str_freq_col"] == "freq", codec_of
    assert codec_of["str_dict_col"] == "dict", codec_of
    assert codec_of["str_const_col"] == "one_value", codec_of
    assert codec_of["bool_run_col"] == "rle", codec_of
    # dict codes sub-frame is itself typed (bitpacked, not block-coded)
    assert st["dict_col"][0].children[0].codec == "bitpacking", st["dict_col"][0]

    # decode parity on BOTH engines, row for row
    jvm = spark.read.format("quiverjvm").load(d)
    py = spark.read.format("quiver").load(d)
    key = lambda r: tuple(repr(x) for x in r)
    want = sorted(map(tuple, df.collect()), key=key)
    assert sorted(map(tuple, jvm.collect()), key=key) == want
    assert sorted(map(tuple, py.collect()), key=key) == want

    # storage parity with the Python adaptive writer on real data
    src = spark.read.parquet(f"{SF_DIR_MID}/lineitem.parquet")
    dj = str(tmp_path / "li_jvm")
    dp = str(tmp_path / "li_py")
    src.coalesce(2).write.format("quiverjvm").mode("overwrite").option("codec", "zstd").save(dj)
    src.coalesce(2).write.format("quiver").mode("overwrite").option("codec", "zstd").save(dp)
    sj = sum(os.path.getsize(x) for x in glob.glob(dj + "/**/*.quiver", recursive=True))
    sp = sum(os.path.getsize(x) for x in glob.glob(dp + "/**/*.quiver", recursive=True))
    assert sj <= sp * 1.05, f"JVM adaptive {sj} vs Python {sp}"
    assert (
        spark.read.format("quiver").load(dj).selectExpr("sum(hash(*)) h").collect()[0][0]
        == src.selectExpr("sum(hash(*)) h").collect()[0][0]
    )


def test_jvm_partitioned_write_hive_fanout(spark, tmp_path):
    """Round-11 JVM Hive fan-out: df.write.format('quiverjvm')
    .partitionBy(...) lands rows in col=value subdirectories (Python-sink
    `_part_segment` parity: %-quoted values, __HIVE_DEFAULT_PARTITION__
    for nulls), files carry only data columns, the commit-time manifest
    covers the subdir rels, and BOTH readers reassemble the partition
    columns identically — with whole-file partition pruning on the JVM
    scan."""
    _require_jar(spark)
    import glob

    from quiver_spark.sources import register
    from quiver_spark.sources.manifest import load_manifest

    register(spark)
    d = str(tmp_path / "fanout")
    df = spark.createDataFrame(
        [(1, "us east", 10.5), (2, "eu/west", 2.0), (3, "us east", 3.25),
         (4, None, 7.0), (5, "asia", 1.0)],
        "id bigint, region string, v double",
    )
    df.repartition(2).write.format("quiverjvm").partitionBy("region").mode(
        "overwrite"
    ).save(d)
    dirs = {os.path.basename(x) for x in glob.glob(d + "/*") if os.path.isdir(x)}
    assert "region=us%20east" in dirs and "region=eu%2Fwest" in dirs
    assert "region=__HIVE_DEFAULT_PARTITION__" in dirs
    man = load_manifest(d)
    assert man is not None and len(man.entries) >= 4
    for rel in man.entries:
        assert "/" in rel and man.lookup(os.path.join(d, rel)) is not None, rel
    # the interned schema must be the FILE schema (no partition column) —
    # the ops verifier regenerates entries from footers and must agree
    from quiver_spark.sources.manifest import verify_manifest

    rep = verify_manifest(d)
    assert rep["ok"] and not rep["mismatched"], rep

    # Hive layout: partition columns reassemble LAST — align column order
    j = spark.read.format("quiverjvm").load(d).select(*df.columns)
    p = spark.read.format("quiver").load(d).select(*df.columns)
    want = sorted(map(tuple, df.collect()))
    assert sorted(map(tuple, j.collect())) == want
    assert sorted(map(tuple, p.collect())) == want
    assert j.filter("region IS NULL").count() == 1

    # partition pruning: an equality predicate keeps only that key's file
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    J.resetPlanFooterReads()
    assert j.filter(F.col("region") == "asia").count() == 1
    assert J.planFooterReads() == 0

    # a direct overwrite of the Hive table is refused before any file
    # changes (sources.write overwrites it as a generation swap)
    before = _tree_bytes(d)
    with pytest.raises(Exception, match="quiver_spark.sources.write"):
        spark.createDataFrame(
            [(9, "only", 1.0)], "id bigint, region string, v double"
        ).write.format("quiverjvm").partitionBy("region").mode(
            "overwrite"
        ).save(d)
    assert _tree_bytes(d) == before
    assert spark.read.format("quiverjvm").load(d).count() == 5


def test_ingest_partition_by_routes_jvm(spark, tmp_path):
    """maintenance.ingest(partition_by=...) uses the JVM fan-out for flat
    schemas and yields a Hive table that is manifest-planned, partition-
    pruned, and identical to the source."""
    _require_jar(spark)
    from quiver_spark.maintenance import ingest
    from quiver_spark.sources import scan

    d = str(tmp_path / "ingest_part")
    src = spark.read.parquet(f"{SF_DIR_MID}/orders.parquet")
    info = ingest(spark, src, d, partition_by="o_orderstatus")
    assert info["engine"] == "jvm"
    back = scan(spark, d)
    assert "quiverjvm" in back._jdf.queryExecution().analyzed().toString()
    assert back.count() == src.count()
    a = back.groupBy("o_orderstatus").count().collect()
    b = src.groupBy("o_orderstatus").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_jvm_writer_forced_codec_matrix(spark, tmp_path):
    """Write-direction twin of the reader's forced-codec matrix: with the
    `forbidden` option (WriteOptions.forbidden parity) excluding every
    competitor, each typed codec of the now-complete JVM cascade —
    including Patas, the last Python-only holdout — must fire and decode
    identically on BOTH readers, non-null and nullable variants."""
    _require_jar(spark)
    import glob

    import numpy as np
    import pandas as pd

    from quiver_spark.format.stat import stat_file
    from quiver_spark.sources import register

    register(spark)
    rng = np.random.default_rng(11)
    n = 8192
    cases = {
        # target codec -> (pandas column, forbidden csv)
        "one_value": (pd.Series(np.full(n, 7, dtype=np.int64)), "rle,dict,freq"),
        "rle": (pd.Series(np.repeat(np.arange(16, dtype=np.int64), n // 16)), "one_value,dict,freq"),
        "dict": (pd.Series(rng.integers(0, 50, n).astype(np.int64)), "one_value,rle,freq"),
        "freq": (
            pd.Series(np.where(rng.random(n) < 0.95, 1000, rng.integers(1 << 10, 1 << 20, n)).astype(np.int64)),
            "one_value,rle,dict",
        ),
        "bitpacking": (
            pd.Series(rng.integers(0, 1 << 10, n).astype(np.int32)),
            "one_value,rle,dict,freq,delta_bitpacking",
        ),
        "delta_bitpacking": (
            pd.Series(np.sort(rng.integers(0, 1 << 20, n)).astype(np.int32)),
            "one_value,rle,dict,freq,bitpacking",
        ),
        "patas": (
            pd.Series(np.tile(np.round(rng.random(64) * 10, 1), n // 64)),
            "one_value,rle,dict,freq",
        ),
    }
    for target, (col, forbidden) in cases.items():
        pdf = pd.DataFrame({"x": col})
        df = spark.createDataFrame(pdf)
        d = str(tmp_path / f"force_{target}")
        (
            df.coalesce(1).write.format("quiverjvm").mode("overwrite")
            .option("codec", "zstd")
            .option("compress_ratio", "1.01")
            .option("forbidden", forbidden)
            .save(d)
        )
        f = glob.glob(d + "/*.quiver")[0]
        assert stat_file(f)["x"][0].codec == target, (target, stat_file(f))
        a = spark.read.format("quiverjvm").load(d).toPandas().sort_values("x").reset_index(drop=True)
        b = spark.read.format("quiver").load(d).toPandas().sort_values("x").reset_index(drop=True)
        w = pdf.sort_values("x").reset_index(drop=True)
        assert a.equals(w) and b.equals(w), target

    # nullable variants for the codecs whose pages carry validity prefixes
    for target, forbidden in [("one_value", "rle,dict,freq"), ("rle", "one_value,dict,freq"),
                              ("dict", "one_value,rle,freq"), ("freq", "one_value,rle,dict")]:
        base = cases[target][0].astype("float64") if target == "patas" else cases[target][0]
        vals = cases[target][0].copy().astype("object")
        mask = rng.random(n) < 0.1
        vals[mask] = None
        pdf = pd.DataFrame({"x": vals})
        sdf = spark.createDataFrame(pdf.astype({"x": "object"}), "x bigint")
        d = str(tmp_path / f"force_null_{target}")
        (
            sdf.coalesce(1).write.format("quiverjvm").mode("overwrite")
            .option("codec", "zstd")
            .option("compress_ratio", "1.01")
            .option("forbidden", forbidden)
            .save(d)
        )
        a = spark.read.format("quiverjvm").load(d)
        b = spark.read.format("quiver").load(d)
        assert a.filter("x IS NULL").count() == int(mask.sum()), target
        key = lambda r: tuple(repr(v) for v in r)
        assert sorted(map(tuple, a.collect()), key=key) == sorted(
            map(tuple, b.collect()), key=key
        ) == sorted(map(tuple, sdf.collect()), key=key), target


def test_jvm_writer_nested_roundtrip_both_readers(spark, tmp_path):
    """Round-12 write-side Dremel shredder (QuiverNestedWrite): nested
    columns written BY the JVM sink — lists/structs/maps with nulls,
    empties, deep compositions, 2-row pages, multi-partition tasks —
    read back row-exact through BOTH readers, plus the real
    embeddings/documents tables multi-file/multi-page."""
    _require_jar(spark)
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
        df = spark.createDataFrame(rows, schema)
        d = str(tmp_path / f"njw_{i}")
        df.write.format("quiverjvm").option("max_page_size", "2").mode(
            "overwrite"
        ).save(d)
        exp = sorted(map(repr, df.collect()))
        for fmt in ("quiver", "quiverjvm"):
            got = sorted(map(repr, spark.read.format(fmt).load(d).collect()))
            assert got == exp, f"case {i} via {fmt}"

    for tbl in ("embeddings", "documents"):
        src = spark.read.parquet(f"{SF_DIR_MID}/{tbl}.parquet")
        d = str(tmp_path / f"njw_{tbl}")
        src.repartition(3).write.format("quiverjvm").option(
            "max_page_size", "700"
        ).mode("overwrite").save(d)
        exp = sorted(repr(tuple(r)) for r in src.collect())
        for fmt in ("quiver", "quiverjvm"):
            got = sorted(
                repr(tuple(r)) for r in spark.read.format(fmt).load(d).collect()
            )
            assert got == exp, f"{tbl} via {fmt}"


def test_jvm_writer_nested_randomized_fuzz(spark, tmp_path):
    """Seeded randomized Dremel round-trip: 300 rows of deeply nested
    values with random nulls/empties at every level (null lists, null
    elements, null structs, null struct fields, empty maps), written by
    the JVM sink at awkward page sizes and read back row-exact through
    BOTH readers. The deterministic matrix pins known shapes; this
    sweeps the combinatorial null/empty space the shredder and both
    assemblers must agree on."""
    _require_jar(spark)
    import random

    from quiver_spark.sources import register

    register(spark)
    rng = random.Random(42)

    def maybe(p, fn):
        return None if rng.random() < p else fn()

    def rand_list():
        return [maybe(0.2, lambda: rng.uniform(-10, 10)) for _ in range(rng.randrange(4))]

    def rand_struct():
        return (
            maybe(0.3, lambda: rng.randrange(100)),
            maybe(0.3, lambda: "s" + str(rng.randrange(10))),
            maybe(0.4, rand_list),
        )

    def rand_map():
        return {f"k{j}": maybe(0.3, lambda: rng.randrange(50)) for j in range(rng.randrange(3))}

    rows = [
        (
            i,
            maybe(0.15, rand_list),
            maybe(0.15, rand_struct),
            maybe(0.15, rand_map),
            maybe(0.15, lambda: [maybe(0.3, rand_struct) for _ in range(rng.randrange(3))]),
        )
        for i in range(300)
    ]
    schema = (
        "id bigint, lst array<double>,"
        " st struct<a:int,b:string,xs:array<double>>,"
        " m map<string,int>,"
        " deep array<struct<a:int,b:string,xs:array<double>>>"
    )
    df = spark.createDataFrame(rows, schema)
    exp = sorted(map(repr, df.collect()))
    for page in ("7", "64", "1000"):
        d = str(tmp_path / f"fuzz_{page}")
        df.repartition(3).write.format("quiverjvm").option(
            "max_page_size", page
        ).mode("overwrite").save(d)
        for fmt in ("quiver", "quiverjvm"):
            got = sorted(map(repr, spark.read.format(fmt).load(d).collect()))
            assert got == exp, f"page {page} via {fmt}"


def test_jvm_nested_hive_fanout_and_dml_interop(spark, tmp_path):
    """Cross-feature pins for the round-12 nested surface: (a) partitionBy
    Hive fan-out with nested DATA columns through the JVM writer reads
    back exactly on both engines (partition keys stay flat path
    constants, nested columns shred per key); (b) Python-engine row-level
    DML (delete_where) on a nested table leaves files the JVM scan
    serves — and the router still picks the JVM engine for it."""
    _require_jar(spark)
    from quiver_spark import maintenance as M
    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "part_nested")
    df = spark.createDataFrame(
        [(1, "a", [1.0]), (2, "b", [2.0, 3.0]), (3, "a", None), (4, "b", [])],
        "id bigint, grp string, emb array<double>",
    )
    df.write.format("quiverjvm").partitionBy("grp").mode("overwrite").save(d)
    exp = sorted(repr(tuple(r)) for r in df.select("id", "grp", "emb").collect())
    for fmt in ("quiverjvm", "quiver"):
        got = sorted(
            repr(tuple(r))
            for r in spark.read.format(fmt).load(d).select("id", "grp", "emb").collect()
        )
        assert got == exp, fmt

    d2 = str(tmp_path / "dml_nested")
    spark.createDataFrame(
        [(i, [float(i)] * (i % 3), f"s{i % 2}") for i in range(20)],
        "id bigint, emb array<double>, src string",
    ).coalesce(2).write.format("quiver").mode("overwrite").save(d2)
    M.delete_where(spark, d2, "id % 4 = 0")
    df2 = scan(spark, d2)
    assert "quiverjvm" in df2._jdf.queryExecution().analyzed().toString()
    got2 = sorted(repr(tuple(r)) for r in df2.collect())
    exp2 = sorted(
        repr((i, [float(i)] * (i % 3), f"s{i % 2}"))
        for i in range(20)
        if i % 4 != 0
    )
    assert got2 == exp2


def test_jvm_append_stamps_cdc_commit(spark, tmp_path):
    """A quiverjvm commit is ONE manifest commit (update_manifest parity):
    commit_seq bumps, the new entries carry the stamp, and a standing
    changes_since cursor DELIVERS the appended rows. Before round 13 the
    JVM commit stamped nothing — appended entries read as commit 0 and a
    CDC consumer silently skipped them (measured: 0 of 10 rows)."""
    _require_jar(spark)
    from quiver_spark.sources import scan
    from quiver_spark.sources.manifest import load_manifest

    d = str(tmp_path / "tbl")
    spark.range(10).selectExpr("id", "id * 2 AS v").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(d)
    c0 = load_manifest(d).commit_seq
    assert c0 >= 1
    spark.range(10, 20).selectExpr("id", "id * 2 AS v").coalesce(1).write.format(
        "quiverjvm"
    ).mode("append").save(d)
    man = load_manifest(d)
    assert man.commit_seq == c0 + 1
    stamps = {e.commit for e in man.entries.values()}
    assert stamps == {c0, c0 + 1}, stamps
    got = sorted(
        (r.id, r.v) for r in scan(spark, d, changes_since=c0).collect()
    )
    assert got == [(i, i * 2) for i in range(10, 20)]


def test_jvm_append_resolves_live_generation(spark, tmp_path):
    """Appending via quiverjvm into a GENERATION-layout table must land in
    the live gen-NNNNNN/ root — files written at the table root sit where
    every reader's resolution skips, so the pre-fix behavior reported
    success while BOTH engines read none of the appended rows (silent
    loss). A direct overwrite of the table is refused, naming the
    router, whose overwrite is the atomic generation swap."""
    _require_jar(spark)
    from quiver_spark.sources import register

    register(spark)
    d = str(tmp_path / "gen")
    for lo in (0, 10):
        spark.range(lo, lo + 10).selectExpr("id").write.format(
            "quiver"
        ).option("keep_generations", "2").mode("overwrite").save(d)
    spark.range(100, 110).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).mode("append").save(d)
    want = list(range(10, 20)) + list(range(100, 110))
    for fmt in ("quiver", "quiverjvm"):
        got = sorted(r.id for r in spark.read.format(fmt).load(d).collect())
        assert got == want, (fmt, got)
    assert not [
        f for f in os.listdir(d) if f.endswith(".quiver")
    ], "append leaked files into the table root"
    with pytest.raises(Exception, match="quiver_spark.sources.write"):
        spark.range(5).selectExpr("id").write.format("quiverjvm").mode(
            "overwrite"
        ).save(d)


def test_jvm_stream_sink_into_generation_table(spark, tmp_path):
    """A routed stream's micro-batches commit into the LIVE generation
    (resolved under the table lock), so a stream can feed a
    generation-layout table and the rows are visible to both engines."""
    _require_jar(spark)
    from quiver_spark.sources import register, stream_writer

    register(spark)
    d = str(tmp_path / "gen")
    spark.range(10).selectExpr("id").write.format("quiver").option(
        "keep_generations", "2"
    ).mode("overwrite").save(d)
    src = str(tmp_path / "src")
    spark.range(200, 210).selectExpr("id").write.format("quiverjvm").mode(
        "overwrite"
    ).save(src)
    q = (
        stream_writer(spark.readStream.format("quiverjvm").load(src), d)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = list(range(10)) + list(range(200, 210))
    for fmt in ("quiver", "quiverjvm"):
        got = sorted(r.id for r in spark.read.format(fmt).load(d).collect())
        assert got == want, (fmt, got)


def test_unified_write_router_both_directions(spark, tmp_path):
    """sources.write — the unified BATCH sink — writes every table
    through the JVM writer. Pins each shape: a plain load, a load naming
    ``require_not_null`` (checked in the plan; the first load is flat),
    overwrite of an existing table (a staged JVM write swapped in by the
    driver-side snapshot commit), generation-layout APPEND (resolves the
    live root), a NULL-typed column (refused before any job; cast, it
    writes) and partition_by fan-out."""
    _require_jar(spark)
    from quiver_spark.sources import snapshot, write

    src = spark.range(40).selectExpr("id", "concat('v', id) AS s")
    want = sorted(map(tuple, src.collect()))

    def back(d):
        got = {}
        for fmt in ("quiver", "quiverjvm"):
            got[fmt] = sorted(
                map(tuple, spark.read.format(fmt).load(d).collect())
            )
        assert got["quiver"] == got["quiverjvm"]
        return got["quiver"]

    # 1. eligible → JVM
    d1 = str(tmp_path / "jvm")
    assert write(src, d1, mode="overwrite", codec="zstd") == "quiverjvm"
    assert back(d1) == want

    # 2. require_not_null is a plan check on the JVM write; a first load
    # is flat
    d2 = str(tmp_path / "py")
    assert (
        write(src, d2, mode="overwrite", require_not_null="id")
        == "quiverjvm"
    )
    assert back(d2) == want
    assert snapshot.generations(d2) == []
    # the stage is gone after a published write and after a failed one
    nulls = spark.range(3).selectExpr("id", "CAST(NULL AS STRING) AS s")
    with pytest.raises(Exception, match="NOT NULL"):
        write(nulls, d2, mode="append", require_not_null="s")
    assert back(d2) == want
    assert not os.path.exists(os.path.join(d2, snapshot.STAGING_DIR))

    # 3. overwrite of the existing table → staged JVM write and an
    # atomic generation swap, with or without snapshot options
    assert write(src, d2, mode="overwrite") == "quiverjvm"
    assert back(d2) == want
    assert (
        write(src, d2, mode="overwrite", keep_generations="2") == "quiverjvm"
    )
    assert back(d2) == want
    assert len(snapshot.generations(d2)) == 2

    # 4. APPEND into the generation table stays JVM (live-root resolution)
    more = spark.range(100, 110).selectExpr("id", "concat('v', id) AS s")
    assert write(more, d2, mode="append") == "quiverjvm"
    assert back(d2) == sorted(want + list(map(tuple, more.collect())))

    # 5. a NULL-typed column is refused before any job, naming it; cast,
    # it writes
    d3 = str(tmp_path / "void")
    nullcol = spark.range(5).selectExpr("id", "NULL AS n")
    with pytest.raises(ValueError, match="n void"):
        write(nullcol, d3, mode="overwrite")
    assert not os.path.exists(d3)
    cast = nullcol.selectExpr("id", "CAST(n AS STRING) AS n")
    assert write(cast, d3, mode="overwrite") == "quiverjvm"
    assert len(spark.read.format("quiver").load(d3).collect()) == 5

    # 6. partition_by fan-out, with and without require_not_null
    d4 = str(tmp_path / "hive_jvm")
    d5 = str(tmp_path / "hive_py")
    part = spark.range(12).selectExpr("id", "concat('g', id % 3) AS k")
    assert write(part, d4, mode="overwrite", partition_by="k") == "quiverjvm"
    assert (
        write(part, d5, mode="overwrite", partition_by="k",
              require_not_null="id")
        == "quiverjvm"
    )
    import glob as _glob

    keys = lambda d: sorted(  # noqa: E731
        os.path.basename(p)
        for p in _glob.glob(os.path.join(d, "**", "k=*"), recursive=True)
    )
    assert keys(d4) == ["k=g0", "k=g1", "k=g2"]
    assert keys(d5) == ["k=g0", "k=g1", "k=g2"]
    assert back(d4) == back(d5) == sorted(map(tuple, part.collect()))

    # 7. modes outside the contract refuse loudly
    with pytest.raises(ValueError, match="mode"):
        write(src, str(tmp_path / "x"), mode="ignore")


def test_overwrite_of_existing_flat_table_swaps_a_generation(spark, tmp_path):
    """sources.write stages an overwrite of a directory that already
    holds a table and swaps it in as a new generation, even when the
    table is flat (no ``_current`` yet). A direct JVM overwrite deletes
    the table's files before any task runs, so an overwrite that reads
    its own destination lost every file, and one whose task failed left
    an unreadable table."""
    _require_jar(spark)
    from quiver_spark.sources import scan, write

    src = spark.range(1000).selectExpr("id AS k", "concat('v', id) AS s")

    def rows(d):
        return sorted(map(tuple, scan(spark, d).collect()))

    # in place: the new snapshot holds exactly the filtered rows
    t1 = str(tmp_path / "filtered")
    assert write(src, t1) == "quiverjvm"
    assert not os.path.exists(os.path.join(t1, "_current"))
    kept = scan(spark, t1).filter("k >= 500")
    assert write(kept, t1, mode="overwrite") == "quiverjvm"
    assert rows(t1) == [(k, f"v{k}") for k in range(500, 1000)]

    # a failing overwrite leaves the old rows readable
    t2 = str(tmp_path / "failed")
    assert write(src, t2) == "quiverjvm"
    before = rows(t2)
    boom = scan(spark, t2).selectExpr(
        "if(k >= 0, raise_error('overwrite task failed'), k) AS k", "s"
    )
    with pytest.raises(Exception, match="overwrite task failed"):
        write(boom, t2, mode="overwrite")
    assert rows(t2) == before
