"""JVM reader robustness — the quiverjvm twin of test_format_robustness.

The Python DS fuzz matrix (truncation / garble / blob fuzz / bit flips)
targeted only format/reader.py; the JVM decoder reads the same untrusted
files (round 15, VERDICT r14 Next #4). Contract: every malformed input
raises a clean exception — no hang, no fabricated rows, no JVM crash.
Reference precedent inverted: the reference reader trusts its writer
(/root/reference/src/read/read_basic.rs:59 `unreachable!`); a fleet
deployment must not.
"""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pytest

from quiver_spark.format.writer import write_table


def _require_jar(spark):
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")


@pytest.fixture(scope="module")
def jvm_sample(tmp_path_factory):
    """A healthy single-file table dir (no manifest, so planning reads
    the real footer) + its bytes + the expected rows."""
    rng = np.random.default_rng(7)
    n = 2000
    t = pa.table(
        {
            "i": pa.array(rng.integers(0, 100, n), pa.int32()),
            "s": pa.array([f"v{v}" for v in rng.integers(0, 50, n)]),
            "f": pa.array(rng.normal(size=n)),
        }
    )
    d = str(tmp_path_factory.mktemp("jvmrobust") / "tbl")
    os.makedirs(d)
    path = os.path.join(d, "part-0.quiver")
    write_table(t, path)
    with open(path, "rb") as fh:
        return t, d, path, fh.read()


def _scan(spark, d):
    return spark.read.format("quiverjvm").load(d).collect()


def _write_dir(tmp_path, name, blob, sidecar_src=None):
    d = str(tmp_path / name)
    os.makedirs(d)
    p = os.path.join(d, "part-0.quiver")
    with open(p, "wb") as fh:
        fh.write(blob)
    if sidecar_src is not None:
        shutil.copy(sidecar_src, p + ".stats.json")
    return d


def test_jvm_roundtrip_intact(spark, jvm_sample):
    _require_jar(spark)
    t, d, _path, _data = jvm_sample
    got = sorted(map(tuple, _scan(spark, d)))
    want = sorted(zip(*[c.to_pylist() for c in t.columns]))
    assert got == want


def test_jvm_truncation_always_raises(spark, jvm_sample, tmp_path):
    """Any strict prefix of a valid file must raise — never be read as a
    shorter-but-valid table, never fabricate rows."""
    _require_jar(spark)
    _t, _d, _path, data = jvm_sample
    n = len(data)
    cuts = sorted(
        {0, 1, 7, 8, n // 4, n // 2, 3 * n // 4, n - 32, n - 16, n - 12,
         n - 8, n - 4, n - 1}
    )
    for cut in cuts:
        d = _write_dir(tmp_path, f"cut{cut}", data[:cut])
        with pytest.raises(Exception):
            _scan(spark, d)


def test_jvm_overwritten_footer_raises(spark, jvm_sample, tmp_path):
    _require_jar(spark)
    _t, _d, _path, data = jvm_sample
    for tail in (4, 12, 64):
        d = _write_dir(tmp_path, f"garbled{tail}", data[:-tail] + b"\xaa" * tail)
        with pytest.raises(Exception):
            _scan(spark, d)


def test_jvm_wrong_magic_raises(spark, jvm_sample, tmp_path):
    _require_jar(spark)
    _t, _d, _path, data = jvm_sample
    d = _write_dir(tmp_path, "magic", b"PAR1" + data[4:])
    with pytest.raises(Exception):
        _scan(spark, d)


def test_jvm_random_bytes_never_hang_or_crash(spark, jvm_sample, tmp_path):
    """Seeded random blobs + adversarial EOS trailers with hostile size
    fields: every one must raise cleanly (the 2^31-1 sizes previously
    probed allocation behavior on the Python side; the JVM must bound
    them the same way, not OOM)."""
    _require_jar(spark)
    from quiver_spark.format.constants import EOS

    rng = np.random.default_rng(42)
    blobs = [bytes(rng.integers(0, 256, n, dtype=np.uint8)) for n in
             (0, 1, 8, 16, 32, 64, 200, 1000, 5000) for _ in range(3)]
    for schema_size, meta_size in [
        (0, 0), (1, 1), (2**31 - 1, 2**31 - 1), (0, 2**32 - 9),
        (123456, 0), (0, 123456),
    ]:
        body = bytes(rng.integers(0, 256, 64, dtype=np.uint8))
        blobs.append(body + struct.pack("<II", schema_size, meta_size) + EOS)
    failures = []
    for i, blob in enumerate(blobs):
        d = _write_dir(tmp_path, f"fuzz{i}", blob)
        try:
            rows = _scan(spark, d)
            failures.append((i, len(rows)))
        except Exception:
            pass
    assert not failures, f"garbage blobs decoded 'successfully': {failures}"


def test_jvm_page_bit_flip_detected(spark, jvm_sample, tmp_path):
    """A flipped byte inside a page body under a valid CRC sidecar must
    raise — the Python reader's checksum contract, now required of the
    JVM decoder too (wrong rows here would poison downstream silently)."""
    _require_jar(spark)
    _t, _dd, path, data = jvm_sample
    mid = len(data) // 3
    flipped = data[:mid] + bytes([data[mid] ^ 0xFF]) + data[mid + 1:]
    d = _write_dir(tmp_path, "flip", flipped, sidecar_src=path + ".stats.json")
    with pytest.raises(Exception, match="(?i)checksum|crc|corrupt"):
        _scan(spark, d)


def test_jvm_corrupt_sidecar_never_blocks_reads(spark, jvm_sample, tmp_path):
    """A garbled/truncated/wrong-shape stats sidecar must only disable
    verification — the scan itself succeeds (Python reader parity)."""
    _require_jar(spark)
    t, _d, path, data = jvm_sample
    want = sorted(zip(*[c.to_pylist() for c in t.columns]))
    for i, garbage in enumerate(
        [b"", b"{", b"\x00\xff\x13garbage", b'{"version": 99}',
         b'{"version": 1, "page_rows": [1], "page_crc32": [[123]]}']
    ):
        d = _write_dir(tmp_path, f"side{i}", data)
        with open(os.path.join(d, "part-0.quiver.stats.json"), "wb") as fh:
            fh.write(garbage)
        assert sorted(map(tuple, _scan(spark, d))) == want, f"sidecar #{i}"


def test_jvm_written_bit_flip_detected_by_both_engines(spark, tmp_path):
    """The JVM writer's own sidecar crc32s must round-trip: flip a byte in
    a quiverjvm-written page and BOTH engines' readers refuse it (the
    crc format is shared, so protection is engine-symmetric)."""
    _require_jar(spark)
    import glob

    src = str(tmp_path / "src")
    spark.range(5000).selectExpr(
        "id", "concat('v', id) AS s"
    ).coalesce(1).write.format("quiverjvm").mode("overwrite").save(src)
    [f] = glob.glob(os.path.join(src, "*.quiver"))
    with open(f, "rb") as fh:
        data = fh.read()
    mid = len(data) // 3
    with open(f, "wb") as fh:
        fh.write(data[:mid] + bytes([data[mid] ^ 0xFF]) + data[mid + 1:])
    # drop the manifest so planning cannot vouch for stale bytes either
    with pytest.raises(Exception, match="(?i)checksum|crc|corrupt"):
        spark.read.format("quiverjvm").load(src).collect()
    from quiver_spark.sources import register

    register(spark)
    with pytest.raises(Exception, match="(?i)checksum|crc|corrupt"):
        spark.read.format("quiver").option(
            "planning_parallelism", "8"
        ).load(src).collect()


def test_jvm_count_pushdown_reads_zero_pages(spark, tmp_path):
    """COUNT(*) pushdown is metadata-served end-to-end: corrupt EVERY
    page body of a table (valid footers, valid manifest) and the bare
    count still answers exactly — proof no page is opened — while any
    column read refuses loudly via the crc check. Filters / limits /
    grouping refuse the pushdown and count through the normal scan."""
    _require_jar(spark)
    import glob

    d = str(tmp_path / "tbl")
    spark.range(20000).selectExpr("id", "id * 2 AS v").repartition(
        3
    ).write.format("quiverjvm").mode("overwrite").save(d)
    for f in glob.glob(os.path.join(d, "*.quiver")):
        with open(f, "rb") as fh:
            data = fh.read()
        # smash a mid-file byte per page region: flip every 512th byte of
        # the first half (pages live before the footer)
        body = bytearray(data)
        for i in range(64, len(body) // 2, 512):
            body[i] ^= 0xFF
        with open(f, "wb") as fh:
            fh.write(bytes(body))
    df = spark.read.format("quiverjvm").load(d)
    assert df.count() == 20000
    plan = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    assert "count(*)" in plan.split("BatchScan")[-1], plan
    # SUM(id), COUNT(col), and AVG (partial SUM+COUNT rewrite) all answer
    # from metadata now (round 16) — still zero page reads
    assert df.selectExpr("sum(id)").collect()[0][0] == sum(range(20000))
    assert df.selectExpr("count(id)").collect()[0][0] == 20000
    assert df.selectExpr("avg(id)").collect()[0][0] == sum(range(20000)) / 20000
    # COUNT(DISTINCT col) is NOT pushable — it must actually read pages
    # and refuse loudly via the crc check
    with pytest.raises(Exception):
        df.selectExpr("count(distinct id)").collect()
    # a filtered count does NOT push down (and here fails loudly on the
    # corrupt pages instead of fabricating a number)
    fplan = (
        df.filter("id > 10").groupBy().count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "count(*)" not in fplan.split("BatchScan")[-1], fplan


def test_jvm_minmax_pushdown_edges(spark, tmp_path):
    """MIN/MAX pushdown edges: null-skipping matches Spark semantics, an
    all-null column answers NULL, manifest-less dirs / partition columns
    / default-filled columns / float columns refuse the pushdown and
    still answer exactly through the normal scan."""
    _require_jar(spark)
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id,"
        " IF(id % 3 = 0, NULL, CAST(id % 50 AS INT)) AS nly,"
        " CAST(NULL AS INT) AS alln,"
        " CAST(rand(7) AS DOUBLE) AS f,"
        " concat('g', id % 2) AS k"
        " FROM range(10000)"
    ).repartition(2).write.format("quiverjvm").partitionBy("k").mode(
        "overwrite"
    ).save(d)
    df = spark.read.format("quiverjvm").load(d)

    def agg_plan(df_agg):
        return df_agg._jdf.queryExecution().executedPlan().toString()

    # nulls skipped exactly (min over nly excludes the NULL rows):
    # pushed answer must equal the unpushed one (the filter blocks the
    # pushdown, forcing the normal scan as the reference)
    q = df.agg(F.min("nly"), F.max("nly"), F.count(F.lit(1)))
    assert "min(nly)" in agg_plan(q).split("BatchScan")[-1]
    ref = df.filter(F.col("id") >= 0).agg(
        F.min("nly"), F.max("nly"), F.count(F.lit(1))
    )
    assert "min(nly)" not in agg_plan(ref).split("BatchScan")[-1]
    assert tuple(q.collect()[0]) == tuple(ref.collect()[0])
    # all-null column answers NULL through the pushdown
    q2 = df.agg(F.min("alln"))
    assert "min(alln)" in agg_plan(q2).split("BatchScan")[-1]
    assert q2.collect()[0][0] is None
    # float and partition-column extrema refuse but stay correct
    for col in ("f", "k"):
        qq = df.agg(F.min(col))
        assert f"min({col})" not in agg_plan(qq).split("BatchScan")[-1]
    assert df.agg(F.min("k")).collect()[0][0] == "g0"
    # manifest-less dir: still pushes via the on-disk sidecars (the same
    # O(files) plan cost such a dir already pays), value-identical
    import glob as _glob
    import os as _os

    man = _os.path.join(d, "_manifest.json.gz")
    raw = open(man, "rb").read()
    _os.remove(man)
    df2 = spark.read.format("quiverjvm").load(d)
    q3 = df2.agg(F.min("nly"), F.max("nly"))
    assert "min(nly)" in agg_plan(q3).split("BatchScan")[-1]
    assert tuple(q3.collect()[0]) == tuple(ref.collect()[0])[:2]
    # no sidecars either: refuses the pushdown, still exact
    sidecars = {
        p: open(p, "rb").read()
        for p in _glob.glob(_os.path.join(d, "**", "*.stats.json"),
                            recursive=True)
    }
    for p in sidecars:
        _os.remove(p)
    df3 = spark.read.format("quiverjvm").load(d)
    q4 = df3.agg(F.min("nly"))
    assert "min(nly)" not in agg_plan(q4).split("BatchScan")[-1]
    assert q4.collect()[0][0] == ref.collect()[0][0]
    for p, blob in sidecars.items():
        with open(p, "wb") as fh:
            fh.write(blob)
    with open(man, "wb") as fh:
        fh.write(raw)


def test_jvm_minmax_refuses_stale_zone_maps(spark, tmp_path):
    """A shape-inconsistent (truncated) min/max array in an otherwise
    vouched sidecar must REFUSE the pushdown — skipping the missing page
    would silently change the answer (round-15 review finding). The
    query still answers exactly through the normal scan."""
    _require_jar(spark)
    import glob
    import gzip
    import json

    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    spark.range(10000).selectExpr("id").coalesce(1).write.format(
        "quiverjvm"
    ).option("max_page_size", "1024").mode("overwrite").save(d)
    man_path = glob.glob(os.path.join(d, "_manifest.json.gz"))[0]
    man = json.loads(gzip.decompress(open(man_path, "rb").read()))
    for e in man["files"].values():
        sc = e["sidecar"]
        sc["columns"]["id"]["min"] = sc["columns"]["id"]["min"][:-1]
        sc["columns"]["id"]["max"] = sc["columns"]["id"]["max"][:-1]
        sc["columns"]["id"]["sum"] = sc["columns"]["id"]["sum"][:-1]
    with open(man_path, "wb") as fh:
        fh.write(gzip.compress(json.dumps(man).encode()))
    df = spark.read.format("quiverjvm").load(d)
    q = df.agg(F.min("id"), F.max("id"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "min(id)" not in plan.split("BatchScan")[-1], plan
    assert tuple(q.collect()[0]) == (0, 9999)
    # SUM has its own array: a stale sum with intact min/max refuses the
    # SUM pushdown independently (and vice versa — the truncated min/max
    # above never poisoned sum)
    qs_ = df.agg(F.sum("id"))
    assert "sum(id)" not in (
        qs_._jdf.queryExecution().executedPlan().toString().split("BatchScan")[-1]
    )
    assert qs_.collect()[0][0] == 9999 * 10000 // 2
    # COUNT rides the entry's row count and still pushes
    qc = df.groupBy().count()
    assert "count(*)" in (
        qc._jdf.queryExecution().executedPlan().toString().split("BatchScan")[-1]
    )
    assert qc.collect()[0][0] == 10000


def test_jvm_count_pushdown_all_nested_prefix_fallback(spark, tmp_path):
    """COUNT(*) over an all-nested manifest-LESS table: no flat leaf
    carries row counts, so the plan-time count reads each page's 4-byte
    rows prefix (the normal reader's fallback) instead of erroring
    (round-15 review finding)."""
    _require_jar(spark)
    import glob

    from pyspark.sql import functions as F

    d = str(tmp_path / "nested")
    spark.sql(
        "SELECT array(id, id + 1) AS a, map('k', id) AS m FROM range(5000)"
    ).coalesce(1).write.format("quiverjvm").option(
        "max_page_size", "512"
    ).mode("overwrite").save(d)
    for m in glob.glob(os.path.join(d, "_manifest.json.gz")):
        os.remove(m)
    df = spark.read.format("quiverjvm").load(d)
    q = df.groupBy().agg(F.count(F.lit(1)).alias("n"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "count(*)" in plan.split("BatchScan")[-1], plan
    assert q.collect()[0][0] == 5000


def test_header_pad_bytes_checked_by_both_engines(spark, jvm_sample, tmp_path):
    """The 8-byte magic (ARROW2 + 2 zero pad) is enforced as a whole by
    BOTH engines, including on files larger than the Python reader's
    64 KiB footer tail — an engine-dependent accept/reject would break
    the unified scan's routing-never-changes-results contract
    (round-15 review finding)."""
    _require_jar(spark)
    from quiver_spark.format.reader import read_table

    _t, _d, _path, data = jvm_sample
    corrupted = data[:6] + b"\x01" + data[7:]
    d = _write_dir(tmp_path, "pad", corrupted)
    with pytest.raises(Exception, match="(?i)magic"):
        _scan(spark, d)
    with pytest.raises(Exception, match="(?i)magic"):
        read_table(os.path.join(d, "part-0.quiver"))
    # big file (> the 64 KiB tail): the Python reader now pays the
    # 8-byte header read instead of skipping the check
    import pyarrow as pa

    rng2 = np.random.default_rng(11)
    big = pa.table(
        {"s": pa.array([rng2.bytes(48).hex() for _ in range(3000)])}
    )  # incompressible: the file must exceed the 64 KiB footer tail
    from quiver_spark.format.writer import write_table

    bp = str(tmp_path / "big.quiver")
    write_table(big, bp)
    with open(bp, "rb") as fh:
        bd = fh.read()
    assert len(bd) > 65536
    bad = str(tmp_path / "bigbad.quiver")
    with open(bad, "wb") as fh:
        fh.write(b"PAR1" + bd[4:])
    with pytest.raises(Exception, match="(?i)magic"):
        read_table(bad)


def test_unified_scan_empty_file_column_is_absent(spark, tmp_path):
    """file_column='' means ABSENT on both engines (the Python DS's
    `if fcol:` contract) — the JVM translation must not emit an
    empty-named metadata column (round-15 review finding)."""
    _require_jar(spark)
    from quiver_spark.sources import register, scan

    register(spark)
    d = str(tmp_path / "t")
    spark.range(10).selectExpr("id").write.format("quiver").mode(
        "overwrite"
    ).save(d)
    df = scan(spark, d, file_column="")
    assert df.columns == ["id"]
    pydf = (
        spark.read.format("quiver").option("file_column", "").load(d)
    )
    assert pydf.columns == ["id"]


def test_jvm_grouped_aggregate_pushdown(spark, tmp_path):
    """GROUP BY over Hive PARTITION columns pushes with the aggregates —
    per-group COUNT/MIN/MAX/SUM answer from path values + manifest
    metadata (the per-day-counts-over-100TB query). Null partitions
    group as NULL; grouping by a DATA column refuses; results equal the
    normal scan's exactly."""
    _require_jar(spark)
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id, IF(id % 11 = 0, NULL, concat('g', id % 3)) AS k"
        " FROM range(12000)"
    ).repartition(3).write.format("quiverjvm").partitionBy("k").mode(
        "overwrite"
    ).save(d)
    df = spark.read.format("quiverjvm").load(d)
    q = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.sum("id").alias("s"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "count(*)" in plan.split("BatchScan")[-1], plan
    ref = df.filter(F.col("id") >= 0).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
        F.sum("id").alias("s"),
    )
    key = lambda r: (r[0] is None, r)  # noqa: E731
    assert sorted(map(tuple, q.collect()), key=key) == sorted(
        map(tuple, ref.collect()), key=key
    )
    # grouping by a data column refuses and stays exact
    q2 = df.groupBy((F.col("id") % 2).alias("m")).count()
    assert "count(*)" not in (
        q2._jdf.queryExecution().executedPlan().toString().split("BatchScan")[-1]
    )
    assert sorted(map(tuple, q2.collect())) == [(0, 6000), (1, 6000)]


def test_jvm_grouped_pushdown_control_char_partition_values(spark, tmp_path):
    """Partition values containing the very control characters a naive
    concatenated group key would use (\\x00/\\x01, percent-escaped in the
    path and UNQUOTED at discovery) must group as distinct keys, and a
    NULL partition must stay distinct from a literal \\x01 value — the
    group key is the raw-value list itself (round-15 second review)."""
    _require_jar(spark)
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id, CASE CAST(id % 3 AS INT)"
        " WHEN 0 THEN NULL"
        " WHEN 1 THEN '\x01'"
        " ELSE concat('a', CHAR(0), 'b') END AS k"
        " FROM range(300)"
    ).coalesce(1).write.format("quiverjvm").partitionBy("k").mode(
        "overwrite"
    ).save(d)
    df = spark.read.format("quiverjvm").load(d)
    q = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "count(*)" in plan.split("BatchScan")[-1], plan
    key = lambda r: (r[0] is None, r)  # noqa: E731
    got = sorted(map(tuple, q.collect()), key=key)
    ref = sorted(
        map(tuple, df.filter(F.col("id") >= 0).groupBy("k")
            .agg(F.count(F.lit(1)).alias("n")).collect()),
        key=key,
    )
    assert got == ref
    assert len(got) == 3 and all(n == 100 for _k, n in got)


def test_jvm_partition_filter_acceptance(spark, tmp_path):
    """Partition-column filters are ACCEPTED (consumed, not residual):
    path constants make whole-file filtering exact, so Spark drops its
    own re-filter and `count(*) WHERE day = X` rides the metadata
    aggregate pushdown. Data-column filters stay residual; string RANGE
    filters on partitions stay residual too (UTF8String vs Java string
    order diverge on supplementary code points); every accepted class is
    value-compared against the row-level reference."""
    _require_jar(spark)
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id, IF(id % 13 = 0, NULL, concat('g', id % 4)) AS k,"
        " CAST(id % 5 AS BIGINT) AS p FROM range(20000)"
    ).repartition(2).write.format("quiverjvm").partitionBy("k", "p").mode(
        "overwrite"
    ).save(d)
    df = spark.read.format("quiverjvm").load(d)
    for cond in (
        "k = 'g1'", "k IS NULL", "k IS NOT NULL AND p >= 3",
        "p IN (1, 4)", "p > 2 AND k = 'g0'", "k <=> NULL", "k >= 'g1'",
    ):
        got = sorted(map(tuple, df.filter(cond).collect()))
        want = sorted(
            map(tuple, df.filter("id >= 0").filter(cond).collect())
        )
        assert got == want, cond
    # accepted filters surface in the scan description and are consumed
    plan = (
        df.filter("k = 'g1'")._jdf.queryExecution().executedPlan().toString()
    )
    assert "partitionFilters" in plan, plan
    assert "Filter " not in plan.split("BatchScan")[0].replace(
        "RuntimeFilters", ""
    ), plan  # Spark dropped its re-filter for the accepted predicate
    # string RANGE on a partition column stays residual (row-level
    # Filter survives; the implicit IsNotNull conjunct is still accepted)
    plan2 = (
        df.filter("k > 'g1'")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Filter " in plan2 and "g1" in plan2.split("BatchScan")[0], plan2
    # filtered count: pure metadata even with every page corrupted
    import glob

    for f in glob.glob(os.path.join(d, "**", "*.quiver"), recursive=True):
        with open(f, "rb") as fh:
            data = fh.read()
        body = bytearray(data)
        for i in range(64, len(body) // 2, 512):
            body[i] ^= 0xFF
        with open(f, "wb") as fh:
            fh.write(bytes(body))
    df2 = spark.read.format("quiverjvm").load(d)
    q = df2.filter("k = 'g2'").groupBy().count()
    assert "count(*)" in (
        q._jdf.queryExecution().executedPlan().toString().split("BatchScan")[-1]
    )
    assert q.collect()[0][0] == sum(
        1 for i in range(20000) if i % 13 != 0 and i % 4 == 2
    )


def test_jvm_partition_filter_kind_stability(spark, tmp_path):
    """Mixed partition values ('01' next to 'batch1') force string kind;
    a consumed filter narrowing to the numeric-looking subset must NOT
    let kind re-inference flip the column to long and corrupt emitted
    values ('01' → 1) — the plan uses ONE pre-filter discovery
    (round-15 third review)."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id, IF(id % 2 = 0, '01', 'batch1') AS k FROM range(1000)"
    ).coalesce(1).write.format("quiverjvm").partitionBy("k").mode(
        "overwrite"
    ).save(d)
    df = spark.read.format("quiverjvm").load(d)
    rows = sorted(map(tuple, df.filter("k = '01'").collect()))
    assert rows == sorted((i, "01") for i in range(0, 1000, 2))
    g = [tuple(r) for r in df.filter("k = '01'").groupBy("k").count().collect()]
    assert g == [("01", 500)]


def test_jvm_partition_filter_signed_zero_doubles(spark, tmp_path):
    """Double-kind partitions (external layouts only — the JVM writer
    refuses double keys) compare with Spark SQL's double semantics:
    -0.0 = 0.0 is TRUE (the == short-circuit raw Double.compare lacks;
    round-15 third review)."""
    _require_jar(spark)
    import pyarrow as pa

    from quiver_spark.format.writer import write_table

    d = str(tmp_path / "t")
    for val, lo in (("-0.0", 0), ("0.5", 100)):
        os.makedirs(os.path.join(d, f"p={val}"))
        write_table(
            pa.table({"id": pa.array(range(lo, lo + 100), pa.int64())}),
            os.path.join(d, f"p={val}", "x.quiver"),
        )
    df = spark.read.format("quiverjvm").load(d)
    for cond in ("p = 0.0", "p > -0.0", "p <= 0.0"):
        a = sorted(r.id for r in df.filter(cond).collect())
        b = sorted(r.id for r in df.filter("id >= 0").filter(cond).collect())
        assert a == b, cond
