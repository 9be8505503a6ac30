"""Round-16 JVM reader pins: ADVICE r15 fixes (per-file schema vouching
in the aggregate pushdown, merge-schemas partition collision, nested key
dirs), COUNT(col)/AVG metadata pushdown, streaming partition-filter
enforcement, and the verify_checksums opt-out.

The hazard class is the same everywhere: an ACCEPTED (consumed) answer
must be exactly right or refused loudly — never silently wrong.
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pytest

from quiver_spark.format.writer import write_table


def _require_jar(spark):
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        pytest.skip("quiverjvm jar unavailable")


def _corrupt_pages(d):
    for f in glob.glob(os.path.join(d, "**", "*.quiver"), recursive=True):
        with open(f, "rb") as fh:
            body = bytearray(fh.read())
        for i in range(64, len(body) // 2, 512):
            body[i] ^= 0xFF
        with open(f, "wb") as fh:
            fh.write(bytes(body))


def _scan_section(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("BatchScan")[-1]


# ---- ADVICE r15 #1: per-file schema vouching in the agg pushdown ------


def test_agg_pushdown_refuses_mixed_physical_domains(spark, tmp_path):
    """A manifest-less dir holding a foreign same-named column in a
    different physical domain (date64 millis next to int64) is refused
    loudly by every normal read path — the MIN/MAX pushdown must not
    fold its sidecar stats into a mixed-domain answer instead (ADVICE
    r15 #1). The refusal comes when the relation is built, at plan
    time, so the plain scan and the aggregates all raise."""
    _require_jar(spark)
    import datetime

    d = str(tmp_path / "t")
    os.makedirs(d)
    write_table(
        pa.table({"x": pa.array([1, 2, 3], pa.int64())}),
        os.path.join(d, "a.quiver"),
    )
    # date64 stores 8-byte millis: integral sidecar stats in a domain
    # ~10^12 away from the int64 column's
    write_table(
        pa.table(
            {
                "x": pa.array(
                    [datetime.date(2024, 1, 1 + i) for i in range(3)],
                    pa.date64(),
                )
            }
        ),
        os.path.join(d, "b.quiver"),
    )
    def df():
        return spark.read.format("quiverjvm").load(d)

    with pytest.raises(Exception, match="table's types"):
        df().collect()
    with pytest.raises(Exception):
        df().selectExpr("max(x)").collect()
    with pytest.raises(Exception):
        df().selectExpr("count(x)").collect()


def test_agg_pushdown_refuses_unvouched_entry_schema(spark, tmp_path):
    """A manifest entry without an interned schema index cannot prove the
    wanted column's physical domain — the pushdown refuses and the
    normal scan (which reads the real footer) still answers exactly."""
    _require_jar(spark)
    import gzip

    d = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id * 3 AS v").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(d)
    man_path = os.path.join(d, "_manifest.json.gz")
    man = json.loads(gzip.decompress(open(man_path, "rb").read()))
    for entry in man["files"].values():
        entry.pop("schema", None)
    with open(man_path, "wb") as fh:
        fh.write(gzip.compress(json.dumps(man).encode()))
    df = spark.read.format("quiverjvm").load(d)
    q = df.selectExpr("min(v)")
    assert "min(v)" not in _scan_section(q)  # refused, normal scan runs
    assert q.collect()[0][0] == 0
    # the value-free COUNT(*) needs no schema vouch: still metadata-served
    assert "count(*)" in _scan_section(df.groupBy().count())
    assert df.count() == 1000


def test_agg_pushdown_refuses_stale_page_rows(spark, tmp_path):
    """A sidecar whose page_rows no longer reconciles with the vouched
    file row count is stale — COUNT(col)/MIN/MAX refuse (normal scan
    still answers); the value-free COUNT(*) (manifest rows) is
    unaffected."""
    _require_jar(spark)
    import gzip

    d = str(tmp_path / "t")
    spark.range(2000).selectExpr("id", "id % 7 AS v").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(d)
    man_path = os.path.join(d, "_manifest.json.gz")
    man = json.loads(gzip.decompress(open(man_path, "rb").read()))
    for entry in man["files"].values():
        entry["sidecar"]["page_rows"] = list(
            entry["sidecar"]["page_rows"]
        ) + [5]
        entry["sidecar"]["columns"]["v"]["nulls"] = list(
            entry["sidecar"]["columns"]["v"]["nulls"]
        ) + [0]
        entry["sidecar"]["columns"]["v"]["min"] = list(
            entry["sidecar"]["columns"]["v"]["min"]
        ) + [0]
        entry["sidecar"]["columns"]["v"]["max"] = list(
            entry["sidecar"]["columns"]["v"]["max"]
        ) + [0]
        entry["sidecar"]["columns"]["v"]["sum"] = list(
            entry["sidecar"]["columns"]["v"]["sum"]
        ) + [0]
    with open(man_path, "wb") as fh:
        fh.write(gzip.compress(json.dumps(man).encode()))
    df = spark.read.format("quiverjvm").load(d)
    q = df.selectExpr("count(v)")
    assert "count(v)" not in _scan_section(q)
    assert q.collect()[0][0] == 2000
    assert df.count() == 2000


# ---- round 16: COUNT(col) + AVG ride the metadata pushdown -------------


def test_countcol_and_avg_pushdown_read_zero_pages(spark, tmp_path):
    """COUNT(col) = Σ(page_rows − nulls) from the sidecar, and AVG rides
    as Spark's partial SUM+COUNT rewrite — proof by corruption: every
    page body smashed, the answers stay exact."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    spark.sql(
        "SELECT id, IF(id % 3 = 0, NULL, id * 2) AS v,"
        " IF(id % 5 = 0, NULL, concat('s', id)) AS s,"
        " CAST(NULL AS INT) AS alln"
        " FROM range(30000)"
    ).repartition(3).write.format("quiverjvm").mode("overwrite").save(d)
    _corrupt_pages(d)
    df = spark.read.format("quiverjvm").load(d)
    n_v = sum(1 for i in range(30000) if i % 3 != 0)
    assert "count(v)" in _scan_section(df.selectExpr("count(v)"))
    got = df.selectExpr(
        "count(v)", "count(s)", "count(alln)", "avg(v)", "avg(id)"
    ).collect()[0]
    assert got[0] == n_v
    assert got[1] == sum(1 for i in range(30000) if i % 5 != 0)
    assert got[2] == 0
    assert got[3] == sum(i * 2 for i in range(30000) if i % 3 != 0) / n_v
    assert got[4] == sum(range(30000)) / 30000
    # grouped by a partition column: still pure metadata
    d2 = str(tmp_path / "t2")
    spark.sql(
        "SELECT id, IF(id % 3 = 0, NULL, id) AS v, id % 4 AS p"
        " FROM range(8000)"
    ).coalesce(1).write.format("quiverjvm").partitionBy("p").mode(
        "overwrite"
    ).save(d2)
    _corrupt_pages(d2)
    g = (
        spark.read.format("quiverjvm")
        .load(d2)
        .groupBy("p")
        .agg({"v": "count"})
    )
    got2 = sorted(map(tuple, g.collect()))
    want2 = sorted(
        (p, sum(1 for i in range(8000) if i % 4 == p and i % 3 != 0))
        for p in range(4)
    )
    assert got2 == want2
    # COUNT(DISTINCT) never pushes — it reads pages and the crc refuses
    with pytest.raises(Exception):
        df.selectExpr("count(distinct v)").collect()


def test_countcol_refuses_truncated_nulls(spark, tmp_path):
    """A nulls array shorter than page_rows is stale shape: COUNT(col)
    refuses the pushdown and counts exactly through the normal scan."""
    _require_jar(spark)
    import gzip

    d = str(tmp_path / "t")
    spark.range(3000).selectExpr(
        "id", "IF(id % 2 = 0, NULL, id) AS v"
    ).coalesce(1).write.format("quiverjvm").mode("overwrite").save(d)
    man_path = os.path.join(d, "_manifest.json.gz")
    man = json.loads(gzip.decompress(open(man_path, "rb").read()))
    for entry in man["files"].values():
        entry["sidecar"]["columns"]["v"]["nulls"] = entry["sidecar"][
            "columns"
        ]["v"]["nulls"][:-1]
    with open(man_path, "wb") as fh:
        fh.write(gzip.compress(json.dumps(man).encode()))
    df = spark.read.format("quiverjvm").load(d)
    q = df.selectExpr("count(v)")
    assert "count(v)" not in _scan_section(q)
    assert q.collect()[0][0] == 1500


def test_pushed_sum_of_python_written_overflow_matches_spark(spark, tmp_path):
    """A page written by the Python writer whose running sum leaves int64
    stores a null SUM, so the pushed SUM is refused and Spark's own
    aggregate answers as it does over the same rows without the pushdown:
    ARITHMETIC_OVERFLOW under ANSI, the wrapped sum without. A page whose
    sum stays in range still answers from the sidecar."""
    _require_jar(spark)

    def outcome(df):
        try:
            return df.selectExpr("sum(c)").collect()[0][0]
        except Exception as exc:  # noqa: BLE001 — compared with Spark's own outcome
            return "ARITHMETIC_OVERFLOW" if "ARITHMETIC_OVERFLOW" in str(exc) else repr(exc)

    for name, rows, pushed in (("over", [2**62, 2**62, 1], False), ("in", [2**62, -5, 7], True)):
        d = str(tmp_path / name)
        os.makedirs(d)
        write_table(pa.table({"c": pa.array(rows, pa.int64())}), os.path.join(d, "part-0.quiver"))
        df = spark.read.format("quiverjvm").load(d)
        assert ("sum(c)" in _scan_section(df.selectExpr("sum(c)"))) == pushed
        assert outcome(df) == outcome(spark.createDataFrame([(v,) for v in rows], "c long"))


# ---- ADVICE r15 #2: merge-schemas partition collisions -----------------


def test_merge_schemas_key_dir_collision_data_wins(spark, tmp_path):
    """merge-schemas table where a LATER file carries a data column named
    like the key dir: the union schema classifies it as a data column
    (data wins), so its values come from file bytes — null-filled where
    absent — and filters on it stay residual instead of being consumed
    against the path constants (ADVICE r15 #2)."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    os.makedirs(os.path.join(d, "day=1"))
    os.makedirs(os.path.join(d, "day=2"))
    write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}),
        os.path.join(d, "day=1", "a.quiver"),
    )
    write_table(
        pa.table(
            {
                "id": pa.array([3, 4], pa.int64()),
                "day": pa.array([99, 99], pa.int64()),
            }
        ),
        os.path.join(d, "day=2", "b.quiver"),
    )
    df = (
        spark.read.format("quiverjvm")
        .option("merge_schemas", "true")
        .load(d)
    )
    rows = {r.id: r.day for r in df.collect()}
    assert rows == {1: None, 2: None, 3: 99, 4: 99}
    # the filter must see the DATA values (99), not the path constants
    assert sorted(r.id for r in df.filter("day = 99").collect()) == [3, 4]
    assert df.filter("day = 2").count() == 0
    assert sorted(r.id for r in df.filter("day IS NULL").collect()) == [1, 2]


# ---- ADVICE r15 #3: key dirs below grouping dirs ------------------------


def test_nested_key_dir_partition_filter_accepted(spark, tmp_path):
    """Hive key segments below a plain grouping dir (root/batch/day=N/…)
    are real partition columns — filters on them are ACCEPTED (consumed)
    and `count(*) WHERE day = X` stays pure metadata (ADVICE r15 #3
    restored the acceptance the root-only probe silently lost)."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    for day, lo in ((1, 0), (2, 100)):
        sub = os.path.join(d, "batch", f"day={day}")
        os.makedirs(sub)
        write_table(
            pa.table({"id": pa.array(range(lo, lo + 100), pa.int64())}),
            os.path.join(sub, "x.quiver"),
        )
    df = spark.read.format("quiverjvm").load(d)
    q = df.filter("day = 2")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "partitionFilters" in plan, plan
    assert sorted(r.id for r in q.collect()) == list(range(100, 200))
    # proof of whole-file metadata filtering: corrupt pages, count still
    # answers for the filtered partition
    _corrupt_pages(d)
    df2 = spark.read.format("quiverjvm").load(d)
    assert df2.filter("day = 1").count() == 100


# ---- round 16: streaming partition-filter enforcement -------------------


def test_stream_enforces_accepted_partition_filters(spark, tmp_path):
    """An accepted partition filter reaching a STREAMING scan is now
    ENFORCED per micro-batch instead of refused: only matching files are
    planned, offsets stay monotone over ALL files, and a restart from
    the serialized end offset (a checkpoint restart) keeps filtering."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    for day in (1, 2):
        os.makedirs(os.path.join(d, f"day={day}"))
        write_table(
            pa.table({"id": pa.array(range(10), pa.int64())}),
            os.path.join(d, f"day={day}", "x.quiver"),
        )
    J = spark._jvm.io.quiverspark.QuiverJvmRead
    out1 = json.loads(J.streamPartFilterProbe(d, "day", "long", 1, ""))
    assert out1["files"] == ["day=1/x.quiver"]
    # end offset is monotone over ALL files, including filtered-out ones
    assert sorted(json.loads(out1["end"])["files"]) == [
        "day=1/x.quiver",
        "day=2/x.quiver",
    ]
    # grow both partitions, restart from the serialized end offset
    for day in (1, 2):
        write_table(
            pa.table({"id": pa.array(range(5), pa.int64())}),
            os.path.join(d, f"day={day}", "y.quiver"),
        )
    out2 = json.loads(
        J.streamPartFilterProbe(d, "day", "long", 1, out1["end"])
    )
    assert out2["files"] == ["day=1/y.quiver"]
    assert len(json.loads(out2["end"])["files"]) == 4


# ---- round 16: verify_checksums opt-out ---------------------------------


def test_verify_checksums_opt_out(spark, tmp_path):
    """verify_checksums=false skips the sidecar crc verification (the
    bench A/B knob): healthy tables read identically, and a flipped page
    byte that the default read refuses is no longer crc-detected."""
    _require_jar(spark)
    d = str(tmp_path / "t")
    spark.range(5000).selectExpr("id", "id * 2 AS v").coalesce(1).write.format(
        "quiverjvm"
    ).mode("overwrite").save(d)
    base = sorted(
        map(tuple, spark.read.format("quiverjvm").load(d).collect())
    )
    fast = sorted(
        map(
            tuple,
            spark.read.format("quiverjvm")
            .option("verify_checksums", "false")
            .load(d)
            .collect(),
        )
    )
    assert fast == base
    # default path still refuses a corrupt page loudly
    f = glob.glob(os.path.join(d, "*.quiver"))[0]
    with open(f, "rb") as fh:
        body = bytearray(fh.read())
    body[len(body) // 4] ^= 0xFF
    with open(f, "wb") as fh:
        fh.write(bytes(body))
    with pytest.raises(Exception):
        spark.read.format("quiverjvm").load(d).collect()
