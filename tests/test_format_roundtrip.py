"""Round-trip tests for the quiver format, mirroring the reference's own
strategy (tests/it/io.rs): seeded random data × codec-forcing matrix ×
page sizes, write → read → exact equality. Plus parquet cross-checks on the
driver's testdata."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from quiver_spark.format.reader import read_meta, read_table
from quiver_spark.format.writer import WriteOptions, write_table

RNG = np.random.default_rng(42)


def _random_table(n: int, null_density: float, uniq: int | None) -> pa.Table:
    def maybe_null(arr):
        if null_density == 0:
            return None
        return RNG.random(n) < null_density

    ints = RNG.integers(0, uniq or 2**31, size=n, dtype=np.int64)
    i32 = RNG.integers(0, uniq or 2**20, size=n, dtype=np.int32)
    dbls = np.round(RNG.random(n) * (uniq or 1000), 3)
    flts = dbls.astype(np.float32)
    bools = RNG.integers(0, 2, size=n).astype(bool)
    strs = np.array(
        [f"s{v}" for v in RNG.integers(0, uniq or 10_000, size=n)], dtype=object
    )
    cols = {
        "i64": pa.array(ints, mask=maybe_null(ints)),
        "i32": pa.array(i32, mask=maybe_null(i32)),
        "f64": pa.array(dbls, mask=maybe_null(dbls)),
        "f32": pa.array(flts, mask=maybe_null(flts)),
        "b": pa.array(bools, mask=maybe_null(bools)),
        "s": pa.array(strs, mask=maybe_null(strs), type=pa.string()),
    }
    return pa.table(cols)


def _assert_tables_equal(a: pa.Table, b: pa.Table):
    assert a.schema.names == b.schema.names
    a, b = a.combine_chunks(), b.combine_chunks()
    for name in a.schema.names:
        ca, cb = a.column(name), b.column(name)
        assert ca.to_pylist() == cb.to_pylist(), f"column {name} differs"


CODEC_MATRIX = ["none", "lz4", "zstd", "snappy"]


@pytest.mark.parametrize("codec", CODEC_MATRIX)
@pytest.mark.parametrize("null_density", [0.0, 0.3])
def test_roundtrip_basic_codecs(tmp_path, codec, null_density):
    t = _random_table(5000, null_density, None)
    path = str(tmp_path / "t.quiver")
    write_table(
        t, path, WriteOptions(default_codec=codec, compress_ratio=None, max_page_size=2048)
    )
    _assert_tables_equal(t, read_table(path))


@pytest.mark.parametrize("null_density", [0.0, 0.2, 0.5])
def test_roundtrip_adaptive(tmp_path, null_density):
    """Adaptive chooser on low-cardinality data → dict/rle/freq pages."""
    t = _random_table(6000, null_density, uniq=8)
    path = str(tmp_path / "t.quiver")
    write_table(t, path, WriteOptions(compress_ratio=2.0, max_page_size=2048))
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_forced_codecs(tmp_path):
    """The analogue of the reference's forced-codec CI matrix
    (STRAWBOAT_* envs, src/util/env.rs:20-24): shrink the candidate set so
    a targeted codec wins, then round-trip."""
    cases = {
        "freq": pa.table(
            {"x": pa.array(np.where(RNG.random(4096) < 0.95, 1000, RNG.integers(0, 1 << 20, 4096)).astype(np.int64))}
        ),
        "dict": pa.table({"x": pa.array(RNG.integers(0, 5, 4096).astype(np.int64))}),
        "rle": pa.table({"x": pa.array(np.repeat(np.arange(16, dtype=np.int64), 256))}),
        "one_value": pa.table({"x": pa.array(np.full(4096, 7, dtype=np.int64))}),
        "bitpacking": pa.table({"x": pa.array(RNG.integers(0, 1 << 10, 4096).astype(np.int32))}),
        "delta_bitpacking": pa.table({"x": pa.array(np.sort(RNG.integers(0, 1 << 20, 4096)).astype(np.int32))}),
        "patas": pa.table({"x": pa.array(np.tile(np.round(RNG.random(64) * 10, 1), 64))}),
    }
    all_codecs = ("rle", "dict", "one_value", "freq", "bitpacking", "delta_bitpacking", "patas")
    for target, table in cases.items():
        forbidden = tuple(c for c in all_codecs if c != target)
        path = "/tmp/forced.quiver"
        write_table(
            table,
            path,
            WriteOptions(compress_ratio=1.01, max_page_size=4096, forbidden=forbidden),
        )
        got = read_table(path)
        _assert_tables_equal(table, got)


def test_roundtrip_decimal_cascade(tmp_path):
    """Decimal128/256 leaves run the Int128/Int256 integer cascade
    (src/compression/integer/traits.rs:30-39, exercised by the reference's
    tests/it/io.rs:48-75): force each eligible codec to win, round-trip,
    with and without nulls, across page boundaries."""
    import decimal

    def dec_col(vals, mask=None, precision=38, scale=4):
        ds = [None if (mask is not None and m) else decimal.Decimal(v) for v, m in
              zip(vals, mask if mask is not None else [False] * len(vals))]
        return pa.array(ds, type=pa.decimal128(precision, scale))

    n = 4096
    big = 10**30  # forces both u64 limbs into play
    rng_vals = [int(x) for x in RNG.integers(-(1 << 40), 1 << 40, n)]
    cases = {
        "one_value": dec_col([big] * n),
        "rle": dec_col([v * big // (10**28) for v in np.repeat(np.arange(16), n // 16)]),
        "dict": dec_col([(v % 5) * big for v in rng_vals]),
        "freq": dec_col([big if RNG.random() < 0.95 else v for v in rng_vals]),
    }
    all_codecs = ("rle", "dict", "one_value", "freq", "bitpacking", "delta_bitpacking", "patas")
    mask = RNG.random(n) < 0.15
    for target, col in cases.items():
        forbidden = tuple(c for c in all_codecs if c != target)
        for with_nulls in (False, True):
            arr = col
            if with_nulls:
                arr = dec_col([v.as_py() for v in col], mask=mask)
            table = pa.table({"d": arr})
            path = str(tmp_path / f"dec_{target}_{with_nulls}.quiver")
            write_table(
                table,
                path,
                WriteOptions(compress_ratio=1.01, max_page_size=1000, forbidden=forbidden),
            )
            _assert_tables_equal(table, read_table(path))
    # decimal256 takes the same path at width 32
    d256 = pa.array(
        [decimal.Decimal(10**50) * (i % 3) for i in range(n)],
        type=pa.decimal256(60, 2),
    )
    t256 = pa.table({"d": d256})
    path = str(tmp_path / "dec256.quiver")
    write_table(t256, path, WriteOptions(compress_ratio=1.01, max_page_size=1000,
                                         forbidden=tuple(c for c in all_codecs if c != "dict")))
    _assert_tables_equal(t256, read_table(path))


def test_patas_chosen_in_open_competition(tmp_path):
    """Patas as a first-class candidate of the DOUBLE chooser (reference
    candidate list [OneValue, Freq, Dict, Patas, RLE],
    src/compression/double/mod.rs:271-277): with NO codec forbidden, a
    doubles fixture whose mantissa granularity favors XOR compression must
    see the chooser pick patas on merit, and the file must round-trip.

    Fixture: distinct multiples of 1/16 near 1000 — too many uniques for
    Dict (unique*3 >= count), no 90% top value for Freq, no runs for RLE,
    but every XOR has >=38 trailing zeros, so patas stores ~2 significant
    bytes/value (ratio ~2x)."""
    from quiver_spark.format.stat import stat_file

    n = 4096
    vals = 1000.0 + RNG.permutation(n).astype(np.float64) / 16.0
    t = pa.table({"x": pa.array(vals)})
    path = str(tmp_path / "open.quiver")
    write_table(t, path, WriteOptions(compress_ratio=1.2, max_page_size=2048, forbidden=()))
    pages = stat_file(path)["x"]
    assert [p.codec for p in pages] == ["patas"] * len(pages), [
        p.codec for p in pages
    ]
    _assert_tables_equal(t, read_table(path))


def test_patas_pack_unpack_micro():
    """The reference's patas pack/unpack micro-test
    (src/compression/double/patas.rs:191-202) re-expressed over our
    encode/decode: bit-exact round-trip of f64 and f32 arrays covering the
    equal-value chain (sig_bytes=0 + trailing_zeros=nbits-1 trick), the
    8-significant-byte disambiguation quirk, and ring-buffer references
    older than the immediate predecessor."""
    from quiver_spark.format import patas as patas_mod

    f64_vals = np.array(
        [1.0, 1.0, 5.0, 1.0, 5.0, -0.0, 0.0, 1e300, -1e-300, 3.141592653589793]
        + [7.25] * 130  # push an equal-value ref past the 128 window
        + list(np.round(RNG.random(200) * 1e6, 6)),
        dtype=np.float64,
    )
    bits = f64_vals.view(np.uint64)
    out = patas_mod.decode(memoryview(patas_mod.encode(bits)), len(bits), np.dtype("<f8"))
    assert out.view(np.uint64).tolist() == bits.tolist()

    f32_vals = np.array([0.0, 0.0, 1.5, -1.5, 3.25, 3.25, 1e30], dtype=np.float32)
    bits32 = f32_vals.view(np.uint32)
    out32 = patas_mod.decode(
        memoryview(patas_mod.encode(bits32)), len(bits32), np.dtype("<f4")
    )
    assert out32.view(np.uint32).tolist() == bits32.tolist()


def test_patas_with_nulls_and_pages(tmp_path):
    """Patas across page boundaries with nulls (nulls ffill into the
    XOR chain, matching the reference's raw-buffer behavior)."""
    vals = np.round(RNG.random(3000) * 100, 2)
    mask = RNG.random(3000) < 0.2
    t = pa.table({"x": pa.array(vals, mask=mask)})
    path = str(tmp_path / "p.quiver")
    forbidden = ("rle", "dict", "one_value", "freq", "bitpacking", "delta_bitpacking")
    write_table(t, path, WriteOptions(compress_ratio=0.2, max_page_size=512, forbidden=forbidden))
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_string_specials(tmp_path):
    t = pa.table(
        {
            "s": pa.array(["", "a", None, "αβγ", "x" * 1000, "", None, "tail"]),
            "bin": pa.array([b"", b"\x00\xff", None, b"abc", b"", b"z", b"q", None], type=pa.binary()),
        }
    )
    path = str(tmp_path / "t.quiver")
    write_table(t, path, WriteOptions(max_page_size=3))
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_timestamps(tmp_path):
    t = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li.quiver")
    write_table(t, path, WriteOptions())
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_all_testdata_flat(tmp_path):
    """Parquet cross-check on every flat driver table (the reference's
    parquet interop examples, examples/strawboat_write.rs:57-67)."""
    for name in ["region", "nation", "customer", "supplier", "part", "orders", "documents"]:
        t = pq.read_table(f"/root/testdata/sf0.001/{name}.parquet")
        path = str(tmp_path / f"{name}.quiver")
        write_table(t, path, WriteOptions())
        _assert_tables_equal(t, read_table(path))


def test_page_range_and_pruning(tmp_path):
    t = _random_table(10_000, 0.1, 100)
    path = str(tmp_path / "t.quiver")
    write_table(t, path, WriteOptions(max_page_size=1000))
    with open(path, "rb") as f:
        metas = read_meta(f)
    assert len(metas[0].pages) == 10
    part = read_table(path, columns=["i64", "s"], page_start=3, page_end=5)
    assert part.num_rows == 2000
    assert part.schema.names == ["i64", "s"]
    expect = t.select(["i64", "s"]).slice(3000, 2000)
    _assert_tables_equal(expect, part)


def test_page_sum_is_null_once_a_running_sum_leaves_int64(tmp_path):
    """A page's stored SUM is null when its running sum, in row order,
    leaves int64 at any step (the JVM writer's Math.addExact), instead of
    the wrapped value pc.sum returns; sums that stay in range are exact."""
    from quiver_spark.format.stats import load_sidecar, page_stats

    big = 2**62
    assert page_stats(pa.array([big, big, 1]))[3] is None  # wraps to -2^63 + 1
    assert page_stats(pa.array([2**64 - 1, 1], pa.uint64()))[3] is None  # wraps to 0
    assert page_stats(pa.array([big, big, -big]))[3] is None  # in range only at the end
    assert page_stats(pa.array([-big, -big]))[3] is None  # -2^63 itself
    assert page_stats(pa.array([big, -big, big, None, 5]))[3] == big + 5
    assert page_stats(pa.array([2**63 - 1, 0], pa.uint64()))[3] == 2**63 - 1
    assert page_stats(pa.array([-(2**63), 1, 2]))[3] == -(2**63) + 3

    path = str(tmp_path / "t.quiver")
    write_table(pa.table({"c": pa.array([big, big, 1, 2, 3, 4])}), path,
                WriteOptions(max_page_size=3))
    assert load_sidecar(path)["columns"]["c"]["sum"] == [None, 9]


def test_empty_strings_column_all_null(tmp_path):
    t = pa.table({"s": pa.array([None, None, None], type=pa.string())})
    path = str(tmp_path / "t.quiver")
    write_table(t, path, WriteOptions())
    _assert_tables_equal(t, read_table(path))


# ---------------------------------------------------------------------------
# Nested types — the reference's nested matrix (tests/it/io.rs:167-278):
# struct / list / map / list-of-list / list-of-struct / list-of-map /
# struct-with-list, with random offsets and nulls.
# ---------------------------------------------------------------------------

import random as _random

_random.seed(42)


def _rand_list(gen, max_len=4, null_p=0.15):
    if _random.random() < null_p:
        return None
    return [gen() for _ in range(_random.randint(0, max_len))]


def _nested_cases() -> dict[str, pa.Array]:
    n = 800
    gi = lambda: None if _random.random() < 0.2 else _random.randint(0, 99)
    gs = lambda: None if _random.random() < 0.2 else _random.choice("abcdef") * _random.randint(0, 3)
    return {
        "struct": pa.array(
            [None if _random.random() < 0.1 else {"a": gi(), "b": gs()} for _ in range(n)],
            pa.struct([("a", pa.int64()), ("b", pa.string())]),
        ),
        "list": pa.array([_rand_list(gi) for _ in range(n)], pa.list_(pa.int64())),
        "map": pa.array(
            [None if _random.random() < 0.1 else [(f"k{j}", gi()) for j in range(_random.randint(0, 3))] for _ in range(n)],
            pa.map_(pa.string(), pa.int64()),
        ),
        "list_of_list": pa.array(
            [_rand_list(lambda: _rand_list(gi, 3)) for _ in range(n)],
            pa.list_(pa.list_(pa.int64())),
        ),
        "list_of_struct": pa.array(
            [_rand_list(lambda: {"a": gi(), "b": gs()}) for _ in range(n)],
            pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())])),
        ),
        "list_of_map": pa.array(
            [_rand_list(lambda: [(f"k{j}", gi()) for j in range(_random.randint(0, 2))]) for _ in range(n)],
            pa.list_(pa.map_(pa.string(), pa.int64())),
        ),
        "struct_with_list": pa.array(
            [None if _random.random() < 0.1 else {"l": _rand_list(gi), "s": gs()} for _ in range(n)],
            pa.struct([("l", pa.list_(pa.int64())), ("s", pa.string())]),
        ),
        "fixed_size_list": pa.array(
            [None if _random.random() < 0.1 else [_random.random(), _random.random()] for _ in range(n)],
            pa.list_(pa.float32(), 2),
        ),
    }


@pytest.mark.parametrize("codec", ["lz4", "zstd"])
def test_roundtrip_nested_matrix(tmp_path, codec):
    cases = _nested_cases()
    t = pa.table(cases)
    path = str(tmp_path / "nested.quiver")
    write_table(t, path, WriteOptions(default_codec=codec, max_page_size=100))
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_nested_page_range(tmp_path):
    t = pa.table(_nested_cases())
    path = str(tmp_path / "nested.quiver")
    write_table(t, path, WriteOptions(max_page_size=100))
    part = read_table(path, columns=["list", "struct"], page_start=2, page_end=5)
    expect = t.select(["list", "struct"]).slice(200, 300)
    _assert_tables_equal(expect, part)


def test_roundtrip_required_fixed_size_list_under_null_struct(tmp_path):
    """A non-nullable fixed_size_list field of a null struct has no
    shredded elements, yet Arrow wants k child values for it: the reader
    fills them with nulls instead of failing the page."""
    t = pa.struct([("x", pa.int64()), pa.field("v", pa.list_(pa.float64(), 2), nullable=False)])
    rows = [None if i % 3 == 0 else {"x": i, "v": [i * 0.5, None]} for i in range(50)]
    table = pa.table({"s": pa.array(rows, type=t)})
    path = str(tmp_path / "t.quiver")
    write_table(table, path, WriteOptions(max_page_size=16))
    _assert_tables_equal(table, read_table(path))


@pytest.mark.parametrize("kind", ["list", "fixed_size_list"])
def test_shred_unpacks_only_the_pages_child_validity(monkeypatch, kind):
    """A page of a list column reads its items' validity for its own items
    only: the child array Arrow hands out spans the whole column, and
    unpacking all of its bitmap on every page costs rows × pages."""
    from quiver_spark.format import nested

    n, k, page_rows = 20_000, 3, 1000
    items = pa.array(np.arange(n * k, dtype=np.int32), mask=np.arange(n * k) % 5 == 0)
    if kind == "list":
        arr = pa.ListArray.from_arrays(pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)), items)
    else:
        arr = pa.FixedSizeListArray.from_arrays(items, k)
    page = arr.slice(8192, page_rows)
    field = pa.field("c", arr.type)
    unpacked = []
    unpack = nested.unpack_bitmap

    def recording_unpack(buf, offset, length):
        unpacked.append(length)
        return unpack(buf, offset, length)

    monkeypatch.setattr(nested, "unpack_bitmap", recording_unpack)
    leaves = nested.shred(page, field)
    assert unpacked == [page_rows * k]
    assert nested.assemble(field, leaves).equals(page)


def test_roundtrip_embeddings_table(tmp_path):
    """Real nested testdata (embedding: list<float>) round-trips."""
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "emb.quiver")
    write_table(t, path, WriteOptions(max_page_size=256))
    _assert_tables_equal(t, read_table(path))


def test_roundtrip_decimal128(tmp_path):
    import decimal

    t = pa.table(
        {
            "d": pa.array(
                [None if i % 5 == 0 else decimal.Decimal(i * 7) / 100 for i in range(3000)],
                pa.decimal128(20, 4),
            ),
            "d2": pa.array(
                [decimal.Decimal(i) for i in range(3000)], pa.decimal128(38, 0)
            ),
        }
    )
    path = str(tmp_path / "dec.quiver")
    write_table(t, path, WriteOptions(default_codec="zstd", max_page_size=512))
    _assert_tables_equal(t, read_table(path))


def test_stat_codec_tree(tmp_path):
    """The stat diagnostic (reference stat_simple, src/stat.rs) reports the
    chosen codec per page, including recursive dict sub-codecs."""
    from quiver_spark.format.stat import describe, stat_file

    t = pa.table(
        {
            "lowcard": pa.array(RNG.integers(0, 5, 4096).astype(np.int64)),
            "seq": pa.array(np.full(4096, 3, dtype=np.int64)),
            "vecs": pa.array([[1.0, 2.0]] * 4096, pa.list_(pa.float64())),
        }
    )
    path = str(tmp_path / "s.quiver")
    write_table(t, path, WriteOptions(compress_ratio=1.5, max_page_size=2048))
    st = stat_file(path)
    assert set(st) == {"lowcard", "seq", "vecs"}
    assert st["lowcard"][0].codec == "dict"
    assert st["lowcard"][0].children, "dict pages report the indices codec"
    assert st["seq"][0].codec == "one_value"
    assert "pages" in describe(path)


class _CountingFile:
    """File wrapper counting read() syscalls (footer I/O accounting)."""

    def __init__(self, f):
        self._f = f
        self.reads = 0

    def read(self, *a):
        self.reads += 1
        return self._f.read(*a)

    def seek(self, *a):
        return self._f.seek(*a)


def test_footer_tail_preread(tmp_path):
    """read_footer = schema + metas in ONE read when the whole FILE fits
    the 64 KiB tail (reference async path, src/read/reader.rs:33,180-225).
    Larger files add exactly one 8-byte header read (round 15: the magic
    check runs on EVERY file so both engines give the same verdict on
    corrupt headers — it only costs on manifest-less planning, which is
    already O(files)), and an oversized footer adds one re-read."""
    from quiver_spark.format.reader import infer_schema, read_footer

    small = pa.table({"i": pa.array(np.arange(500, dtype=np.int64))})
    spath = str(tmp_path / "small.quiver")
    write_table(small, spath)
    with open(spath, "rb") as f:
        cf = _CountingFile(f)
        read_footer(cf)
    assert cf.reads == 1, "file within tail must cost exactly one read"

    t = _random_table(5000, 0.2, None)
    path = str(tmp_path / "t.quiver")
    write_table(t, path, WriteOptions(default_codec="lz4"))
    with open(path, "rb") as f:
        two_pass = (infer_schema(f), read_meta(f))
        cf = _CountingFile(f)
        schema, metas = read_footer(cf)
    assert cf.reads == 2, "tail + the 8-byte header magic read"
    assert schema == two_pass[0]
    assert [(m.offset, m.pages) for m in metas] == [
        (m.offset, m.pages) for m in two_pass[1]
    ]

    # >64 KiB footer (many columns x many pages): tail miss → one re-read
    wide = pa.table(
        {f"c{i}": pa.array(np.arange(4096, dtype=np.int64)) for i in range(80)}
    )
    wpath = str(tmp_path / "wide.quiver")
    write_table(wide, wpath, WriteOptions(default_codec="none", max_page_size=64))
    with open(wpath, "rb") as f:
        expect = (infer_schema(f), read_meta(f))
        cf = _CountingFile(f)
        schema, metas = read_footer(cf)
    assert cf.reads == 3, "tail + header magic + oversized-footer re-read"
    assert schema == expect[0]
    assert len(metas) == len(expect[1])
    assert read_table(wpath).equals(wide)


def test_patas_decode_rejects_zero_ref_diff():
    """A ref_diff=0 header (impossible from a valid encoder) must raise,
    not hang: the pointer-doubling chain resolver would otherwise spin on
    the self-referential entry forever (the sequential formulation it
    replaced merely returned garbage)."""
    from quiver_spark.format import patas

    buf = np.float64(42.0).tobytes() + b"\x3f\x00"  # header: diff=0 sig=0 tz=63
    with pytest.raises(ValueError, match="ref_diff=0"):
        patas.decode(memoryview(buf), 2, np.dtype("f8"))


#: argv: checkout, an Arrow IPC file, the path to write; prints the page
#: codecs of the file, then whether pandas was imported by the write and
#: by the read-back, then whether pyspark was imported at all
_NO_PANDAS_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from quiver_spark.format import reader, writer
from quiver_spark.format.stat import stat_file
table = pa.ipc.open_file(sys.argv[2]).read_all()
writer.write_table(table, sys.argv[3])
wrote = "pandas" in sys.modules
assert reader.read_table(sys.argv[3]).equals(table)
codecs = sorted({p.codec for pages in stat_file(sys.argv[3]).values() for p in pages})
print(",".join(codecs), wrote, "pandas" in sys.modules, "pyspark" in sys.modules)
"""


def test_format_layer_never_imports_pandas(tmp_path):
    """A fresh interpreter that writes Dict pages (numeric, double and
    string), plain string pages with nulls, and a list column, and reads
    them back, must not import pandas (~0.4 s in every new Python-sink or
    reader worker), nor pyspark (~0.15-0.3 s in every process that only
    reads or writes files)."""
    import subprocess
    import sys
    from pathlib import Path

    n = 10_000
    table = pa.table({
        "i": pa.array(np.arange(n) % 7 * 1000),
        "f": pa.array(np.arange(n) % 5 * 0.5, mask=np.arange(n) % 9 == 0),
        "s": pa.array(np.array(["a", "b", "c"])[np.arange(n) % 3], mask=np.arange(n) % 4 == 0),
        "p": pa.array(np.arange(n).astype(str), mask=np.arange(n) % 4 == 0),
        "l": pa.array([[1, 2], None, [3]] * (n // 3) + [[4]]),
    })
    src = tmp_path / "in.arrow"
    with pa.OSFile(str(src), "wb") as f, pa.ipc.new_file(f, table.schema) as w:
        w.write_table(table)
    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_SCRIPT, str(repo), str(src), str(tmp_path / "t.quiver")],
        capture_output=True, text=True, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr
    codecs, wrote, read, spark = proc.stdout.split()
    assert "dict" in codecs.split(","), codecs
    assert (wrote, read, spark) == ("False", "False", "False")
