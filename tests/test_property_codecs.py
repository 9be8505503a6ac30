"""Property-based round-trip tests over the full format stack.

The reference's strategy is seeded-random arrays x codec matrix
(tests/it/io.rs:343-415); hypothesis upgrades that with adversarial value
generation and automatic shrinking while keeping the same oracle: whatever
write_table encodes, read_table must return bit-identically, for every
chooser outcome the generated data provokes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from quiver_spark.format.reader import read_table
from quiver_spark.format.writer import WriteOptions, write_table

MAX_ROWS = 400


def _with_nulls(draw, values, null_frac):
    if null_frac == 0:
        return pa.array(values)
    n = len(values)
    mask = np.array(
        draw(st.lists(st.booleans(), min_size=n, max_size=n))
    )
    return pa.array(values, mask=mask)


@st.composite
def _tables(draw):
    n = draw(st.integers(min_value=1, max_value=MAX_ROWS))
    null_frac = draw(st.sampled_from([0, 1]))
    cols: dict[str, pa.Array] = {}
    # ints: cardinality shapes that steer the chooser at every branch
    # (one-value / freq / dict / rle / bitpacking / delta / basic)
    card = draw(st.sampled_from([1, 2, 8, 0]))
    ints = draw(
        st.lists(
            st.integers(min_value=0, max_value=card - 1)
            if card
            else st.integers(min_value=-(2**63), max_value=2**63 - 1),
            min_size=n,
            max_size=n,
        )
    )
    cols["i64"] = _with_nulls(draw, np.array(ints, dtype=np.int64), null_frac)
    if draw(st.booleans()):
        small = draw(
            st.lists(
                st.integers(min_value=0, max_value=1000),
                min_size=n,
                max_size=n,
            )
        )
        arr = np.array(small, dtype=np.int32)
        if draw(st.booleans()):
            arr = np.sort(arr)  # delta-bitpacking territory
        cols["i32"] = pa.array(arr)
    # doubles incl. specials (patas/freq/dict/rle candidates)
    dbls = draw(
        st.lists(
            st.floats(
                allow_nan=True, allow_infinity=True, width=64
            ),
            min_size=n,
            max_size=n,
        )
    )
    cols["f64"] = _with_nulls(
        draw, np.array(dbls, dtype=np.float64), null_frac
    )
    # float32: the patas f32 plane width + the chooser's narrower-width
    # eligibility branches (newest decode path, round 5)
    if draw(st.booleans()):
        f32s = draw(
            st.lists(
                st.floats(allow_nan=True, allow_infinity=True, width=32),
                min_size=n,
                max_size=n,
            )
        )
        cols["f32"] = _with_nulls(
            draw, np.array(f32s, dtype=np.float32), null_frac
        )
    # strings incl. empty / unicode / repeats
    strs = draw(
        st.lists(
            st.sampled_from(["", "a", "aa", "éÿ", "common"])
            | st.text(max_size=8),
            min_size=n,
            max_size=n,
        )
    )
    cols["s"] = _with_nulls(draw, strs, null_frac)
    bools = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    cols["b"] = _with_nulls(draw, np.array(bools), null_frac)
    if draw(st.booleans()):
        lists = draw(
            st.lists(
                st.lists(
                    st.integers(min_value=-100, max_value=100), max_size=4
                )
                | st.none(),
                min_size=n,
                max_size=n,
            )
        )
        cols["lst"] = pa.array(lists, type=pa.list_(pa.int64()))
    # list<struct<x,y>>: two-level rep/def shredding + assembly with nulls
    # at every level (list-null, empty list, struct-field-null)
    if draw(st.booleans()):
        los = draw(
            st.lists(
                st.lists(
                    st.fixed_dictionaries(
                        {
                            "x": st.none()
                            | st.integers(min_value=-50, max_value=50),
                            "y": st.sampled_from(["", "p", "qq"]),
                        }
                    ),
                    max_size=3,
                )
                | st.none(),
                min_size=n,
                max_size=n,
            )
        )
        cols["los"] = pa.array(
            los,
            type=pa.list_(pa.struct([("x", pa.int64()), ("y", pa.string())])),
        )
    return pa.table(cols)


@settings(max_examples=40, deadline=None)
@given(
    t=_tables(),
    codec=st.sampled_from(["lz4", "zstd", "none"]),
    ratio=st.sampled_from([None, 1.01, 2.0]),
    page=st.sampled_from([7, 128, 1000]),
)
def test_roundtrip_property(tmp_path_factory, t, codec, ratio, page):
    _assert_round_trips(tmp_path_factory, t, codec, ratio, page)


def _assert_round_trips(tmp_path_factory, t, codec, ratio, page):
    path = str(tmp_path_factory.mktemp("prop") / "t.quiver")
    write_table(
        t,
        path,
        WriteOptions(
            default_codec=codec, compress_ratio=ratio, max_page_size=page
        ),
    )
    back = read_table(path)
    assert back.schema.names == t.schema.names
    for name in t.schema.names:
        a = t.column(name).combine_chunks()
        b = back.column(name).combine_chunks()
        # bit-exact comparison (NaN-safe: compare raw pylist reprs)
        assert [repr(x) for x in a.to_pylist()] == [
            repr(x) for x in b.to_pylist()
        ], name


@st.composite
def _nested_tables(draw):
    """Nested shapes with nulls at every level — map, list<list>,
    fixed_size_list, list items — cut from a longer table at a drawn offset,
    so pages start inside the child arrays as they do in a sliced batch."""
    lead = draw(st.integers(min_value=0, max_value=9))
    n = draw(st.integers(min_value=1, max_value=MAX_ROWS // 2))
    rows = lead + n + draw(st.integers(min_value=0, max_value=9))
    item = st.none() | st.integers(min_value=-100, max_value=100)

    def column(elem):
        return draw(st.lists(elem | st.none(), min_size=rows, max_size=rows))

    word = st.sampled_from(["", "a", "bb", "éÿ"])
    cols = {
        "map": pa.array(
            column(st.lists(st.tuples(word, item), max_size=3)),
            type=pa.map_(pa.string(), pa.int32()),
        ),
        "list_list": pa.array(
            column(st.lists(st.lists(item, max_size=3) | st.none(), max_size=3)),
            type=pa.list_(pa.list_(pa.int64())),
        ),
        "fixed": pa.array(
            column(st.lists(item, min_size=2, max_size=2)),
            type=pa.list_(pa.int64(), 2),
        ),
        "items": pa.array(
            column(st.lists(item, max_size=4)), type=pa.list_(pa.int32())
        ),
        "words": pa.array(
            column(st.lists(word | st.none(), max_size=3)),
            type=pa.large_list(pa.string()),
        ),
    }
    return pa.table(cols).slice(lead, n)


@settings(max_examples=30, deadline=None)
@given(
    t=_nested_tables(),
    codec=st.sampled_from(["lz4", "zstd", "none"]),
    ratio=st.sampled_from([None, 1.01, 2.0]),
    page=st.sampled_from([7, 128, 1000]),
)
def test_nested_roundtrip_property(tmp_path_factory, t, codec, ratio, page):
    _assert_round_trips(tmp_path_factory, t, codec, ratio, page)


# --- patas pricing (format/patas.py) -----------------------------------------


@st.composite
def _float_pages(draw):
    """f32 or f64 pages of 1-900 values (the sampled and the whole-page
    case), repeats and specials included."""
    width = draw(st.sampled_from([32, 64]))
    values = draw(st.lists(
        st.floats(width=width) | st.sampled_from([0.0, -0.0, 1.5, 100.125]),
        min_size=1,
        max_size=900,
    ))
    return np.array(values, dtype=np.float32 if width == 32 else np.float64)


@settings(max_examples=200, deadline=None)
@given(arr=_float_pages())
def test_patas_pricing_matches_the_encoder(arr):
    """The chooser prices patas with encoded_size instead of encoding the
    sample, and skips it when max_sample_ratio cannot beat the field: both
    must agree with the encoder they stand in for."""
    from quiver_spark.format import patas

    bits = arr.view(np.uint32 if arr.dtype == np.float32 else np.uint64)
    encoded = patas.encode(bits)
    assert patas.encoded_size(bits) == len(encoded)
    ratio = patas.sample_ratio(bits)
    assert ratio <= patas.max_sample_ratio(len(bits), bits.dtype.itemsize)
    sample = patas._sample(bits, 10, 64)
    assert ratio == len(sample) * bits.dtype.itemsize / len(patas.encode(sample))
    decoded = patas.decode(memoryview(encoded), len(bits), arr.dtype)
    np.testing.assert_array_equal(decoded.view(bits.dtype), bits)


# --- the chooser's plain-page proof and one-hash summary (format/codecs.py) --


_PAGE_DTYPES = {"i64": np.int64, "i32": np.int32, "u64": np.uint64, "f64": np.float64,
                "f32": np.float32, "str": object}


@st.composite
def _chooser_pages(draw):
    """(arrow page, kind) of 7-8,192 rows: numeric or string, nulls from
    none to all, and cardinality from one value to every row distinct
    (⌈n/3⌉ is the fewest that rule out Dict), laid out with every value
    seen early, at random, sorted, or with a duplicate-heavy first half."""
    kind = draw(st.sampled_from(["str", "f64", "i64", "i32", "u64", "f32"]))
    n = draw(st.integers(min_value=7, max_value=8192))
    distinct = draw(st.sampled_from([n, -(-n // 3), n // 3, 8, 1, 2, 3, n // 4, n // 2]))
    null_frac = draw(st.sampled_from([0.0, 0.05, 0.5, 0.95, 1.0]))
    layout = draw(st.sampled_from(["early", "random", "sorted", "dup_head"]))
    rng = np.random.default_rng(draw(st.integers(min_value=0, max_value=2**32 - 1)))
    codes = rng.integers(0, max(distinct, 1), n)
    if layout == "early":  # every value by the middle of the page
        codes[: min(distinct, n)] = rng.permutation(min(distinct, n))
    elif layout == "sorted":
        codes.sort()
    elif layout == "dup_head":
        codes[: n // 2] = rng.integers(0, 2, n // 2)
    if kind == "str":
        pool = np.array(["", "a", "b" * 70, "é"] + [f"v{i}" for i in range(n)], dtype=object)
    elif kind.startswith("f"):
        pool = np.concatenate([[0.0, -0.0, np.nan, np.inf, 1.5], rng.normal(0, 1e3, n)])
        if draw(st.booleans()):
            pool = pool[[0, 1, *range(5, len(pool))]]  # no NaN or inf
    else:
        lo, hi = (0, 2**64 - 1) if kind == "u64" else (-(2**62), 2**62)
        pool = np.concatenate([[0, 1, 2**31 - 1], rng.integers(lo, hi, n, dtype=np.int64 if lo else np.uint64)])
    pool = pool[rng.permutation(len(pool))] if draw(st.booleans()) else pool
    values = pool[codes].astype(_PAGE_DTYPES[kind])
    mask = rng.random(n) < null_frac
    if draw(st.booleans()):
        mask[: draw(st.integers(min_value=1, max_value=16))] = True  # leading nulls
    arrow_type = pa.string() if kind == "str" else pa.from_numpy_dtype(_PAGE_DTYPES[kind])
    return pa.array(values, type=arrow_type, mask=mask), kind


def _full_summary(arr, kind):
    """(distinct, top_count, null_count) of a page by np.unique over its
    non-null values (bits for doubles); strings count their filled rows,
    as the binary chooser does: nulls repeat the previous value, leading
    nulls are ""."""
    values = arr.to_pylist()
    if kind == "str":
        last, filled = "", []
        for v in values:
            last = last if v is None else v
            filled.append(last)
        _, counts = np.unique(np.array(filled, dtype=object), return_counts=True)
        return len(counts), int(counts.max()), 0
    nn = np.array([v for v in values if v is not None], dtype=_PAGE_DTYPES[kind])
    bits = nn.view(f"u{nn.dtype.itemsize}") if nn.dtype.kind == "f" else nn
    _, counts = np.unique(bits, return_counts=True)
    return len(counts), int(counts.max()) if len(counts) else 0, arr.null_count


def _encode_page(arr, kind, opts):
    """Encode one page through the chooser → (its ``_summary``, or for a
    string page how often it was hashed; the distinct values the chooser
    hashed, or None)."""
    from unittest import mock

    from quiver_spark.format import codecs

    hashed, summaries = [], []
    if kind == "str":
        spy = mock.patch.object(codecs, "_filled_codes", wraps=codecs._filled_codes)
        with spy as filled_codes:
            codecs.encode_binary(arr, opts, 4, hashed)
        return filled_codes.call_count, hashed[0] if hashed else None
    real = codecs._summary

    def spy_summary(*args):
        summaries.append(real(*args))
        return summaries[-1]

    values = codecs.numpy_view(arr, _PAGE_DTYPES[kind])
    valid = None if not arr.null_count else np.array(arr.is_valid().to_pylist())
    with mock.patch.object(codecs, "_summary", spy_summary):
        codecs.encode_numeric(values, valid, opts, kind.startswith("f"), dictionary_out=hashed)
    return summaries[0], hashed[0] if hashed else None


def _stat_key(x):
    """Stats compare with the sign of a zero (JSON writes -0.0)."""
    import math

    return (x, math.copysign(1, x)) if isinstance(x, float) else x


@settings(max_examples=300, deadline=None)
@given(case=_chooser_pages())
def test_plain_proof_and_dictionary_stats(case):
    """The chooser skips the full summary only on pages a full np.unique
    summary admits no OneValue, Freq or Dict candidate for; the one hash it
    makes otherwise finds the same distinct count and top count; and the
    page stats reduced over that hash's dictionary equal the stats
    reduced over the page."""
    from quiver_spark.format.codecs import CodecOptions
    from quiver_spark.format.stats import page_stats

    arr, kind = case
    n = len(arr)
    distinct, top, nulls = _full_summary(arr, kind)
    summary, dictionary = _encode_page(arr, kind, CodecOptions())
    proven = summary == 0 if kind == "str" else summary.distinct is None
    if proven:
        assert distinct > 1  # OneValue
        assert nulls / n < 0.9 and top / n < 0.9  # Freq
        assert distinct * 3 >= n  # Dict
    elif kind != "str":
        assert summary.distinct == distinct
        assert summary.counts.max() == top
    if dictionary is not None:
        want = page_stats(arr)
        got = page_stats(arr, dictionary)
        assert [_stat_key(v) for v in got] == [_stat_key(v) for v in want]


# --- column-default codec (manifest.encode_default / decode_default) -------


@st.composite
def _default_cases(draw):
    import pyarrow as pa

    kind = draw(st.sampled_from(
        ["i64", "i32", "f64", "str", "bool", "date", "dec"]
    ))
    if kind == "i64":
        return pa.int64(), draw(st.integers(-(2**62), 2**62))
    if kind == "i32":
        return pa.int32(), draw(st.integers(-(2**31), 2**31 - 1))
    if kind == "f64":
        return pa.float64(), draw(st.floats(
            allow_nan=False, allow_infinity=False, width=64
        ))
    if kind == "str":
        return pa.string(), draw(st.text(max_size=40))
    if kind == "bool":
        return pa.bool_(), draw(st.booleans())
    if kind == "date":
        import datetime

        return pa.date32(), draw(st.dates(
            min_value=datetime.date(1, 1, 1),
            max_value=datetime.date(9999, 12, 31),
        ))
    import decimal

    return pa.decimal128(18, 4), decimal.Decimal(
        draw(st.integers(-(10**14), 10**14))
    ) / 10_000


@given(_default_cases())
@settings(max_examples=200, deadline=None)
def test_default_codec_round_trips_exactly(case):
    """encode_default → JSON → decode_default → pa.array must reproduce
    the EXACT value the validating one-element array held at ALTER time
    (the contract the read-time fill relies on)."""
    import json

    import pyarrow as pa

    from quiver_spark.sources.manifest import decode_default, encode_default

    pa_type, value = case
    enc = encode_default(value, pa_type)
    # manifest storage is JSON — the encoded form must survive it
    enc2 = json.loads(json.dumps(enc))
    dec = decode_default(enc2, pa_type)
    got = pa.array([dec], type=pa_type)[0].as_py()
    expect = pa.array([value], type=pa_type)[0].as_py()
    assert got == expect, (pa_type, value, enc, got, expect)


# --- BitPacker4x kernels (format/bitpack.py) --------------------------------


def _oracle_pack(values: np.ndarray) -> bytes:
    """BitPacker4x as the sequential 32-step loop per block (lane words
    filled LSB-first, 4 lanes at once): the formulation the single-pass
    packer replaced, kept here as its oracle."""
    out = bytearray()
    for block in values.reshape(-1, 32, 4).astype(np.uint64):
        b = int(block.max()).bit_length()
        out.append(b)
        acc = np.zeros(4, dtype=np.uint64)
        filled = 0
        for word in block:
            acc |= word << np.uint64(filled)
            filled += b
            if filled >= 32:
                out += (acc & np.uint64(0xFFFFFFFF)).astype("<u4").tobytes()
                acc >>= np.uint64(32)
                filled -= 32
    return bytes(out)


@st.composite
def _bitpack_values(draw):
    """u32 values in 128-value blocks of chosen widths 0-32: either every
    block at one width (the unpacker's arithmetic-header fast path) or a
    mix (its sequential header scan)."""
    n_blocks = draw(st.integers(min_value=1, max_value=12))
    if draw(st.booleans()):
        widths = [draw(st.integers(min_value=0, max_value=32))] * n_blocks
    else:
        widths = draw(st.lists(st.integers(min_value=0, max_value=32),
                               min_size=n_blocks, max_size=n_blocks))
    rng = np.random.default_rng(draw(st.integers(min_value=0, max_value=2**32 - 1)))
    blocks = []
    for w in widths:
        block = rng.integers(0, 1 << w, 128, dtype=np.uint64)
        if w:
            block[rng.integers(128)] = (1 << w) - 1  # the block is exactly w bits wide
        blocks.append(block)
    return np.concatenate(blocks).astype(np.uint32)


@settings(max_examples=200, deadline=None)
@given(_bitpack_values())
def test_bitpacker4x_matches_loop_and_round_trips(values):
    from quiver_spark.format import bitpack

    packed = bitpack.pack(values)
    assert packed == _oracle_pack(values)
    np.testing.assert_array_equal(bitpack.unpack(memoryview(packed), len(values)), values)
    ascending = np.sort(values)
    for initial in (0, int(ascending[0])):
        packed = bitpack.pack_sorted(ascending, initial)
        np.testing.assert_array_equal(
            bitpack.unpack_sorted(memoryview(packed), len(ascending), initial), ascending
        )
