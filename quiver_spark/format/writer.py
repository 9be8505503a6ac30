"""quiver file writer: pyarrow Table → one quiver file.

Envelope per the reference NativeWriter (src/write/writer.rs:91-167):
magic, contiguous per-leaf pages, footer (schema IPC | meta | sizes | EOS).
One file holds exactly one row group (writer.rs:107-112); callers with more
data write more files (that is also the Spark-native unit of parallelism).

Type surface: flat primitives (ints, floats, bool, string/binary,
date/timestamp as their physical ints), decimal128/256 through the same
integer cascade as the narrow types (OneValue/Freq/Dict/RLE, as (n, width)
u8 rows — src/compression/integer/traits.rs:30-39), and nested list/
large_list/fixed_size_list/struct/map via Dremel rep/def levels
(nested.py), one ColumnMeta per parquet leaf exactly like the reference
(src/write/common.rs:66-68).

PageMeta.num_values follows the reference exactly: the page row count for
flat leaves and the rep/def SLOT count for nested leaves
(src/write/common.rs:103-107 stores arrow2's num_values(&nested)); the
nested page prefix's u32 carries the row count (serialize.rs:217-232).
Engine extension beyond the reference: a per-page min/max sidecar
(stats.py) for zone-map pruning.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from quiver_spark.format import codecs
from quiver_spark.format import nested as nested_mod
from quiver_spark.format import stats as stats_mod
from quiver_spark.format.codecs import CodecOptions, encode_binary, encode_boolean, encode_numeric
from quiver_spark.format.constants import EOS, MAGIC, NAME_TO_CODEC
from quiver_spark.format.validity import encode_validity, unpack_bitmap

DEFAULT_PAGE_SIZE = 8192  # rows per page (reference examples use 8192)


@dataclass(frozen=True)
class WriteOptions:
    default_codec: str = "lz4"
    compress_ratio: float | None = 2.0  # None → adaptive off (basic codec only)
    max_page_size: int = DEFAULT_PAGE_SIZE
    # patas is in the default candidate list, matching the reference's
    # double chooser (src/compression/double/mod.rs:271-277). A double
    # page prices a sample of at most 640 values by its encoded size (the
    # XOR fields only, no payload: format/patas.py encoded_size), and only
    # when patas could change the outcome: its best possible sample ratio,
    # m·w / (w + 2(m − 1)) for m values of w bytes (~3.98 for f64, just
    # under 2 for f32), must beat the best earlier candidate and reach
    # compress_ratio. So f32 pages never sample at the default 2.0, nor f64
    # pages whose Dict or RLE ratio already reaches ~4; the payload is built
    # only for pages patas wins. Forbid explicitly
    # (forbidden=("patas",)) for write-heavy pipelines on XOR-friendly
    # data where block-codec throughput matters more than ratio; decode
    # resolves the XOR chain with vectorized pointer doubling but still
    # trails the block codecs. For measured figures, run the benchmark's
    # codec workload traced (perfbench/README.md) and read its
    # format.encode_mb_per_s.* / format.decode_mb_per_s.* metrics.
    forbidden: tuple[str, ...] = ()
    page_stats: bool = True  # per-page min/max sidecar (engine extension)
    #: columns to additionally index with per-page BLOOM filters (point-
    #: lookup data skipping where min/max is useless — unsorted high-
    #: cardinality ids). Opt-in: ~1 byte/row/column of sidecar and a
    #: hash pass at write time. Int-family + string columns only.
    bloom_columns: tuple[str, ...] = ()

    def codec_options(self) -> CodecOptions:
        return CodecOptions(
            default_codec=NAME_TO_CODEC[self.default_codec],
            compress_ratio=self.compress_ratio,
            forbidden=frozenset(NAME_TO_CODEC[f] for f in self.forbidden),
        )


#: arrow type → (physical numpy dtype, is_double) for primitive leaves.
def _physical_dtype(t: pa.DataType) -> tuple[np.dtype, bool] | None:
    if pa.types.is_boolean(t) or pa.types.is_string(t) or pa.types.is_binary(t):
        return None
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        return None
    if pa.types.is_float32(t):
        return np.dtype("<f4"), True
    if pa.types.is_float64(t):
        return np.dtype("<f8"), True
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return np.dtype("<i4"), False
    if pa.types.is_date64(t) or pa.types.is_time64(t) or pa.types.is_timestamp(t) or pa.types.is_duration(t):
        return np.dtype("<i8"), False
    if pa.types.is_integer(t):
        # direct map — t.to_pandas_dtype() would drag the pandas import
        # into every executor worker (~0.35 s cold start)
        kind = "u" if pa.types.is_unsigned_integer(t) else "i"
        return np.dtype(f"<{kind}{t.bit_width // 8}"), False
    raise NotImplementedError(f"quiver round-1 writer does not support {t}")


def _valid_np(arr: pa.Array) -> np.ndarray | None:
    return unpack_bitmap(arr.buffers()[0], arr.offset, len(arr)) if arr.null_count else None


def _prim_np(arr: pa.Array, dtype: np.dtype) -> tuple[np.ndarray, np.ndarray | None]:
    """(values, valid) numpy views of a primitive arrow array."""
    return codecs.numpy_view(arr, dtype), _valid_np(arr)


def _bool_np(arr: pa.Array) -> tuple[np.ndarray, np.ndarray | None]:
    return unpack_bitmap(arr.buffers()[1], arr.offset, len(arr)), _valid_np(arr)


def _encode_values(
    arr: pa.Array, copts: CodecOptions, dictionary_out: list | None = None
) -> bytes:
    """Typed cascade over a flat array's values (no validity prefix). A
    numeric or string page the chooser hashed appends its distinct non-null
    values to ``dictionary_out``."""
    t = arr.type
    if pa.types.is_boolean(t):
        values, valid = _bool_np(arr)
        return encode_boolean(values, valid, copts)
    if (
        pa.types.is_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_string(t)
        or pa.types.is_large_binary(t)
    ):
        width = 8 if (pa.types.is_large_string(t) or pa.types.is_large_binary(t)) else 4
        return encode_binary(arr, copts, width, dictionary_out)
    if pa.types.is_decimal(t):
        # Int128/Int256 leaves run the same integer cascade as the narrow
        # types (src/compression/integer/traits.rs:30-39), handled as
        # (n, byte_width) u8 rows since numpy has no int128
        width = t.byte_width  # 16 for decimal128, 32 for decimal256
        bufs = arr.buffers()
        rows = np.frombuffer(
            bufs[1], dtype=np.uint8, count=(arr.offset + len(arr)) * width
        )[arr.offset * width :].reshape(len(arr), width)
        return codecs.encode_fixed(rows, _valid_np(arr), copts)
    dtype, is_double = _physical_dtype(t)
    values, valid = _prim_np(arr, dtype)
    return encode_numeric(values, valid, copts, is_double, dictionary_out=dictionary_out)


def encode_leaf_page(
    arr: pa.Array, nullable: bool, copts: CodecOptions, dictionary_out: list | None = None
) -> bytes:
    """One flat page: optional validity prefix + typed payload."""
    if pa.types.is_null(arr.type):
        # Null pages are empty — no validity, no payload; only the page
        # meta's num_values carries information (reference write_simple
        # `Null => {}`, src/write/serialize.rs:63)
        return b""
    out = bytearray()
    if nullable:
        v = encode_validity(_valid_np(arr), len(arr))
        out += struct.pack("<I", len(v)) + v
    out += _encode_values(arr, copts, dictionary_out)
    return bytes(out)


def encode_nested_pages(
    arr: pa.Array, field: pa.Field, copts: CodecOptions
) -> list[tuple[bytes, int]]:
    """One nested-column page, all leaves: shred the page's rows and emit
    per-leaf `(page_bytes, n_slots)` where the page is
    `rows u32 | rep_len u32 | def_len u32 | rep | def | values`.

    Reference layout (write_nested_validity, src/write/serialize.rs:217-232
    + encode_chunk, src/write/common.rs:79-108): the u32 prefix is the
    page's top-level ROW count (`length`, the reader's row-stop condition at
    read_basic.rs:160-162) while the page meta's num_values is the SLOT
    (level) count — the HybridRleDecoder count at read_basic.rs:84-85."""
    leaves = nested_mod.shred(arr, field)
    out = []
    for lf in leaves:
        rep_b = nested_mod.encode_levels(lf.rep, nested_mod.bits_for(lf.max_rep))
        def_b = nested_mod.encode_levels(lf.def_, nested_mod.bits_for(lf.max_def))
        page = bytearray()
        page += struct.pack("<III", len(arr), len(rep_b), len(def_b))
        page += rep_b
        page += def_b
        page += _encode_values(lf.values, copts)
        out.append((bytes(page), len(lf.rep)))
    return out


def write_table(table: pa.Table, path: str, options: WriteOptions | None = None) -> dict:
    """Write one pyarrow Table as one quiver file. Returns {col: [page meta]}
    for inspection/testing."""
    options = options or WriteOptions()
    copts = options.codec_options()
    table = table.combine_chunks()
    n = table.num_rows
    page_size = min(options.max_page_size, n) if n else options.max_page_size

    metas: list[tuple[int, list[tuple[int, int]]]] = []
    col_stats: dict[str, list[tuple[object, object, int]]] = {}
    col_blooms: dict[str, list[str | None]] = {}
    page_rows: list[int] = []
    page_crcs: list[list[int]] = []  # per leaf, footer meta order
    # a sidecar from a previous write of this path is stale the moment new
    # data starts landing; remove it BEFORE touching the data file so no
    # crash residue can pair old checksums with new bytes (old data + no
    # sidecar = unverified read; old sidecar + new data = false rejection)
    stale = path + stats_mod.STATS_SUFFIX
    if os.path.exists(stale):
        os.remove(stale)
    with open(path, "wb") as f:
        f.write(MAGIC)
        offset = len(MAGIC)
        for ci in range(table.num_columns):
            field_ = table.schema.field(ci)
            col = table.column(ci)
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.chunk(0) if arr.num_chunks else pa.array([], type=field_.type)
            is_nested = nested_mod.is_nested_type(field_.type)
            n_leaves = nested_mod.count_leaves(field_.type) if is_nested else 1
            # per-leaf buffered (page_bytes, num_values) pairs: leaves of a
            # column are laid out contiguously leaf-by-leaf (one ColumnMeta
            # per parquet leaf, src/lib.rs:40-43); num_values = rows for
            # flat leaves, SLOT count for nested leaves (common.rs:103-107)
            leaf_pages: list[list[tuple[bytes, int]]] = [[] for _ in range(n_leaves)]
            want_stats = options.page_stats and stats_mod.supports_stats(field_.type)
            want_bloom = (
                options.page_stats
                and not is_nested
                and field_.name in options.bloom_columns
                and stats_mod.supports_bloom(field_.type)
            )
            stats_rows: list[tuple[object, object, int]] = []
            bloom_pages: list[str | None] = []
            rows_per_page: list[int] = []
            for start in range(0, max(n, 1), max(page_size, 1)):
                if n == 0 and start > 0:
                    break
                length = min(page_size, n - start) if n else 0
                page_arr = arr.slice(start, length)
                # the distinct values of a page the chooser hashed spare the
                # stats pass a reduction over every row
                hashed: list[pa.Array] = []
                if is_nested:
                    for li, pair in enumerate(
                        encode_nested_pages(page_arr, field_, copts)
                    ):
                        leaf_pages[li].append(pair)
                else:
                    leaf_pages[0].append(
                        (encode_leaf_page(page_arr, field_.nullable, copts, hashed), length)
                    )
                rows_per_page.append(length)
                if want_stats:
                    stats_rows.append(
                        stats_mod.page_stats(page_arr, hashed[0] if hashed else None)
                    )
                if want_bloom:
                    bloom_pages.append(stats_mod.page_bloom(page_arr))
                if n == 0:
                    break
            for li in range(n_leaves):
                col_offset = offset
                pages: list[tuple[int, int]] = []
                crcs: list[int] = []
                for pb, nv in leaf_pages[li]:
                    f.write(pb)
                    pages.append((len(pb), nv))
                    crcs.append(zlib.crc32(pb) & 0xFFFFFFFF)
                    offset += len(pb)
                metas.append((col_offset, pages))
                page_crcs.append(crcs)
            if ci == 0:
                page_rows = rows_per_page
            if want_stats:
                col_stats[field_.name] = stats_rows
            if want_bloom:
                col_blooms[field_.name] = bloom_pages

        # footer: schema IPC bytes — raw flatbuffer Message, the arrow2
        # schema_to_bytes layout (reference src/write/writer.rs:137, which
        # stores no encapsulation); pyarrow's 8-byte continuation+length
        # prefix is stripped so reference readers can parse our footer.
        schema_bytes = table.schema.serialize().to_pybytes()[8:]
        f.write(schema_bytes)
        offset += len(schema_bytes)
        # meta block
        meta = bytearray()
        meta += struct.pack("<Q", len(metas))
        for col_offset, pages in metas:
            meta += struct.pack("<QQ", col_offset, len(pages))
            for length, num_values in pages:
                meta += struct.pack("<QQ", length, num_values)
        f.write(meta)
        f.write(struct.pack("<II", len(schema_bytes), len(meta)))
        f.write(EOS)
    if options.page_stats:
        stats_mod.write_sidecar(
            path,
            stats_mod.build_file_stats(
                col_stats, page_rows, page_crcs, col_blooms or None
            ),
        )
    out: dict[str, list[tuple[int, int]]] = {}
    li = 0
    for i in range(table.num_columns):
        field_ = table.schema.field(i)
        out[field_.name] = metas[li][1]
        li += nested_mod.count_leaves(field_.type) if nested_mod.is_nested_type(
            field_.type
        ) else 1
    return out
