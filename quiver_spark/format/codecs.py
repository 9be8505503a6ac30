"""Page codec engine: the adaptive per-page, per-type encoding cascade of the
reference format, numpy/pyarrow-vectorized.

Layouts mirror the reference byte-for-byte:
- frame: codec u8 | compressed_size u32 | uncompressed_size u32 | payload
  (src/compression/integer/mod.rs:49-63 and siblings)
- OneValue: single value (ints/doubles: LE bytes; binary: u32 len + bytes;
  boolean: 1 byte)
- RLE: (count u32, value) runs; nulls extend the current run
  (integer/rle.rs:72-95)
- Dict: recursively-encoded u32 indices (Dict forbidden) | u32 n_entries |
  entries plain (ints: LE; binary: u64 len + bytes) (integer/dict.rs:30-70,
  binary/dict.rs:55-93); nulls reuse the last index, a leading null pushes
  the default value as the first entry
- Freq: top value | u32 roaring_size | roaring bitmap of exception rows |
  exceptions (ints/doubles: recursive with Freq forbidden; binary: plain
  u64 len + bytes each) (integer/freq.rs:30-70, binary/freq.rs:39-100)
- Bitpacking / DeltaBitpacking: BitPacker4x blocks (see bitpack.py)
- binary basic mode: two frames back-to-back — offsets (rebased to 0) then
  values (binary/mod.rs:42-90)
- boolean basic mode: LSB bitmap bytes; frame uncompressed_size is the
  VALUE COUNT (boolean/mod.rs:58-60)

The adaptive chooser follows the reference's eligibility rules
(choose_compressor, integer/mod.rs:231-308) but estimates candidate sizes
exactly with numpy instead of sampling — a writer is free to pick any codec;
every reader must decode all of them.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from quiver_spark.format import bitpack, patas, roaring
from quiver_spark.format.constants import (
    BASIC_CODECS,
    CODEC_BITPACKING,
    CODEC_DELTA_BITPACKING,
    CODEC_DICT,
    CODEC_FREQ,
    CODEC_LZ4,
    CODEC_NONE,
    CODEC_ONE_VALUE,
    CODEC_PATAS,
    CODEC_RLE,
    CODEC_SNAPPY,
    CODEC_ZSTD,
)
from quiver_spark.format.validity import unpack_bitmap

_PA_CODEC = {CODEC_LZ4: "lz4_raw", CODEC_ZSTD: "zstd", CODEC_SNAPPY: "snappy"}


@dataclass(frozen=True)
class CodecOptions:
    """Mirrors the reference WriteOptions (src/write/common.rs:37-45)."""

    default_codec: int = CODEC_LZ4
    compress_ratio: float | None = 2.0  # None → always the basic codec
    forbidden: frozenset = field(default_factory=frozenset)


class Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: memoryview, pos: int = 0):
        self.buf = memoryview(buf)
        self.pos = pos

    def take(self, n: int) -> memoryview:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def u32(self) -> int:
        (v,) = struct.unpack_from("<I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from("<Q", self.buf, self.pos)
        self.pos += 8
        return v

    def frame_header(self) -> tuple[int, int, int]:
        codec = self.buf[self.pos]
        csize, usize = struct.unpack_from("<II", self.buf, self.pos + 1)
        self.pos += 9
        return codec, csize, usize


def _frame(codec: int, payload: bytes, uncompressed: int) -> bytes:
    return struct.pack("<BII", codec, len(payload), uncompressed) + payload


def _basic_compress(codec: int, raw: bytes) -> bytes:
    if codec == CODEC_NONE:
        return raw
    return pa.compress(raw, codec=_PA_CODEC[codec], asbytes=True)


def _basic_decompress(codec: int, buf: memoryview, usize: int) -> memoryview | pa.Buffer:
    """Payload → raw bytes, without copying: a stored payload is returned
    as the view it is, a compressed one as pyarrow's output buffer."""
    if codec == CODEC_NONE:
        return buf
    return pa.decompress(buf, decompressed_size=usize, codec=_PA_CODEC[codec])


def arrow_view(values: np.ndarray, valid: np.ndarray | None = None) -> pa.Array:
    """Arrow array over a 1-D numpy array (zero-copy unless bool, which is
    bit-packed), with an optional validity mask. Built from buffers since
    ``pa.array`` on numpy input, like ``Array.to_numpy``, imports pandas:
    ~0.4 s in every fresh worker that writes or reads a page."""
    if values.dtype == np.bool_:
        arrow_type, data = pa.bool_(), np.packbits(values, bitorder="little")
    else:
        data = np.ascontiguousarray(values)
        arrow_type = pa.from_numpy_dtype(data.dtype)
    vbuf = None if valid is None else pa.py_buffer(np.packbits(valid, bitorder="little"))
    null_count = 0 if valid is None else len(valid) - int(np.count_nonzero(valid))
    return pa.Array.from_buffers(arrow_type, len(values), [vbuf, pa.py_buffer(data)], null_count)


def numpy_view(arr: pa.Array, dtype: np.dtype) -> np.ndarray:
    """Zero-copy numpy view of a null-free primitive Arrow array."""
    return np.frombuffer(arr.buffers()[1], dtype=dtype, count=arr.offset + len(arr))[arr.offset :]


def _ffill(values: np.ndarray, valid: np.ndarray | None) -> np.ndarray:
    """Nulls take the previous value; leading nulls take the FIRST valid
    value so an RLE encode merges them into the first run exactly like the
    reference (integer/rle.rs:64-83: leading nulls only bump seen_count and
    flush with the first valid value). All-null pages fill with 0 (the
    reference's final flush writes T::default())."""
    if valid is None or valid.all():
        return values
    if not valid.any():
        return np.zeros_like(values)
    idx = np.where(valid, np.arange(len(values)), -1)
    np.maximum.accumulate(idx, out=idx)
    idx[idx < 0] = int(np.argmax(valid))
    return values[idx]


def _run_lengths(filled: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_counts) of a 1-D array (bitwise equality)."""
    if len(filled) == 0:
        return filled, np.empty(0, dtype=np.int64)
    cmp = filled.view(_bits_view_dtype(filled.dtype)) if filled.dtype.kind == "f" else filled
    change = np.nonzero(cmp[1:] != cmp[:-1])[0] + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [len(filled)]])
    return filled[starts], (ends - starts).astype(np.int64)


def _bits_view_dtype(dt: np.dtype) -> np.dtype:
    return np.dtype(f"<u{dt.itemsize}")


# ---------------------------------------------------------------------------
# Integer / double encode
# ---------------------------------------------------------------------------


def _summary(nn: np.ndarray, filled: np.ndarray) -> tuple[np.ndarray, ...]:
    """What the numeric chooser needs to know of a page: its distinct
    non-null values with their counts, and the runs of the filled values."""
    uniq, counts = (
        np.unique(nn, return_counts=True)
        if len(nn)
        else (np.empty(0, nn.dtype), np.empty(0, np.int64))
    )
    return (uniq, counts, *_run_lengths(filled))


def _codes_summary(
    codes: np.ndarray, counts: np.ndarray, run_counts: np.ndarray
) -> tuple[np.ndarray, ...]:
    """``_summary`` of a Dict page's codes from what the value pass found:
    every entry is used, so the distinct codes are 0..len(counts)-1 with
    the entries' counts; equal values share a code, so the codes run where
    the values run."""
    run_starts = np.cumsum(run_counts) - run_counts
    return (np.arange(len(counts), dtype=codes.dtype), counts, codes[run_starts], run_counts)


def encode_numeric(
    values: np.ndarray,
    valid: np.ndarray | None,
    opts: CodecOptions,
    is_double: bool,
    summary: tuple[np.ndarray, ...] | None = None,
) -> bytes:
    """Full adaptive cascade for one page of a numeric leaf; returns a frame.
    ``summary`` is the page's ``_summary`` when the caller already knows it
    (the codes of a Dict page); otherwise it is computed here."""
    n = len(values)
    isize = values.dtype.itemsize
    total_bytes = n * isize
    filled = _ffill(values, valid)
    bits = filled.view(_bits_view_dtype(values.dtype)) if is_double else filled
    nn_mask = valid if valid is not None else None
    nn = filled[nn_mask] if nn_mask is not None else filled
    null_count = n - len(nn) if nn_mask is not None else 0

    best_codec, best_ratio, best_info = None, 0.0, None
    if opts.compress_ratio is not None and n > 0:
        nn_bits = nn.view(_bits_view_dtype(values.dtype)) if is_double else nn
        if summary is None:
            summary = _summary(nn_bits, filled)
        uniq, counts, run_vals, run_counts = summary
        unique_count = len(uniq)
        top_count = counts.max() if len(counts) else 0

        cands: list[tuple[int, float, object]] = []
        if CODEC_ONE_VALUE not in opts.forbidden and unique_count <= 1:
            cands.append((CODEC_ONE_VALUE, float(n), None))
        if CODEC_FREQ not in opts.forbidden and unique_count > 1:
            if null_count / n >= 0.9:
                cands.append((CODEC_FREQ, float(n - 1), None))
            elif top_count / n >= 0.9 and (
                is_double or (len(nn) and int(nn.max()) >= (1 << 8))
            ):
                cands.append((CODEC_FREQ, float(n - 1), None))
        if CODEC_DICT not in opts.forbidden and unique_count * 3 < n:
            bits_needed = max(int(unique_count).bit_length(), 1)
            after = unique_count * isize + n * (bits_needed // 8) + n * 2 // 128
            cands.append((CODEC_DICT, total_bytes / max(after, 1), None))
        if CODEC_RLE not in opts.forbidden:
            rle_size = len(run_counts) * (4 + isize)
            cands.append((CODEC_RLE, total_bytes / max(rle_size, 1), (run_vals, run_counts)))
        if is_double and CODEC_PATAS not in opts.forbidden and len(nn) > 1:
            # sampled only when it could change the outcome: patas must beat
            # the best ratio so far strictly, and a winner under the
            # threshold falls back to the basic codec either way
            bound = patas.max_sample_ratio(n, isize)
            if bound > max((r for _, r, _ in cands), default=0.0) and bound >= opts.compress_ratio:
                cands.append((CODEC_PATAS, patas.sample_ratio(bits), None))
        if not is_double and isize == 4 and n % 128 == 0 and n > 0:
            v32 = filled.view(np.uint32) if values.dtype != np.int32 else filled.astype(np.uint32, copy=False)
            raw_min = int(filled.view(np.int32).min()) if values.dtype == np.int32 else int(filled.min())
            if raw_min >= 0:
                blk_max = filled.astype(np.uint32).reshape(-1, 128).max(axis=1)
                bbits = np.where(blk_max == 0, 0, np.ceil(np.log2(blk_max.astype(np.float64) + 1)))
                bp_size = int((1 + 16 * bbits).sum())
                if CODEC_BITPACKING not in opts.forbidden:
                    cands.append((CODEC_BITPACKING, total_bytes / max(bp_size, 1), None))
                if (
                    CODEC_DELTA_BITPACKING not in opts.forbidden
                    and null_count == 0
                    and len(filled) > 1
                    and bool((filled[1:] >= filled[:-1]).all())
                ):
                    cands.append(
                        (CODEC_DELTA_BITPACKING, total_bytes / max(bp_size, 1) * 1.5, None)
                    )
        for codec, ratio, info in cands:
            if ratio > best_ratio:
                best_codec, best_ratio, best_info = codec, ratio, info

    if best_codec is None or best_ratio < (opts.compress_ratio or np.inf):
        raw = values.tobytes()
        payload = _basic_compress(opts.default_codec, raw)
        return _frame(opts.default_codec, payload, total_bytes)

    if best_codec == CODEC_ONE_VALUE:
        val = nn[:1].tobytes() if len(nn) else np.zeros(1, values.dtype).tobytes()
        return _frame(CODEC_ONE_VALUE, val, total_bytes)

    if best_codec == CODEC_RLE:
        run_vals, run_counts = best_info
        rec = np.empty(
            len(run_vals), dtype=np.dtype([("c", "<u4"), ("v", values.dtype.newbyteorder("<"))])
        )
        rec["c"] = run_counts
        rec["v"] = run_vals
        return _frame(CODEC_RLE, rec.tobytes(), total_bytes)

    if best_codec == CODEC_DICT:
        # insertion-ordered codes: the reference's interner numbers values
        # by first appearance
        denc = pc.dictionary_encode(arrow_view(bits))
        codes = numpy_view(denc.indices, np.int32).astype(np.uint32)
        dict_vals = numpy_view(denc.dictionary, bits.dtype).view(values.dtype)
        sub = CodecOptions(
            opts.default_codec,
            opts.compress_ratio,
            opts.forbidden | {CODEC_DICT},
        )
        code_counts = np.bincount(codes, minlength=len(dict_vals))
        payload = encode_numeric(
            codes, None, sub, False, _codes_summary(codes, code_counts, run_counts)
        )
        payload += struct.pack("<I", len(dict_vals)) + dict_vals.tobytes()
        return _frame(CODEC_DICT, payload, total_bytes)

    if best_codec == CODEC_FREQ:
        if null_count / n >= 0.9 or len(nn) == 0:
            top_arr = np.zeros(1, values.dtype)
        else:
            top_arr = uniq[[int(np.argmax(counts))]].view(values.dtype)
        bits_dt = _bits_view_dtype(values.dtype)
        neq = values.view(bits_dt) != top_arr.view(bits_dt)[0]
        exc_mask = (nn_mask & neq) if nn_mask is not None else neq
        positions = np.nonzero(exc_mask)[0].astype(np.uint32)
        exceptions = values[exc_mask]
        bm = roaring.serialize(positions)
        sub = CodecOptions(
            opts.default_codec, opts.compress_ratio, opts.forbidden | {CODEC_FREQ}
        )
        payload = (
            top_arr.tobytes()
            + struct.pack("<I", len(bm))
            + bm
            + encode_numeric(exceptions, None, sub, is_double)
        )
        return _frame(CODEC_FREQ, payload, total_bytes)

    if best_codec == CODEC_PATAS:
        payload = patas.encode(bits)
        return _frame(CODEC_PATAS, payload, total_bytes)

    if best_codec == CODEC_BITPACKING:
        payload = bitpack.pack(filled.astype(np.uint32, copy=False))
        return _frame(CODEC_BITPACKING, payload, total_bytes)

    if best_codec == CODEC_DELTA_BITPACKING:
        payload = bitpack.pack_sorted(filled.astype(np.uint32, copy=False), 0)
        return _frame(CODEC_DELTA_BITPACKING, payload, total_bytes)

    raise AssertionError(best_codec)


def decode_numeric(cur: Cursor, length: int, dtype: np.dtype) -> np.ndarray:
    codec, csize, usize = cur.frame_header()
    payload = cur.take(csize)
    dtype = np.dtype(dtype)

    if codec in BASIC_CODECS:
        raw = _basic_decompress(codec, payload, length * dtype.itemsize)
        return np.frombuffer(raw, dtype=dtype, count=length)

    if codec == CODEC_ONE_VALUE:
        val = np.frombuffer(payload[: dtype.itemsize], dtype=dtype)[0]
        return np.full(length, val, dtype=dtype)

    if codec == CODEC_RLE:
        rec_dt = np.dtype([("c", "<u4"), ("v", dtype.newbyteorder("<"))])
        n_possible = len(payload) // rec_dt.itemsize
        rec = np.frombuffer(payload[: n_possible * rec_dt.itemsize], dtype=rec_dt)
        cum = np.cumsum(rec["c"])
        n_runs = int(np.searchsorted(cum, length, side="left")) + 1
        rec = rec[:n_runs]
        return np.repeat(rec["v"], rec["c"])[:length].astype(dtype, copy=False)

    if codec == CODEC_DICT:
        sub = Cursor(payload)
        indices = decode_numeric(sub, length, np.dtype("<u4"))
        n_sets = sub.u32()
        data = np.frombuffer(sub.take(n_sets * dtype.itemsize), dtype=dtype)
        return data[indices]

    if codec == CODEC_FREQ:
        sub = Cursor(payload)
        top = np.frombuffer(sub.take(dtype.itemsize), dtype=dtype)[0]
        bm_size = sub.u32()
        positions = roaring.deserialize(sub.take(bm_size))
        exceptions = decode_numeric(sub, len(positions), dtype)
        out = np.full(length, top, dtype=dtype)
        if len(positions):
            out[positions] = exceptions
        return out

    if codec == CODEC_BITPACKING:
        vals = bitpack.unpack(payload, ((length + 127) // 128) * 128)[:length]
        return vals.view(dtype) if dtype.itemsize == 4 else vals.astype(dtype)

    if codec == CODEC_DELTA_BITPACKING:
        vals = bitpack.unpack_sorted(payload, ((length + 127) // 128) * 128, 0)[:length]
        return vals.view(dtype) if dtype.itemsize == 4 else vals.astype(dtype)

    if codec == CODEC_PATAS:
        return patas.decode(payload, length, dtype)

    raise NotImplementedError(f"unknown codec byte {codec}")


# ---------------------------------------------------------------------------
# Fixed-width big integers (Int128/Int256 = decimal128/256 leaves)
# ---------------------------------------------------------------------------
#
# The reference runs Int128/Int256 through the same integer cascade as the
# narrow types (src/compression/integer/traits.rs:30-39, round-tripped by
# tests/it/io.rs:48-75). numpy has no int128, so values are handled as
# (n, width) u8 rows: unique/run analysis via void views, payload layouts
# byte-identical to the integer codecs with a 16/32-byte value slot.


def _fixed_ffill(rows: np.ndarray, valid: np.ndarray | None) -> np.ndarray:
    """Row-wise _ffill: nulls take the previous row; leading nulls take the
    first valid row (reference RLE run-merge semantics, integer/rle.rs:64-83);
    all-null pages zero-fill."""
    if valid is None or valid.all():
        return rows
    if not valid.any():
        return np.zeros_like(rows)
    idx = np.where(valid, np.arange(len(rows)), -1)
    np.maximum.accumulate(idx, out=idx)
    idx[idx < 0] = int(np.argmax(valid))
    return rows[idx]


def encode_fixed(
    rows: np.ndarray, valid: np.ndarray | None, opts: CodecOptions
) -> bytes:
    """Adaptive cascade for one page of (n, width)-u8 fixed values.
    Candidates mirror the integer chooser minus the bitpacking family
    (4-byte-only, integer/bp.rs:92-100): OneValue, Freq, Dict, RLE."""
    n, width = rows.shape
    total_bytes = n * width
    filled = np.ascontiguousarray(_fixed_ffill(rows, valid))
    void = filled.view(f"V{width}").ravel()
    nn_mask = valid if valid is not None else None
    null_count = int(n - valid.sum()) if valid is not None else 0

    best_codec, best_ratio = None, 0.0
    uniq = inv = counts = None
    run_starts = run_counts = None
    if opts.compress_ratio is not None and n > 0:
        nn_void = void[nn_mask] if nn_mask is not None else void
        uniq, inv, counts = np.unique(
            void, return_inverse=True, return_counts=True
        )
        nn_unique = len(np.unique(nn_void)) if nn_mask is not None else len(uniq)
        top_count = int(counts.max()) if len(counts) else 0

        change = np.nonzero(void[1:] != void[:-1])[0] + 1
        run_starts = np.concatenate([[0], change])
        run_counts = np.diff(np.concatenate([run_starts, [n]]))

        cands: list[tuple[int, float]] = []
        if CODEC_ONE_VALUE not in opts.forbidden and nn_unique <= 1:
            cands.append((CODEC_ONE_VALUE, float(n)))
        if CODEC_FREQ not in opts.forbidden and nn_unique > 1:
            if null_count / n >= 0.9 or top_count / n >= 0.9:
                cands.append((CODEC_FREQ, float(n - 1)))
        if CODEC_DICT not in opts.forbidden and len(uniq) * 3 < n:
            after = len(uniq) * width + n + n * 2 // 128
            cands.append((CODEC_DICT, total_bytes / max(after, 1)))
        if CODEC_RLE not in opts.forbidden:
            rle_size = len(run_counts) * (4 + width)
            cands.append((CODEC_RLE, total_bytes / max(rle_size, 1)))
        for codec, ratio in cands:
            if ratio > best_ratio:
                best_codec, best_ratio = codec, ratio

    if best_codec is None or best_ratio < (opts.compress_ratio or np.inf):
        raw = rows.tobytes()
        payload = _basic_compress(opts.default_codec, raw)
        if len(payload) >= len(raw):
            return _frame(CODEC_NONE, raw, total_bytes)
        return _frame(opts.default_codec, payload, total_bytes)

    if best_codec == CODEC_ONE_VALUE:
        nn_rows = filled[nn_mask] if nn_mask is not None else filled
        val = nn_rows[0].tobytes() if len(nn_rows) else bytes(width)
        return _frame(CODEC_ONE_VALUE, val, total_bytes)

    if best_codec == CODEC_RLE:
        rec = np.empty(
            len(run_starts), dtype=np.dtype([("c", "<u4"), ("v", "u1", (width,))])
        )
        rec["c"] = run_counts
        rec["v"] = filled[run_starts]
        return _frame(CODEC_RLE, rec.tobytes(), total_bytes)

    if best_codec == CODEC_DICT:
        # np.unique sorts, so inv is a valid index array; entry order differs
        # from the reference's insertion-ordered interner but any
        # self-consistent (indices, entries) pair decodes identically
        sub = CodecOptions(
            opts.default_codec, opts.compress_ratio, opts.forbidden | {CODEC_DICT}
        )
        codes = inv.astype(np.uint32)
        payload = encode_numeric(
            codes, None, sub, False, _codes_summary(codes, counts, run_counts)
        )
        entries = uniq.view(np.uint8).reshape(len(uniq), width)
        payload += struct.pack("<I", len(uniq)) + entries.tobytes()
        return _frame(CODEC_DICT, payload, total_bytes)

    if best_codec == CODEC_FREQ:
        if null_count / n >= 0.9 or len(nn_void) == 0:
            top_row = np.zeros(width, dtype=np.uint8)
        else:
            # Top value from non-null rows only (mirrors the numeric FREQ
            # branch above); 1-element fancy index keeps the view 1-D.
            nn_uniq, nn_counts = np.unique(nn_void, return_counts=True)
            top_row = nn_uniq[[int(np.argmax(nn_counts))]].view(np.uint8).ravel()
        neq = void != top_row.view(f"V{width}")[0]
        exc_mask = (nn_mask & neq) if nn_mask is not None else neq
        positions = np.nonzero(exc_mask)[0].astype(np.uint32)
        bm = roaring.serialize(positions)
        sub = CodecOptions(
            opts.default_codec, opts.compress_ratio, opts.forbidden | {CODEC_FREQ}
        )
        payload = (
            top_row.tobytes()
            + struct.pack("<I", len(bm))
            + bm
            + encode_fixed(rows[exc_mask], None, sub)
        )
        return _frame(CODEC_FREQ, payload, total_bytes)

    raise AssertionError(best_codec)


def decode_fixed(cur: Cursor, length: int, width: int) -> bytes | memoryview | pa.Buffer:
    """Fixed-width cascade decode → raw little-endian buffer of
    length*width bytes."""
    codec, csize, usize = cur.frame_header()
    payload = cur.take(csize)

    if codec in BASIC_CODECS:
        return _basic_decompress(codec, payload, length * width)

    if codec == CODEC_ONE_VALUE:
        return np.tile(
            np.frombuffer(payload[:width], dtype=np.uint8), length
        ).tobytes()

    if codec == CODEC_RLE:
        rec_dt = np.dtype([("c", "<u4"), ("v", "u1", (width,))])
        n_possible = len(payload) // rec_dt.itemsize
        rec = np.frombuffer(payload[: n_possible * rec_dt.itemsize], dtype=rec_dt)
        cum = np.cumsum(rec["c"])
        n_runs = int(np.searchsorted(cum, length, side="left")) + 1
        rec = rec[:n_runs]
        return np.repeat(rec["v"], rec["c"], axis=0)[:length].tobytes()

    if codec == CODEC_DICT:
        sub = Cursor(payload)
        indices = decode_numeric(sub, length, np.dtype("<u4"))
        n_sets = sub.u32()
        entries = np.frombuffer(
            sub.take(n_sets * width), dtype=np.uint8
        ).reshape(n_sets, width)
        return entries[indices].tobytes()

    if codec == CODEC_FREQ:
        sub = Cursor(payload)
        top = np.frombuffer(sub.take(width), dtype=np.uint8)
        bm_size = sub.u32()
        positions = roaring.deserialize(sub.take(bm_size))
        exceptions = decode_fixed(sub, len(positions), width)
        out = np.tile(top, length).reshape(length, width)
        if len(positions):
            out[positions] = np.frombuffer(exceptions, dtype=np.uint8).reshape(
                len(positions), width
            )
        return out.tobytes()

    raise NotImplementedError(f"fixed-width codec byte {codec}")


# ---------------------------------------------------------------------------
# Boolean
# ---------------------------------------------------------------------------


def encode_boolean(
    values: np.ndarray, valid: np.ndarray | None, opts: CodecOptions
) -> bytes:
    n = len(values)
    filled = _ffill(values.astype(np.uint8), valid)
    if opts.compress_ratio is not None and n > 0:
        nn = filled[valid] if valid is not None else filled
        true_count = int(nn.sum())
        if (
            CODEC_ONE_VALUE not in opts.forbidden
            and (true_count == 0 or true_count == len(nn))
            and len(nn)
        ):
            return _frame(CODEC_ONE_VALUE, bytes([int(nn[0])]), n)
        run_vals, run_counts = _run_lengths(filled)
        rle_size = len(run_counts) * 5
        if CODEC_RLE not in opts.forbidden and (n + 7) // 8 > rle_size * (
            opts.compress_ratio
        ):
            rec = np.empty(len(run_vals), dtype=np.dtype([("c", "<u4"), ("v", "u1")]))
            rec["c"] = run_counts
            rec["v"] = run_vals
            return _frame(CODEC_RLE, rec.tobytes(), n)
    raw = np.packbits(filled.astype(bool), bitorder="little").tobytes()
    payload = _basic_compress(opts.default_codec, raw)
    return _frame(opts.default_codec, payload, n)  # uncompressed = value count


def decode_boolean(cur: Cursor, length: int) -> np.ndarray:
    codec, csize, _usize = cur.frame_header()
    payload = cur.take(csize)
    if codec in BASIC_CODECS:
        raw = _basic_decompress(codec, payload, (length + 7) // 8)
        return np.unpackbits(
            np.frombuffer(raw, dtype=np.uint8), bitorder="little"
        )[:length].astype(bool)
    if codec == CODEC_ONE_VALUE:
        return np.full(length, payload[0] > 0, dtype=bool)
    if codec == CODEC_RLE:
        rec_dt = np.dtype([("c", "<u4"), ("v", "u1")])
        n_possible = len(payload) // rec_dt.itemsize
        rec = np.frombuffer(payload[: n_possible * rec_dt.itemsize], dtype=rec_dt)
        cum = np.cumsum(rec["c"])
        n_runs = int(np.searchsorted(cum, length, side="left")) + 1
        rec = rec[:n_runs]
        return np.repeat(rec["v"].astype(bool), rec["c"])[:length]
    raise NotImplementedError(f"boolean codec {codec}")


# ---------------------------------------------------------------------------
# Binary / string
# ---------------------------------------------------------------------------


def encode_binary(arr: pa.Array, opts: CodecOptions, offset_width: int) -> bytes:
    """arr: a pa binary/string array slice (one page)."""
    n = len(arr)
    if arr.null_count:
        filled = pc.fill_null(pc.fill_null_forward(arr), b"" if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type) else "")
    else:
        filled = arr
    if isinstance(filled, pa.ChunkedArray):
        filled = filled.combine_chunks()
    np_off, np_val = _binary_buffers(filled)
    values_size = int(np_off[-1] - np_off[0])

    best = None
    if opts.compress_ratio is not None and n > 0:
        # one insertion-ordered hash pass serves the chooser and the Dict
        # and Freq encoders (pc.value_counts lists values in the same order)
        denc = pc.dictionary_encode(filled)
        codes = numpy_view(denc.indices, np.int32)
        dict_off, dict_val = _binary_buffers(denc.dictionary)
        dict_off -= dict_off[0]
        counts = np.bincount(codes, minlength=len(dict_off) - 1)
        unique_count = len(counts)
        total_bytes = values_size + (n + 1) * offset_width
        if CODEC_ONE_VALUE not in opts.forbidden and unique_count <= 1:
            best = (CODEC_ONE_VALUE, float(n))
        elif (
            CODEC_FREQ not in opts.forbidden
            and unique_count > 1
            and counts.max() / n >= 0.9
        ):
            best = (CODEC_FREQ, float(n - 1))
        elif CODEC_DICT not in opts.forbidden and unique_count * 3 < n:
            uniq_size = len(dict_val)
            bits_needed = max(int(unique_count).bit_length(), 1)
            after = uniq_size + n * (bits_needed // 8) + n * 2 // 128
            ratio = total_bytes / max(after, 1)
            if ratio >= opts.compress_ratio:
                best = (CODEC_DICT, ratio)
        if best is not None and best[1] < opts.compress_ratio:
            best = None

    if best is None:
        off_dtype = np.dtype("<i4") if offset_width == 4 else np.dtype("<i8")
        rebased = (np_off - np_off[0]).astype(off_dtype)
        out = bytearray()
        raw_off = rebased.tobytes()
        p1 = _basic_compress(opts.default_codec, raw_off)
        out += _frame(opts.default_codec, p1, len(raw_off))
        raw_val = np_val.tobytes()
        p2 = _basic_compress(opts.default_codec, raw_val)
        out += _frame(opts.default_codec, p2, len(raw_val))
        return bytes(out)

    codec = best[0]
    if codec == CODEC_ONE_VALUE:
        val = np_val[: np_off[1] - np_off[0]].tobytes()
        payload = struct.pack("<I", len(val)) + val
        return _frame(CODEC_ONE_VALUE, payload, values_size)

    if codec == CODEC_FREQ:
        top = int(np.argmax(counts))
        exc_mask = codes != top
        if arr.null_count:
            exc_mask &= unpack_bitmap(arr.buffers()[0], arr.offset, n)
        positions = np.nonzero(exc_mask)[0].astype(np.uint32)
        bm = roaring.serialize(positions)
        top_b = dict_val[dict_off[top] : dict_off[top + 1]].tobytes()
        exc_off, exc_val = _binary_buffers(filled.take(arrow_view(positions)))
        payload = (
            struct.pack("<Q", len(top_b)) + top_b
            + struct.pack("<I", len(bm)) + bm
            + _len_prefixed(np.diff(exc_off), exc_val)
        )
        return _frame(CODEC_FREQ, payload, values_size)

    if codec == CODEC_DICT:
        sub = CodecOptions(
            opts.default_codec, opts.compress_ratio, opts.forbidden | {CODEC_DICT}
        )
        codes = codes.astype(np.uint32)
        payload = (
            encode_numeric(
                codes, None, sub, False, _codes_summary(codes, counts, _run_lengths(codes)[1])
            )
            + struct.pack("<I", len(dict_off) - 1)
            + _len_prefixed(np.diff(dict_off), dict_val)
        )
        return _frame(CODEC_DICT, payload, values_size)

    raise AssertionError(codec)


def _binary_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int array incl +1, values uint8 slice) of a binary array."""
    off_dt = np.dtype("<i8") if pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type) else np.dtype("<i4")
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dt, count=arr.offset + len(arr) + 1)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    values = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    values = values[offsets[0] : offsets[-1]]
    return offsets.astype(np.int64), values


def _take_entries(
    entry_off: np.ndarray, entries: np.ndarray, indices: np.ndarray, offset_width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Row i = entry ``indices[i]`` of the binary entries (offsets,
    bytes), gathered by one Arrow take → (offsets from 0, values uint8)."""
    off_dtype = np.dtype("<i4") if offset_width == 4 else np.dtype("<i8")
    dictionary = pa.Array.from_buffers(
        pa.binary() if offset_width == 4 else pa.large_binary(),
        len(entry_off) - 1,
        [None, pa.py_buffer(entry_off.astype(off_dtype)), pa.py_buffer(entries)],
    )
    bufs = dictionary.take(arrow_view(indices)).buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype, count=len(indices) + 1)
    values = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return offsets, values


def _len_prefixed(lens: np.ndarray, flat: np.ndarray) -> bytes:
    """Values with lengths ``lens`` and concatenated bytes ``flat`` →
    back-to-back ``u64 len | bytes`` records."""
    rec = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens + 8, out=rec[1:])
    len_pos = (rec[:-1, None] + np.arange(8)).ravel()
    out = np.empty(int(rec[-1]), dtype=np.uint8)
    out[len_pos] = lens.astype("<u8").view(np.uint8)
    is_value = np.ones(len(out), dtype=bool)
    is_value[len_pos] = False
    out[is_value] = flat
    return out.tobytes()


def _read_len_prefixed(cur: Cursor, count: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of _len_prefixed for ``count`` records at the cursor →
    (offsets, len+1 from 0; concatenated bytes). Each record's position
    depends on the length before it, so only the lengths are read in a
    loop; the bytes are gathered in one pass."""
    read_len = struct.Struct("<Q").unpack_from
    start = pos = cur.pos
    lens = [0] * count
    for j in range(count):
        (lens[j],) = read_len(cur.buf, pos)
        pos += 8 + lens[j]
    offsets = np.zeros(count + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    region = np.frombuffer(cur.take(pos - start), dtype=np.uint8)
    is_value = np.ones(pos - start, dtype=bool)
    rec = offsets[:-1] + 8 * np.arange(count)  # record starts
    is_value[(rec[:, None] + np.arange(8)).ravel()] = False
    return offsets, region[is_value]


def decode_binary(
    cur: Cursor, length: int, offset_width: int
) -> tuple[np.ndarray, np.ndarray]:
    """→ (integer offsets of len+1 starting at 0, values uint8)."""
    codec, csize, usize = cur.frame_header()
    off_dtype = np.dtype("<i4") if offset_width == 4 else np.dtype("<i8")

    if codec in BASIC_CODECS:
        payload = cur.take(csize)
        raw_off = _basic_decompress(codec, payload, (length + 1) * offset_width)
        offsets = np.frombuffer(raw_off, dtype=off_dtype, count=length + 1)
        codec2, csize2, usize2 = cur.frame_header()
        payload2 = cur.take(csize2)
        raw_val = _basic_decompress(codec2, payload2, usize2)
        values = np.frombuffer(raw_val, dtype=np.uint8)
        return (offsets - offsets[0] if offsets[0] else offsets), values

    payload = cur.take(csize)
    if codec == CODEC_ONE_VALUE:
        sub = Cursor(payload)
        vlen = sub.u32()
        val = np.frombuffer(sub.take(vlen), dtype=np.uint8)
        values = np.tile(val, length)
        offsets = np.arange(length + 1, dtype=np.int64) * vlen
        return offsets, values

    if codec == CODEC_FREQ:
        sub = Cursor(payload)
        top_len = sub.u64()
        top = np.frombuffer(sub.take(top_len), dtype=np.uint8)
        bm_size = sub.u32()
        positions = roaring.deserialize(sub.take(bm_size))
        exc_off, exc_val = _read_len_prefixed(sub, len(positions))
        # entry 0 is the top value, entry j + 1 the j-th exception
        entry_off = np.concatenate([[0], top_len + exc_off])
        idx = np.zeros(length, dtype=np.uint32)
        idx[positions] = np.arange(1, len(positions) + 1)
        return _take_entries(entry_off, np.concatenate([top, exc_val]), idx, offset_width)

    if codec == CODEC_DICT:
        sub = Cursor(payload)
        indices = decode_numeric(sub, length, np.dtype("<u4"))
        n_sets = sub.u32()
        entry_off, entries = _read_len_prefixed(sub, n_sets)
        return _take_entries(entry_off, entries, indices, offset_width)

    raise NotImplementedError(f"binary codec {codec}")
