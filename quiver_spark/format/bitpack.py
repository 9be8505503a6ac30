"""BitPacker4x-compatible bit packing, numpy-vectorized.

The Bitpacking / DeltaBitpacking codecs pack u32 values in 128-value blocks
using the 4-lane SIMD layout of the `bitpacking` crate's BitPacker4x
(reference: src/compression/integer/bp.rs:33-101, delta_bp.rs:33-110):

- A block's 128 values are viewed as 32 SIMD words of 4 consecutive values;
  lane l therefore carries values v[l], v[l+4], ..., v[l+124].
- Each lane's 32 values are packed LSB-first into `num_bits` u32 words.
- Output interleaves lanes: 128-bit word k = (lane0_word_k .. lane3_word_k).
- Per block: u8 num_bits prefix, then num_bits*16 payload bytes.
- Delta flavor packs per-lane word deltas v[i]-v[i-1] (the block's first
  word subtracts the running `initial` = previous block's last raw value,
  broadcast to all lanes); num_bits still comes from the raw block max
  (mirroring the reference, which calls num_bits(chunk) for both flavors).

Vectorization: one pass over all blocks, whatever their mix of widths.
Value i of a lane sits at bit i*num_bits of that lane's stream, so its low
part lands in one u32 word and any spill-over in the lane's next word; pack
scatters both parts with one ``np.bincount`` (the parts of a word never
overlap, so their sum is their OR) and unpack gathers each value from its
word pair. Only the block headers are read in a Python loop, and only when
the blocks differ in width: each header's position depends on the width
before it.
"""

from __future__ import annotations

import numpy as np

BLOCK = 128
WORDS = 32  # SIMD words per block (BLOCK / 4 lanes)


def _bits_needed(x: np.ndarray) -> np.ndarray:
    """Bits needed per value (0 → 0). ceil(log2(x+1)) is exact for u32 in
    float64 (x+1 ≤ 2^32 is exactly representable; log2 of exact powers of
    two is exact)."""
    x = x.astype(np.float64)
    return np.where(x == 0, 0, np.ceil(np.log2(x + 1.0))).astype(np.uint8)


def _value_slots() -> tuple[np.ndarray, np.ndarray]:
    """Per width b = 0..32, where each of a block's (32, 4) values sits in
    its block's payload: (the (low, spill-over) pair of u32 word indices,
    shape (33, 32, 4, 2); the bit shift of the value in its low word,
    shape (33, 32, 4)). Value i of a lane starts at lane bit i*b; lane l's
    word k is payload word k*4 + l, so the spill-over word is 4 further on."""
    pos = np.arange(33)[:, None] * np.arange(WORDS)  # (33, 32) lane bit offsets
    low = (pos >> 5)[:, :, None] * 4 + np.arange(4)
    words = np.stack([low, low + 4], axis=-1)
    shifts = np.broadcast_to((pos & 31)[:, :, None], low.shape).astype(np.uint64)
    return words, shifts


_SLOT_WORDS, _SLOT_SHIFTS = _value_slots()
_MASKS = (np.uint64(1) << np.arange(33, dtype=np.uint64)) - np.uint64(1)


def _block_starts(bits: np.ndarray) -> np.ndarray:
    """First payload u32 word of each block (+ the total as a last entry)."""
    starts = np.zeros(len(bits) + 1, dtype=np.int64)
    np.cumsum(bits.astype(np.int64) * 4, out=starts[1:])
    return starts


def _emit(blocks: np.ndarray, bits: np.ndarray) -> bytes:
    """Pack (nblocks, 32, 4) u32 values, each block at its own width, and
    frame them as per-block (num_bits u8, payload)."""
    starts = _block_starts(bits)
    n_words = int(starts[-1])
    # shifted into u64, a value's low half is its part of the low word and
    # its high half the spill-over: the (lo, hi) u32 view lines up with
    # the (low, spill-over) word pairs
    parts = (blocks.astype(np.uint64) << _SLOT_SHIFTS[bits]).view(np.uint32)
    idx = _SLOT_WORDS[bits] + starts[:-1, None, None, None]
    sums = np.bincount(idx.ravel(), weights=parts.ravel(), minlength=n_words + 4)
    payload = sums[:n_words].astype("<u4").view(np.uint8)
    heads = np.arange(len(bits)) + starts[:-1] * 4
    out = np.empty(len(bits) + len(payload), dtype=np.uint8)
    is_payload = np.ones(len(out), dtype=bool)
    is_payload[heads] = False
    out[heads] = bits
    out[is_payload] = payload
    return out.tobytes()


def _parse(buf: memoryview, nblocks: int) -> np.ndarray:
    """Inverse of _emit: → (nblocks, 32, 4) u32 values."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    # fast path: every block at the first block's width → headers sit at
    # arithmetic positions (verified vectorized); else the sequential scan
    b0 = int(raw[0]) if nblocks else 0
    stride = 1 + 16 * b0
    heads = np.arange(nblocks, dtype=np.int64) * stride
    if len(raw) == nblocks * stride and bool((raw[heads] == b0).all()):
        bits = np.full(nblocks, b0, dtype=np.uint8)
    else:
        heads = np.empty(nblocks, dtype=np.int64)
        head_bytes = memoryview(raw)  # indexes to Python ints
        pos = 0
        for blk in range(nblocks):
            heads[blk] = pos
            pos += 1 + head_bytes[pos] * 16
        bits = raw[heads]
    starts = _block_starts(bits)
    n_words = int(starts[-1])
    is_payload = np.ones(nblocks + n_words * 4, dtype=bool)
    is_payload[heads] = False
    # 8 zero words of padding: a zero-width block, or a value without
    # spill-over at the end, still reads a word pair at its slot
    words = np.zeros(n_words + 8, dtype=np.uint32)
    words[:n_words] = raw[: len(is_payload)][is_payload].view("<u4")
    pairs = words[_SLOT_WORDS[bits] + starts[:-1, None, None, None]].view(np.uint64)[..., 0]
    return ((pairs >> _SLOT_SHIFTS[bits]) & _MASKS[bits][:, None, None]).astype(np.uint32)


def pack(values: np.ndarray) -> bytes:
    """Plain BitPacker4x compress of u32 values (len % 128 == 0)."""
    v = np.ascontiguousarray(values, dtype=np.uint32)
    assert len(v) % BLOCK == 0 and len(v) > 0
    blocks = v.reshape(-1, WORDS, 4)
    bits = _bits_needed(blocks.reshape(blocks.shape[0], -1).max(axis=1))
    return _emit(blocks, bits)


def unpack(buf: memoryview, length: int) -> np.ndarray:
    nblocks = (length + BLOCK - 1) // BLOCK
    return _parse(buf, nblocks).reshape(nblocks * BLOCK)[:length]


def pack_sorted(values: np.ndarray, initial: int = 0) -> bytes:
    """DeltaBitpacking compress of non-decreasing u32 values ≥ ``initial``
    (len % 128 == 0); sortedness keeps every delta within its block's
    width, which is taken from the raw values."""
    v = np.ascontiguousarray(values, dtype=np.uint32)
    assert len(v) % BLOCK == 0 and len(v) > 0
    blocks = v.reshape(-1, WORDS, 4)
    nblocks = blocks.shape[0]
    prev = np.empty_like(blocks)
    prev[:, 1:, :] = blocks[:, :-1, :]
    inits = np.empty(nblocks, dtype=np.uint32)
    inits[0] = initial
    if nblocks > 1:
        inits[1:] = v[BLOCK - 1 :: BLOCK][:-1]  # prior block's last raw value
    prev[:, 0, :] = inits[:, None]
    deltas = blocks - prev  # u32 wrap-around == SIMD sub semantics
    bits = _bits_needed(blocks.reshape(nblocks, -1).max(axis=1))
    return _emit(deltas, bits)


def unpack_sorted(buf: memoryview, length: int, initial: int = 0) -> np.ndarray:
    nblocks = (length + BLOCK - 1) // BLOCK
    deltas = _parse(buf, nblocks).astype(np.uint64)
    # per-lane integration within each block ...
    vals = np.cumsum(deltas, axis=1)
    # ... seeded by a per-block initial: lane-3 total of the previous block
    block_last = vals[:, -1, 3]
    inits = np.zeros(nblocks, dtype=np.uint64)
    inits[0] = initial
    if nblocks > 1:
        inits[1:] = initial + np.cumsum(block_last)[:-1]
    vals += inits[:, None, None]
    return vals.astype(np.uint32).reshape(nblocks * BLOCK)[:length]
