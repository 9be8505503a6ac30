"""Parquet hybrid-RLE def-level encoding for flat nullable columns
(bit width 1).

The nullable page prefix is `def_levels_len u32 | def_levels` where
def_levels are Parquet-V2 hybrid-RLE (reference: write_validity at
src/write/serialize.rs:200-215; read_validity at src/read/read_basic.rs:36-63,
which only accepts BITPACKED runs). We therefore always emit one bitpacked
run; the decoder additionally accepts RLE runs for robustness.
"""

from __future__ import annotations

import numpy as np


def _uleb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def unpack_bitmap(buf, offset: int, length: int) -> np.ndarray:
    """Bits [offset, offset + length) of an Arrow bitmap as bools, unpacking
    only the bytes that hold them (a page is a slice of a whole column)."""
    first = offset // 8
    raw = np.frombuffer(buf, dtype=np.uint8)[first : (offset + length + 7) // 8]
    bits = np.unpackbits(raw, bitorder="little")
    return bits[offset - first * 8 : offset - first * 8 + length].astype(bool)


def encode_validity(valid: np.ndarray | None, length: int) -> bytes:
    """valid: bool array (True = present) or None (all present)."""
    if valid is None:
        valid = np.ones(length, dtype=bool)
    groups = (length + 7) // 8
    header = _uleb128((groups << 1) | 1)
    padded = np.zeros(groups * 8, dtype=bool)
    padded[:length] = valid
    return header + np.packbits(padded, bitorder="little").tobytes()


def decode_validity(buf: memoryview, length: int) -> tuple[np.ndarray, int]:
    """Parse `def_levels_len u32 | def_levels` → (bool array, bytes consumed).
    A zero def_levels_len means no validity data (treated as all-valid)."""
    def_len = int.from_bytes(buf[0:4], "little")
    pos = 4
    end = 4 + def_len
    if def_len == 0:
        return np.ones(length, dtype=bool), end
    out = np.empty(length, dtype=bool)
    count = 0
    while count < length and pos < end:
        # ULEB128 run header
        header = 0
        shift = 0
        while True:
            byte = buf[pos]
            pos += 1
            header |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        if header & 1:  # bitpacked run of (header>>1) groups of 8
            groups = header >> 1
            nbytes = groups
            bits = np.unpackbits(
                np.frombuffer(buf[pos : pos + nbytes], dtype=np.uint8),
                bitorder="little",
            )
            take = min(groups * 8, length - count)
            out[count : count + take] = bits[:take].astype(bool)
            count += take
            pos += nbytes
        else:  # RLE run: (header>>1) repeats of a 1-byte level
            run = header >> 1
            val = bool(buf[pos])
            pos += 1
            take = min(run, length - count)
            out[count : count + take] = val
            count += take
    if count < length:
        out[count:] = True
    return out, end
