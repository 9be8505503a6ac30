"""Minimal portable Roaring bitmap (de)serialization, numpy-vectorized.

The Freq codec stores exception positions as a Roaring bitmap in the
*portable* serialization format (reference: roaring-rs `serialize_into` /
`deserialize_from`, used at src/compression/integer/freq.rs:73-77,104-107).
roaring-rs writes the no-run-container flavor (cookie 12346); we emit the
same and additionally read the run-container flavor (cookie 12347) for
robustness. Only 32-bit bitmaps (what the format needs: page-local row
positions).
"""

from __future__ import annotations

import struct

import numpy as np

SERIAL_COOKIE_NO_RUNCONTAINER = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4
ARRAY_CONTAINER_MAX = 4096


def serialize(positions: np.ndarray) -> bytes:
    """Serialize sorted uint32 positions to portable roaring bytes."""
    positions = np.asarray(positions, dtype=np.uint32)
    keys = (positions >> 16).astype(np.uint16)
    lows = (positions & 0xFFFF).astype(np.uint16)
    uniq_keys, starts = np.unique(keys, return_index=True)
    bounds = np.append(starts, len(positions))

    out = [struct.pack("<II", SERIAL_COOKIE_NO_RUNCONTAINER, len(uniq_keys))]
    containers: list[bytes] = []
    for i, k in enumerate(uniq_keys):
        vals = lows[bounds[i] : bounds[i + 1]]
        card = len(vals)
        out.append(struct.pack("<HH", int(k), card - 1))
        if card <= ARRAY_CONTAINER_MAX:
            containers.append(vals.tobytes())
        else:
            bits = np.zeros(65536, dtype=bool)
            bits[vals] = True
            containers.append(np.packbits(bits, bitorder="little").tobytes())
    # offsets section (always present in the no-run flavor)
    offset = len(out[0]) + 4 * len(uniq_keys) + 4 * len(uniq_keys)
    for c in containers:
        out.append(struct.pack("<I", offset))
        offset += len(c)
    out.extend(containers)
    return b"".join(out)


def deserialize(buf: bytes | memoryview) -> np.ndarray:
    """Parse portable roaring bytes → sorted uint32 positions."""
    buf = memoryview(buf)
    (cookie,) = struct.unpack_from("<I", buf, 0)
    pos = 4
    run_flags = None
    if cookie == SERIAL_COOKIE_NO_RUNCONTAINER:
        (n_containers,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        has_offsets = True
    elif (cookie & 0xFFFF) == SERIAL_COOKIE:
        n_containers = (cookie >> 16) + 1
        n_flag_bytes = (n_containers + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(buf[pos : pos + n_flag_bytes], dtype=np.uint8),
            bitorder="little",
        )[:n_containers]
        pos += n_flag_bytes
        has_offsets = n_containers >= NO_OFFSET_THRESHOLD
    else:
        raise ValueError(f"bad roaring cookie: {cookie}")

    headers = np.frombuffer(buf[pos : pos + 4 * n_containers], dtype=np.uint16)
    keys = headers[0::2].astype(np.uint32)
    cards = headers[1::2].astype(np.int64) + 1
    pos += 4 * n_containers
    if has_offsets:
        pos += 4 * n_containers  # we parse sequentially; offsets unneeded

    parts: list[np.ndarray] = []
    for i in range(n_containers):
        base = keys[i] << 16
        card = int(cards[i])
        if run_flags is not None and run_flags[i]:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = np.frombuffer(buf[pos : pos + 4 * n_runs], dtype=np.uint16)
            pos += 4 * n_runs
            starts_, lens_ = runs[0::2].astype(np.int64), runs[1::2].astype(np.int64)
            vals = np.concatenate(
                [np.arange(s, s + ln + 1, dtype=np.uint32) for s, ln in zip(starts_, lens_)]
            )
        elif card <= ARRAY_CONTAINER_MAX:
            vals = np.frombuffer(buf[pos : pos + 2 * card], dtype=np.uint16).astype(
                np.uint32
            )
            pos += 2 * card
        else:
            bits = np.unpackbits(
                np.frombuffer(buf[pos : pos + 8192], dtype=np.uint8),
                bitorder="little",
            )
            vals = np.nonzero(bits)[0].astype(np.uint32)
            pos += 8192
        parts.append(base | vals)
    if not parts:
        return np.empty(0, dtype=np.uint32)
    return np.concatenate(parts)
