"""Patas codec — DuckDB's "patas" XOR-with-reference float compression,
byte-compatible with the reference (src/compression/double/patas.rs):

- value[0] stored raw little-endian.
- value[i>0]: find the most recent index holding the SAME bit pattern
  (hash lookup); if none within the last 128 values, reference i-1.
  xor = bits[i] ^ bits[ref]; store
  ``pack(ref_diff:7b, sig_bytes:3b, trailing_zeros:6b)`` as u16 LE followed
  by the significant bytes of ``xor >> trailing_zeros``.
- equal values (xor == 0) store sig_bytes = 0 and trailing_zeros = nbits-1
  (the reference's ``trailing_zeros - is_equal`` trick, patas.rs:76-95).
- 8 significant bytes are encoded as sig_bytes = 0 (3-bit field) and
  disambiguated on decode by ``trailing_zeros < 63`` (unpack quirk,
  patas.rs:160-166) — only possible for f64.

Both directions are numpy-vectorized. Encode is loop-free (stable-argsort
reference lookup + byte-plane assembly). Decode keeps one minimal Python
pass to walk the variable-length headers (payload lengths chain the entry
offsets — strictly sequential), then resolves the XOR reference chain with
vectorized pointer doubling: vals[i] is the XOR of stored contributions
along its chain to value 0, so log2(n) gather+xor rounds replace the
value-at-a-time loop. The chooser prices a sample with ``encoded_size``
(the same fields, no payload) and skips it when ``max_sample_ratio`` shows
patas cannot win. For measured throughput, run the benchmark's codec
workload traced and read its ``format.encode_mb_per_s.f64`` and
``format.decode_mb_per_s.f64`` metrics.
"""

from __future__ import annotations

import numpy as np


#: the smallest value of each significant-byte count: a value needs
#: ``searchsorted(_BYTE_FLOORS, v, "right")`` bytes (0 for 0), exactly
_BYTE_FLOORS = np.array([1 << (8 * k) for k in range(8)], dtype=np.uint64)


def _xor_fields(bits: np.ndarray) -> tuple[np.ndarray, ...]:
    """Per value: (ref_diff, xor, trailing zeros, xor >> trailing zeros,
    significant bytes of that); value 0 is stored raw, so its entries go
    unused.

    The reference index of value i is its most recent IDENTICAL bit pattern
    (else 0), demoted to i-1 when more than 127 back — computed with a
    stable argsort over the values; trailing-zero counts come from an exact
    power-of-two log2 of the isolated lowest set bit; significant-byte
    counts from a search over the byte floors."""
    n = len(bits)
    u = bits.astype(np.uint64, copy=False)
    idx = np.arange(n, dtype=np.int64)

    # prev[i] = last j<i with u[j] == u[i], else -1 (the dict in the
    # reference's ring-buffer lookup, patas.rs:34-58): one stable sort
    # groups equal values while preserving index order within each group
    order = np.argsort(u, kind="stable")
    prev = np.full(n, -1, dtype=np.int64)
    same = u[order][1:] == u[order][:-1]
    prev[order[1:][same]] = order[:-1][same]

    ref = np.where(prev >= 0, prev, 0)
    ref = np.where(idx - ref >= 128, idx - 1, ref)
    diff = (idx - ref).astype(np.uint64)
    xor = u ^ u[ref]

    # exact trailing zeros: lowest set bit is a power of two, so float64
    # log2 is exact for it at any width up to 2^63 (xor 0 → lowbit 0 → 0)
    lowbit = xor & (~xor + np.uint64(1))
    tz = np.log2(np.maximum(lowbit, np.uint64(1)).astype(np.float64)).astype(np.uint64)
    shifted = xor >> tz
    sig_bytes = np.searchsorted(_BYTE_FLOORS, shifted, side="right")
    return diff, xor, tz, shifted, sig_bytes


def encode(bits: np.ndarray) -> bytes:
    """bits: uint32/uint64 view of the float page values.

    Fully numpy-vectorized (no per-value Python loop): the fields come from
    ``_xor_fields`` and the variable-length payload is assembled from a
    fixed 10-byte row per value with one boolean mask. Byte-identical to
    the sequential formulation (kept in git history); for measured
    throughput, run the benchmark's codec workload traced and read its
    ``format.encode_mb_per_s.f64`` metric."""
    nbytes = bits.dtype.itemsize
    nbits = nbytes * 8
    n = len(bits)
    if n == 0:
        return b""
    diff, xor, tz, shifted, sig_bytes = _xor_fields(bits)
    tz_stored = np.where(xor != 0, tz, np.uint64(nbits - 1))

    packed = (
        ((diff & np.uint64(0x7F)) << np.uint64(9))
        | ((sig_bytes.astype(np.uint64) & np.uint64(7)) << np.uint64(6))
        | (tz_stored & np.uint64(0x3F))
    ).astype("<u2")

    # payload layout: [raw value 0][2B packed + sig bytes]per value>0 —
    # built as a fixed 10-byte-per-value matrix whose unused cells are
    # compacted away with one boolean mask over the raveled bytes
    wide = np.empty((n, 10), dtype=np.uint8)
    wide[:, :2] = packed.view(np.uint8).reshape(n, 2)
    wide[:, 2:] = shifted.astype("<u8", copy=False).view(np.uint8).reshape(n, 8)
    keep = np.empty((n, 10), dtype=bool)
    keep[:, :2] = True
    keep[:, 2:] = np.arange(8, dtype=np.int64) < sig_bytes[:, None]
    keep[0, :] = False
    return (
        int(bits[0]).to_bytes(nbytes, "little")
        + wide.ravel()[keep.ravel()].tobytes()
    )


def encoded_size(bits: np.ndarray) -> int:
    """``len(encode(bits))`` without building the payload: the raw first
    value, then a 2-byte header plus the significant bytes per value."""
    if len(bits) == 0:
        return 0
    sig_bytes = _xor_fields(bits)[4]
    return bits.dtype.itemsize + 2 * (len(bits) - 1) + int(sig_bytes[1:].sum())


def decode(buf: memoryview, length: int, dtype: np.dtype) -> np.ndarray:
    """Inverse of encode; returns the float array.

    The XOR chain (each value references one of the previous 128 OUTPUTS)
    looks inherently sequential, but vals[i] is just the XOR of the stored
    contributions along its reference chain down to value 0 — so after a
    minimal Python pass that only walks the variable-length headers to find
    entry offsets, the chain resolves with vectorized pointer doubling
    (log2(n) rounds of gather+xor), and payload bytes are assembled with
    8 masked byte-plane gathers."""
    udt = np.dtype(f"<u{dtype.itemsize}")
    nbytes = udt.itemsize
    w64 = nbytes == 8
    if length == 0:
        return np.empty(0, dtype=dtype)
    raw = np.frombuffer(buf, dtype=np.uint8)
    v0 = int.from_bytes(buf[0:nbytes], "little")
    n = length
    if n == 1:
        return np.array([v0], dtype=udt).view(dtype)
    # sequential part: header walk only — the tightest possible loop (bytes
    # indexing, list append; entry offsets reconstructed by cumsum after)
    b = bytes(buf)
    sig_list: list[int] = []
    append = sig_list.append
    pos = nbytes
    if w64:
        for _ in range(n - 1):
            lo = b[pos]
            s = ((lo >> 6) & 3) | ((b[pos + 1] & 1) << 2)
            if s == 0 and (lo & 0x3F) < 63:
                s = 8
            append(s)
            pos += 2 + s
    else:
        for _ in range(n - 1):
            s = ((b[pos] >> 6) & 3) | ((b[pos + 1] & 1) << 2)
            append(s)
            pos += 2 + s
    sig = np.array(sig_list, dtype=np.int64)
    offs = np.empty(n - 1, dtype=np.int64)
    offs[0] = nbytes
    if n > 2:
        np.cumsum(2 + sig[:-1], out=offs[1:])
        offs[1:] += nbytes
    hdr = raw[offs].astype(np.uint16) | (
        raw[offs + 1].astype(np.uint16) << 8
    )
    tz = (hdr & 0x3F).astype(np.uint64)
    diff = ((hdr >> 9) & 0x7F).astype(np.int64)
    if (diff == 0).any():
        # a valid encoder always references a PREVIOUS value (ref < i), so
        # ref_diff=0 only occurs in corrupt/foreign bytes — without this
        # guard the pointer-doubling loop below would never terminate
        raise ValueError("corrupt patas page: ref_diff=0 header entry")
    # payload bytes → stored (xor >> tz), 8 masked byte-plane gathers
    stored = np.zeros(n - 1, dtype=np.uint64)
    payload = offs + 2
    for k in range(8):
        m = sig > k
        if not m.any():
            break
        stored[m] |= raw[payload[m] + k].astype(np.uint64) << np.uint64(8 * k)
    # acc[i] = this entry's xor contribution; par[i] = chain predecessor
    acc = np.zeros(n, dtype=np.uint64)
    acc[1:] = stored << tz
    par = np.zeros(n, dtype=np.int64)
    par[1:] = np.arange(1, n, dtype=np.int64) - diff
    # pointer doubling: vals[i] = acc[i] ^ vals[par[i]], bottoming at
    # vals[0] = v0; freeze entries once their chain reaches 0
    while True:
        active = par > 0
        if not active.any():
            break
        pa = par[active]
        acc[active] ^= acc[pa]
        par[active] = par[pa]
    vals = acc ^ np.uint64(v0)
    vals[0] = v0
    if not w64:
        vals = vals & np.uint64(0xFFFFFFFF)
    return vals.astype(udt).view(dtype)


def _sample(bits: np.ndarray, sample_count: int, sample_size: int) -> np.ndarray:
    n = len(bits)
    if n <= sample_count * sample_size:
        return bits
    step = n // sample_count
    return np.concatenate([bits[i * step : i * step + sample_size] for i in range(sample_count)])


def sample_ratio(bits: np.ndarray, sample_count: int = 10, sample_size: int = 64) -> float:
    """Estimated compression ratio from compressing evenly-spaced sample
    runs (the reference's compress_sample_ratio, compression/mod.rs:29-33),
    priced by ``encoded_size``."""
    if len(bits) == 0:
        return 0.0
    sample = _sample(bits, sample_count, sample_size)
    raw = len(sample) * bits.dtype.itemsize
    return raw / max(encoded_size(sample), 1)


def max_sample_ratio(n: int, itemsize: int, sample_count: int = 10, sample_size: int = 64) -> float:
    """The largest value ``sample_ratio`` can return for ``n`` values: a
    sample of m values encodes to at least its raw first value plus a
    2-byte header per other value, so no ratio exceeds
    ``m·w / (w + 2(m − 1))``. Computed by the same expression, so it bounds
    the float ``sample_ratio`` returns too."""
    if n == 0:
        return 0.0
    m = min(n, sample_count * sample_size)
    return m * itemsize / max(itemsize + 2 * (m - 1), 1)
