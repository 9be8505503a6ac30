"""Per-page min/max/null-count statistics — the engine-side zone-map
extension over the reference format.

The reference persists NO statistics (PageMeta is only {length, num_values},
src/lib.rs:75-80; src/stat.rs is a diagnostic, nothing stored), so predicate
pushdown is impossible on bare files. We keep the data file byte-layout
untouched and write a sidecar `<file>.stats.json` next to each `.quiver`
file. Readers that don't know about the sidecar still work; readers that do
prune page ranges before scheduling partitions — at 100 TB this is the
difference between scanning everything and scanning the pages a selective
predicate touches (same role as parquet row-group stats + zone maps).

Stored domains are chosen so JSON round-trips exactly and comparisons are
branch-free:
- integers / floats: JSON numbers (pages containing NaN get null stats)
- booleans: JSON booleans
- strings: min is a 64-char prefix (a valid lower bound even when
  truncated); max is null when truncation would break the upper bound
- date32/date64/timestamp/time/duration: the PHYSICAL int (days / millis /
  unit ticks) — filter values are converted to the same physical domain
- binary / nested / other: no stats (null entries, never pruned)
"""

from __future__ import annotations

import datetime
import json
import math
import os

import pyarrow as pa
import pyarrow.compute as pc

STATS_SUFFIX = ".stats.json"
STATS_VERSION = 1
_STR_CAP = 64

_EPOCH = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)

#: ticks per second for timestamp/time units
_UNIT_SCALE = {"s": 1, "ms": 1_000, "us": 1_000_000, "ns": 1_000_000_000}


def _physical_int_type(t: pa.DataType) -> pa.DataType | None:
    """The int type whose values equal the temporal type's physical ticks."""
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return pa.int32()
    if (
        pa.types.is_date64(t)
        or pa.types.is_time64(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_duration(t)
    ):
        return pa.int64()
    return None


def supports_stats(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or _physical_int_type(t) is not None
    )


_INT64_LIMIT = 1 << 63


def _page_sum(arr: pa.Array, t: pa.DataType, lo: int, hi: int) -> int | None:
    """Exact non-null sum for PURE integer pages (not temporal views —
    SUM over dates is not SQL), or None when the running sum in row order
    leaves int64 at any step, as in the JVM writer's ``Math.addExact``
    (QuiverStatsBuilder), or the type is unsupported. Feeds the pushed-SUM
    aggregate: a None here simply refuses the pushdown, never changes an
    answer. ``lo``/``hi`` are the page's min and max: while
    ``rows · max(|lo|, |hi|)`` stays under 2^63 no running sum can leave
    int64, so ``pc.sum`` (which wraps) is exact."""
    if not pa.types.is_integer(t):
        return None
    rows = len(arr) - arr.null_count
    if max(-lo, hi) * rows < _INT64_LIMIT:
        return pc.sum(arr).as_py()
    if hi >= _INT64_LIMIT:
        return None  # a uint64 value no int64 sum can hold
    try:  # raises at the first running sum that leaves int64
        s = pc.cumulative_sum_checked(pc.cast(pc.drop_null(arr), pa.int64()))[-1].as_py()
    except pa.ArrowInvalid:
        return None
    return None if s == -_INT64_LIMIT else s


def _min_max(arr: pa.Array) -> tuple[object, object]:
    mm = pc.min_max(arr)
    return mm["min"].as_py(), mm["max"].as_py()


def page_stats(
    arr: pa.Array, distinct: pa.Array | None = None
) -> tuple[object, object, int, int | None]:
    """(min, max, null_count, int_sum) for one page in the JSON-stable
    domain; (None, None, nulls, None) when unsupported/unavailable.

    ``distinct``, when given, holds the page's non-null values once each
    in the order they first appear (the dictionary the writer's chooser
    built for the page); min/max and the NaN check then reduce over it
    instead of every row. Equal values are identical except 0.0 and -0.0,
    and which of those ``pc.min_max`` keeps depends on where the page's
    nulls fall, so a float min or max of zero is taken over the page.
    ``int_sum`` is None once a running sum leaves int64 (``_page_sum``)."""
    t = arr.type
    nulls = arr.null_count
    if nulls == len(arr) or len(arr) == 0 or not supports_stats(t):
        return None, None, nulls, None
    phys = _physical_int_type(t)
    if phys is not None:
        arr = arr.view(phys)
    values = arr if distinct is None else distinct
    if pa.types.is_floating(t):
        # pc.min_max SKIPS NaN, so a finite max would let page_may_match
        # prune gt/gte/eq pages even though Spark orders NaN above every
        # value. Pages containing any NaN get null stats (never pruned).
        if bool(pc.any(pc.is_nan(values)).as_py()):
            return None, None, nulls, None
    lo, hi = _min_max(values)
    if pa.types.is_floating(t) and values is distinct and 0.0 in (lo, hi):
        lo, hi = _min_max(arr)  # a zero may tie with its other sign
    if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
        return None, None, nulls, None
    if isinstance(lo, str):
        lo = lo[:_STR_CAP]
        hi = None if len(hi) > _STR_CAP else hi
    return lo, hi, nulls, _page_sum(arr, t, lo, hi)


def build_file_stats(
    per_column: dict[str, list[tuple[object, object, int]]],
    page_rows: list[int],
    page_crc32: list[list[int]] | None = None,
    per_column_bloom: dict[str, list[str | None]] | None = None,
) -> dict:
    out = {
        "version": STATS_VERSION,
        "page_rows": page_rows,
        "columns": {
            name: {
                "min": [s[0] for s in stats],
                "max": [s[1] for s in stats],
                "nulls": [s[2] for s in stats],
                # exact non-null int64 page sums (None elsewhere) — the
                # pushed-SUM aggregate's source; old readers ignore the
                # extra key, old sidecars without it refuse the pushdown
                "sum": [s[3] if len(s) > 3 else None for s in stats],
            }
            for name, stats in per_column.items()
        },
    }
    for name, pages in (per_column_bloom or {}).items():
        # blooms attach to the column entry (created above whenever the
        # type supports min/max; bloomable types always do)
        out["columns"].setdefault(name, {})["bloom"] = {
            "k": BLOOM_K,
            "pages": pages,
        }
    if page_crc32 is not None:
        # per-LEAF lists of crc32(page bytes as written), in footer meta
        # order — silent-corruption detection for object-store transfers
        # (the data file layout carries no checksums, reference parity)
        out["page_crc32"] = page_crc32
    return out


def write_sidecar(data_path: str, stats: dict) -> None:
    # Atomic publish (temp + os.replace, matching the datasource writer's
    # commit protocol): a crash mid-write must not leave a truncated sidecar
    # that load_sidecar silently treats as None — that would permanently and
    # invisibly disable checksum verification and page-stat pruning for the
    # file — and a concurrent reader must never observe a partial sidecar.
    final = data_path + STATS_SUFFIX
    tmp = final + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, final)


def load_sidecar(data_path: str) -> dict | None:
    p = data_path + STATS_SUFFIX
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            stats = json.load(f)
        return stats if stats.get("version") == STATS_VERSION else None
    except (OSError, ValueError):
        return None


#: bloom sizing: ~8 bits per stored value, k=5 → ~2% false positives;
#: rounded up to a power of two for cheap modular indexing
BLOOM_BITS_PER_VALUE = 8
BLOOM_K = 5
BLOOM_MIN_BITS = 1024


def supports_bloom(t: pa.DataType) -> bool:
    """Bloom-able stored domains: exact integer-family (incl. temporal
    physical ticks) and strings. Floats are excluded — equality filters
    on floats are pruned by min/max only."""
    return (
        pa.types.is_integer(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or _physical_int_type(t) is not None
    )


def bloom_key(value) -> bytes | None:
    """Canonical hash input for a stored-domain value; None when the
    value's type is outside the bloom domain (no pruning)."""
    if isinstance(value, bool):
        return None
    if isinstance(value, int):
        return b"i:%d" % value
    if isinstance(value, str):
        return b"s:" + value.encode("utf-8")
    return None


def _bloom_hashes(key: bytes) -> tuple[int, int]:
    import hashlib

    d = hashlib.blake2b(key, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little"),
    )


def page_bloom(arr: pa.Array) -> str | None:
    """Base64 bloom filter over one page's non-null values — the
    data-skipping extension for POINT LOOKUPS on columns whose min/max
    zone maps are useless (unsorted high-cardinality ids: every page's
    range spans the domain, but a bloom answers "is key K possibly
    here?" per page). Double hashing (Kirsch-Mitzenmacher) over a
    blake2b-128 of the canonical key; no false negatives by
    construction. None when the type is unsupported."""
    import base64

    t = arr.type
    if not supports_bloom(t):
        return None
    phys = _physical_int_type(t)
    if phys is not None:
        arr = arr.view(phys)
    vals = [v for v in arr.to_pylist() if v is not None]
    m = max(BLOOM_MIN_BITS, BLOOM_BITS_PER_VALUE * max(1, len(vals)))
    m = 1 << (m - 1).bit_length()
    bits = bytearray(m // 8)
    for v in vals:
        key = bloom_key(v)
        if key is None:
            return None  # mixed/unexpected domain: no bloom for the page
        h1, h2 = _bloom_hashes(key)
        for i in range(BLOOM_K):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return base64.b64encode(bytes(bits)).decode()


def bloom_may_contain(page_b64: str, key: bytes) -> bool:
    import base64

    bits = base64.b64decode(page_b64)
    m = len(bits) * 8
    h1, h2 = _bloom_hashes(key)
    for i in range(BLOOM_K):
        idx = (h1 + i * h2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def to_physical(value, t: pa.DataType):
    """Convert a filter value from Spark's Python domain into the sidecar's
    stored domain. Returns NotImplemented when un-convertible (no pruning)."""
    if value is None:
        return NotImplemented
    if pa.types.is_date32(t):
        if isinstance(value, datetime.date) and not isinstance(
            value, datetime.datetime
        ):
            return (value - _EPOCH).days
        return NotImplemented
    if pa.types.is_timestamp(t):
        if isinstance(value, datetime.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            delta = value - _EPOCH_DT
            micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
            scale = _UNIT_SCALE[t.unit]
            return micros * scale // 1_000_000
        return NotImplemented
    if pa.types.is_integer(t) or pa.types.is_floating(t):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return NotImplemented
        return value
    if pa.types.is_boolean(t):
        return value if isinstance(value, bool) else NotImplemented
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return value if isinstance(value, str) else NotImplemented
    return NotImplemented


def _cmp_ok(a, b) -> bool:
    """Comparable under the stored domain (numbers with numbers, etc.)."""
    num = (int, float)
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, num) and isinstance(b, num):
        return True
    return type(a) is type(b)


def page_may_match(op: str, value, lo, hi, nulls: int, num_values: int) -> bool:
    """Conservative page predicate: False ONLY when no row can satisfy the
    filter. `value` is already in the stored domain.

    String max may be None (truncated) — upper-bound checks then pass."""
    if op == "isnull":
        return nulls > 0
    if op == "isnotnull":
        return nulls < num_values
    # value comparisons are null-rejecting: an all-null page never matches
    if nulls >= num_values:
        return False
    if lo is None:
        return True  # no stats for this page
    if op == "in":
        for v in value:
            if not _cmp_ok(v, lo):
                return True
            if v >= lo and (hi is None or v <= hi):
                return True
        return False
    if not _cmp_ok(value, lo):
        return True
    if op == "eq":
        return value >= lo and (hi is None or value <= hi)
    if op == "gt":
        return hi is None or hi > value
    if op == "gte":
        return hi is None or hi >= value
    if op == "lt":
        return lo < value
    if op == "lte":
        return lo <= value
    if op == "startswith":
        # page may hold a value in [value, next_prefix(value))
        try:
            prefix_hi = value[:-1] + chr(ord(value[-1]) + 1) if value else None
        except ValueError:
            prefix_hi = None
        if prefix_hi is not None and lo >= prefix_hi:
            return False
        return hi is None or hi >= value
    return True
