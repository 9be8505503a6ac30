"""Nested-type (list / struct / map / fixed-size-list) rep/def level
machinery — the engine's Dremel shredder and assembler, numpy-vectorized.

The reference stores nested columns as parquet leaves with a per-page
`length u32 | rep_levels_len u32 | def_levels_len u32 | rep | def` prefix
followed by the leaf's compressed values (write_nested_validity at
src/write/serialize.rs:217-232; read_validity_nested at
src/read/read_basic.rs:65-173 rebuilds NestedState offsets + validity from
the levels). This module provides the same semantics:

- ``shred(array, field)`` → one ``Leaf`` per primitive leaf of the type
  tree, each carrying rep/def level arrays over "slots" (one slot per leaf
  value, empty list, or null ancestor — Dremel record shredding) plus the
  flat array of PRESENT leaf values.
- ``assemble(field, leaves)`` → the nested pyarrow array rebuilt from the
  first leaf's levels (ancestor structure is identical across sibling
  leaves, so the assembler reads structure once and attaches each leaf's
  values — the arrow2 NestedState sharing the reference relies on).

Level semantics (parquet): each OPTIONAL (nullable) node adds one def
level that counts when the value is non-null; each REPEATED node (list /
map / fixed-size-list) adds one rep depth and one def level that counts
per existing element (an empty list stops at the list's own def). Slots
belong to top-level rows at ``rep == 0`` boundaries.

Work per page stays linear in the page's slots: the shredder expands each
repeated level with one ``np.repeat`` of per-parent start offsets over an
``arange`` and scatters the placeholders, reading only the page's range of
the child array (Arrow hands out the whole column's); a present leaf range
without gaps is sliced, not gathered. The assembler finds each node's
entries with one mask over its first leaf's levels and the list offsets
with one cumsum, and hands the decoded leaf values over as they are when the
leaf has no nulls.

Levels are serialized with the same hybrid-RLE bitpacked-run encoding used
for flat validity (validity.py), generalized to ``ceil(log2(max_level+1))``
bit width.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from quiver_spark.format.codecs import arrow_view
from quiver_spark.format.validity import unpack_bitmap


def bits_for(max_level: int) -> int:
    return max(1, int(max_level).bit_length())


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


def encode_levels(levels: np.ndarray, width: int) -> bytes:
    """Hybrid-RLE, single bitpacked run (same scheme as flat validity,
    generalized to ``width`` bits per level, LSB-first)."""
    n = len(levels)
    groups = (n + 7) // 8
    header = _uleb128((groups << 1) | 1)
    padded = np.zeros(groups * 8, dtype=np.uint8)
    padded[:n] = levels
    if width == 1:  # every list's rep levels: the levels are the bits
        return header + np.packbits(padded, bitorder="little").tobytes()
    bits = np.empty((len(padded), width), dtype=np.uint8)
    for j in range(width):  # one pass per bit plane
        bits[:, j] = (padded >> j) & 1
    return header + np.packbits(bits.reshape(-1), bitorder="little").tobytes()


def decode_levels(buf: memoryview, n: int, width: int) -> np.ndarray:
    """Inverse of encode_levels (accepts bitpacked and RLE runs). An empty
    buffer decodes to all-zero levels: parquet writers emit zero-width level
    streams when the max level is 0 (get_bit_width(0) == 0 — e.g. rep levels
    of a struct-only column), and level 0 is the only possible value then."""
    out = np.zeros(n, dtype=np.uint8)
    pos = 0
    count = 0
    while count < n and pos < len(buf):
        header = 0
        shift = 0
        while True:
            byte = buf[pos]
            pos += 1
            header |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        if header & 1:  # bitpacked: (header>>1) groups of 8 values
            groups = header >> 1
            nbytes = groups * width
            bits = np.unpackbits(
                np.frombuffer(buf[pos : pos + nbytes], dtype=np.uint8),
                bitorder="little",
            )
            if width == 1:
                vals = bits
            else:  # reassemble the levels one bit plane at a time
                planes = bits[: groups * 8 * width].reshape(-1, width)
                vals = planes[:, 0].copy()
                for j in range(1, width):
                    vals |= planes[:, j] << j
            take = min(groups * 8, n - count)
            out[count : count + take] = vals[:take]
            count += take
            pos += nbytes
        else:  # RLE run: (header>>1) repeats of a width-byte-padded value
            run = header >> 1
            nbytes = (width + 7) // 8
            val = int.from_bytes(buf[pos : pos + nbytes], "little")
            pos += nbytes
            take = min(run, n - count)
            out[count : count + take] = val
            count += take
    return out


def leaf_specs(field: pa.Field) -> list[tuple[int, int, pa.DataType]]:
    """(max_rep, max_def, leaf_type) per leaf, in shred order — derivable
    from the schema alone, so readers need no side info."""
    out: list[tuple[int, int, pa.DataType]] = []

    def walk(t: pa.DataType, nullable: bool, rep: int, d: int) -> None:
        d += 1 if nullable else 0
        if pa.types.is_struct(t):
            for i in range(t.num_fields):
                f = t.field(i)
                walk(f.type, f.nullable, rep, d)
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            walk(t.value_type, t.value_field.nullable, rep + 1, d + 1)
        elif pa.types.is_fixed_size_list(t):
            walk(t.value_type, t.value_field.nullable, rep + 1, d + 1)
        elif pa.types.is_map(t):
            walk(t.key_type, False, rep + 1, d + 1)
            walk(t.item_type, t.item_field.nullable, rep + 1, d + 1)
        else:
            out.append((rep, d, t))

    walk(field.type, field.nullable, 0, 0)
    return out


def is_nested_type(t: pa.DataType) -> bool:
    return (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_fixed_size_list(t)
        or pa.types.is_struct(t)
        or pa.types.is_map(t)
    )


def count_leaves(t: pa.DataType) -> int:
    """Number of primitive leaves (parquet leaf columns) under a type."""
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return count_leaves(t.value_type)
    if pa.types.is_map(t):
        return count_leaves(t.key_type) + count_leaves(t.item_type)
    if pa.types.is_struct(t):
        return sum(count_leaves(t.field(i).type) for i in range(t.num_fields))
    return 1


@dataclass
class Leaf:
    rep: np.ndarray  # uint8 per slot
    def_: np.ndarray  # uint8 per slot
    values: pa.Array  # flat array of PRESENT leaf values (no nulls)
    max_rep: int
    max_def: int
    type: pa.DataType


@dataclass
class _Frame:
    """Recursion state: one entry per slot."""

    idx: np.ndarray  # int64 index into the current arrow array; -1 = absent
    rep: np.ndarray  # uint8 rep value already assigned to the slot
    def_: np.ndarray  # uint8 def value accumulated so far


def _validity_mask(a: pa.Array) -> np.ndarray | None:
    if a.null_count == 0:
        return None
    bufs = a.buffers()
    if bufs[0] is None:
        return None
    return unpack_bitmap(bufs[0], a.offset, len(a))


def _offsets(a: pa.Array) -> np.ndarray:
    """List/map offsets as int64 (offset-adjusted)."""
    width = 8 if pa.types.is_large_list(a.type) else 4
    dt = np.dtype("<i8") if width == 8 else np.dtype("<i4")
    raw = np.frombuffer(a.buffers()[1], dtype=dt, count=a.offset + len(a) + 1)
    return raw[a.offset : a.offset + len(a) + 1].astype(np.int64)


def shred(arr: pa.Array, field: pa.Field) -> list[Leaf]:
    """Dremel-shred one top-level column into leaves."""
    n = len(arr)
    frame = _Frame(
        idx=np.arange(n, dtype=np.int64),
        rep=np.zeros(n, dtype=np.uint8),
        def_=np.zeros(n, dtype=np.uint8),
    )
    out: list[Leaf] = []
    _shred_node(arr, field.nullable, frame, 0, 0, out)
    return out


def _apply_optional(a: pa.Array, nullable: bool, frame: _Frame, cur_def: int) -> int:
    """Consume the node's own optional level; mutates frame. Returns new
    cur_def (the def value of slots where this node's value is present)."""
    if not nullable:
        return cur_def
    present = frame.idx >= 0
    mask = _validity_mask(a)
    if mask is not None:
        present &= mask[np.maximum(frame.idx, 0)]
        frame.idx = np.where(present, frame.idx, -1)
    # every slot with an index sits at def cur_def: the present ones step up
    frame.def_ += present
    return cur_def + 1


def _expand(
    frame: _Frame, starts: np.ndarray, lengths: np.ndarray, cur_rep: int, elem_def: int
) -> _Frame:
    """The child frame of a repeated node: parent slot p becomes
    ``max(lengths[p], 1)`` child slots, element j of it indexing child
    ``starts[p] + j``. A parent with no elements (absent, null or empty)
    keeps one placeholder slot carrying its own def and index -1; the first
    slot of every parent keeps the parent's rep, the others get
    ``cur_rep + 1``."""
    expand = np.maximum(lengths, 1)
    first = np.zeros(len(expand) + 1, dtype=np.int64)
    np.cumsum(expand, out=first[1:])
    total = int(first[-1])
    heads = first[:-1]
    child_idx = np.arange(total, dtype=np.int64)
    child_idx += np.repeat(starts - heads, expand)
    child_rep = np.full(total, cur_rep + 1, dtype=np.uint8)
    child_rep[heads] = frame.rep
    child_def = np.full(total, elem_def, dtype=np.uint8)
    empty = lengths == 0
    if empty.any():
        placeholders = heads[empty]
        child_idx[placeholders] = -1
        child_def[placeholders] = frame.def_[empty]
    return _Frame(child_idx, child_rep, child_def)


def _shred_children(
    children: list[tuple[pa.Array, bool]],
    frame: _Frame,
    cur_rep: int,
    cur_def: int,
    out: list[Leaf],
) -> None:
    """Shred sibling nodes that share ``frame``'s slots. Each child
    mutates idx/def of its own copy; the last one takes the frame itself
    (its owner is done with it), and rep is never mutated, so all share it."""
    for i, (child, nullable) in enumerate(children):
        own = frame if i == len(children) - 1 else _Frame(
            frame.idx.copy(), frame.rep, frame.def_.copy()
        )
        _shred_node(child, nullable, own, cur_rep, cur_def, out)


def _shred_node(
    a: pa.Array,
    nullable: bool,
    frame: _Frame,
    cur_rep: int,
    cur_def: int,
    out: list[Leaf],
) -> None:
    t = a.type
    cur_def = _apply_optional(a, nullable, frame, cur_def)

    if pa.types.is_struct(t):
        children = [(a.field(i), t.field(i).nullable) for i in range(t.num_fields)]
        _shred_children(children, frame, cur_rep, cur_def, out)
        return

    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t):
        offs = _offsets(a)
        # ``a.values`` is the whole column's child; bound it to this page's
        # range so the child's validity unpack and takes stay page-sized
        values = a.values.slice(offs[0], offs[-1] - offs[0])
        defined = frame.idx >= 0
        if len(a):
            safe = np.maximum(frame.idx, 0)
            starts = offs[safe] - offs[0]
            lengths = np.where(defined, offs[safe + 1] - offs[safe], 0)
        else:  # every slot of the page is absent: no offsets to read
            starts = lengths = np.zeros(len(frame.idx), dtype=np.int64)
        child = _expand(frame, starts, lengths, cur_rep, cur_def + 1)
        if pa.types.is_map(t):
            children = [(values.field(0), False), (values.field(1), t.item_field.nullable)]
        else:
            children = [(values, t.value_field.nullable)]
        _shred_children(children, child, cur_rep + 1, cur_def + 1, out)
        return

    if pa.types.is_fixed_size_list(t):
        k = t.list_size
        defined = frame.idx >= 0
        child = _expand(
            frame,
            np.maximum(frame.idx, 0) * k,
            np.where(defined, k, 0).astype(np.int64),
            cur_rep,
            cur_def + 1,
        )
        values = a.values.slice(a.offset * k, len(a) * k)
        _shred_node(values, t.value_field.nullable, child, cur_rep + 1, cur_def + 1, out)
        return

    # primitive leaf
    present = frame.idx >= 0
    count = int(np.count_nonzero(present))
    first = int(frame.idx[np.argmax(present)]) if count else 0
    if count and int(frame.idx.max()) - first + 1 == count:
        # indices only ever rise, so a gap-free run is a slice
        values = a.slice(first, count)
    else:
        values = a.take(arrow_view(frame.idx[present])) if count else a.slice(0, 0)
    if values.null_count:  # leaf nulls are encoded purely in def levels
        values = values.drop_null()
    out.append(
        Leaf(
            rep=frame.rep,
            def_=frame.def_,
            values=values,
            max_rep=cur_rep,
            max_def=cur_def,
            type=t,
        )
    )


# ---------------------------------------------------------------------------
# Assembly (read side)
# ---------------------------------------------------------------------------
#
# Entries vs slots: at a node with repetition depth r, the node's logical
# positions ("entries") are, in ANY of its leaves' slot arrays, the slots
# with rep <= r — exactly one per logical position, including positions
# where an ancestor was null/empty (placeholders). The node builds one value
# per SELECTED entry: a real element of the nearest enclosing repeated node
# (every entry at the top). Def levels only count down a path of present
# ancestors, so the selected entries are the slots with rep <= r and
# def >= sel_def, that repeated node's element def (0 at the top) — a
# filter each node evaluates in its own first leaf. Sibling leaves under a
# struct have different slot counts but the same selected entries in the
# same order.


def assemble(field: pa.Field, leaves: list[Leaf]) -> pa.Array:
    """Rebuild the nested array from shredded leaves."""
    arr, consumed = _assemble_node(field.type, field.nullable, leaves, 0, 0, 0, 0, None)
    assert consumed == len(leaves)
    return arr


def _selected_slots(lf: Leaf, cur_rep: int, sel_def: int) -> np.ndarray:
    """Slots of ``lf`` holding the selected entries of a node at depth
    ``cur_rep`` (see above); the rep filter is skipped at the leaf's own
    depth, where every slot is an entry."""
    mask = lf.rep <= cur_rep if cur_rep < lf.max_rep else None
    if sel_def:
        present = lf.def_ >= sel_def
        mask = present if mask is None else mask & present
    return np.arange(len(lf.rep)) if mask is None else np.flatnonzero(mask)


def _validity_buf(validity: np.ndarray | None):
    if validity is None or validity.all():
        return None, 0
    return (
        pa.py_buffer(np.packbits(validity, bitorder="little")),
        int((~validity).sum()),
    )


def _assemble_node(
    t: pa.DataType,
    nullable: bool,
    leaves: list[Leaf],
    leaf_pos: int,
    cur_rep: int,
    cur_def: int,
    sel_def: int,
    slots: np.ndarray | None,
) -> tuple[pa.Array, int]:
    """Build this node's array — one value per selected entry. ``slots``
    are those entries in ``leaves[leaf_pos]`` when the caller already has
    them (None: find them). Returns (array, next_leaf_pos)."""
    lf = leaves[leaf_pos]
    if slots is None:
        slots = _selected_slots(lf, cur_rep, sel_def)
    defs = lf.def_ if len(slots) == len(lf.def_) else lf.def_[slots]
    if nullable:
        cur_def += 1
    validity = defs >= cur_def if nullable else None

    if pa.types.is_struct(t):
        children = []
        pos = leaf_pos
        for i in range(t.num_fields):
            f = t.field(i)
            # the first field starts in this leaf: same slots
            child, pos = _assemble_node(
                f.type, f.nullable, leaves, pos, cur_rep, cur_def, sel_def,
                slots if i == 0 else None,
            )
            if len(child) != len(slots):
                raise ValueError(f"corrupt nested page: struct field {f.name!r} has "
                                 f"{len(child)} entries, its struct {len(slots)}")
            children.append(child)
        vbuf, _nulls = _validity_buf(validity)
        return pa.StructArray.from_buffers(t, len(slots), [vbuf], children=children), pos

    if pa.types.is_fixed_size_list(t) or pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t):
        elem_def = cur_def + 1
        child_slots, offsets = _elements(lf, cur_rep, elem_def, slots)
        vbuf, null_count = _validity_buf(validity)
        n_lists = len(slots)

        if pa.types.is_map(t):
            karr, pos = _assemble_node(
                t.key_type, False, leaves, leaf_pos, cur_rep + 1, elem_def, elem_def, child_slots
            )
            varr, pos = _assemble_node(
                t.item_type, t.item_field.nullable, leaves, pos,
                cur_rep + 1, elem_def, elem_def, None,
            )
            entries = pa.StructArray.from_arrays(
                [karr, varr],
                fields=[
                    pa.field(t.key_field.name, t.key_type, nullable=False),
                    t.item_field,
                ],
            )
            obuf = pa.py_buffer(offsets.astype("<i4"))
            arr = pa.MapArray.from_buffers(
                t, n_lists, [vbuf, obuf], children=[entries], null_count=null_count
            )
            return arr, pos

        child, pos = _assemble_node(
            t.value_type, t.value_field.nullable, leaves, leaf_pos,
            cur_rep + 1, elem_def, elem_def, child_slots,
        )
        if pa.types.is_fixed_size_list(t):
            k = t.list_size
            if len(child) != n_lists * k:
                # lists that are null, or sit under a null struct, have no
                # shredded elements, but arrow requires k child values per
                # entry — scatter with null fill
                valid = defs >= cur_def
                take_idx = np.full(n_lists * k, -1, dtype=np.int64)
                dest = np.flatnonzero(np.repeat(valid, k))
                take_idx[dest] = np.arange(len(child))
                child = child.take(arrow_view(take_idx, valid=take_idx >= 0))
            arr = pa.FixedSizeListArray.from_buffers(
                t, n_lists, [vbuf], children=[child], null_count=null_count
            )
            return arr, pos
        width = "<i8" if pa.types.is_large_list(t) else "<i4"
        obuf = pa.py_buffer(offsets.astype(width))
        cls = pa.LargeListArray if pa.types.is_large_list(t) else pa.ListArray
        arr = cls.from_buffers(
            t, n_lists, [vbuf, obuf], children=[child], null_count=null_count
        )
        return arr, pos

    # primitive leaf: every present value (def == max_def) is in a selected
    # slot, in order, so the decoded values are the non-null entries as-is
    present = defs >= lf.max_def
    if present.all():
        return lf.values, leaf_pos + 1
    if not len(lf.values):
        return pa.nulls(len(slots), t), leaf_pos + 1
    take = np.zeros(len(slots), dtype=np.int64)
    take[present] = np.arange(len(lf.values))
    return lf.values.take(arrow_view(take, valid=present)), leaf_pos + 1


def _elements(
    lf: Leaf, cur_rep: int, elem_def: int, slots: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(slots of the elements, Arrow offsets) of the lists at ``slots``: the
    elements are the entries one level down that reach the element def. A
    list's first element shares its slot and the rest precede the next
    list's, so a list starts at the count of elements before its slot."""
    is_elem = lf.def_ >= elem_def
    if cur_rep + 1 < lf.max_rep:
        is_elem &= lf.rep <= cur_rep + 1
    before = np.zeros(len(is_elem) + 1, dtype=np.int64)
    np.cumsum(is_elem, out=before[1:])
    offsets = np.empty(len(slots) + 1, dtype=np.int64)
    offsets[:-1] = before[slots]
    offsets[-1] = before[-1]
    return np.flatnonzero(is_elem), offsets
