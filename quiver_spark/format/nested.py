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
    cur_def += 1
    mask = _validity_mask(a)
    defined = frame.idx >= 0
    if mask is not None:
        present = defined & mask[np.maximum(frame.idx, 0)]
    else:
        present = defined
    frame.def_[present] = cur_def
    frame.idx[defined & ~present] = -1
    return cur_def


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
        for i in range(t.num_fields):
            f = t.field(i)
            child = a.field(i)
            sub = _Frame(frame.idx.copy(), frame.rep.copy(), frame.def_.copy())
            _shred_node(child, f.nullable, sub, cur_rep, cur_def, out)
        return

    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_map(t):
        offs = _offsets(a)
        defined = frame.idx >= 0
        # clamp BEFORE indexing: numpy evaluates offs[idx] even for slots
        # np.where will discard, and an all-absent frame over a ZERO-length
        # child array (every parent null/empty in this page) would index
        # offs[1] of a 1-entry offsets buffer
        safe = (
            np.minimum(np.maximum(frame.idx, 0), len(a) - 1)
            if len(a)
            else np.zeros_like(frame.idx)
        )
        starts = np.where(defined, offs[safe], 0)
        ends = np.where(defined, offs[safe + 1] if len(a) else 0, 0)
        lengths = ends - starts
        # each present slot expands to max(len, 1) child slots
        expand = np.where(defined, np.maximum(lengths, 1), 1).astype(np.int64)
        total = int(expand.sum())
        child_idx = np.full(total, -1, dtype=np.int64)
        child_rep = np.empty(total, dtype=np.uint8)
        child_def = np.empty(total, dtype=np.uint8)
        # first slot of each parent keeps the parent's rep; the rest get
        # cur_rep + 1
        first_pos = np.zeros(len(expand) + 1, dtype=np.int64)
        np.cumsum(expand, out=first_pos[1:])
        child_rep[:] = cur_rep + 1
        child_rep[first_pos[:-1]] = frame.rep
        # inherited def for absent/empty slots
        child_def[:] = np.repeat(frame.def_, expand)
        # element slots: index ranges and def bump
        has_elems = defined & (lengths > 0)
        elem_def = cur_def + 1
        if has_elems.any():
            # vectorized "concatenate ranges": for parent p with elements,
            # child_idx[first_pos[p] + j] = starts[p] + j
            reps = np.where(has_elems, lengths, 0).astype(np.int64)
            parent_ids = np.repeat(np.arange(len(expand)), reps)
            within = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
                first_pos_of := np.concatenate(([0], np.cumsum(reps)[:-1])), reps
            )
            dest = first_pos[:-1][parent_ids] + within
            child_idx[dest] = starts[parent_ids] + within
            child_def[dest] = elem_def
        child_frame_proto = _Frame(child_idx, child_rep, child_def)
        if pa.types.is_map(t):
            entries = a.values  # struct<key, value> flat array
            key_f = pa.field("key", t.key_type, nullable=False)
            item_f = pa.field("value", t.item_type, nullable=t.item_field.nullable)
            kf = _Frame(child_idx.copy(), child_rep.copy(), child_def.copy())
            _shred_node(entries.field(0), key_f.nullable, kf, cur_rep + 1, elem_def, out)
            vf = _Frame(child_idx.copy(), child_rep.copy(), child_def.copy())
            _shred_node(entries.field(1), item_f.nullable, vf, cur_rep + 1, elem_def, out)
        else:
            elem_field = t.value_field
            _shred_node(
                a.values, elem_field.nullable, child_frame_proto,
                cur_rep + 1, elem_def, out,
            )
        return

    if pa.types.is_fixed_size_list(t):
        k = t.list_size
        defined = frame.idx >= 0
        n = len(frame.idx)
        total = int(np.where(defined, k, 1).sum())
        expand = np.where(defined, k, 1).astype(np.int64)
        first_pos = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(expand, out=first_pos[1:])
        child_idx = np.full(total, -1, dtype=np.int64)
        child_rep = np.full(total, cur_rep + 1, dtype=np.uint8)
        child_rep[first_pos[:-1]] = frame.rep
        child_def = np.repeat(frame.def_, expand)
        elem_def = cur_def + 1
        if defined.any():
            reps = np.where(defined, k, 0).astype(np.int64)
            parent_ids = np.repeat(np.arange(n), reps)
            within = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(reps)[:-1])), reps
            )
            dest = first_pos[:-1][parent_ids] + within
            base = (np.maximum(frame.idx, 0) * k + a.offset * 0)[parent_ids]
            child_idx[dest] = base + within
            child_def[dest] = elem_def
        fl_values = a.values.slice(a.offset * k) if a.offset else a.values
        _shred_node(
            fl_values, t.value_field.nullable,
            _Frame(child_idx, child_rep, child_def), cur_rep + 1, elem_def, out,
        )
        return

    # primitive leaf
    defined = frame.idx >= 0
    take = frame.idx[defined]
    values = a.take(arrow_view(take)) if len(take) else a.slice(0, 0)
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
# where an ancestor was null/empty (placeholders). Sibling leaves under a
# struct have different slot counts but identical ENTRY sequences, so
# recursion passes a boolean selection over entries and each node re-maps
# it into its own first-leaf slot space.


def assemble(field: pa.Field, leaves: list[Leaf]) -> pa.Array:
    """Rebuild the nested array from shredded leaves."""
    lf = leaves[0]
    n_entries = int((lf.rep <= 0).sum())
    arr, consumed = _assemble_node(
        field.type,
        field.nullable,
        leaves,
        0,
        np.ones(n_entries, dtype=bool),
        0,
        0,
    )
    assert consumed == len(leaves)
    return arr


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
    entry_sel: np.ndarray,
    cur_rep: int,
    cur_def: int,
) -> tuple[pa.Array, int]:
    """Build this node's array — one value per SELECTED entry. Returns
    (array, next_leaf_pos)."""
    lf = leaves[leaf_pos]
    rep, def_ = lf.rep, lf.def_
    if nullable:
        cur_def += 1

    # this node's entry slots in its first leaf's slot space
    entry_slots = np.flatnonzero(rep <= cur_rep)
    sel_slots = entry_slots[entry_sel]
    entry_defs = def_[sel_slots]

    if pa.types.is_struct(t):
        validity = entry_defs >= cur_def if nullable else None
        children = []
        pos = leaf_pos
        for i in range(t.num_fields):
            f = t.field(i)
            child, pos = _assemble_node(
                f.type, f.nullable, leaves, pos, entry_sel, cur_rep, cur_def
            )
            children.append(child)
        vbuf, _nulls = _validity_buf(validity)
        arr = pa.StructArray.from_buffers(
            t, len(sel_slots), [vbuf], children=children
        )
        return arr, pos

    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_map(t)
        or pa.types.is_fixed_size_list(t)
    ):
        elem_def = cur_def + 1
        validity = entry_defs >= cur_def if nullable else None

        # child entries: slots with rep <= cur_rep+1 (one per element PLUS
        # one placeholder per empty/null/absent list)
        child_entry_slots = np.flatnonzero(rep <= cur_rep + 1)
        # map each child entry to its parent entry: parent entries are the
        # child entries whose slot also has rep <= cur_rep
        parent_of_child = np.cumsum(rep[child_entry_slots] <= cur_rep) - 1
        child_is_elem = def_[child_entry_slots] >= elem_def
        # select child entries that are real elements of selected parents
        child_entry_sel = child_is_elem & entry_sel[parent_of_child]

        # element count per selected parent
        counts = np.zeros(len(entry_slots), dtype=np.int64)
        np.add.at(counts, parent_of_child[child_is_elem], 1)
        counts = counts[entry_sel]

        if pa.types.is_map(t):
            karr, pos = _assemble_node(
                t.key_type, False, leaves, leaf_pos,
                child_entry_sel, cur_rep + 1, elem_def,
            )
            varr, pos = _assemble_node(
                t.item_type, t.item_field.nullable, leaves, pos,
                child_entry_sel, cur_rep + 1, elem_def,
            )
            offsets = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            entries = pa.StructArray.from_arrays(
                [karr, varr],
                fields=[
                    pa.field(t.key_field.name, t.key_type, nullable=False),
                    t.item_field,
                ],
            )
            obuf = pa.py_buffer(offsets.astype("<i4").tobytes())
            vbuf, null_count = _validity_buf(validity)
            arr = pa.MapArray.from_buffers(
                t, len(counts), [vbuf, obuf], children=[entries],
                null_count=null_count,
            )
            return arr, pos

        child, pos = _assemble_node(
            t.value_type, t.value_field.nullable, leaves, leaf_pos,
            child_entry_sel, cur_rep + 1, elem_def,
        )
        vbuf, null_count = _validity_buf(validity)
        if pa.types.is_fixed_size_list(t):
            k = t.list_size
            n_lists = len(counts)
            if len(child) != n_lists * k:
                # null lists have no shredded elements, but arrow requires
                # k child values per entry — scatter with null fill
                valid = validity if validity is not None else np.ones(n_lists, bool)
                take_idx = np.full(n_lists * k, -1, dtype=np.int64)
                dest = np.flatnonzero(np.repeat(valid, k))
                take_idx[dest] = np.arange(len(child))
                child = child.take(arrow_view(take_idx, valid=take_idx >= 0))
            arr = pa.FixedSizeListArray.from_buffers(
                t, n_lists, [vbuf], children=[child], null_count=null_count
            )
            return arr, pos
        width = "<i8" if pa.types.is_large_list(t) else "<i4"
        offsets = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        obuf = pa.py_buffer(offsets.astype(width).tobytes())
        cls = pa.LargeListArray if pa.types.is_large_list(t) else pa.ListArray
        arr = cls.from_buffers(
            t, len(counts), [vbuf, obuf], children=[child],
            null_count=null_count,
        )
        return arr, pos

    # primitive leaf: every slot is an entry (cur_rep == max_rep here)
    validity = entry_defs >= lf.max_def
    # rank of each present slot among ALL present values in the page
    value_rank = np.cumsum(def_ >= lf.max_def) - 1
    take = value_rank[sel_slots[validity]]
    vals = (
        lf.values.take(arrow_view(take))
        if len(take)
        else lf.values.slice(0, 0)
    )
    if validity.all():
        return vals, leaf_pos + 1
    n_entries = len(sel_slots)
    out_idx = np.zeros(n_entries, dtype=np.int64)
    out_idx[validity] = np.arange(len(take))
    gathered = (
        vals.take(arrow_view(out_idx))
        if len(vals)
        else pa.nulls(n_entries, t)
    )
    if len(vals):
        gathered = pa.compute.if_else(
            arrow_view(validity), gathered, pa.nulls(n_entries, t)
        )
    return gathered, leaf_pos + 1
