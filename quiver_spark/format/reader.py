"""quiver file reader: footer parsing, page decoding, whole-file and
page-range reads.

Mirrors the reference read path (src/read/reader.rs): `read_meta` seeks
End-12 for the meta size, `infer_schema` seeks End-16 for the schema size;
`read_footer` gets both in one 64 KiB tail pre-read (the async object-store
path, src/read/reader.rs:33,180-225); page iteration decodes validity then
values per page (src/read/deserialize.rs, src/read/array/*).

Page-range reads are the engine's split unit: a Spark InputPartition covers
[page_start, page_end) of every projected column, with per-column byte
offsets computed from the footer metas (the ColumnMeta::slice arithmetic of
src/lib.rs:45-70).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from quiver_spark.format import nested as nested_mod
from quiver_spark.format.codecs import (
    Cursor,
    decode_binary,
    decode_boolean,
    decode_fixed,
    decode_numeric,
)
from quiver_spark.format.validity import decode_validity
from quiver_spark.format.writer import _physical_dtype


@dataclass(frozen=True)
class PageMeta:
    length: int  # compressed page bytes (incl. validity prefix)
    num_values: int


@dataclass(frozen=True)
class ColumnMeta:
    offset: int  # file offset of first page
    pages: tuple[PageMeta, ...]

    def page_offsets(self) -> np.ndarray:
        """File offset of each page (+ end sentinel)."""
        lens = np.array([p.length for p in self.pages], dtype=np.int64)
        out = np.empty(len(lens) + 1, dtype=np.int64)
        out[0] = self.offset
        np.cumsum(lens, out=out[1:])
        out[1:] += self.offset
        return out


#: one-I/O footer tail pre-read size (reference DEFAULT_FOOTER_SIZE,
#: src/read/reader.rs:33) — sized so schema+meta of typical files fit in a
#: single object-store range request
DEFAULT_FOOTER_SIZE = 64 * 1024


def _parse_meta(buf: memoryview) -> list[ColumnMeta]:
    pos = 0
    (n_cols,) = struct.unpack_from("<Q", buf, pos)
    pos += 8
    metas = []
    for _ in range(n_cols):
        offset, n_pages = struct.unpack_from("<QQ", buf, pos)
        pos += 16
        # page table is contiguous (length, num_values) u64 pairs
        tbl = np.frombuffer(buf, dtype="<u8", count=2 * n_pages, offset=pos)
        pos += 16 * n_pages
        pages = tuple(
            PageMeta(int(tbl[2 * i]), int(tbl[2 * i + 1])) for i in range(n_pages)
        )
        metas.append(ColumnMeta(offset, pages))
    return metas


def _parse_schema(schema_bytes: bytes) -> pa.Schema:
    if schema_bytes[:4] == b"\xff\xff\xff\xff":
        # encapsulated IPC framing (continuation + length prefix) — emitted
        # by this writer before the raw-flatbuffer switch; keep readable
        return pa.ipc.read_schema(pa.py_buffer(schema_bytes))
    # raw flatbuffer Message: arrow2 schema_to_bytes stores no framing
    # (reference src/write/writer.rs:137 / read/reader.rs:239); rewrap so
    # pyarrow can parse it
    pad = (-len(schema_bytes)) % 8
    framed = (
        b"\xff\xff\xff\xff"
        + struct.pack("<i", len(schema_bytes) + pad)
        + schema_bytes
        + b"\x00" * pad
    )
    return pa.ipc.read_schema(pa.py_buffer(framed))


def _check_trailer(tail: bytes | memoryview, size: int) -> None:
    """Fail loudly on files that are not (complete) quiver files: the last
    8 bytes must be the EOS trailer the writer always emits. Truncated
    uploads and partially-overwritten tails die here instead of having
    their data bytes misread as footer sizes. (The reference reader trusts
    its own writer and skips this; a Spark fleet cannot.)"""
    from quiver_spark.format.constants import EOS, MAGIC

    if size < len(MAGIC) + 16 + len(EOS):
        raise ValueError(f"not a quiver file: {size} bytes is too short")
    if bytes(tail[-8:]) != EOS:
        raise ValueError(
            "not a quiver file (or truncated): missing EOS trailer"
        )


def read_meta(f) -> list[ColumnMeta]:
    size = f.seek(0, 2)
    if size < 16:
        _check_trailer(b"", size)  # canonical 'too short' ValueError, not
        # the OSError a seek(-16) past the start of the file would raise
    f.seek(-16, 2)
    tail = f.read(16)
    _check_trailer(tail, size)
    schema_size, meta_size = struct.unpack_from("<II", tail, 0)
    # full-envelope bound (schema + 8-byte header magic included), matching
    # infer_schema/read_footer — a bit-flipped meta_size must not let the
    # meta region run over the schema bytes and parse header bytes as metas
    if 16 + meta_size + schema_size + 8 > size:
        raise ValueError("corrupt quiver footer: sizes exceed file")
    f.seek(-16 - meta_size, 2)
    return _parse_meta(memoryview(f.read(meta_size)))


def infer_schema(f) -> pa.Schema:
    size = f.seek(0, 2)
    if size < 16:
        _check_trailer(b"", size)  # see read_meta: ValueError, not OSError
    f.seek(-16, 2)
    tail = f.read(16)
    _check_trailer(tail, size)
    schema_size, meta_size = struct.unpack_from("<II", tail, 0)
    if 16 + meta_size + schema_size + 8 > size:
        raise ValueError("corrupt quiver footer: sizes exceed file")
    f.seek(-16 - meta_size - schema_size, 2)
    return _parse_schema(f.read(schema_size))


def read_footer(f) -> tuple[pa.Schema, list[ColumnMeta]]:
    """Schema + column metas in ONE read: pre-read a 64 KiB tail and parse
    both footer blocks out of it, re-reading exactly once only when the
    footer is larger than the tail.

    This is the object-store posture of the reference's async footer path
    (src/read/reader.rs:180-225): a remote read costs a round trip, so the
    tail pre-read turns the 2-3 seek+read sequence of read_meta +
    infer_schema into a single range request per file."""
    size = f.seek(0, 2)
    tail_len = min(size, DEFAULT_FOOTER_SIZE)
    f.seek(size - tail_len)
    tail = f.read(tail_len)
    _check_trailer(tail, size)
    from quiver_spark.format.constants import MAGIC

    if tail_len == size:
        # tail covers the whole file: header magic check is free
        head = bytes(tail[: len(MAGIC)])
    else:
        # larger file: one extra 8-byte header read — required so BOTH
        # engines give the same verdict on the same bytes (the JVM
        # reader validates the header on every footer read; an
        # engine-dependent accept/reject would break the unified scan's
        # routing-never-changes-results contract). Worth the second
        # range request on remote stores: it is 8 bytes against a
        # 64 KiB tail.
        f.seek(0)
        head = f.read(len(MAGIC))
    if head != MAGIC:
        raise ValueError("not a quiver file: bad header magic")
    schema_size, meta_size = struct.unpack_from("<II", tail, tail_len - 16)
    footer_len = 16 + meta_size + schema_size
    if footer_len + 8 > size:
        raise ValueError("corrupt quiver footer: sizes exceed file")
    if footer_len > tail_len:
        f.seek(size - footer_len)
        tail = f.read(footer_len)
        tail_len = footer_len
    view = memoryview(tail)
    meta_lo = tail_len - 16 - meta_size
    schema = _parse_schema(bytes(view[meta_lo - schema_size : meta_lo]))
    return schema, _parse_meta(view[meta_lo : tail_len - 16])


def _decode_values(cur: Cursor, num_values: int, t: pa.DataType, validity_buf, null_count: int) -> pa.Array:
    """Typed payload at cursor → flat pyarrow Array."""
    if pa.types.is_boolean(t):
        values = decode_boolean(cur, num_values)
        vbuf = pa.py_buffer(np.packbits(values, bitorder="little"))
        return pa.Array.from_buffers(t, num_values, [validity_buf, vbuf], null_count)
    if (
        pa.types.is_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_string(t)
        or pa.types.is_large_binary(t)
    ):
        width = 8 if (pa.types.is_large_string(t) or pa.types.is_large_binary(t)) else 4
        offsets, values = decode_binary(cur, num_values, width)
        off_dtype = np.dtype("<i8") if width == 8 else np.dtype("<i4")
        obuf = pa.py_buffer(offsets.astype(off_dtype, copy=False))
        vbuf = pa.py_buffer(values)
        return pa.Array.from_buffers(
            t, num_values, [validity_buf, obuf, vbuf], null_count
        )
    if pa.types.is_decimal(t):
        # full Int128/Int256 cascade (OneValue/Freq/Dict/RLE + basic) so
        # reference-written decimal pages decode whatever the writer chose
        raw = decode_fixed(cur, num_values, t.byte_width)
        return pa.Array.from_buffers(
            t, num_values, [validity_buf, pa.py_buffer(raw)], null_count
        )
    dtype, _is_double = _physical_dtype(t)
    values = decode_numeric(cur, num_values, dtype)
    vbuf = pa.py_buffer(np.ascontiguousarray(values))
    return pa.Array.from_buffers(t, num_values, [validity_buf, vbuf], null_count)


def decode_page(
    buf: memoryview, num_values: int, field: pa.Field
) -> pa.Array:
    """One flat page's bytes → pyarrow Array of the field's type."""
    if pa.types.is_null(field.type):
        # Null pages carry no bytes — the array is reconstructed from the
        # page's num_values alone (reference write_simple `Null => {}` at
        # src/write/serialize.rs:63; read src/read/array/null.rs:84-89)
        return pa.nulls(num_values)
    pos = 0
    valid = None
    if field.nullable:
        valid, consumed = decode_validity(buf, num_values)
        pos = consumed
        if valid.all():
            valid = None
    cur = Cursor(buf, pos)

    validity_buf = None
    null_count = 0
    if valid is not None:
        null_count = int(num_values - valid.sum())
        validity_buf = pa.py_buffer(np.packbits(valid, bitorder="little"))
    return _decode_values(cur, num_values, field.type, validity_buf, null_count)


def decode_nested_page(
    leaf_bufs: list[memoryview], field: pa.Field, slot_counts: list[int]
) -> pa.Array:
    """All leaves' bytes of one nested-column page → assembled Array.

    ``slot_counts`` are the per-leaf page-meta num_values — the rep/def
    LEVEL counts (reference: HybridRleDecoder count at read_basic.rs:84-85);
    the page's own u32 prefix carries the top-level ROW count."""
    specs = nested_mod.leaf_specs(field)
    leaves: list[nested_mod.Leaf] = []
    for buf, n_slots, (max_rep, max_def, leaf_t) in zip(
        leaf_bufs, slot_counts, specs
    ):
        _n_rows, rep_len, def_len = struct.unpack_from("<III", buf, 0)
        pos = 12
        rep = nested_mod.decode_levels(
            buf[pos : pos + rep_len], n_slots, nested_mod.bits_for(max_rep)
        )
        pos += rep_len
        def_ = nested_mod.decode_levels(
            buf[pos : pos + def_len], n_slots, nested_mod.bits_for(max_def)
        )
        pos += def_len
        n_present = int((def_ >= max_def).sum())
        values = _decode_values(Cursor(buf, pos), n_present, leaf_t, None, 0)
        leaves.append(
            nested_mod.Leaf(
                rep=rep, def_=def_, values=values,
                max_rep=max_rep, max_def=max_def, type=leaf_t,
            )
        )
    return nested_mod.assemble(field, leaves)


def column_leaf_ranges(schema: pa.Schema) -> list[tuple[int, int]]:
    """Per top-level column: (first leaf meta index, leaf count)."""
    out = []
    pos = 0
    for i in range(len(schema)):
        t = schema.field(i).type
        cnt = nested_mod.count_leaves(t) if nested_mod.is_nested_type(t) else 1
        out.append((pos, cnt))
        pos += cnt
    return out


def file_row_count(path: str, schema: pa.Schema, metas: list[ColumnMeta]) -> int:
    """Exact top-level ROW count of a quiver file from metadata alone.

    Nested leaves store SLOT counts in the page meta's num_values (the
    reference's HybridRleDecoder count, read_basic.rs:84-85), which
    over-counts rows — so sum pages of the first FLAT column; in an
    all-nested schema read each first-leaf page's uncompressed `rows u32`
    prefix (the reference's row-stop `length`, write_nested_validity
    src/write/serialize.rs:217-232) — 4 bytes per page, no decode."""
    import struct as _struct

    if not metas:
        return 0
    ranges = column_leaf_ranges(schema)
    for i in range(len(schema)):
        if not nested_mod.is_nested_type(schema.field(i).type):
            lo, _cnt = ranges[i]
            return int(sum(int(p.num_values) for p in metas[lo].pages))
    rows = 0
    meta = metas[0]
    offs = meta.page_offsets()
    with open(path, "rb") as f:
        for p in range(len(meta.pages)):
            f.seek(int(offs[p]))
            rows += _struct.unpack("<I", f.read(4))[0]
    return rows


def _read_leaf_bytes(
    f, meta: ColumnMeta, page_start: int, page_end: int
) -> list[memoryview]:
    """Raw bytes of pages [page_start, page_end) of one leaf (one seek)."""
    offs = meta.page_offsets()
    f.seek(int(offs[page_start]))
    buf = memoryview(f.read(int(offs[page_end] - offs[page_start])))
    out = []
    pos = 0
    for p in range(page_start, page_end):
        pm = meta.pages[p]
        out.append(buf[pos : pos + pm.length])
        pos += pm.length
    return out


def crcs_if_consistent(
    all_crcs: list[list[int]] | None, metas: list[ColumnMeta]
) -> list[list[int]] | None:
    """Trust sidecar checksums only when their shape matches the footer
    exactly (one list per leaf, one crc per page). A mismatched shape
    means the sidecar is stale (leftover from a previous file at this
    path) — verification is skipped entirely rather than silently
    part-applied or wrongly rejecting a healthy file. Mirrors the
    page_rows-length guard the zone-map pruner uses."""
    if not isinstance(all_crcs, list) or len(all_crcs) != len(metas):
        return None
    for crcs, m in zip(all_crcs, metas):
        if (
            not isinstance(crcs, list)
            or len(crcs) != len(m.pages)
            or not all(isinstance(c, int) for c in crcs)
        ):
            return None
    return all_crcs


def _verify_crcs(
    bufs: list[memoryview],
    crcs: list[int],
    page_start: int,
    file_desc: str,
    leaf: int,
) -> None:
    """crc32 every raw page against the sidecar record — catches silent
    corruption (bit rot, partial object-store transfers) BEFORE the codec
    layer turns garbage bytes into plausible-looking values. Callers
    guarantee shape alignment via crcs_if_consistent, so indexing is
    strict — every page in range IS verified."""
    import zlib

    for i, b in enumerate(bufs):
        p = page_start + i
        if (zlib.crc32(b) & 0xFFFFFFFF) != crcs[p]:
            raise ValueError(
                f"quiver page checksum mismatch: {file_desc or 'file'} "
                f"leaf {leaf} page {p} — data is corrupt"
            )


def read_column_pages(
    f,
    leaf_metas: list[ColumnMeta],
    field: pa.Field,
    page_start: int,
    page_end: int,
    crcs: list[list[int]] | None = None,
    file_desc: str = "",
) -> list[pa.Array]:
    """Decode pages [page_start, page_end) of one column (flat: one leaf;
    nested: all the column's leaves zipped per page). ``crcs`` (per-leaf
    sidecar checksum lists for THIS column) enables integrity
    verification of the raw page bytes."""
    if not nested_mod.is_nested_type(field.type):
        meta = leaf_metas[0]
        bufs = _read_leaf_bytes(f, meta, page_start, page_end)
        if crcs:
            _verify_crcs(bufs, crcs[0], page_start, file_desc, 0)
        return [
            decode_page(b, meta.pages[page_start + i].num_values, field)
            for i, b in enumerate(bufs)
        ]
    per_leaf = [
        _read_leaf_bytes(f, m, page_start, page_end) for m in leaf_metas
    ]
    if crcs:
        for li, bufs in enumerate(per_leaf):
            _verify_crcs(bufs, crcs[li], page_start, file_desc, li)
    return [
        decode_nested_page(
            [pl[p] for pl in per_leaf],
            field,
            [m.pages[page_start + p].num_values for m in leaf_metas],
        )
        for p in range(page_end - page_start)
    ]


def read_table(
    path: str,
    columns: list[str] | None = None,
    page_start: int = 0,
    page_end: int | None = None,
    verify_checksums: bool = True,
) -> pa.Table:
    """Read a quiver file (optionally a page range / column subset).
    When the stats sidecar carries page checksums (and its shape matches
    the footer), every raw page is crc32-verified before decode;
    ``verify_checksums=False`` skips the sidecar load entirely."""
    import os

    all_crcs = None
    if verify_checksums:
        from quiver_spark.format import stats as stats_mod

        # Load the sidecar WHILE watching the data file's stat: an in-place
        # rewrite between sidecar load and data read would pair old CRCs
        # with new bytes (a same-shaped rewrite defeats the shape guard), so
        # reload once if the data file changed under us. uuid-named
        # datasource files never hit this; direct same-path rewrites can.
        for _attempt in range(2):
            st0 = os.stat(path)
            sidecar = stats_mod.load_sidecar(path)
            st1 = os.stat(path)
            if (st0.st_size, st0.st_mtime_ns) == (st1.st_size, st1.st_mtime_ns):
                break
        all_crcs = sidecar.get("page_crc32") if sidecar else None
    with open(path, "rb") as f:
        schema, metas = read_footer(f)
        all_crcs = crcs_if_consistent(all_crcs, metas)
        names = schema.names
        ranges = column_leaf_ranges(schema)
        sel = columns if columns is not None else names
        arrays = []
        fields = []
        for name in sel:
            ci = names.index(name)
            field = schema.field(ci)
            lo, cnt = ranges[ci]
            leaf_metas = metas[lo : lo + cnt]
            pe = page_end if page_end is not None else len(leaf_metas[0].pages)
            pages = read_column_pages(
                f,
                leaf_metas,
                field,
                page_start,
                pe,
                crcs=all_crcs[lo : lo + cnt] if all_crcs else None,
                file_desc=path,
            )
            if not pages:
                arrays.append(pa.chunked_array([], type=field.type))
            else:
                arrays.append(pa.chunked_array(pages))
            fields.append(field)
        return pa.Table.from_arrays(arrays, schema=pa.schema(fields))
