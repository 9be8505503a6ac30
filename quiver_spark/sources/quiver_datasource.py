"""PySpark DataSource V2 for the quiver format:

    spark.read.format("quiver").load(dir_or_file)

The format only reads. Quiver tables are written through
``quiver_spark.sources.write`` (batch) and ``sources.stream_writer``
(streams), both on the quiverjvm writer; ``df.write.format("quiver")``
and ``df.writeStream.format("quiver")`` fail, naming them.

Split planning mirrors the reference's page-granular reads (NativeReader
nth/skip_page, src/read/reader.rs:91-146): the driver reads each file's
footer once, then fans out InputPartitions covering page ranges. A split
closes once it holds DEFAULT_PARTITION_ROWS (32k) rows AND a floor of
projected compressed page bytes, or at DEFAULT_PARTITION_BYTES (128 MiB
across the PROJECTED leaves — the cap that keeps wide-row multimodal blob
tables from packing tens of GB into one task). The floor is
clamp(total_projected_bytes / `planning_parallelism`, 1 MiB, 128 MiB).
Row-count-only sizing would otherwise carve narrow projections into
~130 KB tasks and many-file tables into thousands of ~3 MB tasks whose
per-task Python-worker overhead dominates (measured round 8: a 16-file ×
600k-row full scan planned 208 tasks and ran 9× the parquet control; the
dynamic floor plans 32 tasks and runs 2.5×). `planning_parallelism` is
the one sizing option: the planner runs in a separate Python process
that only sees its own host's cpu count (its default), so
``sources.scan`` passes the session's ``defaultParallelism``. Executors
open only their byte range per projected column — at 100 TB this is the
same contract as Spark's parquet scan: splits ~= files × page-ranges
bounded by the 128 MiB cap, no driver-side row handling. There is no
LIMIT option: Spark's Python DS API has no pushLimit, and the JVM reader
(``quiverjvm``) serves pushed LIMITs for every table its guards accept.

Column pruning: Spark's Python DataSource API CANNOT push required columns
— 4.1.2's PythonScanBuilder implements only SupportsPushDownFilters
(verified by javap of spark-sql_2.13-4.1.2.jar; there is no
SupportsPushDownRequiredColumns path to Python) — so the reader accepts an
explicit `columns` option (comma list) and executors open + decode ONLY
those leaves. quiver_table(columns=...) in operators/format_queries.py
wires the statically-known list from every registered recipe; without it a
narrow projection decodes full row width (measured 4.0x vs parquet on a
1-of-16-column sf0.1 scan; 1.5x with the option).

Hive-style partitioned layout: ``sources.write(..., partition_by="a,b")``
fans rows into `a=v1/b=v2/part-*.quiver` subdirectories (partition columns
dropped from the files); reads discover `col=value` segments, type them
(long/double/string, Spark's inference subset), re-attach them as constant
columns, and — opt-in via `partition_prune=true`, same plan-cache caveat
as page_prune — skip non-matching FILES before any byte of them is read.
That directory pruning is the 100 TB scan story: a filter on the partition
key costs O(matching files), not O(dataset).

Registration ships the package to Python workers via a zip + addPyFile, so
the source works in any session (the driver harness's included) without
PYTHONPATH assumptions.

SHARP EDGE — Spark's PythonDataSourceV2 caches the planned read
(partitions + read command) on the Table object and the most recent
filter-pushdown build OVERWRITES it, so re-using one loaded DataFrame
across differently-filtered queries can replay a previous query's page
pruning (verified on 4.1.2 with the trace hook below: the second full scan
after a filtered count does no Python planning at all and returns the
filtered query's partitions). Round-6 bytecode read of the 4.1.2 jar
pinned the mechanism exactly: PythonDataSourceV2 holds ONE mutable
`readInfo` slot; every pushdown build (PythonScanBuilder.pushFilters →
FilterPushdownRunner) re-plans in Python and overwrites the slot, while a
build with ZERO pushable filters goes through
PythonBatch.infoInPython → getOrCreateReadInfo, which returns the slot
as-is whenever it is non-null. Consequences, both trace-verified:
(a) a DIFFERENTLY-filtered query on a reused DataFrame re-plans and is
always correct — the danger is exclusively a no-pushable-filter query
after a filtered one; (b) nothing Python-side runs during the stale
replay, so no fingerprint/degrade scheme in this file can detect it —
a pruning-on default is unsound until Spark keys or clears `readInfo`
per pushed-filter set. tests/test_quiver_datasource.py pins the
counterexample as a sentinel: when upstream fixes the caching, that test
fails and the default can flip to on. Zone-map page pruning is therefore OPT-IN
(`.option("page_prune", "true")`): the default build never prunes, so a
replayed plan still covers every page and Spark's row-level filters keep
results correct — which also makes a pruning-off relation safe to REUSE
across arbitrarily-filtered queries (its partitions depend only on static
options). The engine's quiver_table() exploits both sides: unsorted tables
get one cached, reusable, pruning-off relation (skipping the per-load
Python round trip); sorted tables get a fresh page_prune relation per call.
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .snapshot import data_root as _data_root
from .snapshot import list_files as _list_files_pattern

FORMAT_NAME = "quiver"
# Measured on an idle local[32] host at sf0.1 (600k-row lineitem, min of 5
# interleaved with a fresh-load parquet control at 0.310 s, r5 protocol).
# With the relation reused across queries (the catalog pattern the engine's
# quiver_relation() implements — a fresh .load() per query pays a ~0.25 s
# Python-worker round trip for datasource instantiation + schema()), the
# split row target measured rows=32k 0.94x, 48k 0.94x, 64k 1.03x of the
# parquet control, and concatenating a split's pages into one batch was
# no faster (0.96x / 1.03x / 1.00x): the scan is at PARITY with the JVM
# parquet reader once the per-load tax is out of the loop. Default = 32k
# rows + one batch per page (no concat copy, lower peak memory). At
# cluster scale splits stay ~= files x page-ranges.
DEFAULT_PARTITION_ROWS = 1 << 15
#: byte cap per planned partition (compressed page bytes across ALL leaf
#: columns): row-count sizing alone mis-sizes wide rows — a multimodal
#: table with megabyte binary blobs would pack 32k rows = tens of GB into
#: one task. 128 MiB mirrors spark.sql.files.maxPartitionBytes; narrow
#: tables never hit it (32k rows ≪ 128 MiB), so relational plans and the
#: measured scan configs are unchanged.
DEFAULT_PARTITION_BYTES = 128 << 20


def _opt_path(options) -> str:
    """Resolve the datasource's path option to a local filesystem path.

    SQL DDL (`CREATE TABLE ... USING quiver LOCATION/OPTIONS`) hands the
    datasource a `file:/...` URI rather than a bare path; DataFrame-API
    loads pass the path through verbatim. Non-local schemes get a clear
    error instead of a downstream FileNotFoundError."""
    p = options.get("path")
    if not p:
        return p
    u = urllib.parse.urlparse(p)
    if u.scheme == "file":
        return urllib.parse.unquote(u.path) or p
    if u.scheme and len(u.scheme) > 1:  # len>1: don't eat C:\ style paths
        raise ValueError(
            f"quiver datasource supports local paths only, got '{p}'"
        )
    return p


def _list_files(path: str) -> list[str]:
    return _list_files_pattern(_data_root(path), "*.quiver")


def _files_changed_since(files: list[str], man, since: int) -> list[str]:
    """Incremental-scan file filter: keep files whose manifest commit
    stamp is AFTER ``since``. Files the manifest cannot vouch for (absent
    entry, stale stat, manifest-less directory) are conservatively KEPT —
    at-least-once delivery for change consumers beats silently dropping
    rows a pre-manifest writer added. Shared by both table formats."""
    if man is None:
        return files
    out = []
    for f in files:
        ent = man.lookup(f)
        if ent is None or ent.commit > since:
            out.append(f)
    return out


#: Hive null-partition directory token (Spark/Hive convention)
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
#: inferred partition-column kind → arrow type (mirrors Spark's
#: partitionColumnTypeInference subset: long, double, string)
_PART_KIND_PA = {"long": "int64", "double": "float64", "string": "string"}


def _part_pa_type(kind: str):
    import pyarrow as pa

    return getattr(pa, _PART_KIND_PA[kind])()


def _discover_partitions(path: str):
    """Hive-style partition discovery over ``col=value`` directory segments:
    returns ``([(col, kind)], {file: (typed values…)})``. Kind inference is
    long → double → string over all observed values (Spark's
    partitionColumnTypeInference subset). At 100 TB this is the layout that
    lets a filtered scan skip whole files before ANY byte is read."""
    path = _data_root(path)
    if not os.path.isdir(path):
        return [], {}
    files = _list_files(path)
    raw: dict[str, dict[str, str]] = {}
    cols: list[str] = []
    for f in files:
        spec: dict[str, str] = {}
        rel = os.path.relpath(os.path.dirname(f), path)
        if rel not in (".", ""):
            for seg in rel.split(os.sep):
                if "=" not in seg:
                    continue
                k, v = seg.split("=", 1)
                spec[k] = urllib.parse.unquote(v)
                if k not in cols:
                    cols.append(k)
        raw[f] = spec
    if not cols:
        return [], {f: () for f in files}
    kinds: dict[str, str] = {}
    for c in cols:
        kind = "long"
        for f in files:
            v = raw[f].get(c)
            if v is None or v == HIVE_NULL:
                continue
            if kind == "long":
                try:
                    int(v)
                    continue
                except ValueError:
                    kind = "double"
            try:
                float(v)
            except ValueError:
                kind = "string"
                break
        kinds[c] = kind

    def typed(f: str):
        out = []
        for c in cols:
            v = raw[f].get(c)
            if v is None or v == HIVE_NULL:
                out.append(None)
            elif kinds[c] == "long":
                out.append(int(v))
            elif kinds[c] == "double":
                out.append(float(v))
            else:
                out.append(v)
        return tuple(out)

    return [(c, kinds[c]) for c in cols], {f: typed(f) for f in files}


def _part_matches(filters, values: dict) -> bool:
    """Exact evaluation of pushed filters against one file's partition
    values (directory-level pruning — the file analogue of zone maps)."""
    for col, op, fv in filters:
        v = values.get(col)
        try:
            if op == "isnull":
                ok = v is None
            elif op == "isnotnull":
                ok = v is not None
            elif v is None:
                ok = False
            elif op == "eq":
                ok = v == fv
            elif op == "gt":
                ok = v > fv
            elif op == "gte":
                ok = v >= fv
            elif op == "lt":
                ok = v < fv
            elif op == "lte":
                ok = v <= fv
            elif op == "in":
                ok = v in list(fv)
            elif op == "startswith":
                ok = isinstance(v, str) and v.startswith(fv)
            else:
                ok = True
        except TypeError:
            ok = True  # incomparable types → cannot prune safely
        if not ok:
            return False
    return True


#: (path, mtime_ns, size) → (arrow schema, leaf metas). The reference
#: pre-reads a 64 KiB footer tail to save object-store round-trips
#: (src/read/reader.rs:33,180-213); the Spark-side analogue is caching the
#: parsed footer per file on the planning process so repeated queries/
#: partitions() calls do one footer read per file, not one per query.
_FOOTER_CACHE: dict[tuple[str, int, int], tuple] = {}
#: checksum cache, keyed by the SIDECAR file's own (path, mtime, size) —
#: a replaced or late-arriving sidecar changes the key, so a stale entry
#: loaded during a rewrite window can never pin wrong checksums, and an
#: absent sidecar (racing publish) is simply retried next read.
_CRC_CACHE: dict[tuple[str, int, int], object] = {}


def _stat_cached(cache: dict, file: str, loader):
    """Memoize per-file immutable metadata keyed by (path, mtime, size),
    with a crude size bound. loader returning None is NOT cached."""
    st = os.stat(file)
    key = (file, st.st_mtime_ns, st.st_size)
    hit = cache.get(key)
    if hit is None:
        hit = loader(file)
        if hit is not None:
            if len(cache) > 4096:  # bound worker memory
                cache.clear()
            cache[key] = hit
    return hit


def _file_footer(file: str):
    from quiver_spark.format.reader import read_footer

    def load(path):
        with open(path, "rb") as f:
            # one 64 KiB tail pre-read for schema+meta (object-store
            # posture: a single range request per uncached footer)
            return read_footer(f)

    return _stat_cached(_FOOTER_CACHE, file, load)


def _footer_of(man, file: str):
    """Footer via the generation's commit-time manifest when it covers the
    file (zero per-file I/O beyond a stat), else the per-file footer
    cache/read — the fallback for library-written directories and files a
    stale manifest can't vouch for."""
    if man is not None:
        hit = man.footer(file)
        if hit is not None:
            return hit
    return _file_footer(file)


def _prefetch_footers(files: list[str], man=None) -> None:
    """Warm the per-process footer cache for files the manifest cannot
    serve, reading 64 KiB tails through a thread pool (I/O bound; the GIL
    is released during reads). This is the interim O(files) posture for
    manifest-less directories: still one read per file, but wall time
    divided by the pool width instead of strictly sequential."""
    misses = []
    for f in files:
        if man is not None and man.lookup(f) is not None:
            continue
        try:
            st = os.stat(f)
        except OSError:
            continue
        if (f, st.st_mtime_ns, st.st_size) not in _FOOTER_CACHE:
            misses.append(f)
    if len(misses) > 1:
        from concurrent.futures import ThreadPoolExecutor

        def load(f):
            try:
                _file_footer(f)
            except (OSError, ValueError):
                pass  # the planner's own read raises with full context

        with ThreadPoolExecutor(max_workers=min(16, len(misses))) as pool:
            list(pool.map(load, misses))


def _file_checksums(file: str):
    from quiver_spark.format import stats as stats_mod

    side = file + stats_mod.STATS_SUFFIX
    try:
        st = os.stat(side)
    except OSError:
        return None  # no sidecar right now — re-check on the next read
    key = (side, st.st_mtime_ns, st.st_size)
    if key not in _CRC_CACHE:
        sidecar = stats_mod.load_sidecar(file)
        if len(_CRC_CACHE) > 4096:  # bound worker memory
            _CRC_CACHE.clear()
        # None (e.g. a pre-crc or version-mismatched sidecar) IS cached —
        # the key is the sidecar's stat, so a later rewrite re-loads
        _CRC_CACHE[key] = sidecar.get("page_crc32") if sidecar else None
    return _CRC_CACHE[key]


@dataclass
class QuiverPartition(InputPartition):
    file: str
    page_start: int
    page_end: int
    #: Hive partition spec of the file: ((col, typed value, kind), …) — the
    #: reader re-attaches these as constant columns per batch
    part: tuple = field(default_factory=tuple)
    #: additional (file, page_start, page_end, part) chunks packed into
    #: this task — the many-small-files fix: parquet's FileScan packs
    #: splits up to maxPartitionBytes, and without the same packing a
    #: 1,000-small-file table plans 1,000 tasks whose per-task
    #: Python-worker overhead dominates (measured 7.4 s vs parquet's
    #: 0.42 s on 1,000×600-row files; packed: ~32 tasks). The batch
    #: planner rolls page ranges ACROSS files under the dynamic byte
    #: floor; the first chunk lives in the fields above.
    extra: tuple = field(default_factory=tuple)


class QuiverDataSource(DataSource):
    """quiver columnar format (strawboat layout) as a Spark data source."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = _opt_path(self.options)
        if not path:
            raise ValueError("quiver datasource requires a path")
        path = _data_root(path, self.options.get("version"))
        files = _list_files(path)
        if not files:
            raise ValueError(f"no .quiver files under {path}")
        from .manifest import load_manifest

        man = load_manifest(path)
        # A DECLARED table schema (set by ALTER-style DDL —
        # maintenance.add_column/drop_column/rename_column) is
        # authoritative for the whole directory: added columns null-fill,
        # dropped columns vanish even though files still carry them, and
        # renamed columns resolve through per-file maps at read time.
        # Absent one, schema evolution across an accreting directory:
        # default is the first file's schema (parquet's default, one
        # footer read); merge_schemas=true unions fields by name across
        # every footer (manifest-served or cached — planning reads them
        # anyway) with all fields nullable, erroring on same-name type
        # conflicts. Files lacking a merged column null-fill it at scan
        # time (QuiverScanReader.read).
        declared = man.table_schema() if man is not None else None
        if declared is not None:
            arrow_schema = declared
        else:
            arrow_schema, _ = _footer_of(man, files[0])
        if (
            declared is None
            and self.options.get("merge_schemas", "false").lower() == "true"
        ):
            import pyarrow as pa

            _prefetch_footers(files[1:], man)
            fields = [f.with_nullable(True) for f in arrow_schema]
            seen = {f.name: f for f in fields}
            for f2 in files[1:]:
                s2, _ = _footer_of(man, f2)
                for fld in s2:
                    prev = seen.get(fld.name)
                    if prev is None:
                        fld = fld.with_nullable(True)
                        seen[fld.name] = fld
                        fields.append(fld)
                    elif prev.type != fld.type:
                        raise ValueError(
                            "merge_schemas type conflict for "
                            f"'{fld.name}': {prev.type} vs {fld.type} "
                            f"in {f2}"
                        )
            arrow_schema = pa.schema(fields)
        part_cols, _ = _discover_partitions(path)
        if part_cols:
            import pyarrow as pa

            arrow_schema = pa.schema(
                list(arrow_schema)
                + [
                    pa.field(c, _part_pa_type(kind), nullable=True)
                    for c, kind in part_cols
                    if c not in arrow_schema.names
                ]
            )
        fcol = self.options.get("file_column")
        if fcol:
            # metadata column (parquet's _metadata.file_path analogue):
            # each row carries its source file's path relative to the
            # resolved data root — the hook row-level rewrites (DELETE/
            # UPDATE/MERGE) use to find which files a predicate touches
            # with ONE pruned scan instead of bespoke footer walks
            import pyarrow as pa

            if fcol in arrow_schema.names:
                raise ValueError(
                    f"file_column {fcol!r} collides with a table column"
                )
            arrow_schema = pa.schema(
                list(arrow_schema)
                + [pa.field(fcol, pa.string(), nullable=False)]
            )
        cols = self.options.get("columns")
        if cols:
            keep = [c.strip() for c in cols.split(",")]
            arrow_schema = pa_schema_select(arrow_schema, keep)
        # tz-less timestamps map to TIMESTAMP_NTZ, matching Spark's parquet
        # reader (spark.sql.parquet.inferTimestampNTZ default)
        return from_arrow_schema(
            _spark_schema(arrow_schema), prefer_timestamp_ntz=True
        )

    def reader(self, schema: StructType) -> "QuiverScanReader":
        return QuiverScanReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        raise NotImplementedError(
            "the quiver format has no batch write; write a quiver table "
            "through quiver_spark.sources.write"
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        raise NotImplementedError(
            "the quiver format has no streaming write; stream into a quiver "
            "table through quiver_spark.sources.stream_writer"
        )

    def streamReader(self, schema: StructType) -> "QuiverStreamReader":
        return QuiverStreamReader(self.options, schema)


def pa_schema_select(schema, names):
    import pyarrow as pa

    missing = [n for n in names if n not in schema.names]
    if missing:
        raise ValueError(
            f"columns option names {missing} not present in the table "
            f"schema (available: {schema.names})"
        )
    return pa.schema([schema.field(schema.names.index(n)) for n in names])


def _spark_type(t):
    """Recursively normalize an arrow type to what Spark accepts:
    timestamps to microseconds (the file may carry s/ms/ns), and unsigned
    ints WIDENED per SURVEY §1.3 — uint8→int16, uint16→int32,
    uint32→int64, uint64→decimal128(20,0) — because Spark has no unsigned
    types and a same-width signed map would overflow the top half of the
    range. The reference writes uint leaves via the plain integer cascade
    (src/write/primitive.rs:55-70), so only this Spark boundary widens."""
    import pyarrow as pa

    if pa.types.is_timestamp(t) and t.unit != "us":
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_date64(t):
        # Spark's Arrow conversion rejects date64 outright — normalize to
        # date32 (pyarrow's cast divides the ms ticks into days exactly)
        return pa.date32()
    if pa.types.is_unsigned_integer(t):
        return {
            8: pa.int16(),
            16: pa.int32(),
            32: pa.int64(),
            64: pa.decimal128(20, 0),
        }[t.bit_width]
    # nested rebuilds preserve the original child FIELD (name/nullability)
    # via with_type: rebuilding with bare types would rename children to
    # pyarrow defaults ('item'/'entries'), making an otherwise-identical
    # type compare unequal and triggering a useless per-batch cast
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_spark_type(t.value_type)))
    if pa.types.is_large_list(t):
        return pa.large_list(
            t.value_field.with_type(_spark_type(t.value_type))
        )
    if pa.types.is_fixed_size_list(t):
        return pa.list_(
            t.value_field.with_type(_spark_type(t.value_type)), t.list_size
        )
    if pa.types.is_struct(t):
        return pa.struct(
            [f.with_type(_spark_type(f.type)) for f in t]
        )
    if pa.types.is_map(t):
        return pa.map_(
            t.key_field.with_type(_spark_type(t.key_type)),
            t.item_field.with_type(_spark_type(t.item_type)),
        )
    return t


def _spark_field(field):
    """Normalize an arrow field to what Spark's vectorized Arrow reader
    accepts (see _spark_type)."""
    t = _spark_type(field.type)
    return field.with_type(t) if t != field.type else field


def _spark_schema(schema):
    import pyarrow as pa

    return pa.schema([_spark_field(f) for f in schema])


#: pushed-filter → (op tag used by stats.page_may_match, has value)
_FILTER_OPS = {
    "EqualTo": "eq",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "gte",
    "LessThan": "lt",
    "LessThanOrEqual": "lte",
    "In": "in",
    "IsNull": "isnull",
    "IsNotNull": "isnotnull",
    "StringStartsWith": "startswith",
}


def _trace(ev: str, reader, **extra) -> None:
    """Planning-lifecycle trace (QUIVER_TRACE=<path>): appends one JSON line
    per reader event from whatever process runs it. Debug aid for Spark's
    plan/pushdown caching behavior; no-op unless the env var is set."""
    import json
    import time as _time

    path = os.environ.get("QUIVER_TRACE")
    if not path:
        return
    with open(path, "a") as f:
        f.write(
            json.dumps(
                {
                    "ev": ev,
                    "ts": round(_time.time(), 4),
                    "reader_id": id(reader),
                    "pid": os.getpid(),
                    "filters": [
                        (c, op, str(v)) for c, op, v in reader._prune_filters
                    ],
                    **extra,
                }
            )
            + "\n"
        )


class QuiverScanReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        #: the TABLE schema Spark planned with — drives the output column
        #: set under schema evolution (a file missing a table column
        #: null-fills it; a file's extra columns are ignored)
        self.spark_schema = schema
        self.path = _opt_path(options)
        if self.path:
            # freeze the generation for this reader's lifetime: every
            # partition this scan plans comes from ONE snapshot, even if a
            # concurrent overwrite swaps the pointer mid-query. `version`
            # pins a retained older generation (time travel).
            self.path = _data_root(self.path, options.get("version"))
        if not self.path:
            raise ValueError(
                "quiver scan has no 'path' option. If this table was "
                "created with CREATE TABLE ... USING quiver, note that "
                "Spark 4.1.2 drops a Python data source table's stored "
                "OPTIONS at scan time (PythonDataSourceV2.getTable ignores "
                "its properties argument), so catalog tables cannot reach "
                "their data — use spark.read.format('quiver').load(path) "
                "and createOrReplaceTempView for SQL access instead."
            )
        self.columns = None
        cols = options.get("columns")
        if cols:
            self.columns = [c.strip() for c in cols.split(",")]
        #: metadata column name (see QuiverDataSource.schema): emitted as a
        #: constant per chunk — the file's path relative to the data root
        self.file_column = options.get("file_column")
        #: per-file declared→physical rename maps (manifest `cmap`),
        #: loaded lazily by _file_cmap the first time a requested column
        #: is absent from a file's footer — None until then
        self._cmaps: dict | None = None
        #: declared column defaults ({name: raw manifest value}) — filled
        #: plan-time like _cmaps; lazy fallback for the streaming path
        self._defaults: dict | None = None
        #: restrict the scan to these relative file names (JSON array) —
        #: the rewrite half of row-level ops reads ONLY touched files, so
        #: a 1%-selective DELETE rewrites 1% of the table, not all of it
        fsub = options.get("files")
        self.files_subset = (
            frozenset(json.loads(fsub)) if fsub else None
        )
        #: incremental (CDC-lite) scan: read only files COMMITTED after
        #: this manifest commit sequence (see maintenance.table_changes).
        #: File-granular — appends surface exactly the appended rows;
        #: copy-on-write rewrites surface rewritten files wholesale.
        cs = options.get("changes_since")
        self.changes_since = int(cs) if cs is not None else None
        # Split sizing (module docstring): the planner reads
        # DEFAULT_PARTITION_ROWS / DEFAULT_PARTITION_BYTES at plan time and
        # divides total projected bytes by planning_parallelism for the
        # dynamic floor. Its default is the planner host's cpu count — on a
        # multi-executor cluster pass the fleet's total cores (sources.scan
        # passes defaultParallelism), or rely on the 128 MiB cap, which
        # bounds split count for any 100 TB-scale table.
        self.planning_parallelism = max(
            1,
            int(
                options.get(
                    "planning_parallelism", str(os.cpu_count() or 8)
                )
            ),
        )
        # Zone-map page pruning is OPT-IN (page_prune=true): Spark's
        # PythonDataSourceV2 plan cache can replay a filtered build's pruned
        # partitions for a later unfiltered query on the same DataFrame (see
        # module SHARP EDGE note), so the default keeps every page and lets
        # Spark's row-level filters do the work. The engine's own
        # quiver_table() opts in because it builds a fresh relation per call.
        self.page_prune = options.get("page_prune", "false").lower() == "true"
        # Directory-level Hive-partition pruning — same plan-cache sharp
        # edge as page_prune (a replayed filtered plan would drop files for
        # a later unfiltered query), so equally OPT-IN.
        self.partition_prune = (
            options.get("partition_prune", "false").lower() == "true"
        )
        # (column, op, value) predicates over Hive partition columns
        self._part_filters: list[tuple[str, str, object]] = []
        # crc32-verify every raw page against the sidecar record (when one
        # exists) before decode — catches silent corruption from storage /
        # transfer. Default ON: the crc costs ~ms per partition; disable
        # with verify_checksums=false for trusted-local-disk hot paths.
        self.verify_checksums = (
            options.get("verify_checksums", "true").lower() == "true"
        )
        # (column, op, physical value) predicates usable for page pruning
        self._prune_filters: list[tuple[str, str, object]] = []
        _trace(
            "init",
            self,
            opts={str(k): str(v) for k, v in dict(options).items()},
        )

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Collect zone-map-usable filters for page pruning. Every filter is
        returned (Spark re-applies them row-level) because pruning is
        page-granular — the same contract as parquet row-group stats."""
        from quiver_spark.format import stats as stats_mod

        # Snapshot once: the API contract allows an iterator, and consuming
        # it twice (trace below + return) would hand Spark an empty list —
        # i.e. silently claim every filter was fully applied at the source.
        filters = list(filters)
        if self.partition_prune:
            part_cols, _ = _discover_partitions(self.path)
            part_names = {c for c, _k in part_cols}
            for flt in filters:
                op = _FILTER_OPS.get(type(flt).__name__)
                attr = getattr(flt, "attribute", None)
                if (
                    op is not None
                    and attr is not None
                    and len(attr) == 1
                    and attr[0] in part_names
                ):
                    self._part_filters.append(
                        (attr[0], op, getattr(flt, "value", None))
                    )
        if not self.page_prune:
            _trace("push", self, n_in=len(filters), pruning="off")
            return filters
        from .manifest import load_manifest

        files = _list_files(self.path)
        arrow_schema = None
        man = load_manifest(self.path)
        if man is not None and man.table_schema() is not None:
            # declared (evolved) schema: filters arrive on DECLARED names;
            # types are identical to the physical column's (renames never
            # change type), so pruning-value conversion stays exact
            arrow_schema = man.table_schema()
        elif files and os.path.exists(files[0]):
            arrow_schema, _ = _footer_of(man, files[0])
        for flt in filters:
            op = _FILTER_OPS.get(type(flt).__name__)
            attr = getattr(flt, "attribute", None)
            if (
                op is None
                or arrow_schema is None
                or attr is None
                or len(attr) != 1
                or attr[0] not in arrow_schema.names
            ):
                continue
            col = attr[0]
            t = arrow_schema.field(arrow_schema.names.index(col)).type
            if op in ("isnull", "isnotnull"):
                self._prune_filters.append((col, op, None))
            elif op == "in":
                vals = [stats_mod.to_physical(v, t) for v in flt.value]
                if all(v is not NotImplemented for v in vals) and vals:
                    self._prune_filters.append((col, op, vals))
            else:
                v = stats_mod.to_physical(flt.value, t)
                if v is not NotImplemented:
                    self._prune_filters.append((col, op, v))
        # every filter is "unsupported" for exact evaluation → Spark keeps
        # the row-level Filter; we only used them to prune pages
        _trace("push", self, n_in=len(filters))
        return filters

    def _page_keep_mask(
        self, file: str, n_pages: int, man=None
    ) -> list[bool]:
        """Evaluate pruning predicates against the file's stats sidecar
        (served from the commit-time manifest when it covers the file —
        a valid entry's ``sidecar`` is authoritative, including None,
        because the manifest is written after sidecars land)."""
        from quiver_spark.format import stats as stats_mod

        keep = [True] * n_pages
        if not self._prune_filters:
            return keep
        ent = man.lookup(file) if man is not None else None
        if ent is not None:
            sidecar = ent.sidecar
        else:
            sidecar = stats_mod.load_sidecar(file)
        if sidecar is None:
            return keep
        cols = sidecar.get("columns", {})
        page_rows = sidecar.get("page_rows", [])
        if len(page_rows) != n_pages:
            return keep
        # sidecar stats are keyed by the file's PHYSICAL column names;
        # filters arrive on declared names — resolve renamed columns
        # through the file's map so pruning keeps working after an ALTER
        cmap = (ent.cmap or {}) if ent is not None else {}
        for col, op, value in self._prune_filters:
            st = cols.get(cmap.get(col, col))
            if st is None or len(st.get("min", [])) != n_pages:
                continue
            lo_, hi_, nulls_ = st["min"], st["max"], st["nulls"]
            for i in range(n_pages):
                if keep[i] and not stats_mod.page_may_match(
                    op, value, lo_[i], hi_[i], nulls_[i], page_rows[i]
                ):
                    keep[i] = False
            # bloom pass (point lookups): min/max can't prune an unsorted
            # high-cardinality column — every page's range spans the
            # domain — but a per-page bloom answers eq/in membership. No
            # false negatives, so this only ever REMOVES pages the value
            # cannot be in.
            bl = st.get("bloom")
            if op not in ("eq", "in") or not bl:
                continue
            pages_b64 = bl.get("pages", [])
            if len(pages_b64) != n_pages:
                continue
            keys = [
                stats_mod.bloom_key(v)
                for v in (value if op == "in" else [value])
            ]
            if any(k is None for k in keys):
                continue  # value outside the bloom domain: no pruning
            for i in range(n_pages):
                if not keep[i] or pages_b64[i] is None:
                    continue
                if not any(
                    stats_mod.bloom_may_contain(pages_b64[i], k)
                    for k in keys
                ):
                    keep[i] = False
        return keep

    def partitions(self):
        from quiver_spark.format.reader import column_leaf_ranges

        part_cols, per_file = _discover_partitions(self.path)

        def pspec(file: str) -> tuple:
            vals = per_file.get(file, ())
            return tuple(
                (c, v, k) for (c, k), v in zip(part_cols, vals)
            )

        # --- pass 1: per-file footer metadata + projected page bytes ---
        # Fast path: the commit-time manifest serves every footer and
        # sidecar from ONE directory-level read (O(1) plan-time I/O, the
        # 100 TB posture). Fallback for manifest-less/stale files: the
        # per-process footer cache, warmed by a parallel prefetch.
        from .manifest import load_manifest

        man = load_manifest(self.path)
        # resolve rename maps HERE, plan-time: the reader object is
        # pickled into the read function AFTER partitions() runs
        # (pyspark plan_data_source_read), so executors get the maps for
        # free instead of each task re-parsing the whole manifest —
        # at 100 TB manifests that per-task parse would dominate small
        # tasks. The dict holds only non-identity entries (empty for a
        # never-renamed table); _file_cmap's lazy load stays as the
        # streaming-path fallback.
        if man is not None:
            self._cmaps = {
                rel: e.cmap for rel, e in man.entries.items() if e.cmap
            }
            self._defaults = dict(man.column_defaults)
        else:
            self._cmaps = {}
            self._defaults = {}
        files = _list_files(self.path)
        if self.files_subset is not None:
            files = [
                f
                for f in files
                if os.path.relpath(f, self.path) in self.files_subset
            ]
        if self.changes_since is not None:
            files = _files_changed_since(files, man, self.changes_since)
        if self._part_filters:
            # directory-level pruning: non-matching files are dropped
            # before their footer is even opened — at 100 TB this is what
            # turns a partition-key filter into O(matching files) I/O
            files = [
                f
                for f in files
                if _part_matches(
                    self._part_filters,
                    dict(
                        zip(
                            (c for c, _k in part_cols),
                            per_file.get(f, ()),
                        )
                    ),
                )
            ]
        _prefetch_footers(files, man)
        file_plans: list[dict] = []
        total_bytes = 0
        for file in files:
            _schema, metas = _footer_of(man, file)
            if not metas or not metas[0].pages:
                continue
            pages = metas[0].pages
            # per-page compressed bytes across the PROJECTED leaves (all
            # leaves when unprojected): the byte cap keeps wide-row
            # multimodal blob tables from packing tens of GB behind a
            # row-count-only split, and projecting the byte count means a
            # narrow scan's partitions are sized by what it will actually
            # decode — with the dynamic floor below, a 1-of-16-column
            # scan automatically coalesces to fewer, bigger tasks. (The
            # leaf mapping is per-FILE: under schema evolution each file's
            # footer schema can differ.)
            ent = man.lookup(file) if man is not None else None
            fmap = (ent.cmap or {}) if ent is not None else {}
            proj = None
            if self.columns is not None:
                proj = [
                    fmap.get(c, c)
                    for c in self.columns
                    if fmap.get(c, c) in _schema.names
                ]
            elif self.spark_schema is not None:
                proj = [
                    fmap.get(f.name, f.name)
                    for f in self.spark_schema.fields
                    if fmap.get(f.name, f.name) in _schema.names
                ]
            sel_metas = metas
            if proj is not None and len(proj) < len(_schema.names):
                ranges = column_leaf_ranges(_schema)
                leaf_idx: set[int] = set()
                for c in proj:
                    lo, cnt = ranges[_schema.names.index(c)]
                    leaf_idx.update(range(lo, lo + cnt))
                sel = [m for i, m in enumerate(metas) if i in leaf_idx]
                # a partition/null-fill-only projection still probes one
                # real column for row counts — size by that probe
                sel_metas = sel if sel else metas[:1]
            n_pages = len(pages)
            page_bytes = [
                sum(
                    int(m.pages[i].length)
                    for m in sel_metas
                    if i < len(m.pages)
                )
                for i in range(n_pages)
            ]
            keep = self._page_keep_mask(file, n_pages, man=man)
            file_plans.append(
                {
                    "file": file,
                    "pages": pages,
                    "page_bytes": page_bytes,
                    "keep": keep,
                }
            )
            total_bytes += sum(
                b for i, b in enumerate(page_bytes) if keep[i]
            )

        # --- dynamic split floor (see module docstring) ---
        floor = min(
            max(total_bytes // self.planning_parallelism, 1 << 20),
            DEFAULT_PARTITION_BYTES,
        )

        # --- pass 2: roll page ranges into partitions under the floor,
        # packing ACROSS files (parquet's FileScan posture: splits pack to
        # maxPartitionBytes regardless of file boundaries). Without this,
        # a many-small-files table plans one task per file and the
        # per-task Python-worker overhead dominates: 1,000×600-row files
        # measured 7.4 s as 1,000 tasks vs 0.75 s as ~32 packed tasks
        # (parquet control 0.42 s). A partition is a list of
        # (file, page range) chunks; rows/bytes accumulate across chunks.
        parts: list[QuiverPartition] = []
        chunks: list[tuple] = []  # closed chunks of the open partition
        cur: list = [None, None, None]  # file, start page, pspec
        rows = 0
        bts = 0

        def close_chunk(end: int) -> None:
            if cur[1] is not None and end > cur[1]:
                chunks.append((cur[0], cur[1], end, cur[2]))
            cur[1] = None

        def flush() -> None:
            nonlocal chunks, rows, bts
            if chunks:
                head, rest = chunks[0], tuple(chunks[1:])
                parts.append(
                    QuiverPartition(head[0], head[1], head[2], head[3], rest)
                )
            chunks, rows, bts = [], 0, 0

        for fp in file_plans:
            file, pages = fp["file"], fp["pages"]
            page_bytes, keep = fp["page_bytes"], fp["keep"]
            cur[0], cur[2] = file, pspec(file)
            for i, p in enumerate(pages):
                if not keep[i]:
                    # pruned gap: the chunk closes but the PARTITION keeps
                    # filling (ranges are per-chunk, a gap costs nothing)
                    close_chunk(i)
                    continue
                if cur[1] is None:
                    cur[1] = i
                rows += p.num_values
                bts += page_bytes[i]
                if (
                    rows >= DEFAULT_PARTITION_ROWS and bts >= floor
                ) or bts >= DEFAULT_PARTITION_BYTES:
                    close_chunk(i + 1)
                    flush()
            close_chunk(len(pages))
        flush()
        if not parts:
            # empty / fully-pruned dataset: single no-op partition so Spark
            # gets a schema'd empty result
            files = _list_files(self.path)
            parts.append(QuiverPartition(files[0], 0, 0, pspec(files[0])))
        _trace("partitions", self, n_parts=len(parts))
        return parts

    def read(self, partition: QuiverPartition) -> Iterator:
        """Decode every chunk packed into this task (see
        QuiverPartition.extra)."""
        chunk_list = (
            (partition.file, partition.page_start, partition.page_end,
             partition.part),
        ) + tuple(partition.extra)
        for file, ps, pe, spec in chunk_list:
            yield from self._read_chunk(file, ps, pe, spec)

    def _file_cmap(self, file: str) -> dict:
        """Declared→physical rename map for one file (empty = identity).
        Normally populated plan-time by partitions() and pickled with the
        reader; the lazy load here covers the streaming path, at most
        once per reader instance."""
        if self._cmaps is None:
            from .manifest import rename_maps

            self._cmaps = rename_maps(self.path)
        return self._cmaps.get(os.path.relpath(file, self.path), {})

    def _defaults_map(self) -> dict:
        """Declared column defaults (raw manifest values). Plan-time
        populated like _cmaps; lazy fallback for the streaming path."""
        if self._defaults is None:
            from .manifest import column_defaults

            self._defaults = column_defaults(self.path)
        return self._defaults

    def _read_chunk(
        self, chunk_file: str, page_start: int, page_end: int,
        chunk_part: tuple,
    ) -> Iterator:
        import pyarrow as pa

        from quiver_spark.format.reader import (
            column_leaf_ranges,
            crcs_if_consistent,
            read_column_pages,
        )

        _trace("read_start", self, page_start=page_start)
        # footer via the module cache: Spark reuses Python worker processes,
        # so later tasks on the same file skip the footer re-parse entirely
        schema, metas = _file_footer(chunk_file)
        part_map = {
            c: (v, _part_pa_type(k))
            for c, v, k in chunk_part
            if c not in schema.names
        }
        if self.columns is not None:
            names = self.columns
        elif self.spark_schema is not None:
            # the TABLE schema drives the output — under schema evolution a
            # directory's files may individually lack (or exceed) it
            names = [f.name for f in self.spark_schema.fields]
        else:
            names = list(schema.names) + list(part_map)
            if self.file_column:
                names.append(self.file_column)
        # metadata column value: this chunk's file, relative to the data
        # root (matches manifest keys and a rewrite's carry_files names)
        rel_name = (
            os.path.relpath(chunk_file, self.path)
            if self.file_column
            else None
        )
        # Schema evolution: table columns this FILE doesn't carry are
        # null-filled at the Spark-facing arrow type; file columns not in
        # the table schema are simply never requested. Type conflicts on
        # shared primitive columns fail loudly with the file named.
        table_types = {}
        if self.spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_type

            table_types = {
                f.name: to_arrow_type(f.dataType)
                for f in self.spark_schema.fields
            }
        # Rename resolution: a declared column absent from this file's
        # physical schema is EITHER a metadata-only rename (read the old
        # physical name, recorded in the manifest's per-file map) or a
        # later-added column (null-fill). Loaded lazily so tables that
        # never saw an ALTER pay nothing; the DDL layer forbids declared
        # names that shadow a renamed-away/dropped physical name, so a
        # direct footer hit is always the right column.
        cmap: dict = {}
        if any(
            n not in part_map
            and n != self.file_column
            and n not in schema.names
            for n in names
        ):
            cmap = self._file_cmap(chunk_file)
        phys = {n: cmap.get(n, n) for n in names}
        missing_map: dict = {}
        for n in names:
            if (
                n in part_map
                or phys[n] in schema.names
                or n == self.file_column
            ):
                continue
            if n in table_types:
                missing_map[n] = table_types[n]
            else:
                raise ValueError(
                    f"column '{n}' not in {chunk_file} and no table "
                    "schema to null-fill it from"
                )
        # declared defaults (Iceberg initial-default): a missing column
        # with a default fills the default, not null — decoded once per
        # chunk, materialized per batch in finalize()
        fill_vals: dict = {}
        if missing_map:
            dmap = self._defaults_map()
            if dmap:
                from .manifest import decode_default

                for nm, t in missing_map.items():
                    if nm in dmap:
                        fill_vals[nm] = decode_default(dmap[nm], t)
        for n in names:
            if phys[n] in schema.names and n in table_types:
                actual = _spark_field(
                    schema.field(schema.names.index(phys[n]))
                ).type
                expected = table_types[n]
                if (
                    actual != expected
                    and not pa.types.is_nested(actual)
                    and not pa.types.is_nested(expected)
                ):
                    raise ValueError(
                        f"schema evolution type conflict for column '{n}' "
                        f"in {chunk_file}: file has {actual}, table "
                        f"expects {expected}"
                    )
        # PHYSICAL names drive the decode below; `names` (declared) drive
        # the output batch — finalize() zips decoded arrays back in
        # declared order, so the two lists stay index-aligned
        file_names = [
            phys[n]
            for n in names
            if n not in part_map
            and n not in missing_map
            and n != self.file_column
        ]
        # partition/null-fill-only projection still needs per-batch row
        # counts: probe-decode the first file column without emitting it
        probe = [schema.names[0]] if not file_names and len(schema) else []

        def finalize(cols: list, n_rows: int) -> pa.RecordBatch:
            """Assemble the output batch: decoded file columns in request
            order + Hive partition values as constant columns + null fills
            for evolved-away columns."""
            arrays, it = [], iter(cols)
            for nm in names:
                if nm == self.file_column:
                    arrays.append(
                        pa.array([rel_name] * n_rows, type=pa.string())
                    )
                elif nm in part_map:
                    v, t = part_map[nm]
                    arrays.append(
                        pa.nulls(n_rows, t)
                        if v is None
                        else pa.array([v] * n_rows, type=t)
                    )
                elif nm in missing_map:
                    arrays.append(
                        pa.array(
                            [fill_vals[nm]] * n_rows,
                            type=missing_map[nm],
                        )
                        if nm in fill_vals
                        else pa.nulls(n_rows, missing_map[nm])
                    )
                else:
                    arrays.append(next(it))
            return pa.RecordBatch.from_arrays(arrays, names=names)

        if page_end <= page_start:
            yield finalize(
                [
                    pa.array(
                        [],
                        type=_spark_field(
                            schema.field(schema.names.index(n))
                        ).type,
                    )
                    for n in file_names
                ],
                0,
            )
            return
        fields = [schema.field(schema.names.index(n)) for n in file_names]
        casts = [
            (i, _spark_field(fld).type)
            for i, fld in enumerate(fields)
            if _spark_field(fld).type != fld.type
        ]
        all_crcs = crcs_if_consistent(
            _file_checksums(chunk_file) if self.verify_checksums else None,
            metas,
        )

        def col_crcs(ci: int):
            if all_crcs is None:
                return None
            lo, cnt = leaf_ranges[ci]
            return all_crcs[lo : lo + cnt]

        with open(chunk_file, "rb") as f:
            leaf_ranges = column_leaf_ranges(schema)
            per_col: list[list] = []
            for n in file_names + probe:
                ci = schema.names.index(n)
                lo, cnt = leaf_ranges[ci]
                per_col.append(
                    read_column_pages(
                        f,
                        metas[lo : lo + cnt],
                        schema.field(ci),
                        page_start,
                        page_end,
                        crcs=col_crcs(ci),
                        file_desc=chunk_file,
                    )
                )
        # one RecordBatch per page: columnar batches flow straight into
        # Spark's vectorized Arrow path (timestamps normalized to us)
        n_pages = page_end - page_start
        for p in range(n_pages):
            arrays = [per_col[c][p] for c in range(len(file_names) + len(probe))]
            for i, t in casts:
                arrays[i] = arrays[i].cast(t)
            n_rows = len(arrays[0]) if arrays else 0
            yield finalize(arrays[: len(file_names)], n_rows)


class QuiverStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over a quiver directory (the twin of the streaming
    sink): micro-batches are deltas of the sorted file listing. Files are
    immutable once written (each sink task writes uniquely-named files), so
    an offset is simply the set of already-consumed file names, represented
    compactly as a sorted-list watermark index.

    Scale posture: one page-range partition per new file chunk, exactly like
    the batch reader — per-batch work is proportional to new data only, and
    the offset stays O(1) in the log regardless of directory size.

    Generation interplay (chosen, pinned in
    tests/test_streaming.py::test_stream_source_overwrite_reingests_new_generation):
    listing goes through the LIVE generation, so an overwrite mid-stream
    surfaces the new generation's files as brand-new names (the
    ``gen-NNNNNN/`` prefix changes) and the new snapshot is re-ingested
    wholesale; consumed old-generation names are never re-offered. This is
    the file-streaming-source convention (append-only directory
    assumption) — point streams at append-mode tables."""

    def __init__(self, options, schema: StructType):
        self.options = options
        #: the stream's fixed schema — forwarded to the per-partition batch
        #: reader so late-arriving files that lack (or exceed) it are
        #: null-filled/projected exactly like batch schema evolution,
        #: instead of emitting wrong-schema batches mid-stream
        self.schema_struct = schema
        self.path = _opt_path(options)
        # rate limiting for backfills: at most N new files per micro-batch
        # (the analogue of the file source's maxFilesPerTrigger) — without
        # it, pointing a fresh stream at a deep directory makes batch 0
        # swallow the whole backlog in one oversized micro-batch.
        # CAVEAT: Trigger.AvailableNow falls back to single-batch execution
        # for Python stream sources, so under that trigger the cap limits
        # the run to one capped batch (the checkpoint resumes cleanly);
        # use a processing-time trigger with rate limiting.
        mft = int(options.get("max_files_per_trigger", 0))
        self.max_files: int | None = mft if mft > 0 else None
        #: start the stream AFTER this manifest commit (the Kafka
        #: startingOffsets analogue over the CDC commit sequence): files
        #: the manifest stamps at-or-before it seed the initial offset as
        #: already-consumed, so a fresh stream skips the historical
        #: backfill and tails new commits only. Checkpointed restarts
        #: ignore it (Spark only asks initialOffset once per checkpoint).
        sc = options.get("start_commit")
        self.start_commit = int(sc) if sc is not None else None
        self._last: list[str] = []

    def _files(self) -> list[str]:
        # offsets carry paths RELATIVE to the root so Hive-partitioned
        # subdirectory files stream exactly like flat ones
        return [os.path.relpath(f, self.path) for f in _list_files(self.path)]

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        if self.start_commit is None:
            return {"files": []}
        from .manifest import load_manifest

        # files committed at-or-before the cursor are "already consumed";
        # unvouched files are NOT (conservative include — the same
        # at-least-once contract as the batch changes_since scan). Uses
        # self._files() so the arrowipc delegate inherits the behavior.
        man = load_manifest(_data_root(self.path))
        consumed = []
        for rel in self._files():
            ent = (
                man.lookup(os.path.join(self.path, rel))
                if man is not None
                else None
            )
            if ent is not None and ent.commit <= self.start_commit:
                consumed.append(rel)
        consumed = sorted(consumed)
        # seed the rate-limit cursor too: latestOffset grows from _last,
        # and an empty cursor under max_files_per_trigger would compute
        # an end offset BELOW this initial offset and re-deliver the
        # skipped backfill on the next batch
        self._advance(consumed)
        return {"files": consumed}

    def _advance(self, files: list[str]) -> None:
        """Merge an offset Spark has already planned/committed into the
        rate-limit cursor so it can never regress behind the checkpoint
        (a restarted reader starts with an empty cursor; regressing would
        re-deliver already-processed files)."""
        seen = set(self._last)
        self._last = self._last + [f for f in files if f not in seen]

    def latestOffset(self) -> dict:  # noqa: N802
        if self.max_files is None:
            return {"files": self._files()}
        # grow the offset monotonically by at most max_files new names per
        # call; the cursor is seeded from every offset Spark shows us
        # (partitions/commit), so a checkpointed restart resumes from the
        # committed offset instead of re-offering old files
        seen = set(self._last)
        new = sorted(f for f in self._files() if f not in seen)
        self._last = self._last + new[: self.max_files]
        return {"files": self._last}

    def partitions(self, start: dict, end: dict):
        self._advance(start.get("files", []))
        self._advance(end.get("files", []))
        seen = set(start.get("files", []))
        new = [f for f in end.get("files", []) if f not in seen]
        part_cols, per_file = _discover_partitions(self.path)

        def pspec(file: str) -> tuple:
            return tuple(
                (c, v, k)
                for (c, k), v in zip(part_cols, per_file.get(file, ()))
            )

        from .manifest import load_manifest

        # the manifest lives in the LIVE data root (generation dir for
        # snapshot tables); offset names are relative to the table root,
        # so files from retained older generations simply miss the lookup
        # and take the prefetch fallback
        man = load_manifest(_data_root(self.path))
        # Mid-stream schema evolution guard (the Delta posture): the
        # stream's schema was fixed at start; if ALTER DDL has since
        # declared a schema whose column names no longer cover it,
        # silently null-filling the stream's columns would be data loss
        # disguised as late evolution — fail loudly and ask for a restart
        # (a fresh stream picks the evolved schema up). Pre-stream ALTERs
        # match by construction and pass.
        if man is not None and self.schema_struct is not None:
            declared = man.table_schema()
            if declared is not None:
                stream_cols = {f.name for f in self.schema_struct.fields}
                # Hive partition columns (and a file_column) live outside
                # the declared data schema — never count them as drift
                stream_cols -= {c for c, _k in part_cols}
                stream_cols.discard(self.options.get("file_column"))
                missing = stream_cols - set(declared.names)
                if missing:
                    raise ValueError(
                        f"table schema evolved mid-stream: stream "
                        f"column(s) {sorted(missing)} are no longer "
                        f"declared (now {declared.names}) — restart the "
                        "stream to pick up the evolved schema"
                    )
        new_files = [
            f
            for f in (os.path.join(self.path, n) for n in new)
            if os.path.exists(f)
        ]
        # micro-batch planning is per-NEW-file metadata: manifest-served
        # when the writer made one (every commit of sources.stream_writer
        # updates it), parallel-prefetched otherwise
        _prefetch_footers(new_files, man)
        parts: list[QuiverPartition] = []
        for file in new_files:
            _schema, metas = _footer_of(man, file)
            if not metas or not metas[0].pages:
                continue
            pages = metas[0].pages
            # a streamed split rolls at EITHER the batch planner's row
            # target or its byte cap: a streamed blob table's micro-batch
            # must not pack tens of GB behind a row-only split
            page_bytes = [
                sum(int(m.pages[i].length) for m in metas if i < len(m.pages))
                for i in range(len(pages))
            ]
            start_p, rows, bts = 0, 0, 0
            for i, p in enumerate(pages):
                rows += p.num_values
                bts += page_bytes[i]
                if (
                    rows >= DEFAULT_PARTITION_ROWS
                    or bts >= DEFAULT_PARTITION_BYTES
                ):
                    parts.append(QuiverPartition(file, start_p, i + 1, pspec(file)))
                    start_p, rows, bts = i + 1, 0, 0
            if start_p < len(pages):
                parts.append(QuiverPartition(file, start_p, len(pages), pspec(file)))
        if not parts:
            files = _list_files(self.path)
            anchor = files[0] if files else os.path.join(self.path, "_none")
            parts.append(QuiverPartition(anchor, 0, 0, pspec(anchor)))
        return parts

    def read(self, partition: QuiverPartition) -> Iterator:
        # identical decode path as the batch reader (no pushed filters in
        # streams); empty anchor partitions yield nothing. Forward the
        # user's stream options (verify_checksums, columns, ...) minus
        # stream-only keys, so documented read opt-outs apply to streaming
        # reads too instead of being silently dropped.
        if partition.page_end <= partition.page_start:
            return iter(())
        opts = {
            str(k): v
            for k, v in dict(self.options).items()
            if str(k) not in ("max_files_per_trigger", "start_commit")
        }
        opts["path"] = self.path
        batch_reader = QuiverScanReader(opts, self.schema_struct)
        return batch_reader.read(partition)

    def commit(self, end: dict) -> None:
        self._advance(end.get("files", []))

    def stop(self) -> None:
        return None


def write_placeholder(table: str, arrow_schema, fmt: str = "quiver") -> None:
    """After a commit that left the live snapshot with no data file,
    publish one empty, schema-bearing file (or later reads of the
    directory fail). It is part of the SAME logical commit, so its
    manifest entry folds into the current sequence number instead of
    bumping it. ``fmt`` is the manifest format, ``"quiver"`` or
    ``"arrow"``; ``sources.write`` and the arrowipc sinks share this
    copy."""
    import pyarrow as pa

    from .manifest import update_manifest

    root = _data_root(table)
    ext = "arrow" if fmt == "arrow" else "quiver"
    if _list_files_pattern(root, f"*.{ext}"):
        return
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], type=f.type) for f in arrow_schema],
        schema=arrow_schema,
    )
    rel = f"part-{uuid.uuid4().hex}.{ext}"
    full = os.path.join(root, rel)
    if fmt == "arrow":
        import pyarrow.ipc as ipc

        with ipc.new_file(full, arrow_schema) as w:
            w.write_batch(empty)
    else:
        from quiver_spark.format.writer import WriteOptions, write_table

        write_table(pa.Table.from_batches([empty]), full, WriteOptions())
    update_manifest(root, [rel], fmt, new_commit=False)


_SHIPPED_SESSIONS: set[int] = set()
_REGISTERED_SESSIONS: set[int] = set()


def ship_package(spark) -> None:
    """Ship quiver_spark to Python workers (zip + addPyFile) so executors
    can unpickle references into the package (DataSource reader, mapInPandas
    functions, UDTF classes) regardless of the driver process's cwd."""
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    import hashlib
    import zipfile

    import quiver_spark

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(quiver_spark.__file__)))
    sources = []
    for root, _dirs, fnames in os.walk(os.path.join(pkg_dir, "quiver_spark")):
        for fn in sorted(fnames):
            if fn.endswith(".py"):
                sources.append(os.path.join(root, fn))
    digest = hashlib.md5()
    for full in sorted(sources):
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join("/tmp", f"quiver_spark_pkg_{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full in sorted(sources):
                zf.write(full, os.path.relpath(full, pkg_dir))
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def _register_source(spark, source) -> None:
    """``spark.dataSource.register``, tolerating a name a sibling session
    (``spark.newSession()``, which shares the SparkContext) registered
    already: the registration serves every session of the context."""
    from pyspark.errors import AnalysisException

    try:
        spark.dataSource.register(source)
    except AnalysisException as exc:
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc):
            raise


def register(spark) -> None:
    """Register the quiver format with a session (+ ship the package).

    Batch reads then work from any driver cwd (the zip shipped via
    addPyFile reaches every task worker). STREAMING reads additionally
    need `quiver_spark` importable in the streaming-source runner, a
    driver-side worker that does NOT receive addPyFile includes: ensure
    the package is on PYTHONPATH before the JVM starts (session.get_spark
    does this) or launch the driver from the package root."""
    ship_package(spark)
    # sibling format sharing the table layout/commit protocol
    from quiver_spark.sources.arrow_datasource import register_arrow

    register_arrow(spark)
    key = id(spark)
    if key in _REGISTERED_SESSIONS:
        return
    _register_source(spark, QuiverDataSource)
    try:
        # our reader implements pushFilters, which Spark refuses to plan
        # unless this conf is on — required for ANY session reading quiver
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    _REGISTERED_SESSIONS.add(key)
