"""Arrow IPC file format (.arrow, random-access "Feather V2") as a Spark
data source — ``spark.read.format("arrowipc")`` / ``df.write.format(
"arrowipc")``.

Why it exists: the reference format IS Arrow-native (its schema travels as
Arrow IPC bytes, /root/reference/src/write/writer.rs:137-139, and its
arrays are arrow2 arrays), so users of the reference ecosystem hold
datasets in Arrow IPC files — a format Spark cannot read natively. This
source makes them first-class tables next to quiver and parquet.

Design, mirroring the quiver source at the right altitude:

* SPLITS are record-batch ranges. The IPC footer names every batch
  (``RecordBatchFileReader.num_record_batches``); splits cover
  ``[batch_start, batch_end)`` sized by the same dynamic byte floor as the
  quiver planner — clamp(total_bytes / planning_parallelism, 1 MiB,
  128 MiB) — using file-size/batch-count as the per-batch byte estimate
  (the footer stores no per-batch sizes).
* READS are zero-copy: files open through ``pyarrow.memory_map``, so a
  batch is buffer views over the mapping, and a ``columns`` projection
  selects buffers without touching the rest (IPC stores raw Arrow buffers;
  there is nothing to decode).
* WRITES stage each task's ``pyarrow.ipc.new_file`` output and publish
  it through the quiver tables' commit (``snapshot.commit``): atomic
  generation overwrites, retention/time travel, the multi-writer
  lock/claim/CAS guards (pointer_store.py). One table layout, two
  formats.

No statistics exist in IPC footers, so there is no page pruning here;
filters evaluate row-level above the scan (Catalyst), and the format's
role is interop + mmap-fast local pipelines, not selective scans.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from quiver_spark.sources import snapshot
from quiver_spark.sources.pointer_store import store_from_option
from quiver_spark.sources.quiver_datasource import (
    DEFAULT_PARTITION_BYTES,
    _data_root,
    _list_files_pattern,
    _opt_path,
    _spark_field,
    _spark_schema,
    write_placeholder,
)

FORMAT_NAME = "arrowipc"


def _list_arrow_files(path: str) -> list[str]:
    return _list_files_pattern(_data_root(path), "*.arrow")


def _open_reader(file: str):
    """Reader over a memory-mapped file for the DECODE path — batches are
    buffer views over the mapping, which therefore must stay open for the
    reader's lifetime. Planning must NOT use this (it would leak one mmap
    per planned file on long-lived drivers); see _plan_info."""
    import pyarrow as pa
    import pyarrow.ipc as ipc

    return ipc.open_file(pa.memory_map(file, "r"))


#: (path, mtime_ns, size) → (num_record_batches, schema) for PLANNING —
#: the mapping is closed before returning, so plan-time metadata never
#: holds a file descriptor (and repeat plans never reopen the footer)
_PLAN_CACHE: dict[tuple, tuple] = {}


def _plan_info(file: str) -> tuple[int, object]:
    from quiver_spark.sources.quiver_datasource import _stat_cached

    def load(path):
        import pyarrow as pa
        import pyarrow.ipc as ipc

        mm = pa.memory_map(path, "r")
        try:
            r = ipc.open_file(mm)
            return r.num_record_batches, r.schema
        finally:
            mm.close()

    return _stat_cached(_PLAN_CACHE, file, load)


@dataclass
class ArrowIpcPartition(InputPartition):
    file: str
    batch_start: int
    batch_end: int


def _file_batches(file: str, man=None) -> int:
    """Record-batch count for planning: served by the commit-time manifest
    when it covers the file (zero per-file I/O), else the plan cache."""
    if man is not None:
        ent = man.lookup(file)
        if ent is not None and ent.batches is not None:
            return ent.batches
    return _plan_info(file)[0]


def _batch_splits(
    files: list[str], floor: int, man=None
) -> list[ArrowIpcPartition]:
    """Record-batch-range splits over ``files``, each carrying ~``floor``
    bytes (per-batch size estimated as file_size / batch_count — IPC
    footers store no per-batch sizes). Shared by the batch and stream
    planners so the sizing policy cannot drift between them."""
    parts: list[ArrowIpcPartition] = []
    for file in files:
        n = _file_batches(file, man)
        if n == 0:
            continue
        per_batch = os.path.getsize(file) / n
        step = max(1, int(floor // max(per_batch, 1)))
        for s in range(0, n, step):
            parts.append(ArrowIpcPartition(file, s, min(s + step, n)))
    return parts


class ArrowIpcScanReader(DataSourceReader):
    def __init__(self, options, schema: StructType | None):
        self.options = options
        #: the PLANNED table schema — output batches are bound to ITS
        #: column order and names, never a file's native order (files from
        #: different producers can order columns differently; positional
        #: binding would silently transpose values)
        self.spark_schema = schema
        self.path = _data_root(
            _opt_path(options), options.get("version")
        )
        cols = options.get("columns")
        self.columns = (
            [c.strip() for c in cols.split(",")] if cols else None
        )
        self.planning_parallelism = max(
            1,
            int(
                options.get(
                    "planning_parallelism", str(os.cpu_count() or 8)
                )
            ),
        )
        #: incremental (CDC-lite) scan — same contract as the quiver
        #: reader: only files committed after this manifest sequence
        cs = options.get("changes_since")
        self.changes_since = int(cs) if cs is not None else None
        #: per-file declared→physical rename maps, loaded lazily (see
        #: the quiver reader's _file_cmap — same contract)
        self._cmaps: dict | None = None
        #: declared column defaults — plan-time like _cmaps
        self._defaults: dict | None = None

    def _file_cmap(self, file: str) -> dict:
        if self._cmaps is None:
            from quiver_spark.sources.manifest import rename_maps

            self._cmaps = rename_maps(self.path)
        return self._cmaps.get(os.path.relpath(file, self.path), {})

    def _defaults_map(self) -> dict:
        if self._defaults is None:
            from quiver_spark.sources.manifest import column_defaults

            self._defaults = column_defaults(self.path)
        return self._defaults

    def _floor(self, files: list[str]) -> int:
        total = sum(os.path.getsize(f) for f in files)
        return min(
            max(total // self.planning_parallelism, 1 << 20),
            DEFAULT_PARTITION_BYTES,
        )

    def partitions(self):
        from quiver_spark.sources.manifest import load_manifest

        from .quiver_datasource import _files_changed_since

        files = _list_arrow_files(self.path)
        man = load_manifest(self.path)
        # plan-time rename-map resolution (see the quiver planner): the
        # reader pickles AFTER partitions(), so tasks inherit the maps
        if man is not None:
            self._cmaps = {
                rel: e.cmap for rel, e in man.entries.items() if e.cmap
            }
            self._defaults = dict(man.column_defaults)
        else:
            self._cmaps = {}
            self._defaults = {}
        if self.changes_since is not None:
            files = _files_changed_since(files, man, self.changes_since)
        parts = _batch_splits(files, self._floor(files), man)
        if not parts:
            anchor = files[0] if files else os.path.join(self.path, "_none")
            parts.append(ArrowIpcPartition(anchor, 0, 0))
        return parts

    def read(self, partition: ArrowIpcPartition) -> Iterator:
        if partition.batch_end <= partition.batch_start:
            return iter(())
        reader = _open_reader(partition.file)
        # output binding: the declared schema's names in declared ORDER
        # (after projection) — Spark binds columns positionally against
        # the planned schema, so a file with a different native column
        # order must be reordered BY NAME, never passed through
        if self.columns is not None:
            names = self.columns
        elif self.spark_schema is not None:
            names = [f.name for f in self.spark_schema.fields]
        else:
            names = None  # direct use (tests): file-native order
        table_types = {}
        if self.spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_type

            table_types = {
                f.name: to_arrow_type(f.dataType)
                for f in self.spark_schema.fields
            }

        def gen():
            import pyarrow as pa

            for i in range(partition.batch_start, partition.batch_end):
                batch = reader.get_batch(i)  # buffer views over the mmap
                if names is not None and any(
                    c not in batch.schema.names for c in names
                ):
                    # metadata-only renames: surface the file's physical
                    # columns under their DECLARED names before the
                    # name-bound select/null-fill below (the DDL layer
                    # forbids shadowing, so the rename is unambiguous)
                    cmap = self._file_cmap(partition.file)
                    if cmap:
                        inv = {p: d for d, p in cmap.items()}
                        batch = batch.rename_columns(
                            [
                                inv.get(c, c)
                                for c in batch.schema.names
                            ]
                        )
                if names is not None:
                    present = [c for c in names if c in batch.schema.names]
                    missing = [
                        c for c in names if c not in batch.schema.names
                    ]
                    unfillable = [c for c in missing if c not in table_types]
                    if unfillable:
                        raise ValueError(
                            f"columns {unfillable} not in "
                            f"{partition.file} and no table schema to "
                            f"null-fill them; file has {batch.schema.names}"
                        )
                    batch = batch.select(present)  # name-bound reorder
                # foreign-file normalization: cast leaves Spark's Arrow
                # reader rejects (ns timestamps, uints, ...) exactly like
                # the quiver reader does; our own sink's files are
                # already normalized and skip the casts
                casts = [
                    (j, _spark_field(batch.schema.field(j)).type)
                    for j in range(batch.num_columns)
                    if _spark_field(batch.schema.field(j)).type
                    != batch.schema.field(j).type
                ]
                if casts:
                    import pyarrow.compute as pc

                    arrays = list(batch.columns)
                    for j, t in casts:
                        # allow_time_truncate: Spark's timestamp domain is
                        # microseconds — ns fractions are dropped exactly
                        # as Spark's own Arrow ingestion drops them;
                        # value-range overflows still error
                        arrays[j] = pc.cast(
                            arrays[j],
                            options=pc.CastOptions(
                                target_type=t, allow_time_truncate=True
                            ),
                        )
                    batch = pa.RecordBatch.from_arrays(
                        arrays, schema=_spark_schema(batch.schema)
                    )
                if names is not None and len(batch.schema.names) < len(
                    names
                ):
                    # schema evolution: fill declared columns this file
                    # lacks — the declared DEFAULT when one exists
                    # (Iceberg initial-default), else null (same contract
                    # as the quiver reader)
                    from quiver_spark.sources.manifest import (
                        decode_default,
                    )

                    dmap = self._defaults_map()
                    arrays, it = [], iter(batch.columns)
                    for nm in names:
                        if nm in batch.schema.names:
                            arrays.append(next(it))
                        elif nm in dmap:
                            arrays.append(
                                pa.array(
                                    [
                                        decode_default(
                                            dmap[nm], table_types[nm]
                                        )
                                    ]
                                    * batch.num_rows,
                                    type=table_types[nm],
                                )
                            )
                        else:
                            arrays.append(
                                pa.nulls(batch.num_rows, table_types[nm])
                            )
                    batch = pa.RecordBatch.from_arrays(arrays, names=names)
                yield batch

        return gen()


@dataclass
class ArrowIpcCommit(WriterCommitMessage):
    """Per-task commit message: the task's staging directory and the
    files it staged there; the driver publishes them on job commit."""

    task_dir: str = ""
    files: tuple = ()


class ArrowIpcWriter(DataSourceArrowWriter):
    """The arrowipc batch sink: each task stages ``.arrow`` files under
    the hidden ``_temporary/`` root, and the driver publishes them
    through ``snapshot.commit`` (overwrite as a generation swap,
    ``keep_generations`` retention, ``pointer_store``). Options:
    ``max_rows_per_file`` (a positive integer: a task rolls to a new
    file at exactly that many rows) and ``require_not_null`` (comma list
    of columns). A table with CHECK constraints is refused, as is
    ``partition_by``."""

    def __init__(self, options, spark_schema=None, overwrite: bool = False):
        self.options = options
        self.spark_schema = spark_schema
        self.overwrite = overwrite
        self.path = _opt_path(options)
        # a cap below 1 would flush a file per row: refused, as
        # quiver_spark.sources.write refuses it
        max_rows = str(options.get("max_rows_per_file", 1 << 22))
        if not (max_rows.isdecimal() and int(max_rows) > 0):
            raise ValueError(
                "arrowipc write option max_rows_per_file must be a positive "
                f"integer, got {options['max_rows_per_file']!r}"
            )
        self.max_rows = int(max_rows)
        rnn = options.get("require_not_null", "")
        self.require_not_null = tuple(
            c.strip() for c in rnn.split(",") if c.strip()
        )
        if options.get("partition_by"):
            raise ValueError(
                "partition_by is not supported by the arrowipc sink; "
                "write quiver (or parquet) for Hive-partitioned layouts"
            )
        # CHECK constraints are checked only in the Spark plan that
        # quiver_spark.sources.write builds; this sink does not evaluate
        # them, so it refuses a table whose live manifest has any
        from quiver_spark.sources import _constraints

        constraints = _constraints(self.path) if self.path else {}
        if constraints:
            raise ValueError(
                f"{self.path} has CHECK constraints {constraints}, which "
                "this sink does not evaluate — write through "
                "quiver_spark.sources.write, which checks them"
            )

    def _check_not_null(self, batch) -> None:
        for c in self.require_not_null:
            if c not in batch.schema.names:
                raise ValueError(
                    f"require_not_null column {c!r} is not in the "
                    f"written schema {batch.schema.names}"
                )
            nulls = batch.column(batch.schema.names.index(c)).null_count
            if nulls:
                raise ValueError(
                    f"NOT NULL constraint violated: column {c!r} "
                    f"has {nulls} null(s) in this write — the job "
                    "aborts and nothing is published"
                )

    def write(self, iterator) -> ArrowIpcCommit:
        """One task → one .arrow file of the task's batches (rolling to a
        new file at exactly max_rows rows), staged under the hidden
        `_temporary/` root for the driver-side publish."""
        import pyarrow.ipc as ipc

        task_dir = os.path.join(
            self.path, snapshot.STAGING_DIR, uuid.uuid4().hex
        )
        os.makedirs(task_dir, exist_ok=True)
        staged: list[str] = []
        writer = None
        rows = 0

        def roll(schema):
            nonlocal writer, rows
            if writer is not None:
                writer.close()
            rel = f"part-{uuid.uuid4().hex}.arrow"
            staged.append(rel)
            writer = ipc.new_file(os.path.join(task_dir, rel), schema)
            rows = 0

        for batch in iterator:
            self._check_not_null(batch)
            if writer is None:
                roll(batch.schema)
            while batch.num_rows:
                if rows == self.max_rows:
                    roll(batch.schema)
                take = min(self.max_rows - rows, batch.num_rows)
                writer.write_batch(batch.slice(0, take))
                rows += take
                batch = batch.slice(take)
        if writer is not None:
            writer.close()
        return ArrowIpcCommit(task_dir=task_dir, files=tuple(staged))

    def _publish(self, messages) -> None:
        """Publish every reporting task's staged files in one
        ``snapshot.commit``, then sweep day-old staging attempts."""
        snapshot.commit(
            self.path,
            ("*.arrow",),
            overwrite=self.overwrite,
            staged=[
                (m.task_dir, m.files)
                for m in messages
                if m is not None and m.task_dir
            ],
            fmt="arrow",
            keep=int(self.options.get("keep_generations", "1")),
            store=store_from_option(self.options.get("pointer_store")),
        )
        snapshot.sweep_stale_staging(self.path)

    def commit(self, messages) -> None:
        """Driver-side commit: publish staged task output, then ensure a
        fully-empty result set still leaves a schema-bearing file."""
        self._publish(messages)
        if self.spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            write_placeholder(
                self.path, to_arrow_schema(self.spark_schema), "arrow"
            )

    def abort(self, messages) -> None:
        """Drop the staged output of every task that reported; attempts
        that died before reporting stay under the hidden staging root,
        invisible to readers, until a later sweep."""
        import shutil

        for msg in messages:
            if msg is not None and msg.task_dir:
                shutil.rmtree(msg.task_dir, ignore_errors=True)


class ArrowIpcDataSource(DataSource):
    """Arrow IPC random-access files as a Spark data source."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = _opt_path(self.options)
        if not path:
            raise ValueError("arrowipc datasource requires a path")
        path = _data_root(path, self.options.get("version"))
        files = _list_arrow_files(path)
        if not files:
            raise ValueError(f"no .arrow files under {path}")

        from quiver_spark.sources.manifest import load_manifest

        man = load_manifest(path)

        def schema_of(f):
            if man is not None:
                ent = man.lookup(f)
                if ent is not None and ent.schema_idx is not None:
                    return man.schema(ent.schema_idx)
            return _plan_info(f)[1]

        # a DECLARED table schema (ALTER-style DDL) overrides file
        # inference — same contract as the quiver source
        declared = man.table_schema() if man is not None else None
        arrow_schema = (
            declared if declared is not None else schema_of(files[0])
        )
        # Schema evolution across an accreting directory: default is the
        # first file's schema (one footer read); merge_schemas=true unions
        # fields by name across every file (manifest-served when present)
        # with all fields nullable, erroring on same-name type conflicts —
        # the same contract as the quiver source, and the read path
        # already null-fills declared columns a file lacks.
        if (
            declared is None
            and self.options.get("merge_schemas", "false").lower() == "true"
        ):
            import pyarrow as pa

            fields = [f.with_nullable(True) for f in arrow_schema]
            seen = {f.name: f for f in fields}
            for f2 in files[1:]:
                for fld in schema_of(f2):
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
        cols = self.options.get("columns")
        if cols:
            keep = [c.strip() for c in cols.split(",")]
            missing = [c for c in keep if c not in arrow_schema.names]
            if missing:
                raise ValueError(
                    f"columns {missing} not in {files[0]}; file has "
                    f"{arrow_schema.names}"
                )
            import pyarrow as pa

            arrow_schema = pa.schema(
                [arrow_schema.field(c) for c in keep]
            )
        # same normalization + NTZ preference as the quiver source: a
        # tz-less Arrow timestamp is a wall-clock reading and must map to
        # TimestampNTZType, not the session-zone TimestampType
        return from_arrow_schema(
            _spark_schema(arrow_schema), prefer_timestamp_ntz=True
        )

    def reader(self, schema: StructType):
        return ArrowIpcScanReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        path = _opt_path(self.options)
        if not path:
            raise ValueError("arrowipc datasource requires a path")
        # the writer refuses its options before the table directory exists
        w = ArrowIpcWriter(self.options, spark_schema=schema, overwrite=overwrite)
        os.makedirs(path, exist_ok=True)
        return w

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        path = _opt_path(self.options)
        if not path:
            raise ValueError("arrowipc datasource requires a path")
        os.makedirs(path, exist_ok=True)
        return ArrowIpcStreamWriter(self.options)

    def streamReader(self, schema: StructType):  # noqa: N802
        return ArrowIpcStreamReader(self.options, schema)


def register_arrow(spark) -> None:
    """Register the arrowipc format with a session (idempotent)."""
    from quiver_spark.sources.quiver_datasource import (
        _REGISTERED_SESSIONS,
        _register_source,
        ship_package,
    )

    ship_package(spark)
    key = ("arrowipc", id(spark))
    if key in _REGISTERED_SESSIONS:
        return
    _register_source(spark, ArrowIpcDataSource)
    _REGISTERED_SESSIONS.add(key)


class ArrowIpcStreamWriter(ArrowIpcWriter, DataSourceStreamArrowWriter):
    """Streaming sink for .arrow tables: each micro-batch stages Arrow
    IPC files under the hidden `_temporary/` root and publishes them on
    batch commit, once per batch id (``snapshot.publish_once``, the
    ``_quiver_commits/<batchId>`` marker log): a REPLAYED batch's
    re-staged output is dropped instead of published twice, and an
    aborted batch's staged output is dropped."""

    def commit(self, messages, batchId) -> None:  # noqa: N803
        if not snapshot.publish_once(
            self.path, batchId, lambda: self._publish(messages)
        ):
            ArrowIpcWriter.abort(self, messages)

    def abort(self, messages, batchId) -> None:  # noqa: N803
        ArrowIpcWriter.abort(self, messages)


class ArrowIpcStreamReader(DataSourceStreamReader):
    """Streaming SOURCE over a .arrow directory: micro-batches are deltas
    of the sorted file listing, exactly like the quiver stream source
    (offsets are consumed relative file names; files are immutable once
    committed). Splits are record-batch ranges per new file."""

    def __init__(self, options, schema: StructType):
        from quiver_spark.sources.quiver_datasource import QuiverStreamReader

        # delegate the offset/rate-limit machinery wholesale; only file
        # listing, split planning, and reading are format-specific
        self._inner = QuiverStreamReader(options, schema)
        self._inner._files = self._files  # type: ignore[method-assign]
        self.options = options
        self.schema_struct = schema
        self.path = self._inner.path
        self.planning_parallelism = max(
            1,
            int(
                options.get(
                    "planning_parallelism", str(os.cpu_count() or 8)
                )
            ),
        )

    def _files(self) -> list[str]:
        return [
            os.path.relpath(f, self.path)
            for f in _list_arrow_files(self.path)
        ]

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API name)
        return self._inner.initialOffset()

    def latestOffset(self) -> dict:  # noqa: N802
        return self._inner.latestOffset()

    def commit(self, end: dict) -> None:
        self._inner.commit(end)

    def stop(self) -> None:
        return None

    def partitions(self, start: dict, end: dict):
        self._inner._advance(start.get("files", []))
        self._inner._advance(end.get("files", []))
        seen = set(start.get("files", []))
        new = [
            os.path.join(self.path, f)
            for f in end.get("files", [])
            if f not in seen
        ]
        new = [f for f in new if os.path.exists(f)]
        # same split-sizing policy as the batch planner (shared helper +
        # dynamic floor over THIS micro-batch's files), so streamed scans
        # keep within-file parallelism instead of one split per file
        from quiver_spark.sources.manifest import load_manifest

        floor = ArrowIpcScanReader._floor(self, new)
        # live-root manifest, same note as the quiver stream planner
        man = load_manifest(_data_root(self.path))
        # mid-stream schema-evolution guard, same contract as the quiver
        # stream planner (arrowipc tables are never Hive-partitioned, so
        # the raw name-set comparison is exact)
        if man is not None and self.schema_struct is not None:
            declared = man.table_schema()
            if declared is not None:
                missing = {
                    f.name for f in self.schema_struct.fields
                } - set(declared.names)
                if missing:
                    raise ValueError(
                        f"table schema evolved mid-stream: stream "
                        f"column(s) {sorted(missing)} are no longer "
                        f"declared (now {declared.names}) — restart the "
                        "stream to pick up the evolved schema"
                    )
        parts = _batch_splits(new, floor, man)
        if not parts:
            files = _list_arrow_files(self.path)
            anchor = files[0] if files else os.path.join(self.path, "_none")
            parts.append(ArrowIpcPartition(anchor, 0, 0))
        return parts

    def read(self, partition: ArrowIpcPartition) -> Iterator:
        opts = dict(self.options)
        opts["path"] = self.path
        opts.pop("max_files_per_trigger", None)
        opts.pop("start_commit", None)
        return ArrowIpcScanReader(opts, self.schema_struct).read(partition)
