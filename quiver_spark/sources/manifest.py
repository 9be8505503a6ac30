"""Commit-time file manifest — O(1) plan-time metadata for quiver/arrow
tables.

Problem (measured round 6, diagnosed round 8): ``partitions()`` reads every
file's footer (and stats sidecar) sequentially in the spawned Python
planner process. A 1,000-small-file directory costs ~8.4 s to PLAN versus
0.58 s for the JVM parquet reader over the same files; at 100 TB (~800k
files at the 128 MiB split cap) planning is O(files) sequential I/O — the
one genuine scale-killer left in the read path. The reference format's own
footer exists precisely to make planning read-once per file
(/root/reference/src/read/reader.rs:168-225), and its async path pre-reads
a 64 KiB tail to save object-store round trips (:33,180-213); this module
applies the same economy at DIRECTORY level: the sink's generation commit
is an atomic publish point that already knows every file it just moved, so
it writes ONE manifest file describing all of them, and the planner reads
that single file instead of N footers.

Contents, per data file (relative path):

* ``size`` / ``mtime_ns`` — staleness guard; a lookup whose stat disagrees
  falls back to reading the real footer (so out-of-band rewrites degrade
  to correct-but-slower, never to wrong answers);
* quiver entries: the parsed footer (schema via a deduplicated Arrow-IPC
  schema table; per-leaf page ``(length, num_values)`` lists + offsets)
  and the full stats sidecar (zone maps + crc32) inline;
* arrowipc entries: the record-batch count + the schema table index.

Atomicity: the manifest is written with write-temp + ``os.replace`` INSIDE
the generation directory before the pointer swap (overwrite) or under the
table writer lock (append), so readers either see a complete manifest or
none — never a torn one. It is strictly an accelerator: every consumer
falls back to per-file footer reads for files it does not list (library
``write_table`` output, appends from older writers), and
``quiver-tools manifest rebuild`` regenerates it for such directories.
"""

from __future__ import annotations

import base64
import gzip
import json
import os

MANIFEST_NAME = "_manifest.json.gz"
MANIFEST_VERSION = 1

#: formats a manifest entry can describe (the two sink formats sharing the
#: generation/commit protocol)
FMT_QUIVER = "quiver"
FMT_ARROW = "arrow"


def _schema_b64(schema) -> str:
    return base64.b64encode(schema.serialize().to_pybytes()).decode("ascii")


def _schema_from_b64(s: str):
    import pyarrow as pa

    return pa.ipc.read_schema(pa.py_buffer(base64.b64decode(s)))


def _encode_metas(metas) -> list:
    """ColumnMeta list → compact JSON: [[offset, [l0,n0,l1,n1,...]], ...]."""
    out = []
    for m in metas:
        flat: list[int] = []
        for p in m.pages:
            flat.append(int(p.length))
            flat.append(int(p.num_values))
        out.append([int(m.offset), flat])
    return out


def _decode_metas(raw: list):
    from quiver_spark.format.reader import ColumnMeta, PageMeta

    metas = []
    for offset, flat in raw:
        pages = tuple(
            PageMeta(flat[i], flat[i + 1]) for i in range(0, len(flat), 2)
        )
        metas.append(ColumnMeta(offset, pages))
    return metas


class ManifestEntry:
    __slots__ = ("size", "mtime_ns", "fmt", "schema_idx", "_metas_raw",
                 "_metas", "sidecar", "batches", "commit", "rows", "cmap")

    def __init__(self, raw: dict):
        self.size = raw["size"]
        self.mtime_ns = raw["mtime_ns"]
        self.fmt = raw["fmt"]
        self.schema_idx = raw.get("schema")
        self._metas_raw = raw.get("metas")
        self._metas = None  # decoded lazily: partition pruning may skip
        self.sidecar = raw.get("sidecar")
        self.batches = raw.get("batches")
        #: column rename map for THIS file: declared name → physical name
        #: inside the file (rename_column is metadata-only — files written
        #: before the rename keep their physical column name and readers
        #: resolve through this map). None/absent = identity. Carried
        #: verbatim across copy-on-write rewrites like every other field.
        self.cmap = raw.get("cmap")
        #: commit sequence that ADDED this file (0 = pre-CDC manifest or
        #: rebuild baseline). Carried (hard-linked) files keep their
        #: original stamp across copy-on-write rewrites, which is what
        #: makes `changes_since` incremental scans file-minimal.
        self.commit = int(raw.get("commit", 0))
        #: row count at build time (None for entries from older writers)
        self.rows = raw.get("rows")

    def metas(self):
        if self._metas is None and self._metas_raw is not None:
            self._metas = _decode_metas(self._metas_raw)
        return self._metas


class Manifest:
    """Parsed manifest for one data root. Schemas decode lazily (one table
    typically shares a single schema across every file)."""

    def __init__(self, root: str, raw: dict):
        self.root = root
        self._schemas_raw: list[str] = raw.get("schemas", [])
        self._schemas: list = [None] * len(self._schemas_raw)
        #: declared TABLE schema (b64 Arrow IPC) set by schema-evolution
        #: DDL (maintenance.add_column/drop_column/rename_column); when
        #: present it overrides file-footer inference table-wide
        self._table_schema_raw = raw.get("table_schema")
        self._table_schema = None
        #: declared column → JSON-encoded default value (Iceberg-style
        #: initial-default): files lacking the column fill it with this
        #: instead of null. Set by add_column(default=...), re-keyed by
        #: rename_column, removed by drop_column.
        self.column_defaults: dict[str, object] = dict(
            raw.get("column_defaults", {})
        )
        #: CHECK constraints ({name: SQL predicate}) checked in the plan
        #: of every sources.write; set by maintenance.add_constraint
        self.check_constraints: dict[str, str] = dict(
            raw.get("check_constraints", {})
        )
        #: ANALYZE output (maintenance.analyze_table): row_count +
        #: per-column nulls/ndv/min/max/avg_len, stamped with
        #: analyzed_at_commit so staleness is detectable. None = never
        #: analyzed (or data fully replaced since).
        self.table_stats: dict | None = raw.get("table_stats")
        #: monotone commit counter: bumped by every sink commit (append,
        #: overwrite — carried forward across generations via prev_root)
        self.commit_seq = int(raw.get("commit_seq", 0))
        #: commit → epoch seconds (most recent 10k; carried with the
        #: counter) — the basis for time-based cursors
        self.commit_times: dict[int, int] = {
            int(k): int(v)
            for k, v in raw.get("commit_times", {}).items()
        }
        #: commit → operation label for METADATA-ONLY commits (ALTER DDL
        #: — they stamp no file, so without this the history couldn't
        #: show them); bounded alongside commit_times
        self.commit_ops: dict[int, str] = {
            int(k): str(v) for k, v in raw.get("commit_ops", {}).items()
        }
        self.entries: dict[str, ManifestEntry] = {
            rel: ManifestEntry(e) for rel, e in raw.get("files", {}).items()
        }

    def schema(self, idx: int):
        if self._schemas[idx] is None:
            self._schemas[idx] = _schema_from_b64(self._schemas_raw[idx])
        return self._schemas[idx]

    def table_schema(self):
        """Declared table schema (pyarrow), or None when the table has
        never been altered (schema then infers from file footers)."""
        if self._table_schema is None and self._table_schema_raw is not None:
            self._table_schema = _schema_from_b64(self._table_schema_raw)
        return self._table_schema

    def lookup(self, file: str) -> ManifestEntry | None:
        """Entry for an absolute file path, validated against the file's
        current stat — a mismatch (out-of-band rewrite, clock-skewed copy)
        returns None so the caller reads the real footer instead."""
        rel = os.path.relpath(file, self.root)
        ent = self.entries.get(rel)
        if ent is None:
            return None
        try:
            st = os.stat(file)
        except OSError:
            return None
        if st.st_size != ent.size or st.st_mtime_ns != ent.mtime_ns:
            return None
        return ent

    def footer(self, file: str):
        """(arrow schema, ColumnMeta list) for a quiver file, or None when
        the manifest cannot serve it (absent/stale/wrong-format entry)."""
        ent = self.lookup(file)
        if ent is None or ent.fmt != FMT_QUIVER or ent.schema_idx is None:
            return None
        return self.schema(ent.schema_idx), ent.metas()


#: (manifest path, mtime_ns, size) → Manifest. Planner processes are
#: short-lived but Spark reuses Python workers; the cache makes repeat
#: queries on one table parse the manifest once per process.
_MANIFEST_CACHE: dict[tuple, Manifest] = {}


def manifest_path(root: str) -> str:
    return os.path.join(root, MANIFEST_NAME)


def encode_default(value, pa_type):
    """Validate + normalize a column default for manifest storage (JSON):
    ints/floats/strings/booleans store natively; date/timestamp/decimal
    store their canonical string form. Raises ValueError on a value the
    column type can't hold — the ALTER must fail, not the later scan."""
    import pyarrow as pa

    try:
        # ISO-string convenience for types pyarrow won't coerce from str
        if isinstance(value, str):
            if pa.types.is_date(pa_type):
                import datetime

                value = datetime.date.fromisoformat(value)
            elif pa.types.is_timestamp(pa_type):
                import datetime

                value = datetime.datetime.fromisoformat(value)
            elif pa.types.is_decimal(pa_type):
                import decimal

                value = decimal.Decimal(value)
        # round-trip through a 1-element typed array: pyarrow applies the
        # exact coercion the read-time fill will, so accept/reject here
        # matches the fill by construction
        arr = pa.array([value], type=pa_type)
    except (pa.ArrowInvalid, pa.ArrowTypeError, ValueError, TypeError) as e:
        raise ValueError(
            f"default {value!r} is not valid for column type {pa_type}: {e}"
        ) from None
    v = arr[0].as_py()
    if v is None:
        raise ValueError("a column default cannot be NULL — omit it")
    if isinstance(v, (int, float, str, bool)):
        return v
    # date / timestamp / decimal: canonical string, re-parsed at fill time
    return str(v)


def decode_default(raw_value, pa_type):
    """Manifest-stored default → a Python value pyarrow accepts for
    ``pa.array([v] * n, type=pa_type)`` (inverse of encode_default)."""
    import pyarrow as pa

    t = pa_type
    if isinstance(raw_value, str):
        if pa.types.is_date(t):
            import datetime

            return datetime.date.fromisoformat(raw_value)
        if pa.types.is_timestamp(t):
            import datetime

            return datetime.datetime.fromisoformat(raw_value)
        if pa.types.is_decimal(t):
            import decimal

            return decimal.Decimal(raw_value)
    return raw_value


def column_defaults(root: str) -> dict[str, object]:
    """The table's declared column defaults ({name: raw JSON value}),
    empty when none were ever declared."""
    man = load_manifest(root)
    return dict(man.column_defaults) if man is not None else {}


def rename_maps(root: str) -> dict[str, dict]:
    """All non-identity per-file rename maps of a data root:
    {relative file → {declared name → physical name}}. Empty for tables
    that never saw a rename_column."""
    man = load_manifest(root)
    if man is None:
        return {}
    return {rel: e.cmap for rel, e in man.entries.items() if e.cmap}


def load_manifest(root: str) -> Manifest | None:
    """Parsed manifest of a resolved data root, or None when absent or
    unreadable (corrupt manifests degrade to footer reads, loudly never)."""
    p = manifest_path(root)
    try:
        st = os.stat(p)
    except OSError:
        return None
    key = (p, st.st_mtime_ns, st.st_size)
    man = _MANIFEST_CACHE.get(key)
    if man is None:
        try:
            raw = _load_raw(root)
        except (OSError, ValueError, json.JSONDecodeError):
            return None
        if raw is None or raw.get("version") != MANIFEST_VERSION:
            return None
        if len(_MANIFEST_CACHE) > 8:  # bound planner memory
            _MANIFEST_CACHE.clear()
        man = _MANIFEST_CACHE[key] = Manifest(root, raw)
    return man


def _load_raw(root: str) -> dict | None:
    p = manifest_path(root)
    if not os.path.exists(p):
        return None
    with gzip.open(p, "rt", encoding="utf-8") as f:
        return json.load(f)


def _write_raw(root: str, raw: dict) -> None:
    """Atomic publish: write-temp + os.replace, the same discipline as the
    generation pointer — a crash mid-write can never leave a torn manifest
    (readers see the previous one or none). The load cache takes the
    written ``raw``, which callers never change afterwards."""
    import uuid

    p = manifest_path(root)
    tmp = f"{p}.tmp.{uuid.uuid4().hex}"
    # one dumps + one compress: streaming json.dump through a gzip text
    # wrapper costs ~3x as much
    body = gzip.compress(json.dumps(raw, separators=(",", ":")).encode())
    try:
        with open(tmp, "wb") as f:
            f.write(body)
        st = os.stat(tmp)  # never a rival's: the rename keeps the stat
        os.replace(tmp, p)
        if len(_MANIFEST_CACHE) > 8:
            _MANIFEST_CACHE.clear()
        _MANIFEST_CACHE[(p, st.st_mtime_ns, st.st_size)] = Manifest(root, raw)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def remove_manifest(root: str) -> None:
    try:
        os.unlink(manifest_path(root))
    except OSError:
        pass


def _build_one(root: str, rel: str, fmt: str) -> tuple[str, dict] | None:
    """One file's manifest entry (read its footer/sidecar now, so no
    planner ever has to again). None for unreadable files — they simply
    stay manifest-absent and plan via the fallback path."""
    full = os.path.join(root, rel)
    try:
        st = os.stat(full)
        entry: dict = {
            "size": st.st_size,
            "mtime_ns": st.st_mtime_ns,
            "fmt": fmt,
        }
        if fmt == FMT_QUIVER:
            from quiver_spark.format import stats as stats_mod
            from quiver_spark.format.reader import file_row_count, read_footer

            with open(full, "rb") as f:
                schema, metas = read_footer(f)
            entry["schema_b64"] = _schema_b64(schema)
            entry["metas"] = _encode_metas(metas)
            entry["sidecar"] = stats_mod.load_sidecar(full)
            entry["rows"] = file_row_count(full, schema, metas)
        elif fmt == FMT_ARROW:
            import pyarrow as pa
            import pyarrow.ipc as ipc

            mm = pa.memory_map(full, "r")
            try:
                r = ipc.open_file(mm)
                entry["batches"] = r.num_record_batches
                entry["schema_b64"] = _schema_b64(r.schema)
                # mmap-lazy: batch metadata only, data pages untouched
                entry["rows"] = sum(
                    r.get_batch(i).num_rows
                    for i in range(r.num_record_batches)
                )
            finally:
                mm.close()  # planning must not leak the mapping
        else:
            return None
        return rel, entry
    except (OSError, ValueError):
        return None


def build_entries(root: str, rels: list[str], fmt: str) -> dict[str, dict]:
    """Raw entries for ``rels`` (paths relative to ``root``), footers read
    through a thread pool — commit-time I/O over N new files is bounded by
    parallel reads, not N sequential round trips."""
    if not rels:
        return {}
    out: dict[str, dict] = {}
    if len(rels) == 1:
        built = [_build_one(root, rels[0], fmt)]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(rels))) as pool:
            built = list(
                pool.map(lambda r: _build_one(root, r, fmt), rels)
            )
    for item in built:
        if item is not None:
            out[item[0]] = item[1]
    return out


def _intern_schemas(raw: dict, entries: dict[str, dict]) -> None:
    """Move per-entry schema bytes into the manifest-level dedup table
    (a table's files overwhelmingly share one schema — at 800k files the
    table costs one string instead of 800k copies)."""
    schemas: list[str] = raw.setdefault("schemas", [])
    index = {s: i for i, s in enumerate(schemas)}
    for entry in entries.values():
        b64 = entry.pop("schema_b64", None)
        if b64 is None:
            continue
        i = index.get(b64)
        if i is None:
            i = len(schemas)
            schemas.append(b64)
            index[b64] = i
        entry["schema"] = i


def _stamp_commit(raw: dict, new_commit: bool = True) -> int:
    """Advance the manifest's commit counter and record the commit's
    wall-time. Shared by file commits (update_manifest) and metadata-only
    commits (metadata_commit) so sequence/time semantics can't diverge."""
    seq = int(raw.get("commit_seq", 0)) + (1 if new_commit else 0)
    seq = max(seq, 1)  # new_commit=False on a fresh manifest still stamps
    raw["commit_seq"] = seq
    if new_commit:
        import time

        # wall-clock per commit → time-based cursors (commit_at). The
        # map rides across generations with the counter; bounded to the
        # most recent 10k commits so it can never dominate the manifest.
        # Stamps are forced MONOTONE (never below an earlier commit's):
        # a backwards clock step would otherwise let commit_at's
        # max-below-instant resolution skip a commit — the silent-loss
        # direction every other reset path here guards against.
        times = raw.setdefault("commit_times", {})
        times[str(seq)] = max(
            int(time.time()), max(map(int, times.values()), default=0)
        )
        if len(times) > 10_000:
            for k in sorted(times, key=int)[: len(times) - 10_000]:
                del times[k]
    return seq


def metadata_commit(root: str, mutate) -> int:
    """One METADATA-ONLY commit against the root's manifest: bump the
    commit counter (so DDL shows in the commit history; no file takes the
    new stamp, so incremental scans correctly see nothing), apply
    ``mutate(raw)`` to the raw manifest dict, and publish atomically.
    Callers hold the table writer lock and must ensure a readable
    manifest exists (rebuild_manifest first on legacy directories)."""
    raw = _load_raw(root)
    if raw is None or raw.get("version") != MANIFEST_VERSION:
        raise ValueError(
            f"no readable manifest under {root} — run rebuild_manifest "
            "before a metadata commit"
        )
    seq = _stamp_commit(raw)
    mutate(raw)
    op = raw.pop("_commit_op", None)
    if op:
        # label the zero-file commit so history views can show WHAT the
        # metadata commit was; bounded like commit_times
        ops = raw.setdefault("commit_ops", {})
        ops[str(seq)] = op
        if len(ops) > 10_000:
            for k in sorted(ops, key=int)[: len(ops) - 10_000]:
                del ops[k]
    _write_raw(root, raw)
    return seq


def update_manifest(
    root: str,
    rels: list[str],
    fmt: str,
    carry: tuple[str, list[str]] | None = None,
    prev_root: str | None = None,
    new_commit: bool = True,
) -> int:
    """Merge entries for newly-published files into the root's manifest
    (creating it if absent) and publish atomically. Callers hold the table
    writer lock (sink commit) or own the directory (maintenance rebuild),
    so read-merge-write here cannot interleave with another updater.
    Returns the commit sequence number assigned to this commit.

    Every call is one COMMIT: the manifest's ``commit_seq`` increments and
    the newly-published files are stamped with it, which is what
    ``changes_since`` incremental scans consume. ``prev_root`` (overwrite
    into a fresh generation directory) seeds a brand-new manifest's
    counter from the superseded snapshot's, keeping the sequence monotone
    across generations. ``new_commit=False`` folds the entries into the
    CURRENT sequence number instead of bumping (for a second write that
    is part of the same logical commit, e.g. the empty-result
    placeholder file).

    Sequence-reuse guard: when an EXISTING manifest is unreadable
    (corrupt) — or an overwrite's ``prev_root`` manifest is — the
    history is lost, and restarting the counter at 1 would stamp
    genuinely new files below a standing consumer's cursor (silent
    loss). The fresh counter is instead seeded from the wall clock
    (epoch seconds — strictly above any plausible commit count), so
    post-reset stamps always exceed pre-reset cursors and consumers
    re-deliver at-least-once, never skip.

    ``carry=(src_root, carried_rels)`` copies entries for files
    hard-linked from another snapshot (row-level copy-on-write): the
    source manifest's entries are reused verbatim — a link shares inode
    stats, so the stat validation keys still hold (and the original
    ``commit`` stamp rides along, keeping carried files OUT of
    incremental reads) — and only files the source manifest doesn't cover
    fall back to footer reads. At 100 TB a 1%-touched rewrite thus reads
    ~1% of footers at commit, not all."""
    corrupt = False
    try:
        raw = _load_raw(root)
    except (OSError, ValueError, json.JSONDecodeError):
        raw = None  # corrupt/legacy manifest: rebuild from this commit on
        corrupt = True
    if raw is None or raw.get("version") != MANIFEST_VERSION:
        raw = {"version": MANIFEST_VERSION, "schemas": [], "files": {}}
        if prev_root is not None and prev_root != root:
            try:
                prev = _load_raw(prev_root)
            except (OSError, ValueError, json.JSONDecodeError):
                prev = None
                corrupt = corrupt or os.path.exists(
                    manifest_path(prev_root)
                )
            if prev is not None and prev.get("version") == MANIFEST_VERSION:
                raw["commit_seq"] = int(prev.get("commit_seq", 0))
                raw["commit_times"] = dict(prev.get("commit_times", {}))
                if prev.get("commit_ops"):
                    raw["commit_ops"] = dict(prev["commit_ops"])
                # CHECK constraints are a TABLE property: they survive a
                # full overwrite (the overwrite itself was validated
                # against them — the writer loads them before writing)
                if prev.get("check_constraints"):
                    raw["check_constraints"] = dict(
                        prev["check_constraints"]
                    )
        if corrupt:
            import time

            # lost history: jump past any possible prior cursor
            raw["commit_seq"] = max(
                int(raw.get("commit_seq", 0)), int(time.time())
            )
    seq = _stamp_commit(raw, new_commit)
    entries = build_entries(root, rels, fmt)
    carried_entries: dict[str, dict] = {}
    if carry is not None:
        src_root, carried = carry
        missing = list(carried)
        try:
            src_raw = _load_raw(src_root)
        except (OSError, ValueError, json.JSONDecodeError):
            src_raw = None
        if src_raw is not None and src_raw.get("version") == MANIFEST_VERSION:
            # a carry commit rewrites PART of the same logical table, so
            # the declared (evolved) table schema — and its column
            # defaults — ride along; without this, the first
            # DELETE/UPDATE/MERGE after an ALTER would silently revert
            # the table to footer-inferred schema
            for k in (
                "table_schema",
                "column_defaults",
                "check_constraints",
                "table_stats",
            ):
                if k not in raw and k in src_raw:
                    raw[k] = src_raw[k]
            schemas = src_raw.get("schemas", [])
            src_files = src_raw.get("files", {})
            missing = []
            for rel in carried:
                e = src_files.get(rel)
                if e is None:
                    missing.append(rel)
                    continue
                e = dict(e)
                # re-expand the source's interned schema index so
                # _intern_schemas below re-interns it into THIS manifest
                si = e.pop("schema", None)
                if si is not None and 0 <= si < len(schemas):
                    e["schema_b64"] = schemas[si]
                carried_entries[rel] = e
        # carried files the source manifest didn't list: their true commit
        # is unknowable, so they take THIS seq — at-least-once is the safe
        # direction for change consumers (over-report, never silent loss)
        entries.update(build_entries(root, missing, fmt))
    for e in entries.values():
        e["commit"] = seq
    entries = {**carried_entries, **entries}
    _intern_schemas(raw, entries)
    raw["files"].update(entries)
    _write_raw(root, raw)
    return seq


def rebuild_manifest(root: str) -> dict:
    """Regenerate the manifest for an existing data root from scratch —
    the migration path for directories written by the library
    (``write_table``) or by pre-manifest sinks. Returns a summary."""
    from quiver_spark.sources.quiver_datasource import _list_files_pattern

    raw = {"version": MANIFEST_VERSION, "schemas": [], "files": {}}
    # a rebuild regenerates what can be derived from files; the declared
    # table schema, commit counter, and rename maps CANNOT — carry them
    # from the existing manifest when one is readable (a rebuild must
    # never un-ALTER a table or rewind its CDC cursor space)
    try:
        prev = _load_raw(root)
    except (OSError, ValueError, json.JSONDecodeError):
        prev = None
    if prev is not None and prev.get("version") == MANIFEST_VERSION:
        for k in (
            "table_schema",
            "column_defaults",
            "check_constraints",
            "table_stats",
            "commit_seq",
            "commit_times",
            "commit_ops",
        ):
            if k in prev:
                raw[k] = prev[k]
    counts = {}
    for fmt, pattern in ((FMT_QUIVER, "*.quiver"), (FMT_ARROW, "*.arrow")):
        rels = [
            os.path.relpath(f, root)
            for f in _list_files_pattern(root, pattern)
            if os.path.isfile(f)
        ]
        entries = build_entries(root, rels, fmt)
        if prev is not None and prev.get("version") == MANIFEST_VERSION:
            # per-entry facts a footer can't regenerate: the rename map
            # and the CDC commit stamp. Carried only when the file is
            # bit-identical to what the old manifest described (stat
            # match) — an out-of-band rewrite keeps the baseline stamp.
            for rel, e in entries.items():
                pe = prev.get("files", {}).get(rel)
                if (
                    pe is not None
                    and pe.get("size") == e.get("size")
                    and pe.get("mtime_ns") == e.get("mtime_ns")
                ):
                    if pe.get("cmap"):
                        e["cmap"] = pe["cmap"]
                    if pe.get("commit"):
                        e["commit"] = pe["commit"]
        _intern_schemas(raw, entries)
        raw["files"].update(entries)
        counts[fmt] = len(entries)
    _write_raw(root, raw)
    return {
        "root": root,
        "files": len(raw["files"]),
        "schemas": len(raw["schemas"]),
        **counts,
    }


def verify_manifest(root: str) -> dict:
    """Cross-check the manifest against the directory's actual files:
    stat drift, footer mismatches, sidecar drift, and unlisted data files.
    Read-only; returns a report dict (``ok`` plus itemized lists)."""
    from quiver_spark.format import stats as stats_mod
    from quiver_spark.format.reader import read_footer
    from quiver_spark.sources.quiver_datasource import _list_files_pattern

    report = {
        "root": root,
        "ok": True,
        "checked": 0,
        "stale": [],      # stat mismatch (entry ignored by planners)
        "mismatched": [], # stat matches but footer/sidecar differs (BAD)
        "unlisted": [],   # data files the manifest doesn't cover
        "missing": [],    # entries whose file is gone
    }
    man = load_manifest(root)
    if man is None:
        report["ok"] = False
        report["error"] = f"no readable manifest under {root}"
        return report
    listed = set(man.entries)
    on_disk: set[str] = set()
    for pattern in ("*.quiver", "*.arrow"):
        for f in _list_files_pattern(root, pattern):
            on_disk.add(os.path.relpath(f, root))
    report["unlisted"] = sorted(on_disk - listed)
    report["missing"] = sorted(listed - on_disk)
    for rel in sorted(listed & on_disk):
        full = os.path.join(root, rel)
        ent = man.lookup(full)
        if ent is None:
            report["stale"].append(rel)
            continue
        report["checked"] += 1
        if ent.schema_idx is None or (
            ent.fmt == FMT_QUIVER and ent.metas() is None
        ):
            # damaged entry (e.g. a carry that couldn't resolve its
            # interned schema) — exactly what this tool must REPORT, not
            # crash on; planners already treat such entries as absent
            report["mismatched"].append(rel)
            continue
        if ent.fmt == FMT_QUIVER:
            with open(full, "rb") as f:
                schema, metas = read_footer(f)
            if (
                schema != man.schema(ent.schema_idx)
                or _encode_metas(metas) != _encode_metas(ent.metas())
            ):
                report["mismatched"].append(rel)
            elif stats_mod.load_sidecar(full) != ent.sidecar:
                report["mismatched"].append(rel)
        elif ent.fmt == FMT_ARROW:
            import pyarrow as pa
            import pyarrow.ipc as ipc

            mm = pa.memory_map(full, "r")
            try:
                r = ipc.open_file(mm)
                if (
                    r.num_record_batches != ent.batches
                    or r.schema != man.schema(ent.schema_idx)
                ):
                    report["mismatched"].append(rel)
            finally:
                mm.close()
    report["ok"] = not (report["mismatched"] or report["missing"])
    return report
