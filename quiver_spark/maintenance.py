"""Table-maintenance operations for quiver directories.

``compact`` addresses the small-files problem — the dominant operational
tax of any file-based table at fleet scale: streaming sinks and frequent
small batch writes leave directories with thousands of tiny files, and
every subsequent scan pays per-file footer reads, per-file task scheduling,
and object-store request costs. Compaction rewrites a directory into
row-count-targeted files, preserving Hive partition layout, via the same
distributed read/write paths every query uses (no bespoke driver-side
merge: at 100 TB the rewrite IS a Spark job).
"""

from __future__ import annotations

import json
import math
import os
import re

#: metadata-column name the row-level ops use for touched-file detection;
#: underscored to stay clear of user schemas (reader raises on collision)
_FILE_COL = "_qv_source_file"
#: data-file globs of both table formats (quiver and arrowipc tables share
#: the layout): the driver-local snapshot operations (clone, ALTER) serve
#: either
TABLE_GLOBS = ("*.quiver", "*.arrow")


def _dir_stats(src_dir: str) -> tuple[int, int]:
    """(n_files, total_rows) from metadata alone — no data pages decoded.
    Served from the commit-time manifest when it covers a file (one
    directory-level read — at 100k files this is what keeps compaction/
    clustering planning O(1) instead of O(files) footer round trips);
    manifest-less or stale files fall back to real footer reads. Row
    counts go through file_row_count: a nested first column's page
    num_values is the SLOT count, not rows, so naive metas[0] summing
    would mis-size n_out on list/struct-led schemas."""
    from quiver_spark.format.reader import file_row_count
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _file_footer,
        _list_files,
    )

    # the manifest lives in the LIVE data root (generation dir for
    # snapshot tables — the normal sink-written case); loading from the
    # unresolved table root would always miss and silently degrade every
    # compact/cluster plan back to O(files) footer reads
    root = _data_root(src_dir)
    man = load_manifest(root)
    files = _list_files(src_dir)
    rows = 0
    for f in files:
        served = man.footer(f) if man is not None else None
        schema, metas = served if served is not None else _file_footer(f)
        rows += file_row_count(f, schema, metas)
    return len(files), rows


def _check_disjoint(src_dir: str, dst_dir: str) -> None:
    """Refuse in-place rewrites: mode('overwrite') deletes every .quiver
    under dst at COMMIT time, while read tasks of the same job may still
    be (re)running — dst==src (or dst nested inside src, or src inside
    dst) races the rewrite against its own input and can destroy or
    double-count the source."""
    src = os.path.realpath(src_dir)
    dst = os.path.realpath(dst_dir)
    if src == dst or dst.startswith(src + os.sep) or src.startswith(dst + os.sep):
        raise ValueError(
            f"compaction destination {dst_dir!r} overlaps source "
            f"{src_dir!r}: the overwrite would delete the source files "
            "before they are read — compact into a sibling directory and "
            "swap (or repoint the catalog) after success"
        )


def _in_place_source(src_dir: str, dst_dir: str) -> dict:
    """The snapshot options of a rewrite from ``src_dir`` into
    ``dst_dir``. In place: ``carry_src`` names the snapshot the rewrite
    reads (``_snapshot``), so its commit raises ConcurrentWriteError
    when a commit added or removed files since, instead of dropping
    them. Elsewhere: none, after refusing an overlapping destination."""
    if os.path.realpath(dst_dir) == os.path.realpath(src_dir):
        return {"carry_src": _snapshot(src_dir)[0]}
    _check_disjoint(src_dir, dst_dir)
    return {}


def compact(
    spark,
    src_dir: str,
    dst_dir: str | None = None,
    target_rows_per_file: int = 1 << 20,
    codec: str = "lz4",
    partition_by: list[str] | None = None,
) -> dict:
    """Rewrite ``src_dir`` into ``dst_dir`` — or IN PLACE when ``dst_dir``
    is omitted or equal to ``src_dir`` — with files sized to
    ``target_rows_per_file`` rows, preserving any Hive partition layout
    discovered in the source. Returns a summary dict.

    ``partition_by`` overrides the preserved layout — PARTITION EVOLUTION
    (Iceberg's replace-partition-field analogue): pass a new column list
    to re-lay the table out under different Hive keys, or ``[]`` to
    remove partitioning entirely, all under the same atomic generation
    swap (readers see the old or the new layout, never a mix; time
    travel to the pre-evolution generation still resolves the old
    layout).

    In-place compaction rides the commit's atomic generation swap: the read
    resolves (and freezes) the table's live generation at plan time, the
    rewrite publishes into a fresh ``gen-NNNNNN/`` directory, and the
    ``_current`` pointer flips at commit — a failed compaction leaves the
    table untouched, and no reader ever sees a partial mix of old and new
    files. A commit that lands between the read and the swap fails the
    compaction with ConcurrentWriteError instead of losing its rows.
    (Before the generation layout this exact call was forbidden:
    overwrite would have cleared the job's own input.) A DIFFERENT
    destination that overlaps the source (nested either way) is still
    refused.

    Scale posture: the row count comes from footer metadata (one footer
    read per file, cached); the rewrite is `repartition(n)` → the quiver
    writer, i.e. one shuffle sized exactly to the output layout, executed
    by the cluster. Partitioned sources repartition on the partition
    columns so each output task writes into few subdirectories.
    """
    from quiver_spark.sources import scan, write
    from quiver_spark.sources.quiver_datasource import _discover_partitions

    if dst_dir is None:
        dst_dir = src_dir
    planned = _in_place_source(src_dir, dst_dir)
    n_files, rows = _dir_stats(src_dir)
    if partition_by is None:
        part_cols = [c for c, _k in _discover_partitions(src_dir)[0]]
    else:
        part_cols = list(partition_by)
    n_out = max(1, math.ceil(rows / max(target_rows_per_file, 1)))

    df = scan(spark, src_dir)
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"partition_by columns {missing} not in the table schema "
            f"{df.columns}"
        )
    if part_cols:
        # co-locate rows of each partition so an output task writes into
        # few subdirectories (each task fans out per distinct partition)
        df = df.repartition(n_out, *part_cols)
    else:
        df = df.repartition(n_out)
    write(
        df, dst_dir, partition_by=part_cols, codec=codec,
        max_rows_per_file=max(target_rows_per_file, 1), **planned,
    )

    out_files, out_rows = _dir_stats(dst_dir)
    return {
        "src": src_dir,
        "dst": dst_dir,
        "rows": rows,
        "files_before": n_files,
        "files_after": out_files,
        "rows_after": out_rows,
        "partition_by": part_cols,
    }


def _zorder_column(spark, df, columns):
    """A 64-bit Morton (Z-order) key over ``columns``: each column is
    linearly scaled to a 16-bit code between its global min and max (one
    tiny aggregate, broadcast back), and the codes' bits are interleaved
    JVM-side (shift/or expression tree — no UDF). Linear scaling is the
    standard cheap normalization (skewed columns get coarser codes but
    never wrong pruning — zone maps stay exact). Numeric / date /
    timestamp columns only."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    n = len(columns)
    bits = 63 // n  # keep the interleaved key inside a signed 64-bit
    bits = min(16, bits)

    types = {f.name: f.dataType for f in df.schema.fields}

    def numeric(c):
        # DATE cannot cast to DOUBLE in Spark; route temporals through
        # their physical integers (epoch days / seconds) first
        t = types[c]
        if isinstance(t, DateType):
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        if isinstance(t, TimestampNTZType):
            # NTZ cannot cast to a numeric under ANSI; the session-tz
            # reinterpretation is order-preserving, which is all the
            # Z code needs
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if isinstance(t, TimestampType):
            return F.unix_micros(F.col(c)).cast("double")
        return F.col(c).cast("double")

    stats = df.agg(
        *[
            f
            for c in columns
            for f in (
                F.min(numeric(c)).alias(f"__min_{c}"),
                F.max(numeric(c)).alias(f"__max_{c}"),
            )
        ]
    ).collect()[0]
    codes = []
    top = (1 << bits) - 1
    for c in columns:
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        if lo is None or hi is None or hi <= lo:
            codes.append(F.lit(0).cast("long"))
            continue
        scaled = (
            (numeric(c) - F.lit(float(lo)))
            / F.lit(float(hi - lo))
            * F.lit(float(top))
        )
        codes.append(
            F.coalesce(
                F.least(
                    F.greatest(F.round(scaled).cast("long"), F.lit(0)),
                    F.lit(top),
                ),
                F.lit(0),  # nulls cluster together at the origin
            )
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, code in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(code, bit).bitwiseAND(F.lit(1)),
                    bit * n + j,
                )
            )
    return z


def cluster_by(
    spark,
    src_dir: str,
    columns: list[str],
    dst_dir: str | None = None,
    target_rows_per_file: int = 1 << 20,
    codec: str = "lz4",
    zorder: bool = False,
) -> dict:
    """Sort-cluster a table on ``columns`` — rewrite (in place by
    default, riding the same atomic generation swap as :func:`compact`)
    with rows range-partitioned AND sorted on the cluster columns, so
    every file holds a tight, near-disjoint min/max range per cluster
    column.

    Why it matters at 100 TB: zone maps only prune what the layout
    separates. On a hash-partitioned table every file's min/max spans the
    whole domain and a point/range predicate touches every file; after
    clustering the same predicate touches O(selectivity) files. That
    drives BOTH scan pruning (zone maps checked against pushed filters)
    and the row-level DML ops (:func:`delete_where` & co rewrite only
    candidate files — measured in BASELINE.md round 9: the same DELETE
    rewrites 256 files before clustering, ~2 after). The rewrite itself
    is one Spark job — a range shuffle sized to the output layout,
    `repartitionByRange` + `sortWithinPartitions`, Spark's own
    global-sort posture.

    Reference precedent: the reference's own test corpus writes sorted
    columns to exercise DeltaBitpacking (`tests/it/io.rs` sorted cases) —
    clustering is what makes sorted encodings and stats pruning reachable
    for real tables; the format itself has no table layer (src/lib.rs).
    """
    from quiver_spark.sources import scan, write
    from quiver_spark.sources.quiver_datasource import _discover_partitions

    if not columns:
        raise ValueError("cluster_by needs at least one column")
    if dst_dir is None:
        dst_dir = src_dir
    planned = _in_place_source(src_dir, dst_dir)
    n_files, rows = _dir_stats(src_dir)
    part_cols = [c for c, _k in _discover_partitions(src_dir)[0]]
    n_out = max(1, math.ceil(rows / max(target_rows_per_file, 1)))

    df = scan(spark, src_dir)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"cluster columns not in schema: {missing}")
    if zorder and len(columns) > 1:
        # Z-ORDER: lexicographic sort gives the LEADING column tight
        # per-file ranges but leaves later columns spanning the domain;
        # interleaving bit codes gives every cluster column locality, so
        # a predicate on ANY of them prunes files/pages (the Delta
        # OPTIMIZE ZORDER analogue). One range shuffle on the Morton key.
        zc = "__quiver_zorder"
        df = (
            df.withColumn(zc, _zorder_column(spark, df, columns))
            .repartitionByRange(n_out, zc)
            .sortWithinPartitions(zc)
            .drop(zc)
        )
    else:
        df = df.repartitionByRange(n_out, *columns).sortWithinPartitions(
            *columns
        )
    # the range partitioner sizes the files: one per range, no
    # max_rows_per_file cap — the JVM writer rolls files at exactly the
    # cap, which would cut a range a little over target into a sliver
    # whose narrow trailing-column span no clustering intended
    write(df, dst_dir, partition_by=part_cols, codec=codec, **planned)
    out_files, out_rows = _dir_stats(dst_dir)
    return {
        "src": src_dir,
        "dst": dst_dir,
        "cluster_by": list(columns),
        "zorder": bool(zorder and len(columns) > 1),
        "rows": rows,
        "files_before": n_files,
        "files_after": out_files,
        "rows_after": out_rows,
    }


def clone_snapshot(
    src_table: str, dst_table: str, version: int | None = None
) -> dict:
    """Zero-copy clone of a table snapshot (optionally a retained older
    ``version``) into a NEW table: every data file and sidecar is
    hard-linked (same inode, no bytes copied) into the clone's first
    generation, the manifest is carried, and the clone gets its own
    pointer — from then on the two tables evolve independently (their
    copy-on-write DML, compaction, and overwrites never touch shared
    inodes in place; every rewrite publishes new files). The cheap
    dev-copy / experiment-branch primitive: O(files) driver-local link
    calls, no Spark session, no data movement. An object-store
    deployment would server-side-copy instead."""
    import shutil

    from quiver_spark.sources import snapshot

    if os.path.exists(dst_table) and any(
        not e.startswith(("_", ".")) for e in os.listdir(dst_table)
    ):
        # hidden entries (a crashed clone's _clone_tmp staging) don't
        # count — the retry sweeps them below
        raise ValueError(
            f"clone destination {dst_table!r} already exists and is not "
            "empty — clones only create NEW tables"
        )
    src_root = snapshot.data_root(src_table, version)
    files = [
        f for g in TABLE_GLOBS for f in snapshot.list_files(src_root, g)
    ]
    if not files:
        raise ValueError(f"nothing to clone: no data files under {src_root}")
    gen = "gen-000001"
    # Stage into a HIDDEN directory (skipped by every listing) and rename
    # to gen-000001 only when complete: a crash mid-link leaves the clone
    # invisible (clean failure), never a partial table readable through
    # flat resolution. The rename is atomic; the pointer lands last.
    staging = os.path.join(dst_table, "_clone_tmp")
    shutil.rmtree(staging, ignore_errors=True)
    dst_root = staging
    os.makedirs(dst_root, exist_ok=True)
    linked = snapshot.link_files(
        src_root, dst_root, [os.path.relpath(f, src_root) for f in files]
    )
    from quiver_spark.sources.manifest import manifest_path, rebuild_manifest

    src_man = manifest_path(src_root)
    if os.path.exists(src_man):
        # rel-keyed entries describe exactly the linked files — carry it
        shutil.copy2(src_man, manifest_path(dst_root))
    else:
        rebuild_manifest(dst_root)
    # Publish order: pointer FIRST, then the staging→generation rename.
    # A crash between the two leaves a pointer naming a not-yet-existing
    # generation — readers fail LOUDLY ("corrupt generation pointer"),
    # never silently read a partial flat layout — and the retry still
    # works (both residues are hidden entries the pre-check ignores).
    tmp = os.path.join(dst_table, snapshot.CURRENT + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(gen)
    os.replace(tmp, os.path.join(dst_table, snapshot.CURRENT))
    os.rename(dst_root, os.path.join(dst_table, gen))
    return {
        "src": src_table,
        "src_snapshot": os.path.basename(src_root)
        if src_root != src_table
        else "<flat>",
        "dst": dst_table,
        "files_linked": len(linked),
    }


# ---------------------------------------------------------------------------
# Schema evolution — metadata-only ALTER TABLE (add/drop/rename column)
#
# The Delta/Iceberg analogue on the generation protocol: an ALTER publishes
# a NEW generation whose data files are hard-links of the current snapshot
# (zero bytes copied, O(files) driver-local link calls) and whose manifest
# carries a DECLARED table schema that overrides file-footer inference.
# Added columns null-fill at scan time; dropped columns vanish even though
# files still physically carry them (a later compact/cluster_by rewrite
# materializes the declared schema and frees the name); renamed columns
# resolve through per-file declared→physical maps (`cmap`), so files
# written before the rename keep their bytes untouched. The swap is the
# same atomic CAS every write uses — time travel to a pre-ALTER generation
# shows the pre-ALTER schema, and rollback undoes an ALTER like any commit.
#
# Name-reuse invariant (enforced here, relied on by the readers' fast
# path): a declared column name may never shadow a physical name that
# lives in any current file under a different meaning — add/rename refuse
# names still physically present from a drop or rename-away. The reference
# format is single-file with a fixed footer schema (src/lib.rs); this
# layer is directory-level, like Delta's column mapping but name-based.
# ---------------------------------------------------------------------------


def _pa_type_from_ddl(s: str):
    """Spark-DDL-ish type string → pyarrow type. Primitives plus — since
    round 12 — arbitrary ``array<...>`` / ``map<k,v>`` / ``struct<n:t,…>``
    compositions (null-fill only: nested ADDs take no default), parsed
    through Spark's own DDL parser so the accepted syntax is exactly
    Spark's."""
    import pyarrow as pa

    t = s.strip().lower()
    m = re.fullmatch(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    simple = {
        "boolean": pa.bool_(), "bool": pa.bool_(),
        "tinyint": pa.int8(), "byte": pa.int8(),
        "smallint": pa.int16(), "short": pa.int16(),
        "int": pa.int32(), "integer": pa.int32(),
        "bigint": pa.int64(), "long": pa.int64(),
        "float": pa.float32(), "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", "UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if t in simple:
        return simple[t]
    if re.match(r"^(array|map|struct)\s*<", t):
        from pyspark.sql.types import DataType as _SparkDT
        from pyspark.sql.pandas.types import to_arrow_type

        try:
            spark_t = _SparkDT.fromDDL(s)
            return to_arrow_type(spark_t)
        except Exception as e:
            raise ValueError(
                f"unsupported nested column type {s!r}: {e}"
            ) from None
    raise ValueError(
        f"unsupported column type {s!r} (supported: "
        f"{sorted(simple)}, decimal(p,s), and array/map/struct "
        "compositions of them)"
    )


def _file_schemas(man, files: list[str], root: str) -> dict[str, object]:
    """{relative file → physical pyarrow schema} for every live data
    file, manifest-served (entries are stat-valid by the caller's
    rebuild pass)."""
    out = {}
    for f in files:
        ent = man.lookup(f)
        if ent is None or ent.schema_idx is None:
            raise ValueError(
                f"manifest cannot serve a schema for {f} even after "
                "rebuild — file unreadable?"
            )
        out[os.path.relpath(f, root)] = man.schema(ent.schema_idx)
    return out


def _commit_evolution(table: str, mutate) -> dict:
    """Shared ALTER commit: a metadata-only ``snapshot.commit`` — every
    live data file (+sidecar) is hard-linked into a freshly claimed
    generation, ``mutate(man, root, rel_schemas, raw)`` rewrites the
    copied manifest (declared schema / per-entry cmaps; it returns the
    report dict), a metadata-only commit is stamped, and the pointer is
    CAS-swapped. No retention runs: the old generation stays retained for
    time travel / rollback. A failed ALTER removes its claim."""
    from quiver_spark.sources import snapshot
    from quiver_spark.sources.manifest import (
        load_manifest,
        metadata_commit,
        rebuild_manifest,
    )

    report: dict = {}
    stamped: dict = {}

    def evolve(root: str, rels: list[str]) -> None:
        if not rels:
            raise ValueError(f"nothing to alter: no data files under {root}")
        files = [os.path.join(root, r) for r in rels]
        man = load_manifest(root)
        # the ALTER's source of truth is the manifest — make sure it
        # covers (and stat-matches) every live file before mutating it
        # (the links share the live files' inodes, so their stats match)
        if man is None or any(man.lookup(f) is None for f in files):
            rebuild_manifest(root)
            man = load_manifest(root)
            if man is None:
                raise ValueError(f"cannot build a manifest under {root}")
        rel_schemas = _file_schemas(man, files, root)

        def _mutate_raw(raw):
            report.update(mutate(man, root, rel_schemas, raw))
            # label the zero-file commit in the manifest so the commit
            # history (quiver-tools commits) can show WHICH DDL ran
            raw["_commit_op"] = report.get("op")

        stamped["commit"] = metadata_commit(root, _mutate_raw)
        stamped["files_linked"] = len(rels)

    root = snapshot.commit(table, TABLE_GLOBS, overwrite=True, mutate=evolve)
    report.update(
        {"table": table, "generation": os.path.basename(root), **stamped}
    )
    return report


def _declared_schema(man, rel_schemas: dict):
    """Current DECLARED schema: the manifest's table_schema when one was
    ever set; otherwise the union-by-name of every live file's physical
    columns (all nullable, same-name type conflicts error) — the widest
    correct starting point for a first ALTER."""
    import pyarrow as pa

    ts = man.table_schema()
    if ts is not None:
        return ts
    fields, seen = [], {}
    for rel in sorted(rel_schemas):
        for fld in rel_schemas[rel]:
            prev = seen.get(fld.name)
            if prev is None:
                fld = fld.with_nullable(True)
                seen[fld.name] = fld
                fields.append(fld)
            elif prev.type != fld.type:
                raise ValueError(
                    f"cannot ALTER: live files disagree on column "
                    f"'{fld.name}' ({prev.type} vs {fld.type} in {rel}) — "
                    "unify the files (compact) first"
                )
    return pa.schema(fields)


def _physical_inventory(man, rel_schemas: dict) -> set[str]:
    """Every column name physically present in any live file, plus every
    physical name claimed by a rename map — the names a new declared
    column must not shadow."""
    names: set[str] = set()
    for s in rel_schemas.values():
        names.update(s.names)
    for ent in man.entries.values():
        if ent.cmap:
            names.update(ent.cmap.values())
    return names


def _constraint_guard(raw: dict, name: str) -> None:
    """Refuse dropping/renaming a column a CHECK constraint references —
    the predicate text cannot be reliably rewritten, and leaving it would
    make every subsequent write fail its evaluation (Delta refuses the
    same way). Word-boundary match is conservative: a column name inside
    a string literal also blocks, which errs on the safe side."""
    for cname, expr in (raw.get("check_constraints") or {}).items():
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"column '{name}' is referenced by CHECK constraint "
                f"{cname!r} ({expr}) — drop the constraint first"
            )


def _partition_guard(root: str, name: str) -> None:
    from quiver_spark.sources.quiver_datasource import _discover_partitions

    if name in {c for c, _k in _discover_partitions(root)[0]}:
        raise ValueError(
            f"column '{name}' is a Hive partition column — partition "
            "layout cannot be altered in place (rewrite via compact "
            "with a different partition_by)"
        )


def add_column(
    table: str, name: str, ddl_type: str, default=None
) -> dict:
    """ALTER TABLE ADD COLUMN ``name`` of Spark-DDL ``ddl_type`` —
    metadata-only: existing files are hard-linked, readers fill the new
    column with ``default`` (Iceberg's initial-default posture: ANY file
    lacking the column serves it, old or new) or null when no default is
    given; the next write may populate it. Refuses names that still
    exist physically in live files (previously dropped or renamed-away —
    re-declaring them would resurrect old bytes); compact the table to
    free such names."""
    from quiver_spark.sources.manifest import _schema_b64, encode_default

    new_type = _pa_type_from_ddl(ddl_type)
    if default is not None:
        import pyarrow as pa

        if pa.types.is_nested(new_type):
            # a nested default would round-trip through str() in the
            # manifest JSON and decode as garbage — refuse at the ALTER,
            # never at the later scan
            raise ValueError(
                "nested column types take no initial default — add the "
                "column null-filled and backfill with a write"
            )
    enc = encode_default(default, new_type) if default is not None else None

    def mutate(man, root, rel_schemas, raw):
        import pyarrow as pa

        _partition_guard(root, name)
        declared = _declared_schema(man, rel_schemas)
        if name in declared.names:
            raise ValueError(f"column '{name}' already exists")
        if name in _physical_inventory(man, rel_schemas):
            raise ValueError(
                f"column name '{name}' still exists physically in live "
                "files (dropped or renamed-away earlier) — re-declaring "
                "it would resurrect old values; compact the table first "
                "or pick another name"
            )
        new_schema = pa.schema(
            list(declared) + [pa.field(name, new_type, nullable=True)]
        )
        raw["table_schema"] = _schema_b64(new_schema)
        if enc is not None:
            raw.setdefault("column_defaults", {})[name] = enc
        rep = {"op": "add_column", "column": name, "type": ddl_type}
        if enc is not None:
            rep["default"] = enc
        return rep

    return _commit_evolution(table, mutate)


def drop_column(table: str, name: str) -> dict:
    """ALTER TABLE DROP COLUMN — metadata-only (lazy): files keep the
    bytes, readers stop projecting them; a compact/cluster_by rewrite
    materializes the narrower schema and frees the name for re-use."""
    from quiver_spark.sources.manifest import _schema_b64

    def mutate(man, root, rel_schemas, raw):
        import pyarrow as pa

        _partition_guard(root, name)
        _constraint_guard(raw, name)
        declared = _declared_schema(man, rel_schemas)
        if name not in declared.names:
            raise ValueError(
                f"no column '{name}' (have {declared.names})"
            )
        if len(declared) == 1:
            raise ValueError("cannot drop a table's last column")
        new_schema = pa.schema([f for f in declared if f.name != name])
        raw["table_schema"] = _schema_b64(new_schema)
        # the default dies with the column
        if raw.get("column_defaults"):
            raw["column_defaults"].pop(name, None)
            if not raw["column_defaults"]:
                raw.pop("column_defaults", None)
        # the declared name dies with the drop — remove it from every
        # rename map too (its physical target stays unreachable until a
        # rewrite frees it; the shadow guard in add_column keeps it so)
        for e in raw["files"].values():
            cm = e.get("cmap")
            if cm and name in cm:
                cm.pop(name)
                if not cm:
                    e.pop("cmap", None)
        return {"op": "drop_column", "column": name}

    return _commit_evolution(table, mutate)


def rename_column(table: str, old: str, new: str) -> dict:
    """ALTER TABLE RENAME COLUMN ``old`` TO ``new`` — metadata-only:
    files written before the rename keep their physical column name and
    each gets a declared→physical map (``cmap``) in the manifest; files
    written after carry the new name physically. Refuses a target name
    that would shadow a different physical column in any live file."""
    from quiver_spark.sources.manifest import _schema_b64

    def mutate(man, root, rel_schemas, raw):
        import pyarrow as pa

        _partition_guard(root, old)
        _partition_guard(root, new)
        _constraint_guard(raw, old)
        declared = _declared_schema(man, rel_schemas)
        if old not in declared.names:
            raise ValueError(f"no column '{old}' (have {declared.names})")
        if new in declared.names:
            raise ValueError(f"column '{new}' already exists")
        # per-file physical resolution of `old` + shadow checks for `new`
        updates: dict[str, dict | None] = {}
        for rel, fschema in rel_schemas.items():
            cm = dict(raw["files"][rel].get("cmap") or {})
            phys = cm.pop(old, old)
            if new in fschema.names and phys != new:
                raise ValueError(
                    f"cannot rename to '{new}': {rel} already has a "
                    f"physical column of that name — compact the table "
                    "first or pick another name"
                )
            if phys in fschema.names and phys != new:
                cm[new] = phys
            updates[rel] = cm or None
        claimed = {
            p
            for rel, cm in updates.items()
            for d, p in (cm or {}).items()
            if d != new
        }
        if new in claimed:
            raise ValueError(
                f"cannot rename to '{new}': the name is claimed by "
                "another column's rename map — pick another name"
            )
        fields = [
            pa.field(new, f.type, nullable=True) if f.name == old else f
            for f in declared
        ]
        raw["table_schema"] = _schema_b64(pa.schema(fields))
        # the default follows the column to its new name
        if raw.get("column_defaults") and old in raw["column_defaults"]:
            raw["column_defaults"][new] = raw["column_defaults"].pop(old)
        for rel, cm in updates.items():
            if cm is None:
                raw["files"][rel].pop("cmap", None)
            else:
                raw["files"][rel]["cmap"] = cm
        return {"op": "rename_column", "from": old, "to": new}

    return _commit_evolution(table, mutate)


def _read(spark, table: str, format: str, **options):  # noqa: A002
    """A read of ``table`` in ``format``: quiver tables go through
    ``sources.scan`` (the quiverjvm reader whenever its guards accept the
    table), other formats (``arrowipc``) through their own DataSource."""
    from quiver_spark.sources import register, scan

    if format == "quiver":
        return scan(spark, table, **options)
    register(spark)
    return spark.read.format(format).options(**options).load(table)


def snapshot_diff(
    spark,
    table: str,
    from_version: int,
    to_version: int | None = None,
    format: str = "quiver",
):
    """Row-level diff between two retained snapshots of a table — the
    Delta CDF / table_changes row-granular analogue, computed
    algebraically: rows in the target but not the source are ``insert``,
    rows in the source but not the target are ``delete`` (bag semantics
    via ``exceptAll`` — duplicates diff by multiplicity; an UPDATE shows
    as delete+insert). ``to_version=None`` diffs against the LIVE
    snapshot. Columns are the two schemas' intersection (schema
    evolution between the versions excludes evolved-away columns, the
    same restriction Delta's CDF places across schema changes); no
    common columns is an error.

    Scale posture: this is a DIAGNOSTIC — ONE scan of each snapshot plus
    ONE shuffle (round 16, guide §2.4: the two exceptAll legs each
    planned their own union + hash aggregate, scanning both snapshots
    TWICE; both directions derive from one multiplicity count). The
    per-row (c_new, c_old) counts are filtered to rows whose
    multiplicities DIFFER before the lazy checkpoint, so the
    materialized intermediate is DIFF-sized, not table-sized. For
    incremental consumption at 100 TB use the manifest cursor surface
    (``table_changes`` / ``changes_since``), which plans O(changed
    files) and never diffs rows."""
    from pyspark.sql import functions as F

    old = _read(spark, table, format, version=str(from_version))
    pin = {} if to_version is None else {"version": str(to_version)}
    new = _read(spark, table, format, **pin)
    common = [c for c in new.columns if c in set(old.columns)]
    if not common:
        raise ValueError(
            f"snapshots share no columns (v{from_version}: {old.columns} "
            f"vs target: {new.columns})"
        )
    old_c, new_c = old.select(common), new.select(common)
    u = new_c.withColumn("_n", F.lit(1)).unionByName(
        old_c.withColumn("_n", F.lit(0))
    )
    cnt = (
        u.groupBy(*common)
        .agg(
            F.sum("_n").alias("_cn"),
            F.sum(F.lit(1) - F.col("_n")).alias("_co"),
        )
        .filter(F.col("_cn") != F.col("_co"))
        # two consumers (insert and delete legs) read the diff-sized
        # counted rows from the checkpoint instead of re-running the scan
        .localCheckpoint(eager=False)
    )

    def leg(df, diff, tag):
        # exceptAll bag semantics: max(c_a - c_b, 0) replicas per row.
        # BOUND (ADVICE r16): explode(sequence(1, diff)) materializes a
        # per-row array sized by the multiplicity DIFFERENCE — fine for a
        # diagnostic diff (multiplicity deltas are edit-sized), but a row
        # duplicated many millions of times between snapshots would
        # allocate a huge array (sequence caps at Spark's max array
        # length). For such tables consume the manifest cursor surface
        # (table_changes/changes_since) or emit a _count column instead.
        return (
            df.select(
                *common,
                F.explode(F.expr(f"sequence(1, {diff})")).alias("_i"),
            )
            .drop("_i")
            .withColumn("_change_type", F.lit(tag))
        )

    return leg(
        cnt.filter(F.col("_cn") > F.col("_co")), "_cn - _co", "insert"
    ).unionByName(
        leg(cnt.filter(F.col("_co") > F.col("_cn")), "_co - _cn", "delete")
    )


def analyze_table(
    spark,
    table: str,
    columns: list[str] | None = None,
    format: str = "quiver",
    exact_ndv: bool = False,
) -> dict:
    """ANALYZE TABLE — compute table/column statistics in ONE Spark
    aggregate job (row count; per column: null count, distinct count,
    min/max as strings, avg byte/char length for strings) and store them
    in the manifest (``table_stats``) via a metadata-only in-place commit
    (op ``analyze`` in the history; no file stamped, so incremental
    cursors see nothing). NDV uses ``approx_count_distinct`` (HLL sketch
    — the only sane choice at 100 TB) unless ``exact_ndv=True``. Stats
    carry their commit cursor (``analyzed_at_commit``) so consumers can
    detect staleness against ``current_commit``; they ride DML carry
    commits and manifest rebuilds, and die with a full overwrite (the
    data they describe is gone). Read back via ``Manifest.table_stats``
    or ``quiver-tools stats``. The reference format stores only per-page
    metadata (src/lib.rs); this is the Delta ANALYZE analogue."""
    from pyspark.sql import functions as F

    from quiver_spark.sources.manifest import (
        load_manifest,
        metadata_commit,
        rebuild_manifest,
    )
    from quiver_spark.sources.pointer_store import get_pointer_store
    from quiver_spark.sources.quiver_datasource import _data_root

    df = _read(spark, table, format)
    cols = list(columns) if columns is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns {missing} not in {df.columns}")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    ndv = F.count_distinct if exact_ndv else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}")
        )
        aggs.append(ndv(F.col(c)).alias(f"__ndv__{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min__{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max__{c}"))
        if types[c] in ("string", "binary"):
            aggs.append(
                F.avg(F.length(F.col(c))).alias(f"__avglen__{c}")
            )
    row = df.agg(*aggs).collect()[0]
    col_stats = {}
    for c in cols:
        st = {
            "type": types[c],
            "nulls": int(row[f"__nulls__{c}"] or 0),
            "ndv": int(row[f"__ndv__{c}"] or 0),
            "min": row[f"__min__{c}"],
            "max": row[f"__max__{c}"],
        }
        al = row.asDict().get(f"__avglen__{c}")
        if al is not None:
            st["avg_len"] = round(float(al), 2)
        col_stats[c] = st
    stats = {
        "row_count": int(row["__rows"]),
        "ndv_method": "exact" if exact_ndv else "approx_hll",
        "columns": col_stats,
    }

    store = get_pointer_store()
    with store.lock(table):
        root = _data_root(table)
        if load_manifest(root) is None:
            rebuild_manifest(root)

        def mutate(raw):
            raw["table_stats"] = {
                **stats, "analyzed_at_commit": raw["commit_seq"],
            }
            raw["_commit_op"] = "analyze"

        seq = metadata_commit(root, mutate)
    return {"table": table, "commit": seq, **stats}


def add_constraint(
    spark,
    table: str,
    name: str,
    expression: str,
    validate: bool = True,
) -> dict:
    """ALTER TABLE ADD CONSTRAINT ``name`` CHECK ``expression`` — the
    Delta CHECK-constraint analogue, on quiver tables (no router writes
    arrowipc ones). Spark binds the predicate and, with
    ``validate=True``, scans EXISTING rows: a single row where it is
    FALSE refuses the constraint (standard SQL CHECK — NULL passes).
    Stored in the manifest via a metadata-only commit. Every later
    :func:`quiver_spark.sources.write` (batch, append, routed stream,
    DML rewrite, compaction) checks it in its Spark plan and aborts
    before publish on violation; the direct sinks refuse the table. (The
    validation scan runs before the commit takes the table lock — rows
    appended in that window were written under the pre-constraint
    contract, same as Delta's ADD CONSTRAINT.) Columns a constraint
    references cannot be dropped or renamed while it exists. Constraints
    survive overwrites (the overwrite itself is checked first) and DML
    carry commits; drop via :func:`drop_constraint`."""
    from quiver_spark.sources import scan, snapshot

    root = snapshot.data_root(table)
    if os.path.isdir(root) and snapshot.list_files(root, "*.arrow"):
        raise ValueError(
            f"{table} holds arrowipc data files: CHECK constraints are "
            "checked by quiver_spark.sources.write, which writes quiver "
            "tables only"
        )
    df = scan(spark, table)
    # Catalyst bind + SQL CHECK semantics: violations are rows where the
    # predicate IS FALSE (NULL passes)
    try:
        viol_df = df.filter(f"({expression}) IS FALSE")
        viol_df.schema  # force analysis — binder errors surface here
    except Exception as e:
        raise ValueError(
            f"constraint expression {expression!r} does not bind against "
            f"the table schema {df.columns}: {e}"
        ) from None
    violations = viol_df.count() if validate else None
    if violations:
        raise ValueError(
            f"cannot add CHECK constraint {name!r}: {violations} existing "
            f"row(s) violate ({expression})"
        )

    def mutate(man, root, rel_schemas, raw):
        cons = raw.setdefault("check_constraints", {})
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists: {cons[name]!r}"
            )
        cons[name] = expression
        return {
            "op": "add_constraint",
            "constraint": name,
            "expression": expression,
            "validated_rows": violations if validate else "skipped",
        }

    return _commit_evolution(table, mutate)


def drop_constraint(table: str, name: str) -> dict:
    """ALTER TABLE DROP CONSTRAINT — metadata-only commit removing the
    CHECK predicate; subsequent writes stop enforcing it."""

    def mutate(man, root, rel_schemas, raw):
        cons = raw.get("check_constraints") or {}
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} (have {sorted(cons) or 'none'})"
            )
        expr = cons.pop(name)
        if not cons:
            raw.pop("check_constraints", None)
        return {"op": "drop_constraint", "constraint": name,
                "expression": expr}

    return _commit_evolution(table, mutate)


def expire_generations(path: str, keep: int = 1) -> dict:
    """Delete retained generation snapshots beyond the newest ``keep``
    (the LIVE generation is always kept, whatever ``keep`` says) — the
    table-level retention sweep for tables written with
    ``keep_generations > 1``. Driver-local (directory renames/deletes
    only, no Spark session); returns what was removed."""
    import shutil

    from quiver_spark.sources import snapshot

    keep = max(1, int(keep))
    gens = snapshot.generations(path)
    if not os.path.exists(os.path.join(path, snapshot.CURRENT)):
        # a flat table: every generation is newer than its live root (a
        # first overwrite's claim, in flight or crashed before its swap)
        out = {"dir": path, "removed": [], "kept": [], "note": "no generations"}
        if gens:
            out["skipped_inflight"] = gens
        return out
    live = os.path.basename(snapshot.data_root(path))
    # Retention counts only generations AT OR BELOW the live one — a
    # directory NEWER than the live pointer is either a concurrent
    # writer's in-flight claim (not ours to touch) or a crashed/raced
    # commit's orphan (vacuum reclaims it once stale). Counting such a
    # directory here would both keep garbage forever (it is always the
    # newest number) and displace a genuinely retained snapshot from the
    # keep window.
    live_num = snapshot.gen_number(live)
    snapshots = [g for g in gens if snapshot.gen_number(g) <= live_num]
    newer = [g for g in gens if snapshot.gen_number(g) > live_num]
    # newest `keep` survive; the live generation survives unconditionally
    kept = set(snapshots[-keep:]) | {live}
    removed = []
    for g in snapshots:
        if g in kept:
            continue
        shutil.rmtree(os.path.join(path, g), ignore_errors=True)
        removed.append(g)
    out = {"dir": path, "removed": removed, "kept": sorted(kept)}
    if newer:
        out["skipped_inflight"] = newer
    return out


def vacuum(
    path: str, keep: int = 1, staging_age_sec: int = 24 * 3600
) -> dict:
    """One-call table housekeeping — the Delta VACUUM analogue on the
    generation protocol: (1) expire retained generations beyond the
    newest ``keep`` (:func:`expire_generations`; the live one is always
    kept), (2) sweep abandoned write staging older than
    ``staging_age_sec`` — both task-attempt dirs under ``_temporary``
    and a crashed clone's ``_clone_tmp`` (tasks/clones that died leave
    them invisible-but-not-free), (3) remove orphan stats sidecars
    whose data file is gone (a crash between a data-file delete and its
    sidecar's), and (4) on a table with a ``_current`` pointer, remove
    data files and sidecars left in the flat root outside every
    generation (a first overwrite that died between its pointer swap
    and its flat-root sweep). Driver-local, no Spark session; nothing
    reader-visible is touched. PRECONDITION on the staging sweep: ``staging_age_sec``
    must exceed the longest in-flight write or clone against this table
    — sweeping younger entries can destroy a live job's staged files
    mid-commit. The report lists only entries verified gone."""
    import shutil
    import time as _time

    from quiver_spark.sources import snapshot

    expired = expire_generations(path, keep=keep)
    swept_staging = snapshot.sweep_stale_staging(
        path, max_age_sec=staging_age_sec
    )
    # orphaned generation claims: a directory NEWER than the live pointer
    # (on a flat table: any) whose commit never swapped (crashed writer,
    # lost lock-less race).
    # expire_generations deliberately skips them (a LIVE concurrent
    # writer may own one); here the staging-age rule makes the call —
    # anything newer-than-live and older than staging_age_sec is a
    # corpse, not an in-flight claim.
    swept_orphan_gens = []
    for g in expired.get("skipped_inflight", []):
        gp = os.path.join(path, g)
        try:
            if os.path.exists(os.path.join(gp, snapshot.COMMITTED)):
                # committed marker: a RETAINED snapshot sitting newer
                # than the live pointer (rollback) — never a corpse
                continue
            if os.path.getmtime(gp) < _time.time() - staging_age_sec:
                shutil.rmtree(gp, ignore_errors=True)
                if not os.path.exists(gp):
                    swept_orphan_gens.append(g)
        except OSError:
            pass
    # a crashed clone's staging is its own directory at the table root
    clone_tmp = os.path.join(path, "_clone_tmp")
    try:
        if (
            os.path.isdir(clone_tmp)
            and os.path.getmtime(clone_tmp)
            < _time.time() - staging_age_sec
        ):
            shutil.rmtree(clone_tmp, ignore_errors=True)
            if not os.path.exists(clone_tmp):
                swept_staging.append("_clone_tmp")
    except OSError:
        pass
    orphan_sidecars = []
    root = snapshot.data_root(path)
    for dirpath, dirs, files in os.walk(root):
        # never descend into hidden/staging subtrees (the same
        # any-segment-starting-with-_-or-. convention the file listing
        # uses); pruning in place also skips enumerating their contents
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.endswith(".stats.json"):
                continue
            data = os.path.join(dirpath, f[: -len(".stats.json")])
            if not os.path.exists(data):
                try:
                    os.unlink(os.path.join(dirpath, f))
                    orphan_sidecars.append(
                        os.path.relpath(os.path.join(dirpath, f), root)
                    )
                except OSError:
                    continue
    flat_removed = (
        snapshot.sweep_flat(path, TABLE_GLOBS)
        if os.path.exists(os.path.join(path, snapshot.CURRENT))
        else []
    )
    return {
        "dir": path,
        "expired_generations": expired.get("removed", []),
        "orphan_generations_swept": swept_orphan_gens,
        "staging_swept": swept_staging,
        "orphan_sidecars_removed": orphan_sidecars,
        "flat_files_removed": flat_removed,
    }


def rollback_generation(path: str, version: int) -> dict:
    """Point the table back at a RETAINED older generation — the undo for
    a bad overwrite, completing the snapshot feature operationally
    (overwrite → rollback → the old data is live again, no rewrite).

    Same discipline as commit: runs under the table's writer lock and
    swaps the ``_current`` pointer with the store's compare-and-swap, so
    a rollback racing a concurrent overwrite is refused loudly instead of
    resurrecting a snapshot the overwrite just superseded. The target
    must still be retained (written with ``keep_generations > 1`` or not
    yet expired); rolled-PAST generations are NOT deleted — a follow-up
    overwrite or :func:`expire_generations` reclaims them, so a rollback
    is itself reversible until then. Driver-local: pointer write only, no
    Spark session, no data movement."""
    from quiver_spark.sources import snapshot
    from quiver_spark.sources.pointer_store import get_pointer_store

    store = get_pointer_store()
    with store.lock(path):
        cur = store.read_pointer(path)
        if cur is None:
            raise ValueError(
                f"{path} has no generation pointer "
                f"({snapshot.CURRENT}) — only "
                "tables written by overwrite-mode sinks can roll back"
            )
        try:
            # the reader's own version resolver validates retention and
            # names what IS retained in its error — one source of truth
            name = os.path.basename(snapshot.data_root(path, version=version))
        except ValueError as exc:
            raise ValueError(
                f"rollback target not retained: {exc} (retention requires "
                "keep_generations > 1 at write time)"
            ) from None
        if cur == name:
            return {"dir": path, "rolled_back_to": name, "previous": cur,
                    "note": "already live"}
        store.swap_pointer(path, name, cur)
        # a rollback deliberately leaves the rolled-away-from generation
        # NEWER than the live pointer: bless every generation on disk
        # with the commit marker so vacuum's orphan sweep (which only
        # touches UNMARKED newer-than-live dirs) can never mistake a
        # retained snapshot for a crashed writer's corpse — this also
        # retrofits tables whose generations predate the marker
        for g in snapshot.generations(path):
            snapshot.mark_committed(os.path.join(path, g))
        # CDC sequence-reuse guard: the restored snapshot's manifest
        # carries an OLDER commit_seq; leaving it would let the next
        # commit re-issue numbers the rolled-back head already used, so
        # a consumer whose cursor passed them would silently skip new
        # data. Fast-forward the restored counter to the rolled-back
        # head's — cursors stay monotone; the rollback itself is
        # invisible at file granularity (consumers that must observe it
        # re-read from their last cursor or reset).
        from quiver_spark.sources.manifest import (
            MANIFEST_VERSION,
            _load_raw,
            _write_raw,
        )

        try:
            restored = _load_raw(os.path.join(path, name))
            prev_raw = _load_raw(os.path.join(path, cur))
        except (OSError, ValueError):
            restored = prev_raw = None
        if (
            restored is not None
            and restored.get("version") == MANIFEST_VERSION
            and prev_raw is not None
            and prev_raw.get("version") == MANIFEST_VERSION
        ):
            head = int(prev_raw.get("commit_seq", 0))
            if head > int(restored.get("commit_seq", 0)):
                restored["commit_seq"] = head
                _write_raw(os.path.join(path, name), restored)
    return {"dir": path, "rolled_back_to": name, "previous": cur}


def current_commit(table: str, version: int | None = None) -> int:
    """The table's current manifest commit sequence — the cursor an
    incremental consumer records after each read (0 for manifest-less or
    freshly-rebuilt tables, whose files are all "baseline").

    The sequence increments on every sink commit (append, overwrite, DML
    rewrite — both formats) and stays monotone across generation swaps,
    so ``table_changes(spark, t, since=cursor)`` between two observations
    of ``current_commit`` yields exactly the files committed in between.
    Rollback fast-forwards the restored snapshot's counter to the
    rolled-back head's, so sequence numbers are never re-issued (the
    rollback itself is invisible at file granularity — a consumer that
    must observe it re-reads from its cursor or resets);
    ``rebuild_manifest`` resets the sequence (every existing file
    becomes baseline — reset consumer cursors with it)."""
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    man = load_manifest(_data_root(table, version))
    return man.commit_seq if man is not None else 0


def commit_at(
    table: str, ts, version: int | None = None
) -> int:
    """The commit cursor as of a wall-clock instant: the LAST commit at
    or before ``ts`` (epoch seconds, or an ISO-8601 string parsed as
    local time unless it carries an offset). Feed it to
    :func:`table_changes` for time-based incremental consumption —
    "process everything since yesterday 06:00" without bookkeeping a
    cursor between runs::

        since = maintenance.commit_at(dir, "2026-08-14T06:00:00")
        df = maintenance.table_changes(spark, dir, since)

    Commits before the manifest's retained time window (the most recent
    10k) or before the CDC feature resolve to 0 — i.e. "everything",
    the at-least-once direction."""
    import datetime as _dt

    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    if isinstance(ts, str):
        ts = _dt.datetime.fromisoformat(ts).timestamp()
    ts = float(ts)
    man = load_manifest(_data_root(table, version))
    if man is None:
        return 0
    at = [c for c, t in man.commit_times.items() if t <= ts]
    return max(at) if at else 0


def table_changes(
    spark,
    table: str,
    since_commit: int,
    format: str = "quiver",  # noqa: A002 (Spark's own kwarg name)
    **options: str,
):
    """DataFrame of rows in files committed AFTER ``since_commit`` — the
    incremental-consumption path: a downstream pipeline processes a 100 TB
    table's new data without rescanning the table, reading only the
    appended (or copy-on-write-rewritten) files.

    Granularity is the FILE, the unit the commit protocol moves: appends
    surface exactly the appended rows; row-level DELETE/UPDATE/MERGE
    surface each rewritten file's full post-image (its untouched rows
    ride along — consumers needing row-level deltas anti-join against
    their previous state); carried (hard-linked) files never reappear.
    Files the manifest cannot vouch for are conservatively included
    (at-least-once, never silent loss)."""
    return _read(
        spark, table, format, changes_since=str(int(since_commit)), **options
    )


def convert_parquet(
    spark,
    src: str,
    dst_dir: str,
    codec: str = "lz4",
    target_rows_per_file: int = 1 << 20,
    partition_by: str | None = None,
) -> dict:
    """Distributed parquet → quiver conversion — the migration path for a
    user switching an existing lake to the quiver format.

    Scale posture: the row count comes from parquet FOOTER metadata only
    (`pyarrow.dataset.count_rows`, no data read on the driver), and the
    rewrite is one Spark job: parquet scan → one shuffle → :func:`ingest`.
    An unpartitioned conversion repartitions to the output file count
    sized from that row count; a Hive conversion leaves the shuffle to
    ``ingest``, which co-locates each key in one task. At 100 TB this is
    the same shape as compaction."""
    import pyarrow.dataset as ds

    _check_disjoint(src, dst_dir)
    rows = ds.dataset(src, format="parquet").count_rows()
    df = spark.read.parquet(src)
    cols = [c.strip() for c in partition_by.split(",")] if partition_by else []
    if not cols:
        n_out = max(1, math.ceil(rows / max(target_rows_per_file, 1)))
        df = df.repartition(n_out)
    info = ingest(
        spark, df, dst_dir, codec=codec,
        max_rows_per_file=target_rows_per_file, partition_by=cols,
    )
    if info["rows"] != rows:
        raise RuntimeError(
            f"conversion row mismatch: parquet has {rows}, quiver output "
            f"has {info['rows']} — output left in place for inspection"
        )
    return {
        "src": src,
        "dst": dst_dir,
        "rows": rows,
        "files_after": info["files"],
        "partition_by": cols,
    }


def ingest(
    spark,
    df,
    dst_dir: str,
    codec: str = "zstd",
    max_rows_per_file: int = 1 << 22,
    partition_by: str | list[str] | None = None,
) -> dict:
    """One-call bulk ingest of a DataFrame into a quiver table, durable AND
    queryable with O(1) scan planning when it returns: an overwrite
    through :func:`quiver_spark.sources.write`, so the quiverjvm writer
    writes it (rows never cross the JVM→Python boundary — measured 0.69x
    parquet wall at sf0.1 vs ~2.8x for the former Python sink, BASELINE.md
    round-10 ingest table). Its tasks write per-file stats sidecars
    (zone maps, optional blooms, CRCs) and the driver's commit builds the
    manifest from them, so the first scan plans from ONE metadata read.
    Into a new or empty directory the load makes a flat table;
    re-ingesting into an existing table is an atomic generation swap.
    ``partition_by`` fans rows into Hive ``col=value`` subdirectories
    (the input is repartitioned by the keys first so per-key writer
    buffers stay bounded). ``mode`` is always overwrite — ingest is a
    load, not an append (use ``sources.write(..., mode="append")`` for
    increments). ``engine`` in the result is ``"jvm"``."""
    from quiver_spark.sources import write

    parts = (
        [c.strip() for c in partition_by.split(",")]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    if parts:
        df = df.repartition(*parts)
    write(
        df, dst_dir, partition_by=parts, codec=codec,
        max_rows_per_file=max(max_rows_per_file, 1),
    )
    files, rows = _dir_stats(dst_dir)
    return {
        "dst": dst_dir,
        "engine": "jvm",
        "files": files,
        "rows": rows,
    }


def _snapshot(table: str) -> tuple[str, str, list[str]]:
    """(carry source, data root, relative file names) of the table's
    current snapshot. The carry source (``snapshot.carry_source``) names
    the live generation ("" for flat) and digests its file set: the
    rewrite's commit fails loudly when either changed since planning."""
    from quiver_spark.sources import snapshot
    from quiver_spark.sources.quiver_datasource import _data_root, _list_files

    root = _data_root(table)
    gen = (
        os.path.basename(root)
        if os.path.realpath(root) != os.path.realpath(table)
        else ""
    )
    files = [os.path.relpath(f, root) for f in _list_files(root)]
    return snapshot.carry_source(gen, files), root, files


def _touched_files(spark, table: str, predicate: str) -> list[str]:
    """Relative names of every file holding a row that matches
    ``predicate`` — one scan with the file column: pages and Hive
    partitions are pruned on the pushed predicate, Catalyst prunes the
    JVM reader's decode to the predicate's columns, and the collected
    result is at most one row per file (never row data). A table only
    the Python DS can read gives the same answer, decoding every column
    of the unpruned pages."""
    from pyspark.sql import functions as F

    from quiver_spark.sources import scan

    rows = (
        scan(
            spark, table, file_column=_FILE_COL,
            page_prune="true", partition_prune="true",
        )
        .filter(F.expr(predicate))
        .select(_FILE_COL)
        .distinct()
        .collect()
    )
    return sorted(r[0] for r in rows)


def _rewrite_commit(
    spark,
    table: str,
    out_df,
    planned: str,
    untouched: list[str],
    options: dict[str, str],
) -> None:
    """Publish a row-level rewrite: ``out_df`` (the rewritten rows) becomes
    the new generation alongside hard-links of the untouched files —
    the carry_files copy-on-write commit. Concurrency is optimistic: the
    commit verifies the snapshot the plan was built against (``planned``,
    from :func:`_snapshot`) is still live with the same files and raises
    ConcurrentWriteError otherwise."""
    from quiver_spark.sources import write
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _discover_partitions,
    )

    part_cols = [c for c, _k in _discover_partitions(_data_root(table))[0]]
    write(
        out_df, table, partition_by=part_cols,
        carry_files=json.dumps(untouched), carry_src=planned, **options,
    )


def _partition_only_predicate(spark, root: str, predicate: str) -> bool:
    """True iff ``predicate`` resolves against the table's Hive partition
    columns ALONE — checked by actually binding it with Catalyst on an
    empty partition-columns-only frame (authoritative; a name heuristic
    could under-match a quoted column and wrongly claim the fast path).
    Partition values are constant per file, so such a predicate is
    all-or-nothing per file."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructType

    from quiver_spark.sources.quiver_datasource import _discover_partitions

    part_cols = _discover_partitions(root)[0]
    if not part_cols:
        return False
    kinds = {"long": LongType(), "double": DoubleType(), "string": StringType()}
    schema = StructType()
    for c, k in part_cols:
        schema = schema.add(c, kinds[k])
    try:
        from pyspark.sql import functions as F

        probe = spark.createDataFrame([], schema)
        probe.filter(F.expr(predicate)).schema  # forces analysis
        return True
    except Exception:
        return False


def delete_where(spark, table: str, predicate: str, **options: str) -> dict:
    """Row-level ``DELETE FROM table WHERE predicate`` as a file-level
    copy-on-write generation commit.

    Plan shape (the 100 TB posture): (1) ONE pruned detection scan finds
    the files the predicate may touch (zone maps + partition pruning +
    predicate-column projection; result ≤ one row per file); (2) ONE
    rewrite job reads ONLY those files and writes back the rows where the
    predicate is not TRUE (SQL DELETE semantics: NULL keeps the row);
    (3) commit hard-links every untouched file into the new generation —
    cost tracks touched data, never table size, and the swap is atomic
    (readers see the old or the new snapshot, nothing between; a
    concurrent overwrite loses loudly via the carry_src check).
    The reference format is single-file with no DML layer
    (/root/reference/src/lib.rs); this is the table-layer analogue of
    Delta/Iceberg copy-on-write DELETE, built on the generation protocol.
    """
    from pyspark.sql import functions as F

    from quiver_spark.sources import scan

    planned, root, all_files = _snapshot(table)
    touched = _touched_files(spark, table, predicate)
    if not touched:
        return {
            "table": table,
            "predicate": predicate,
            "files_rewritten": 0,
            "files_carried": len(all_files),
            "note": "no file contains a matching row — nothing to do",
        }
    tset = set(touched)
    untouched = [f for f in all_files if f not in tset]
    src = scan(spark, table, files=json.dumps(touched))
    fast = _partition_only_predicate(spark, root, predicate)
    if fast:
        # Partition-drop fast path: the predicate binds against the
        # partition columns ALONE (Catalyst-verified, not a heuristic),
        # so it is CONSTANT per file — a touched file matched wholesale
        # and keeps zero rows. Skip the rewrite read entirely: the new
        # generation is just the carried files. At 100 TB, dropping a
        # day's partition costs zero data reads.
        keep = spark.createDataFrame([], src.schema)
    else:
        keep = src.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
    _rewrite_commit(spark, table, keep, planned, untouched, options)
    return {
        "table": table,
        "predicate": predicate,
        "files_rewritten": 0 if fast else len(touched),
        "files_dropped_wholesale": len(touched) if fast else 0,
        "files_carried": len(untouched),
    }


def update_where(
    spark,
    table: str,
    assignments: dict[str, str],
    predicate: str,
    **options: str,
) -> dict:
    """Row-level ``UPDATE table SET col = expr, ... WHERE predicate`` —
    same copy-on-write shape as :func:`delete_where` (one pruned
    detection scan, one touched-files-only rewrite, untouched files
    hard-linked). Assignment expressions evaluate against the ORIGINAL
    row (standard UPDATE semantics) and are cast back to the column's
    declared type, so a rewrite can never drift the table schema."""
    from pyspark.sql import functions as F

    from quiver_spark.sources import scan

    planned, root, all_files = _snapshot(table)
    touched = _touched_files(spark, table, predicate)
    if not touched:
        return {
            "table": table,
            "predicate": predicate,
            "files_rewritten": 0,
            "files_carried": len(all_files),
            "note": "no file contains a matching row — nothing to do",
        }
    tset = set(touched)
    untouched = [f for f in all_files if f not in tset]
    src = scan(spark, table, files=json.dumps(touched))
    unknown = sorted(set(assignments) - set(src.columns))
    if unknown:
        raise ValueError(f"UPDATE assigns to unknown columns: {unknown}")
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    cols = []
    for f in src.schema.fields:
        if f.name in assignments:
            cols.append(
                F.when(
                    pred, F.expr(assignments[f.name]).cast(f.dataType)
                )
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    _rewrite_commit(
        spark, table, src.select(*cols), planned, untouched, options
    )
    return {
        "table": table,
        "predicate": predicate,
        "set": sorted(assignments),
        "files_rewritten": len(touched),
        "files_carried": len(untouched),
    }


def merge_upsert(
    spark,
    table: str,
    source,
    on: list[str],
    delete_predicate: str | None = None,
    **options: str,
) -> dict:
    """``MERGE INTO table USING source ON keys`` with the classic upsert
    actions — WHEN MATCHED update the whole row, WHEN NOT MATCHED insert
    — plus, when ``delete_predicate`` is given, WHEN MATCHED AND
    predicate THEN DELETE: source rows satisfying the predicate
    (evaluated against the SOURCE row, which may carry extra columns
    like a CDC feed's ``op`` marker) remove their key from the target
    instead of upserting it. This makes one call a full CDC apply:
    ``merge_upsert(spark, t, feed, on=["id"], delete_predicate="op =
    'delete'")`` maintains a downstream table from a change feed —
    pair with :func:`table_changes` to chain tables.

    Plan shape: detection joins the target's KEY COLUMNS ONLY (projected
    scan) against the distinct source keys to find touched files; the
    rewrite anti-joins those files' rows against the source keys (rows
    that survive unchanged) and unions the surviving source rows
    (updates + inserts), cast column-by-column to the target schema;
    untouched files hard-link into the new generation. Source is
    typically a small delta — AQE turns both joins into broadcasts; the
    target never shuffles whole. A delete key absent from the target is
    a no-op (anti-join semantics), matching SQL MERGE."""
    from pyspark.sql import functions as F

    from quiver_spark.sources import scan

    planned, root, all_files = _snapshot(table)
    tgt = scan(spark, table)
    missing = [c for c in on if c not in tgt.columns]
    if missing:
        raise ValueError(f"merge keys not in target schema: {missing}")
    src_missing = [c for c in tgt.columns if c not in source.columns]
    if src_missing:
        raise ValueError(
            f"source is missing target columns: {src_missing} — upsert "
            "replaces whole rows, so the source must carry every column"
        )
    upserts = source
    n_delete_keys = 0
    cond = None
    if delete_predicate is not None:
        # predicate is source-evaluated; NULL → not a delete (SQL WHEN
        # MATCHED AND cond semantics)
        cond = F.coalesce(F.expr(delete_predicate), F.lit(False))
        upserts = source.filter(~cond)
    # SQL MERGE refuses a source with duplicate keys (the update would be
    # nondeterministic and the insert would silently double rows). ONE
    # aggregate on the (delta-sized) source carries both the dup check
    # and the delete-key count; the first offender is named by a second
    # query only on the error path.
    per_key = source.groupBy(*on).agg(
        F.count(F.lit(1)).alias("n"),
        *(
            [F.max(F.when(cond, 1).otherwise(0)).alias("is_del")]
            if delete_predicate is not None
            else []
        ),
    )
    stats = per_key.agg(
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("dup_keys"),
        *(
            [F.sum("is_del").alias("del_keys")]
            if delete_predicate is not None
            else []
        ),
    ).collect()[0]
    if stats["dup_keys"]:
        dup = per_key.filter("n > 1").limit(1).collect()
        raise ValueError(
            f"merge source has duplicate keys (e.g. "
            f"{tuple(dup[0][c] for c in on)} x{dup[0]['n']}) — MERGE "
            "requires at most one source row per key; de-duplicate the "
            "source first"
        )
    if delete_predicate is not None:
        n_delete_keys = int(stats["del_keys"] or 0)
    # ALL source keys (upserts + deletes) drive detection and the
    # anti-join: a deleted key's rows are dropped from the rewrite and
    # simply not re-inserted
    keys = source.select(*on).distinct()
    det = scan(
        spark, table, file_column=_FILE_COL, columns=",".join([*on, _FILE_COL])
    )
    touched = sorted(
        r[0]
        for r in det.join(keys, on=on, how="leftsemi")
        .select(_FILE_COL)
        .distinct()
        .collect()
    )
    tset = set(touched)
    untouched = [f for f in all_files if f not in tset]
    aligned = upserts.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in tgt.schema.fields
        ]
    )
    if touched:
        kept = scan(spark, table, files=json.dumps(touched)).join(
            keys, on=on, how="left_anti"
        )
        out = kept.unionByName(aligned)
    else:
        out = aligned  # pure insert
    _rewrite_commit(spark, table, out, planned, untouched, options)
    return {
        "table": table,
        "on": list(on),
        "files_rewritten": len(touched),
        "files_carried": len(untouched),
        "delete_keys": n_delete_keys,
    }


def compact_local(
    src_dir: str, dst_path: str, codec: str = "lz4"
) -> dict:
    """Driver-local compaction of a FLAT quiver directory into one file —
    the no-cluster fallback for catalog-scale directories (pure pyarrow).
    Refuses Hive-partitioned sources (use `compact` with a session)."""
    import pyarrow as pa

    from quiver_spark.format.reader import read_table
    from quiver_spark.format.writer import WriteOptions, write_table
    from quiver_spark.sources.quiver_datasource import (
        _discover_partitions,
        _list_files,
    )

    # the merged file must not land under src (later scans of src would
    # then double every row); a parent/sibling destination is fine
    src_real = os.path.realpath(src_dir)
    dst_parent = os.path.realpath(os.path.dirname(dst_path) or ".")
    if dst_parent == src_real or dst_parent.startswith(src_real + os.sep):
        raise ValueError(
            f"compact_local destination {dst_path!r} is inside source "
            f"{src_dir!r}: the merged file would duplicate every row on "
            "subsequent scans of the source directory"
        )
    part_cols, _ = _discover_partitions(src_dir)
    if part_cols:
        raise ValueError(
            "compact_local handles flat directories only; "
            f"{src_dir} is Hive-partitioned on {[c for c, _ in part_cols]}"
        )
    files = _list_files(src_dir)
    if not files:
        raise ValueError(f"no quiver files under {src_dir}")
    tables = [read_table(f) for f in files]
    merged = pa.concat_tables(tables)
    os.makedirs(os.path.dirname(dst_path) or ".", exist_ok=True)
    write_table(merged, dst_path, WriteOptions(default_codec=codec))
    return {
        "src": src_dir,
        "dst": dst_path,
        "rows": merged.num_rows,
        "files_before": len(files),
        "files_after": 1,
    }
