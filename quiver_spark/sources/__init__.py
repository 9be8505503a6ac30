import os

from quiver_spark.sources import snapshot
from quiver_spark.sources.arrow_datasource import (  # noqa: F401
    ArrowIpcDataSource,
    register_arrow,
)
from quiver_spark.sources.quiver_datasource import (  # noqa: F401
    QuiverDataSource,
    register,
    ship_package,
)

#: semantic reader options the quiverjvm reader serves: time travel
#: (``version``), the CDC cursor (``changes_since``), rewrite subsets
#: (``files``), union-by-name (``merge_schemas``) and page CRC checks
#: (``verify_checksums``, on unless ``"false"``). They are forwarded to
#: the reader verbatim.
JVM_SEMANTIC_OPTS = frozenset(
    {"version", "changes_since", "files", "merge_schemas", "verify_checksums"}
)

#: reader options ``scan`` serves as plain Catalyst operators on the
#: quiverjvm relation (``_apply_translated``): ``columns=`` becomes a
#: ``.select`` (Catalyst pushes the pruning into the DSv2 scan),
#: ``limit=`` a ``.limit()`` (the reader implements
#: SupportsPushDownLimit, so it takes the file-order prefix), and
#: ``file_column=`` a select of the reader's ``_quiver_file`` metadata
#: column (SupportsMetadataColumns: each row's root-relative data file).
#: ``page_prune=`` and ``partition_prune=`` translate to nothing: the
#: reader always prunes pages and Hive partitions on the pushed filters.
JVM_TRANSLATED_OPTS = frozenset(
    {"columns", "limit", "file_column", "page_prune", "partition_prune"}
)

#: the quiverjvm reader's file metadata column; a data column of that
#: name would hide it, so ``write`` refuses the name
META_FILE_COL = "_quiver_file"


def scan(spark, path: str, **options):
    """Unified quiver scan: the quiverjvm reader (the Java DataSourceV2
    columnar reader) serves every read of a quiver table or refuses it.

    It serves flat and nested schemas, plain, generation and Hive
    layouts, ALTER-DDL tables, column defaults, JVM_SEMANTIC_OPTS and
    JVM_TRANSLATED_OPTS, with manifest-served planning, zone-map and
    bloom page pruning, Catalyst column pruning and no JVM→Python
    boundary.

    Refusals come before any job: an option outside JVM_SEMANTIC_OPTS |
    JVM_TRANSLATED_OPTS raises ValueError naming it, and a jar that does
    not attach raises RuntimeError naming ``jvm/build.sh``. The reader's
    own refusals and faults raise at plan time, each naming its remedy:
    files whose schemas differ (read with ``merge_schemas="true"``), a
    leaf type it does not decode (half float, decimal256, date64), a
    column default it cannot fill, a corrupt manifest."""
    unknown = sorted(set(options) - JVM_SEMANTIC_OPTS - JVM_TRANSLATED_OPTS)
    if unknown:
        raise ValueError(
            f"quiver scan does not take the option(s) {unknown}; it takes "
            f"{sorted(JVM_SEMANTIC_OPTS | JVM_TRANSLATED_OPTS)}"
        )
    register(spark)
    sem = {k: v for k, v in options.items() if k in JVM_SEMANTIC_OPTS}
    return _apply_translated(try_jvm_scan(spark, path, **sem), options)


def _apply_translated(df, options):
    """Re-express JVM_TRANSLATED_OPTS as Catalyst operators on a JVM
    relation (columns → select, file_column → the `_quiver_file`
    metadata column aliased, limit → limit). A DATA column named
    `_quiver_file` hides the metadata column (Spark's
    SupportsMetadataColumns rule), so ``file_column`` on such a table
    raises ValueError naming ``maintenance.rename_column``."""
    from pyspark.sql import functions as F

    # an empty file_column is absent
    fcol = options.get("file_column") or None
    if fcol is not None:
        if META_FILE_COL in df.columns:
            raise ValueError(
                f"the table holds a data column {META_FILE_COL!r}, which "
                "hides the quiverjvm reader's file metadata column; rename "
                "it with quiver_spark.maintenance.rename_column before "
                "reading with file_column"
            )
        if fcol in df.columns:
            raise ValueError(
                f"file_column {fcol!r} collides with a table column"
            )
    cols = options.get("columns")
    if cols:
        # columns= selects EXACTLY the named columns in the given order;
        # the file column survives only when its name is listed. A name
        # outside the visible schema (the literal '_quiver_file' without
        # file_column= included) raises here, at plan time, rather than
        # resolving the metadata column or failing at the action.
        names = [c.strip() for c in cols.split(",")]
        visible = list(df.columns) + ([fcol] if fcol is not None else [])
        missing = [n for n in names if n not in visible]
        if missing:
            raise ValueError(
                f"columns option names {missing} not present in the "
                f"table schema (available: {visible})"
            )
        df = df.select(
            *[
                F.col(META_FILE_COL).alias(fcol)
                if fcol is not None and name == fcol
                else F.col(name)
                for name in names
            ]
        )
    elif fcol is not None:
        # no pruning: every data column + the file column appended last
        # (ONE select — metadata columns resolve on the relation, not on
        # a derived projection)
        df = df.select(
            *[F.col(c) for c in df.columns],
            F.col(META_FILE_COL).alias(fcol),
        )
    if "limit" in options:
        df = df.limit(int(options["limit"]))
    return df


def try_jvm_scan(spark, path: str, **options):
    """The quiverjvm relation of the table at ``path``: it returns a
    DataFrame or raises, never None. A jar that does not attach raises
    RuntimeError naming ``jvm/build.sh``; the reader's guard refusals
    and faults (corrupt manifest, non-scalar default, type conflict)
    raise from ``load()``, at plan time.

    ``options`` must be a subset of JVM_SEMANTIC_OPTS (the caller's
    contract); they are forwarded to the reader as strings."""
    from quiver_spark.jvm import attach_jar

    if not attach_jar(spark):
        raise RuntimeError(
            "the quiverjvm reader jar does not attach to this session; "
            "build it with quiver_spark/jvm/build.sh"
        )
    reader = spark.read.format("quiverjvm")
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load(path)


#: sink options the JVM writer serves natively
#: (QuiverJvmBatchWrite.createBatchWriterFactory reads exactly these; the
#: Hive fan-out is ``write``'s own ``partition_by`` parameter). ``write``
#: also takes SNAPSHOT_OPTS, which the driver-side commit consumes, and
#: ``require_not_null``, which it checks in the plan; it refuses any
#: other option.
JVM_WRITE_OPTS = frozenset(
    {"codec", "max_page_size", "max_rows_per_file", "bloom_columns",
     "compress_ratio", "forbidden"}
)

#: batch write options served by ``snapshot.commit`` rather than by a
#: writer: retention, row-level carry, and the pointer store. A write
#: naming any of them publishes as a generation swap.
SNAPSHOT_OPTS = frozenset(
    {"keep_generations", "carry_files", "carry_src", "pointer_store"}
)


def _local_dir(path: str) -> str:
    """file:-scheme-stripped local path (QuiverJvmRead.localPath parity)
    for driver-side existence probes."""
    for pre in ("file://", "file:"):
        if path.startswith(pre):
            return path[len(pre):] or "/"
    return path


def _constraints(path: str) -> dict[str, str]:
    """The CHECK constraints ``{name: predicate}`` of the destination's
    live manifest (one manifest load, cached per manifest stat)."""
    from quiver_spark.sources.manifest import load_manifest

    man = load_manifest(snapshot.data_root(_local_dir(path)))
    return dict(man.check_constraints) if man is not None else {}


def _quoted(name: str):
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


def _checked(df, constraints: dict[str, str], not_null=()):
    """``df`` with its first column wrapped in one check of every CHECK
    constraint and every NOT NULL column: the first row whose predicate
    IS FALSE raises ``CHECK constraint '<name>' violated: (<expr>)``
    (NULL passes, as SQL CHECK requires), and the first row with a NULL
    in a ``not_null`` column raises ``NOT NULL constraint violated:
    column '<c>' …``. It is a projection, not a filter, so the optimizer
    cannot move it below the frame's own filters or into one side of a
    join and raise on a row that is never written. The ``coalesce``
    keeps the column's type and nullability, so the written schema is
    the frame's."""
    from pyspark.sql import functions as F

    arms = [
        (F.expr(f"({expr}) IS FALSE"),
         f"CHECK constraint '{name}' violated: ({expr})")
        for name, expr in constraints.items()
    ] + [
        (_quoted(c).isNull(),
         f"NOT NULL constraint violated: column {c!r} is NULL in a "
         "written row")
        for c in not_null
    ]
    check = None
    for bad, msg in arms:
        err = F.raise_error(msg)
        check = F.when(bad, err) if check is None else check.when(bad, err)
    first = df.columns[0]
    return df.withColumn(first, F.coalesce(check, _quoted(first)))


def _write_options(options) -> tuple[dict, dict, list[str]]:
    """Split ``write``'s options into (snapshot options, JVM writer
    options, ``require_not_null`` columns); an option outside
    JVM_WRITE_OPTS, SNAPSHOT_OPTS and ``require_not_null``, or a
    ``max_page_size`` or ``max_rows_per_file`` that is not a positive
    integer, raises ValueError naming it."""
    unknown = sorted(
        set(options) - JVM_WRITE_OPTS - SNAPSHOT_OPTS - {"require_not_null"}
    )
    if unknown:
        raise ValueError(
            f"quiver write does not take the option(s) {unknown}; it takes "
            f"{sorted(JVM_WRITE_OPTS | SNAPSHOT_OPTS)} and require_not_null"
        )
    # the JVM encoder divides by the page size, and a row cap below 1
    # would flush a file per row
    for k in ("max_page_size", "max_rows_per_file"):
        v = str(options.get(k, 1))
        if not (v.isdecimal() and int(v) > 0):
            raise ValueError(
                f"quiver write option {k} must be a positive integer, "
                f"got {options[k]!r}"
            )
    snap = {k: v for k, v in options.items() if k in SNAPSHOT_OPTS}
    opts = {k: v for k, v in options.items() if k in JVM_WRITE_OPTS}
    not_null = [
        c.strip()
        for c in str(options.get("require_not_null", "")).split(",")
        if c.strip()
    ]
    return snap, opts, not_null


def write(df, path: str, mode: str = "overwrite", partition_by=None,
          **options) -> str:
    """Unified quiver BATCH sink, the write-side twin of ``scan``: every
    quiver table write the package makes goes through it. The quiverjvm
    writer (the Java DataSourceV2 bulk writer; rows stay in the JVM)
    writes the files, and ``write`` returns ``"quiverjvm"``.

    Options: JVM_WRITE_OPTS go to the writer (``codec`` defaults to
    lz4); SNAPSHOT_OPTS go to the commit; ``require_not_null`` (comma
    list of columns) is checked in the plan with the destination's CHECK
    constraints (``_checked``). Five things raise ValueError or
    RuntimeError before any job runs and before a stage exists: any
    other option, a ``max_page_size`` or ``max_rows_per_file`` that is
    not a positive integer, a column named ``_quiver_file`` (the
    reader's file metadata column), a column the writer cannot encode
    (``jvm.supports_schema``; e.g. a NULL-typed column — cast it), and
    a jar that does not attach to the session.

    The job appends the rows into a hidden ``_temporary/jvm-<uuid>/``
    directory, and this process publishes the files through
    ``snapshot.commit`` under the table lock. The commit is a generation
    swap when the mode is overwrite and, under the lock, the directory
    holds anything or the write names any of SNAPSHOT_OPTS
    (keep_generations, carry_files/carry_src, pointer_store): a failed
    or self-reading overwrite leaves the old snapshot live. Otherwise it
    is an append into the live root, so a first write into a new or
    empty directory makes a flat table. A commit that leaves the table
    without a data file adds one empty file holding the data columns
    (Hive keys ride the path). A failed job or a refused commit removes
    its staging directory and publishes nothing; a killed process
    leaves it to ``maintenance.vacuum``.

    ``partition_by`` (list/tuple or comma string) is the Hive fan-out:
    ``.partitionBy(...)`` on the JVM writer.
    """
    import json
    import shutil
    import uuid

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from quiver_spark.jvm import attach_jar, supports_schema

    from .pointer_store import store_from_option
    from .quiver_datasource import write_placeholder

    register(df.sparkSession)
    if mode not in ("append", "overwrite"):
        raise ValueError(
            f"unified quiver write supports mode='append'|'overwrite', "
            f"got {mode!r}"
        )
    snap, opts, not_null = _write_options(options)
    missing = [c for c in not_null if c not in df.columns]
    if missing:
        raise ValueError(
            f"require_not_null column {missing[0]!r} is not in the "
            f"written schema {df.columns}"
        )
    if META_FILE_COL in df.columns:
        raise ValueError(
            f"a quiver table cannot hold a column named {META_FILE_COL!r}: "
            "it would hide the quiverjvm reader's file metadata column; "
            "rename it (an existing table: quiver_spark.maintenance."
            "rename_column)"
        )
    refused = [
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not supports_schema(StructType([f]))
    ]
    if refused:
        raise ValueError(
            f"the quiverjvm writer cannot encode the column(s) {refused}; "
            "cast them to a supported type (a NULL-typed column: "
            "CAST(NULL AS <type>))"
        )
    if not attach_jar(df.sparkSession):
        raise RuntimeError(
            "the quiverjvm writer jar does not attach to this session; "
            "build it with quiver_spark/jvm/build.sh"
        )
    cols = (
        [c.strip() for c in partition_by.split(",")]
        if isinstance(partition_by, str)
        else list(partition_by or ())
    )
    constraints = _constraints(path)
    if constraints or not_null:
        df = _checked(df, constraints, not_null)
    writer = df.write.format("quiverjvm").options(codec="lz4", manifest="false")
    if cols:
        writer = writer.partitionBy(*cols)
    for k, v in opts.items():
        writer = writer.option(k, str(v))
    table = _local_dir(path)
    stage = os.path.join(table, snapshot.STAGING_DIR, f"jvm-{uuid.uuid4().hex}")
    try:
        writer.mode("append").save(stage)
        rels = [
            os.path.relpath(f, stage)
            for f in snapshot.list_files(stage, "*.quiver")
        ]
        snapshot.commit(
            table,
            ("*.quiver",),
            overwrite=mode == "overwrite",
            flat_if_empty=not snap,
            staged=[(stage, rels)],
            fmt="quiver",
            carry_src=snap.get("carry_src"),
            carry=json.loads(snap.get("carry_files") or "[]"),
            keep=int(snap.get("keep_generations", "1")),
            store=store_from_option(snap.get("pointer_store")),
        )
    except Exception:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    finally:
        # day-old attempts, and the staging root once it is empty
        snapshot.sweep_stale_staging(table)
    if not rels:  # published files leave the snapshot non-empty
        write_placeholder(table, to_arrow_schema(df.drop(*cols).schema))
    return "quiverjvm"


def _append_batch(path: str, options):
    """The ``foreachBatch`` function of a routed stream: each micro-batch
    is one ``write(..., mode="append")``, run once per batch id (the
    ``_quiver_commits/<batchId>`` marker, ``snapshot.publish_once``)."""

    def run(batch, batch_id):
        snapshot.publish_once(
            _local_dir(path),
            batch_id,
            lambda: write(batch, path, mode="append", **options),
        )

    return run


def stream_writer(df, path: str, partition_by=None, **options):
    """Unified quiver streaming SINK — the write-side twin of ``scan``:
    returns a configured ``DataStreamWriter`` (caller adds trigger +
    checkpointLocation and ``.start()``s). A stream only appends; it is
    the one way to stream into a quiver table (the ``quiver`` and
    ``quiverjvm`` formats have no streaming write).

    Each micro-batch is one ``write(batch, path, mode="append",
    **options)`` (``foreachBatch``), so a stream gets what a batch append
    gets: the quiverjvm writer, lz4 by default, the CHECK and
    ``require_not_null`` checks, and one ``snapshot.commit`` under the
    table lock. ``partition_by`` is ``write``'s Hive fan-out. An option
    ``write`` does not take raises here, before the stream starts. The
    ``_quiver_commits/<batchId>`` marker log publishes a batch Spark
    replays after a restart once."""
    _write_options(options)
    register(df.sparkSession)
    return df.writeStream.foreachBatch(
        _append_batch(path, dict(options, partition_by=partition_by))
    )
