"""JVM-side quiver DataSource ("quiverjvm") — the native fast lane.

Write side: a Python sink's pure-write cost is structural — rows cross
the JVM→Python Arrow boundary before a single page is encoded
(BASELINE.md round-7 write-floor proof: a NO-OP Python Arrow sink costs
the same as the full quiver write). The Java DataSourceV2 writer keeps
rows in the JVM: columnar buffers → quiver files (the COMPLETE adaptive
cascade since round 11 — OneValue/RLE/Dict/Bitpacking/DeltaBitpacking/
Freq/Patas over none/lz4/zstd blocks, the Python chooser's eligibility
rules — storage parity with the Python adaptive writer), byte-compatible with the Python reader — 0.69-0.80x
parquet wall at sf0.1 vs the former Python sink's 1.4-2.8x.

Read side: QuiverJvmRead/QuiverPageDecoder decode the FULL adaptive
codec surface into ColumnarBatches with no JVM→Python boundary and no
planner-process spawn — sf0.1 battery: full scan 0.19x, narrow 0.27x,
manyfiles 0.39x of the parquet control (the Python DS floor was
1.4-2.2x on the same fixtures).

Division of labor: the JVM reader serves flat and nested schemas over
plain, generation and Hive layouts, ALTER-DDL tables, column defaults,
time travel (``version``), CDC (``changes_since``), ``files`` subsets and
``merge_schemas``, with manifest planning and zone-map + bloom pruning.
It serves every ``sources.scan``; its guards refuse what it cannot read
(half floats, decimal256, files whose columns differ without
``merge_schemas``, …) at plan time, each naming the remedy, and the scan
raises. The JVM writer
takes every batch write ``sources.write`` makes: the job writes files
and sidecars into a staging directory (``_temporary/jvm-<uuid>/``), and
``sources.write`` publishes them through ``snapshot.commit`` under the
table lock — an append into the live root, or an atomic generation
swap. ``sources.write`` checks CHECK constraints and ``require_not_null``
in the plan (named directly, the write builders refuse a CHECK-
constrained table) and refuses, before any job, an option or a column
type this writer does not take. Streams reach it the same way:
``sources.stream_writer`` runs each micro-batch through
``sources.write``; the format has no streaming write. A write that names
``format("quiverjvm")`` itself commits on its own only as a plain append
(each task publishes its own files, the job commit merges the manifest
without the lock); it refuses an overwrite of a directory that holds
anything, before any task runs.

The jar builds OFFLINE with plain javac against the bundled Spark jars
(build.sh — no network, no dependency resolution) and is checked in so
driver-owned sessions need no toolchain at run time.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import weakref

_JVM_DIR = os.path.dirname(os.path.abspath(__file__))
JAR_PATH = os.path.join(_JVM_DIR, "quiver-jvm-writer.jar")

#: Spark types the Java writer handles (mirrors QuiverDataWriterFactory).
_SUPPORTED_TYPES = {
    "long", "int", "integer", "short", "byte", "double", "float",
    "string", "binary", "boolean", "date", "timestamp", "timestamp_ntz",
}


def jar_path() -> str | None:
    """Path of the built writer jar, or None when absent."""
    return JAR_PATH if os.path.exists(JAR_PATH) else None


def ensure_jar(build: bool = True) -> str | None:
    """Return the jar path, building it with javac when missing.

    Returns None when the jar is absent and cannot be built (no javac in
    the environment); ``sources.write`` and ``sources.scan`` then raise,
    naming ``build.sh``.
    """
    if os.path.exists(JAR_PATH):
        return JAR_PATH
    if not build or shutil.which("javac") is None:
        return None
    try:
        subprocess.run(
            ["bash", os.path.join(_JVM_DIR, "build.sh")],
            check=True,
            capture_output=True,
            timeout=300,
        )
    except (subprocess.SubprocessError, OSError):
        return None
    return JAR_PATH if os.path.exists(JAR_PATH) else None


def source_fingerprint() -> str:
    """SHA-256 over the ``.java`` sources (jvm-dir-relative path + bytes),
    exactly as build.sh embeds it into the jar at
    ``io/quiverspark/source-fingerprint.txt``. The staleness pin
    (tests/test_jvm_reader.py) recomputes this and asserts it equals the
    jar's copy, so a source-ahead-of-binary commit fails loudly instead
    of surfacing as a missing-method Py4JError (VERDICT r10 item 1)."""
    import hashlib
    import pathlib

    h = hashlib.sha256()
    root = pathlib.Path(_JVM_DIR)
    for p in sorted(root.joinpath("src").rglob("*.java")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def jar_fingerprint() -> str | None:
    """The fingerprint baked into the built jar, or None when the jar is
    absent or predates the pin."""
    import zipfile

    if not os.path.exists(JAR_PATH):
        return None
    try:
        with zipfile.ZipFile(JAR_PATH) as z:
            return z.read("io/quiverspark/source-fingerprint.txt").decode().strip()
    except (KeyError, OSError, zipfile.BadZipFile):
        return None


def supports_schema(schema) -> bool:
    """True when every field is a type the JVM writer encodes: flat
    primitives, string/binary, decimal ≤38, date/timestamp — and, since
    round 12, arbitrary list/struct/map compositions of them (the
    QuiverNestedWrite Dremel shredder)."""

    def ok(t) -> bool:
        name = t.typeName()
        if name in ("decimal",):
            return True
        if name in ("array",):
            return ok(t.elementType)
        if name in ("map",):
            return ok(t.keyType) and ok(t.valueType)
        if name in ("struct",):
            return all(ok(f.dataType) for f in t.fields)
        return name in _SUPPORTED_TYPES

    return all(ok(f.dataType) for f in schema.fields)


def session_has_jar(spark) -> bool:
    """Best-effort: was the writer jar on this session's classpath at JVM
    start? (spark.jars is static.) Sessions WITHOUT it can still gain the
    DataSource at runtime — see :func:`attach_jar`."""
    try:
        jars = spark.conf.get("spark.jars", "") or ""
    except Exception:
        return False
    return "quiver-jvm-writer.jar" in jars


def _resolves(spark) -> bool:
    """Does 'quiverjvm' resolve to the Java provider in THIS session?
    Probes Spark's own lookup (DataSource.lookupDataSource consults the
    session's resource-loader chain, which ADD JAR extends) instead of
    guessing from configs."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "quiverjvm", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


#: sessions in which quiverjvm resolved (weak: a stopped session's
#: object can go, and a new session never inherits its entry)
_ATTACHED = weakref.WeakSet()


def attach_jar(spark) -> bool:
    """Make the quiverjvm DataSource resolvable in THIS session; True on
    verified success.

    ``spark.jars`` is static, but a runtime ``ADD JAR`` lands in the
    session's shared-state jar classloader, which DataSourceV2 lookup
    consults — so even driver-owned plain sessions (the correctness gate)
    can use the JVM fast path. Idempotent; resolution is verified, never
    assumed, and failure degrades to False (``sources.scan`` and
    ``sources.write`` then raise). A verified success is remembered per session (the
    lookup is a py4j round trip on every scan and write); a failure is
    not, so a later call probes again."""
    if spark in _ATTACHED:
        return True
    if not _resolves(spark):
        p = ensure_jar(build=False)
        if p is None:
            return False
        try:
            spark.sql("ADD JAR '{}'".format(p.replace("'", "\\'")))
        except Exception:
            return False
        if not _resolves(spark):
            return False
    _ATTACHED.add(spark)
    return True
