"""The program writes quiver tables through one writer: ``sources.write``
(batch) and ``sources.stream_writer`` (streams), both on the quiverjvm
writer. A ``DataFrameWriter`` ``.format("quiver")`` (the Python sink)
appears only in ``operators/format_queries_jvm.py``, whose fixtures are
the reference files the Java reader is checked against, and a
``.writeStream … .format("quiver")`` appears nowhere (the format has no
streaming write). Every module under ``quiver_spark/`` is parsed with
``ast``, so the check needs no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "quiver_spark"
REFERENCE_WRITER = "quiver_spark/operators/format_queries_jvm.py"


def _receiver_names(node: ast.AST) -> set[str]:
    """Attribute and variable names along a call chain's receiver, e.g.
    ``{"df", "write", "mode"}`` for ``df.write.mode("x")``."""
    names: set[str] = set()
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
            node = node.value
        elif isinstance(node, ast.Subscript):
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.add(node.id)
            return names


def _quiver_writes(path: Path) -> list[tuple[str, int]]:
    """``(kind, line)`` of every ``.format("quiver")`` call whose receiver
    is not a reader: ``"stream"`` on a ``writeStream`` chain, else
    ``"batch"`` (a ``write`` chain, or a receiver this check cannot
    place, which counts as a write)."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "quiver"
        ):
            continue
        names = _receiver_names(node.func.value)
        if "writeStream" in names:
            found.append(("stream", node.lineno))
        elif "write" in names or not names & {"read", "readStream"}:
            found.append(("batch", node.lineno))
    return sorted(found, key=lambda kl: kl[1])


def _program_writes() -> dict[str, list[tuple[str, int]]]:
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    return {
        p.relative_to(PACKAGE.parent).as_posix(): hits
        for p in modules
        if (hits := _quiver_writes(p))
    }


def test_batch_quiver_sink_only_in_reference_fixtures():
    batch = {
        mod: [line for kind, line in hits if kind == "batch"]
        for mod, hits in _program_writes().items()
        if mod != REFERENCE_WRITER
    }
    assert {m: ls for m, ls in batch.items() if ls} == {}, (
        "write quiver tables through quiver_spark.sources.write "
        f"(module: lines): {batch}"
    )


def test_no_quiver_stream_sink():
    stream = {
        mod: [line for kind, line in hits if kind == "stream"]
        for mod, hits in _program_writes().items()
    }
    assert {m: ls for m, ls in stream.items() if ls} == {}, (
        "stream into quiver tables through quiver_spark.sources."
        f"stream_writer (module: lines): {stream}"
    )


def test_guard_sees_each_shape():
    """The classifier itself: reads pass; batch and stream writes, and a
    writer held in a variable, are found."""
    import tempfile

    src = '''
spark.read.format("quiver").load(p)
spark.readStream.format("quiver").load(p)
df.write.format("quiver").save(p)
df.coalesce(1).write.mode("overwrite").format("quiver").save(p)
df.writeStream.format("quiver").start(p)
w.format("quiver")
'''
    with tempfile.TemporaryDirectory() as d:
        p = Path(d) / "m.py"
        p.write_text(src)
        assert _quiver_writes(p) == [
            ("batch", 4), ("batch", 5), ("stream", 6), ("batch", 7)
        ]
    assert _program_writes()[REFERENCE_WRITER]
