"""The program writes quiver tables through one writer: ``sources.write``
(batch) and ``sources.stream_writer`` (streams), both on the quiverjvm
writer. A ``DataFrameWriter`` ``.format("quiver")`` appears nowhere in
``quiver_spark/``, ``bench.py`` or ``examples/`` (the format has no
batch write), and neither does a ``.writeStream … .format("quiver")``
(nor a streaming write). Every module is parsed with ``ast``, so the
check needs no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


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


def _program_modules() -> list[Path]:
    return sorted(
        [*(REPO / "quiver_spark").rglob("*.py"),
         *(REPO / "examples").rglob("*.py"),
         REPO / "bench.py"]
    )


def _program_writes(kind: str) -> dict[str, list[int]]:
    modules = _program_modules()
    assert len(modules) > 2
    out = {}
    for p in modules:
        lines = [line for k, line in _quiver_writes(p) if k == kind]
        if lines:
            out[p.relative_to(REPO).as_posix()] = lines
    return out


def test_no_batch_quiver_sink():
    batch = _program_writes("batch")
    assert batch == {}, (
        "write quiver tables through quiver_spark.sources.write "
        f"(module: lines): {batch}"
    )


def test_no_quiver_stream_sink():
    stream = _program_writes("stream")
    assert stream == {}, (
        "stream into quiver tables through quiver_spark.sources."
        f"stream_writer (module: lines): {stream}"
    )


def test_guard_sees_each_shape():
    """The classifier itself: reads pass; batch and stream writes, and a
    writer held in a variable, are found; the scan covers the package,
    the examples and the benchmark."""
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
    names = {p.relative_to(REPO).as_posix() for p in _program_modules()}
    assert {"bench.py", "quiver_spark/sources/__init__.py"} <= names
    assert any(n.startswith("examples/") for n in names)
