"""CLI inspection utilities: inspect / stat / verify / head over a real
written file, plus verify's corrupt-file and missing-file behavior. Pure
pyarrow — no Spark session needed."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pytest

from quiver_spark import sources
from quiver_spark import tools
from quiver_spark.format.writer import WriteOptions, write_table


@pytest.fixture(scope="module")
def sample(tmp_path_factory):
    rng = np.random.default_rng(11)
    n = 3000
    t = pa.table(
        {
            "k": pa.array(rng.integers(0, 1000, n), pa.int64()),
            "s": pa.array([f"s{v}" for v in rng.integers(0, 30, n)]),
            "f": pa.array(rng.normal(size=n)),
            "lst": pa.array(
                [[int(v)] * int(v % 3) for v in rng.integers(0, 5, n)],
                pa.list_(pa.int64()),
            ),
        }
    )
    path = str(tmp_path_factory.mktemp("tools") / "t.quiver")
    write_table(t, path, WriteOptions(max_page_size=512))
    return t, path


def test_inspect(sample):
    t, path = sample
    out = tools.cmd_inspect(path)
    assert out["rows"] == t.num_rows
    assert [c["name"] for c in out["columns"]] == t.schema.names
    lst = next(c for c in out["columns"] if c["name"] == "lst")
    assert lst["leaves"] == 1 and lst["pages"] == 6  # ceil(3000/512)
    assert out["sidecar"]["present"] and out["sidecar"]["page_crc32"]
    assert sum(c["compressed_bytes"] for c in out["columns"]) <= out["file_bytes"]


def test_stat_names_codecs(sample):
    _t, path = sample
    s = tools.cmd_stat(path)
    assert "k:" in s and "6 pages" in s
    # every reported codec must be a known name (no "codecNN" fallbacks)
    assert "codec" not in s.replace("codec(", "")


def test_verify_healthy_and_corrupt(sample, tmp_path):
    import shutil

    from quiver_spark.format.stats import STATS_SUFFIX

    _t, path = sample
    ok = tools.cmd_verify(path)
    assert ok["ok"] and ok["rows"] == 3000 and ok["crc_checked"]
    # flip a byte mid-file → the sidecar CRCs must flag it (copy the
    # sidecar too: without one, only structural failures are detectable —
    # that's the documented no-sidecar read behavior, not integrity)
    data = bytearray(open(path, "rb").read())
    data[len(data) // 3] ^= 0xFF
    bad = str(tmp_path / "bad.quiver")
    open(bad, "wb").write(bytes(data))
    shutil.copy(path + STATS_SUFFIX, bad + STATS_SUFFIX)
    out = tools.cmd_verify(bad)
    assert not out["ok"] and out["error"]


def test_verify_missing_file():
    out = tools.cmd_verify("/nonexistent/nope.quiver")
    assert not out["ok"]


def test_head_reads_only_leading_pages(sample):
    t, path = sample
    rows = tools.cmd_head(path, 7)
    assert len(rows) == 7
    assert rows == t.slice(0, 7).to_pylist()


def test_cli_main(sample, capsys):
    _t, path = sample
    assert tools.main(["inspect", path]) == 0
    parsed = json.loads(capsys.readouterr().out)
    assert parsed["rows"] == 3000
    assert tools.main(["verify", path]) == 0
    capsys.readouterr()
    assert tools.main(["head", path, "-n", "3"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 3


def test_cli_verify_directory(tmp_path):
    """`verify <dir>` sweeps every file (Hive layouts included) and fails
    the exit code if any file is corrupt."""
    import json as _json
    import subprocess
    import sys

    import pyarrow as pa

    from quiver_spark.format.writer import WriteOptions, write_table

    d = tmp_path / "tbl"
    (d / "lang=en").mkdir(parents=True)
    for i, sub in enumerate(["lang=en/a.quiver", "b.quiver"]):
        write_table(
            pa.table({"x": pa.array(range(10 * (i + 1)), pa.int64())}),
            str(d / sub),
            WriteOptions(),
        )
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "verify", str(d)],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    out = _json.loads(r.stdout)
    assert out["ok"] and out["files"] == 2 and out["rows"] == 30

    # corrupt one file -> nonzero exit, file named
    f = d / "b.quiver"
    raw = bytearray(f.read_bytes())
    raw[len(raw) // 2] ^= 0xFF
    f.write_bytes(bytes(raw))
    r2 = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "verify", str(d)],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r2.returncode == 1
    out2 = _json.loads(r2.stdout)
    assert not out2["ok"] and str(f) in out2["failed"]


def test_cli_generations(spark, tmp_path):
    """`generations <dir>` reports retained snapshots, the live pointer,
    and per-generation file/row counts."""
    import json as _json
    import subprocess
    import sys

    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "gtable")
    sources.write(spark.range(10), out, keep_generations="1")
    sources.write(spark.range(25), out, keep_generations="2")
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "generations", out],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    o = _json.loads(r.stdout)
    assert o["current"] == "gen-000002"
    by_name = {g["generation"]: g for g in o["generations"]}
    assert by_name["gen-000001"]["rows"] == 10
    assert by_name["gen-000002"]["rows"] == 25 and by_name["gen-000002"]["live"]


def test_clone_cli(spark, tmp_path):
    """`python -m quiver_spark clone SRC DST` hard-link-clones a table."""
    import os
    import subprocess
    import sys as _sys

    from quiver_spark.sources import register

    register(spark)
    src = str(tmp_path / "src")
    sources.write(spark.range(30), src)
    dst = str(tmp_path / "dst")
    env = dict(os.environ, PYTHONPATH="/root/repo")
    r = subprocess.run(
        [_sys.executable, "-m", "quiver_spark", "clone", src, dst],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    assert r.returncode == 0, r.stderr
    assert json.loads(r.stdout)["files_linked"] >= 1
    assert spark.read.format("quiver").load(dst).count() == 30


def test_cli_commits(spark, tmp_path):
    """`commits <dir>` reports the manifest commit sequence with
    per-commit file/row counts — the incremental-scan cursor surface."""
    import json as _json
    import subprocess
    import sys

    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "ctable")
    sources.write(spark.range(10), out)
    sources.write(spark.range(10, 15), out, mode="append")
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "commits", out],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    o = _json.loads(r.stdout)
    assert o["current_commit"] == 2
    by_commit = {c["commit"]: c for c in o["commits"]}
    assert by_commit[1]["rows"] == 10
    assert by_commit[2]["rows"] == 5
    assert o["unvouched_files"] == 0


def test_cli_commits_arrow(spark, tmp_path):
    """Review pin: the commits view covers BOTH table formats."""
    import json as _json
    import subprocess
    import sys

    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "catable")
    spark.range(7).write.format("arrowipc").mode("overwrite").save(out)
    spark.range(7, 10).write.format("arrowipc").mode("append").save(out)
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "commits", out],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    o = _json.loads(r.stdout)
    assert o["current_commit"] == 2
    by_commit = {c["commit"]: c for c in o["commits"]}
    assert by_commit[1]["rows"] == 7
    assert by_commit[2]["rows"] == 3
    assert o["unvouched_files"] == 0


def test_cli_changes(spark, tmp_path):
    """`changes <dir> --since N` lists exactly the files an incremental
    scan would plan, with commit stamps and row counts."""
    import json as _json
    import subprocess
    import sys

    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "chtable")
    sources.write(spark.range(10), out)
    sources.write(spark.range(10, 14), out, mode="append")
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "changes", out,
         "--since", "1"],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    assert r.returncode == 0, r.stderr
    o = _json.loads(r.stdout)
    assert o["since_commit"] == 1 and o["current_commit"] == 2
    assert all(e["commit"] == 2 for e in o["changed_files"])
    assert o["total_rows"] == 4
    # --since at head: nothing
    r2 = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "changes", out,
         "--since", "2"],
        capture_output=True, text=True, cwd="/tmp",
        env={"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"},
    )
    o2 = _json.loads(r2.stdout)
    assert o2["changed_files"] == [] and o2["total_rows"] == 0


def test_cli_doctor(spark, tmp_path):
    """`quiver-tools doctor` aggregates manifest verify + generations +
    schema/constraints + stats staleness + commit tail; --deep decodes
    every page. Healthy table → ok true / exit 0; a corrupted file →
    deep verify fails / exit 1."""
    import json as _json
    import subprocess
    import sys

    from quiver_spark.sources import register

    register(spark)
    out = str(tmp_path / "doctable")
    sources.write(spark.range(100), out)
    sources.write(spark.range(100, 120), out, mode="append")
    env = {"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin"}
    r = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "doctor", out, "--deep"],
        capture_output=True, text=True, cwd="/tmp", env=env,
    )
    assert r.returncode == 0, r.stderr
    o = _json.loads(r.stdout)
    assert o["ok"] is True
    assert o["manifest"]["present"] and o["manifest"]["ok"]
    assert o["deep_verify"]["ok"] and o["deep_verify"]["rows"] == 120
    assert o["commits"]["total"] >= 2
    assert o["columns"] == 1

    # corrupt one data file mid-body: metadata stays fine, deep fails
    import glob as _glob
    import os as _os

    victim = _glob.glob(_os.path.join(out, "**", "*.quiver"), recursive=True)[0]
    with open(victim, "r+b") as f:
        f.seek(40)
        f.write(b"\xde\xad\xbe\xef")
    r2 = subprocess.run(
        [sys.executable, "-m", "quiver_spark", "doctor", out, "--deep"],
        capture_output=True, text=True, cwd="/tmp", env=env,
    )
    assert r2.returncode == 1
    o2 = _json.loads(r2.stdout)
    assert o2["ok"] is False and not o2["deep_verify"]["ok"]
