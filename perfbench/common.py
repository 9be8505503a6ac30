"""Shared plumbing: the run's scratch directory, process environment, Spark
session set-up, the closed loop, statistics and the result line."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: QUIVER_* variables the benchmark may set: session sizing only.
SIZING_ENV = ("QUIVER_DRIVER_MEMORY",)


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (no engine source, no jar)."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def check_checkout() -> None:
    """Refuse to run without the engine's source next to the benchmark."""
    pkg = ROOT / "quiver_spark"
    if not (pkg / "__init__.py").is_file():
        raise SetupError(f"engine package not found under {ROOT}")
    if not (pkg / "jvm" / "quiver-jvm-writer.jar").is_file():
        raise SetupError("quiverjvm jar not found in the checkout")


def make_workdir() -> Path:
    """A fresh scratch directory inside the checkout, removed by the caller."""
    base = ROOT / ".perfbench_work"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    return work


def configure_env(work: Path, driver_memory: str = "2g") -> None:
    """Point every temporary file of this process, its Python workers and
    the JVM into ``work``; size the session for this host.  Must run before
    the JVM starts."""
    for k in [k for k in os.environ if k.startswith("QUIVER_")]:
        if k not in SIZING_ENV:
            del os.environ[k]
    tmp = str(work / "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["QUIVER_DRIVER_MEMORY"] = driver_memory
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


# -- Spark session ---------------------------------------------------------

@dataclass
class Session:
    spark: object
    #: the set-up's phases in seconds: total, start, attach, warm
    setup: dict
    #: SQL confs right after set-up, the baseline of session.conf_changes
    confs0: dict


def _ship_package(spark, work: Path) -> None:
    """Ship the engine package to Python workers from inside the checkout.

    ``sources.ship_package`` zips the package into ``/tmp``; the benchmark
    may only write inside its checkout, so it ships the same zip (every
    ``.py`` file of the package) from its scratch directory and marks the
    session as shipped.  Workers see the same code either way."""
    import zipfile

    from quiver_spark.sources import quiver_datasource as qd

    zip_path = work / "tmp" / "perfbench_pkg.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for p in sorted((ROOT / "quiver_spark").rglob("*.py")):
            zf.write(p, p.relative_to(ROOT).as_posix())
    spark.sparkContext.addPyFile(str(zip_path))
    qd._SHIPPED_SESSIONS.add(id(spark))


def start_session(work: Path) -> Session:
    """The set-up, cold: import the engine, launch the JVM through
    ``get_spark``, attach the jar, ship the package and run a warm-up job.
    A set-up costs 7 to 19 s on a 4-core host, so a run makes one."""
    t0 = time.perf_counter()
    from quiver_spark.jvm import attach_jar
    from quiver_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    if not attach_jar(spark):
        raise SetupError("quiverjvm jar did not attach")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    _ship_package(spark, work)
    spark.range(0, 100_000, numPartitions=nproc()).selectExpr("sum(id)").collect()
    t3 = time.perf_counter()
    rec = {"total": t3 - t0, "start": t1 - t0, "attach": t2 - t1, "warm": t3 - t2}
    return Session(spark, rec, dict(spark.conf.getAll))


def stop_session(sess: Session) -> None:
    """Stop the session, then the JVM it ran in, and wait for the JVM to
    exit (its Python worker daemons exit with it)."""
    from pyspark import SparkContext

    sess.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# -- measurement -----------------------------------------------------------

def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


@dataclass
class Op:
    """One operation of a workload's closed loop."""

    kind: str
    args: dict = field(default_factory=dict)


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    read_bytes: int = 0
    write_bytes: int = 0
    info: dict = field(default_factory=dict)
    #: seconds of the same operation on Parquet, timed beside it; 0 when
    #: the run has no baseline
    base_seconds: float = 0.0


def timed_pair(program, baseline=None, base_first: bool = False):
    """Time ``program()`` and, when given, ``baseline()`` (the same
    operation through Parquet) right before or right after it.  Returns the
    program's output and seconds, then the baseline's (None and 0.0 without
    one).  An exception from either propagates."""
    calls = [program] if baseline is None else (
        [baseline, program] if base_first else [program, baseline])
    out = []
    for fn in calls:
        t0 = time.perf_counter()
        val = fn()
        out.append((val, time.perf_counter() - t0))
    if baseline is None:
        return out[0] + (None, 0.0)
    if base_first:
        out.reverse()
    return out[0] + out[1]


def n_decks(workload, seconds: float) -> int:
    """Whole decks that fill about ``seconds`` at the workload's nominal
    deck time on this host.  The count depends on ``seconds`` only, never
    on how fast a run happens to go, so every run has the same mix."""
    return max(1, round(seconds / workload.deck_seconds))


def closed_loop(workload, decks: int, limit: int | None = None,
                baseline: bool = False) -> tuple[list[OpResult], float]:
    """Run ``decks`` whole decks of operations one at a time (or exactly
    ``limit`` operations).  Returns the results and the timed wall time.
    A deck holds every operation type of the workload in seeded order.
    With ``baseline`` each operation is also run through Parquet, every
    other time before the program's run and every other time after it."""
    results: list[OpResult] = []
    t_start = time.perf_counter()
    deck_no = 0
    while limit is not None or deck_no < decks:
        for op in workload.deck(deck_no):
            if limit is not None and len(results) >= limit:
                return results, time.perf_counter() - t_start
            if baseline:
                results.append(workload.run_op(op, baseline=True, base_first=len(results) % 2 == 1))
            else:
                results.append(workload.run_op(op))
        deck_no += 1
    return results, time.perf_counter() - t_start


def kind_summary(results: list[OpResult]) -> str:
    """Median latency per operation type, and on Parquet, for the log."""
    kinds: dict[str, list[OpResult]] = {}
    for r in results:
        kinds.setdefault(r.kind, []).append(r)
    return ", ".join(
        f"{k} {median(r.seconds * 1000.0 for r in v):.0f}ms"
        f"/{median(r.base_seconds * 1000.0 for r in v):.0f}ms x{len(v)}"
        for k, v in sorted(kinds.items()))


def latency_metrics(results: list[OpResult], wall: float) -> dict:
    ms = [r.seconds * 1000.0 for r in results]
    return {
        "op_p50_ms": (median(ms), "ms"),
        "op_p90_ms": (percentile(ms, 0.9), "ms"),
        "ops_per_s": (len(results) / wall if wall > 0 else 0.0, "1/s"),
    }


def relative_metrics(results: list[OpResult]) -> dict:
    """Latency relative to Parquet: each operation's time divided by the
    time of the same operation through Parquet, timed right beside it, so a
    change of the whole host's speed cancels out."""
    paired = [r for r in results if r.ok and r.base_seconds > 0]
    ratios = [r.seconds / r.base_seconds for r in paired]
    return {
        "op_p50_vs_parquet": (median(ratios), "ratio"),
        "time_vs_parquet": (sum(r.seconds for r in paired)
                            / max(sum(r.base_seconds for r in paired), 1e-9), "ratio"),
    }


def workload_metrics(results: list[OpResult], dml_kinds=()) -> dict:
    """Figures that read 0 on some workloads, so they are per-layer: Arrow
    bytes of rows read or written per second of the operations that read
    or wrote them, the median DML latency and the failed share."""
    rd = [r for r in results if r.read_bytes]
    wr = [r for r in results if r.write_bytes]
    dml = [r.seconds * 1000.0 for r in results if r.kind in dml_kinds]
    failed = sum(1 for r in results if not r.ok)
    return {
        "read_mb_per_s": (
            sum(r.read_bytes for r in rd) / 1e6 / sum(r.seconds for r in rd) if rd else 0.0, "MB/s"),
        "write_mb_per_s": (
            sum(r.write_bytes for r in wr) / 1e6 / sum(r.seconds for r in wr) if wr else 0.0, "MB/s"),
        "dml_p50_ms": (median(dml), "ms"),
        "failed_op_share": (failed / len(results) if results else 0.0, "ratio"),
    }


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result line: the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
