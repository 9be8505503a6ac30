"""The traced run: spans around the engine's public calls, Spark counters per
operation, and the per-layer metrics built from them.

Spans are recorded by thin wrappers the benchmark installs in its own
process, around the public functions it or the registry calls.  Each span
has a name, start, end, parent and operation id; spans stay in memory and
are reduced when the run ends.  A span's self time is its duration minus
the time its child spans cover.  Module-level aliases of a wrapped
function (``from x import f`` at import time) are rebound too, and the
number rebound is reported, so a caller that bypasses a wrapper shows up
instead of reading as zero.

Spark counters come per operation from a job group the benchmark sets,
read from the status stores after the loop.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

import common
from common import log

#: (module, attribute, span name) of every wrapped public call
TARGETS = (
    ("quiver_spark.session", "get_spark", "session.get_spark"),
    ("quiver_spark.jvm", "attach_jar", "jvm.attach_jar"),
    ("quiver_spark.tables", "load", "tables.load"),
    ("quiver_spark.sources", "scan", "sources.scan"),
    ("quiver_spark.sources", "try_jvm_scan", "sources.try_jvm_scan"),
    ("quiver_spark.sources", "write", "sources.write"),
    ("quiver_spark.sources.manifest", "load_manifest", "sources.manifest.load_manifest"),
    ("quiver_spark.maintenance", "compact", "maintenance.compact"),
    ("quiver_spark.maintenance", "delete_where", "maintenance.delete_where"),
    ("quiver_spark.maintenance", "merge_upsert", "maintenance.merge_upsert"),
    ("quiver_spark.format.writer", "write_table", "format.writer.write_table"),
    ("quiver_spark.format.reader", "read_table", "format.reader.read_table"),
)
#: spans the workloads open themselves (registry builder and timed action)
OWN_SPANS = ("operators.build", "operators.exec")
#: spans whose Spark jobs are counted while they are open
JOB_SPANS = ("tables.load", "operators.build")
SPAN_NAMES = ("op",) + tuple(t[2] for t in TARGETS) + OWN_SPANS


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int
    op: int
    jobs: int = 0
    result: object = None


class Tracer:
    def __init__(self, jobs_now=None):
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op = -1
        self.jobs_now = jobs_now
        self._undo: list[tuple[object, str, object]] = []
        self.rebound: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else -1
        rec = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        jobs0 = self.jobs_now() if self.jobs_now and name in JOB_SPANS else None
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self.stack.pop()
            if jobs0 is not None:
                rec.jobs = self.jobs_now() - jobs0

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                rec.result = _summary(name, out)
                return out

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            self._set(mod, attr, wrapped)
            # aliases bound at import time in the engine's other modules
            for other_name, other in list(sys.modules.items()):
                if other is mod or not other_name.startswith("quiver_spark"):
                    continue
                for k, v in list(vars(other).items()):
                    if v is orig:
                        self._set(other, k, wrapped)
                        self.rebound.append(f"{other_name}.{k}")
        if self.rebound:
            log(f"trace: rebound {len(self.rebound)} import-time aliases: {', '.join(self.rebound)}")

    def _set(self, obj, attr: str, value) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def uninstall(self) -> None:
        for obj, attr, value in reversed(self._undo):
            setattr(obj, attr, value)
        self._undo.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.end - s.start
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return out


def _summary(name: str, out):
    if name == "sources.write":
        return out  # the engine name the router chose
    if name == "sources.try_jvm_scan":
        return out is not None
    return None


def span(tracer: Tracer | None, name: str):
    """A span when tracing, else nothing."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# -- Spark status stores -----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "data sent to Python workers": "pyboundary.bytes_to_python",
    "data returned from Python workers": "pyboundary.bytes_from_python",
    "time to start Python workers": "pyboundary.worker_boot_s",
    "time to run Python workers": "pyboundary.worker_run_s",
}


def parse_sql_metric(text: str) -> float:
    """A formatted SQL metric ("1.2 MiB", "total (...)\\n9.5 s (...)") as
    bytes or seconds."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def spark_counters(spark, group_of_op: dict[str, int]) -> dict[int, Counter]:
    """Per operation: jobs, stages, tasks and stage metrics from the app
    status store, and Python-boundary SQL metrics from the SQL store."""
    st = spark.sparkContext._jsc.sc().statusStore()
    per_op: dict[int, Counter] = defaultdict(Counter)
    op_of_job: dict[int, int] = {}
    jobs = st.jobsList(None)
    for i in range(jobs.size()):
        j = jobs.apply(i)
        g = j.jobGroup()
        if not g.isDefined() or g.get() not in group_of_op:
            continue
        op = group_of_op[g.get()]
        op_of_job[j.jobId()] = op
        c = per_op[op]
        c["spark.jobs"] += 1
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                s = st.lastStageAttempt(sids.apply(k))
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            if s.status().toString() == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numTasks()
            c["spark.executor_run_s"] += s.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.gc_s"] += s.jvmGcTime() / 1e3
            c["spark.input_bytes"] += s.inputBytes()
            c["spark.input_records"] += s.inputRecords()
            c["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = sq.executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        it = e.jobs().keys().iterator()
        op = None
        while it.hasNext():
            op = op_of_job.get(it.next(), op)
        if op is None:
            continue
        wanted = []
        ms = e.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            if m.name() in _PY_METRICS:
                wanted.append((m.accumulatorId(), _PY_METRICS[m.name()]))
        if not wanted:
            continue
        vals = sq.executionMetrics(e.executionId())
        for acc, key in wanted:
            v = vals.get(acc)
            if v.isDefined():
                per_op[op][key] += parse_sql_metric(v.get())
    return per_op


def leak_counters(spark, confs0: dict, work) -> dict:
    """State a run leaves behind, read from outside the engine."""
    sc = spark.sparkContext
    confs = dict(spark.conf.getAll)
    changed = sum(1 for k in set(confs) | set(confs0) if confs.get(k) != confs0.get(k))
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    tmp = work / "tmp"
    dirs = sum(1 for p in tmp.iterdir() if p.name.startswith(("quiver_", "qjs_"))) if tmp.exists() else 0
    return {
        "spark.persisted_rdds": (sc._jsc.getPersistentRDDs().size(), "count"),
        "session.conf_changes": (changed, "count"),
        "session.temp_views": (views, "count"),
        "session.tmp_dirs": (dirs, "count"),
    }


# -- the traced run ------------------------------------------------------------

class _Traced:
    """Runs a workload's operations inside a root span and a job group."""

    def __init__(self, wl, tracer: Tracer, spark):
        self.wl, self.tracer, self.spark = wl, tracer, spark
        self.groups: dict[str, int] = {}
        self.jvm_deltas: list[tuple[int, int]] = []
        self.n = 0

    def deck(self, deck_no):
        return self.wl.deck(deck_no)

    def _jvm_counts(self):
        r = self.spark._jvm.io.quiverspark.QuiverJvmRead
        return r.planFooterReads(), r.pagesPruned()

    def run_op(self, op):
        i = self.n
        self.n += 1
        self.tracer.op = i
        if self.spark is not None:
            group = f"perfbench-op-{i}"
            self.groups[group] = i
            self.spark.sparkContext.setJobGroup(group, op.kind)
            f0, p0 = self._jvm_counts()
        with self.tracer.span("op"):
            res = self.wl.run_op(op)
        if self.spark is not None:
            f1, p1 = self._jvm_counts()
            self.jvm_deltas.append((f1 - f0, p1 - p0))
        return res


def traced_run(wl, sess, seconds: float, fixtures_s: float, work):
    """The same operations twice, with a reset between: untraced, then
    traced.  The overhead compares each traced operation with its untraced
    run; warm-up left over after the workload's own warm-up favours the
    second pass, so it reads low rather than high.  (A third, untraced pass
    would cancel that, but takes an `ingest` run past three minutes.)
    Returns the per-layer metrics, the untraced and traced results and the
    spans."""
    spark = sess.spark if sess is not None else None
    untraced, wall_u = common.closed_loop(wl, common.n_decks(wl, seconds / 2.0))
    n = len(untraced)
    wl.reset()
    jobs_now = None
    if spark is not None:
        sc = spark.sparkContext

        def jobs_now() -> int:
            return len(sc.statusTracker().getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))

    tracer = Tracer(jobs_now)
    proxy = _Traced(wl, tracer, spark)
    wl.tracer = tracer
    tracer.install()
    try:
        traced, wall_t = common.closed_loop(proxy, 0, limit=n)
    finally:
        tracer.uninstall()
        wl.tracer = None
        if spark is not None:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    log(f"trace: {n} ops untraced {wall_u:.2f}s, traced {wall_t:.2f}s, "
        f"{len(tracer.spans)} spans")

    m: dict[str, tuple[float, str]] = {}
    per = lambda v: v / max(n, 1)  # noqa: E731 — per traced operation

    # workload-level figures, from the untraced half
    m.update(common.latency_metrics(untraced, wall_u))
    m.update(common.workload_metrics(untraced, wl.dml_kinds))
    # paired by position: the i-th traced op replays the i-th untraced op
    m["trace.overhead_ms_per_op"] = (common.median(
        (t.seconds - u.seconds) * 1000.0 for t, u in zip(traced, untraced)), "ms")
    m["trace.overhead_wall_s"] = (wall_t - wall_u, "s")
    m["trace.spans_per_op"] = (per(len(tracer.spans)), "count/op")
    m["trace.rebound_bindings"] = (len(tracer.rebound), "count")
    m["fixtures.build_s"] = (fixtures_s, "s")
    m["peak_rss_mb"] = (common.vm_hwm_mb() + (
        common.vm_hwm_mb(common.jvm_pid(spark)) if spark is not None else 0.0), "MB")
    if sess is not None:
        m["session.start_s"] = (sess.setup["start"], "s")
        m["jvm.attach_s"] = (sess.setup["attach"], "s")
    else:
        m["session.start_s"] = (0.0, "s")
        m["jvm.attach_s"] = (0.0, "s")

    # spans
    by_name: dict[str, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    dur = lambda name: sum(s.end - s.start for s in by_name[name])  # noqa: E731
    op_total = dur("op")
    m["tables.load_s"] = (per(dur("tables.load")), "s/op")
    m["tables.load_calls"] = (per(len(by_name["tables.load"])), "count/op")
    m["tables.load_jobs"] = (per(sum(s.jobs for s in by_name["tables.load"])), "count/op")
    m["operators.build_s"] = (per(dur("operators.build")), "s/op")
    m["operators.build_jobs"] = (per(sum(s.jobs for s in by_name["operators.build"])), "count/op")
    m["operators.build_share"] = (dur("operators.build") / op_total if op_total else 0.0, "ratio")
    m["operators.exec_s"] = (per(dur("operators.exec")), "s/op")
    scans = by_name["sources.scan"]
    m["sources.scan_s"] = (per(dur("sources.scan")), "s/op")
    jvm_served = sum(1 for s in by_name["sources.try_jvm_scan"] if s.result)
    m["sources.scan_jvm_share"] = (jvm_served / len(scans) if scans else 0.0, "ratio")
    writes = by_name["sources.write"]
    m["sources.write_s"] = (per(dur("sources.write")), "s/op")
    m["sources.write_jvm_share"] = (
        sum(1 for s in writes if s.result == "quiverjvm") / len(writes) if writes else 0.0, "ratio")
    m["manifest.load_s"] = (per(dur("sources.manifest.load_manifest")), "s/op")
    m["manifest.loads"] = (per(len(by_name["sources.manifest.load_manifest"])), "count/op")
    m["maintenance.compact_s"] = (per(dur("maintenance.compact")), "s/op")
    m["maintenance.dml_s"] = (
        per(dur("maintenance.delete_where") + dur("maintenance.merge_upsert")), "s/op")
    for name, secs in sorted(tracer.self_times().items()):
        m[f"self_ms.{name}"] = (per(secs) * 1000.0, "ms/op")
    for name in SPAN_NAMES:
        m.setdefault(f"self_ms.{name}", (0.0, "ms/op"))

    # Spark counters and JVM read counters
    keys = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
            "spark.executor_cpu_s", "spark.gc_s", "spark.input_bytes", "spark.input_records",
            "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
            *_PY_METRICS.values())
    per_op = spark_counters(spark, proxy.groups) if spark is not None else {}
    totals = Counter()
    for c in per_op.values():
        totals.update(c)
    for k in keys:
        unit = "s/op" if k.endswith("_s") else ("B/op" if k.endswith("bytes") or "bytes_" in k else "count/op")
        m[k] = (per(totals[k]), unit)
    # rows returned per row the scans read, over the ops that return rows
    reads = [i for i, r in enumerate(traced) if r.read_bytes and "rows" in r.info]
    read_in = sum(per_op[i]["spark.input_records"] for i in reads if i in per_op)
    m["scan.useful_row_share"] = (
        sum(traced[i].info["rows"] for i in reads) / read_in if read_in else 0.0, "ratio")
    m["jvm.plan_footer_reads"] = (per(sum(d[0] for d in proxy.jvm_deltas)), "count/op")
    m["jvm.pages_pruned"] = (per(sum(d[1] for d in proxy.jvm_deltas)), "count/op")

    # layers only some workloads reach
    m.update(wl.layer_metrics(untraced))
    for k, unit in layer_defaults().items():
        m.setdefault(k, (0.0, unit))
    if spark is not None:
        m.update(leak_counters(spark, sess.confs0, work))
    else:
        m.update({k: (0, "count") for k in LEAKS})
    return m, untraced, traced, tracer.spans


LEAKS = ("spark.persisted_rdds", "session.conf_changes", "session.temp_views", "session.tmp_dirs")


def layer_defaults() -> dict[str, str]:
    """Unit of every layer metric only some workloads produce."""
    from quiver_spark.format.constants import CODEC_NAMES

    from w_codec import TYPES

    return {
        "storage.bytes_written_per_user_byte": "ratio",
        "storage.files": "count",
        "maintenance.files_rewritten": "count",
        "maintenance.files_carried": "count",
        **{f"format.encode_mb_per_s.{t}": "MB/s" for t in TYPES},
        **{f"format.decode_mb_per_s.{t}": "MB/s" for t in TYPES},
        **{f"format.bytes_per_user_byte.{t}": "ratio" for t in TYPES},
        **{f"format.pages.{c}": "count" for c in CODEC_NAMES.values()},
    }
