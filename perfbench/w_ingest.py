"""``ingest``: seeded batches written, changed and read back through the
engine's public entry points, checked against an in-memory model.

One deck is three compaction cycles in a fixed order.  A cycle is ten
``append`` of 5,000 rows, then ``compact``, then ``delete``, ``upsert``
and ``append_gen`` with ``read_back`` in turn; the first cycle has a
``narrow`` read among its appends and the second a ``point`` read.  The seed makes the batches, the deleted range, the
upserted keys and the point key; the order is the same for every seed, so
every seed builds the same shape of table.  The mix is an assumption, not
a recorded trace: appends dominate, as in a pipeline that ingests often
and rewrites rarely, and every entry point runs in every deck.  It also
puts the median inside the 30 appends, the most uniform operation, so it
does not sit where two kinds of operation meet.  ``delete`` and
``upsert`` touch the newest batch.  The operations:

- ``append``: ``sources.write(..., mode="append")``, which routes to quiverjvm;
- ``append_gen``: the same with ``keep_generations=2``, which routes to the
  Python sink;
- ``delete``: ``maintenance.delete_where`` on a seeded id range;
- ``upsert``: ``maintenance.merge_upsert`` of updated rows and as many new
  ones;
- ``compact``: in-place ``maintenance.compact``;
- ``read_back``: row count and checksum through ``sources.scan``, which
  must equal the model;
- ``point``: equality on a seeded live ``id`` through ``sources.scan``
  (zone-map pruning on the per-batch sorted ids);
- ``narrow``: one column through ``sources.scan``.

In a timed run every operation is paired with the same operation in plain
Spark on a Parquet table holding the same rows (``df.write.parquet`` to
append; a delete, upsert or compaction reads the table, filters,
anti-joins or coalesces it, writes a new directory and swaps it in; reads
through ``spark.read.parquet``), timed right before or right after it.
Both tables' reads are checked against the model.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import common
import datagen
from checksum import arrow_checksum, spark_checksum
from common import Op, OpResult, log
from w_codec import page_histogram

APPENDS_PER_CYCLE = 10
#: appends of each kind at the end of the warm-up: the JVM keeps speeding
#: up both append paths for about a dozen calls
WARM_APPENDS = 12
HALF = ("append",) * (APPENDS_PER_CYCLE // 2)
DECK = (HALF + ("narrow",) + HALF + ("compact", "delete")
        + HALF + ("point",) + HALF + ("compact", "upsert")
        + HALF + HALF + ("compact", "append_gen", "read_back"))
READS = ("read_back", "point", "narrow")
DML = ("delete", "upsert", "compact")


def live_dir(table: str) -> str:
    """The directory of the live snapshot: the generation named by the
    ``_current`` pointer, or the table itself for a flat layout."""
    cur = os.path.join(table, "_current")
    if os.path.exists(cur):
        with open(cur) as f:
            return os.path.join(table, f.read().strip())
    return table


def dir_files(path: str) -> list[os.stat_result]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                out.append(os.stat(os.path.join(root, f)))
            except FileNotFoundError:
                pass
    return out


class IngestWorkload:
    name = "ingest"
    uses_spark = True
    dml_kinds = DML
    #: each timed operation is paired with the same operation through Parquet
    parquet_baseline = True
    tracer = None
    #: nominal seconds per deck with its Parquet twins on a 4-core host
    #: (sets the deck count)
    deck_seconds = 30.0

    def __init__(self, seed: int, size: str, work):
        self.seed = seed
        self.work = work
        self.batch = 5_000 if size == "full" else 500
        self.table = str(work / "tables" / "ingest")
        #: the same rows as a plain Parquet table, changed by the baseline
        self.pq = str(work / "tables" / "ingest_parquet")

    def generate(self) -> None:
        pass

    def prepare(self, spark) -> None:
        self.spark = spark
        self.reset()

    def reset(self) -> None:
        """Empty table and model; the operation sequence replays exactly."""
        import shutil

        from quiver_spark import sources

        shutil.rmtree(self.table, ignore_errors=True)
        self.rng = np.random.default_rng([self.seed, 4])
        self.next_id = 0
        first = self._new_batch()
        sources.write(self._df(first), self.table, keep_generations=2)
        self._df(first).write.mode("overwrite").parquet(self.pq)
        self.model = first
        self.seen_inodes: set[tuple[int, int]] = set()
        self.bytes_written = 0
        self.user_bytes_written = first.nbytes
        self._account_writes()
        self.engines: list[str] = []
        self.summaries: list[dict] = []
        #: stored bytes per user byte after each compaction
        self.ratios: list[float] = []

    def _new_batch(self, n: int | None = None) -> pa.Table:
        n = n or self.batch
        t = datagen.ingest_batch(self.rng, self.next_id, n)
        self.next_id += n
        return t

    def _df(self, t: pa.Table):
        return self.spark.createDataFrame(t.to_pandas())

    def _account_writes(self) -> None:
        """Bytes of every file that appeared since the last call; hard
        links of carried files share an inode and count once (the mtime
        tells a reused inode number from a link)."""
        for st in dir_files(self.table):
            key = (st.st_ino, st.st_mtime_ns)
            if key not in self.seen_inodes:
                self.seen_inodes.add(key)
                self.bytes_written += st.st_size

    def warm(self) -> list[bool]:
        """Untimed: every entry point once, the Parquet baseline's calls,
        and ``WARM_APPENDS`` appends of each kind, on scratch tables of
        full-size batches, so the timed deck does not pay first-use costs
        (JIT, Python workers, planner start-up).  Returns one flag per call
        that ran."""
        from quiver_spark import maintenance, sources

        path = str(self.work / "tables" / "warm")
        rng = np.random.default_rng([self.seed, 10])
        n = self.batch
        batches = [datagen.ingest_batch(rng, i * n, n) for i in range(3)]
        calls = [
            lambda: sources.write(self._df(batches[0]), path, keep_generations=2),
            lambda: sources.write(self._df(batches[2]), path, mode="append", keep_generations=2),
            lambda: maintenance.delete_where(self.spark, path, f"id < {n // 50}"),
            lambda: maintenance.merge_upsert(self.spark, path, self._df(batches[2]), on=["id"]),
            lambda: maintenance.compact(self.spark, path),
            lambda: spark_checksum(sources.scan(self.spark, path)),
            lambda: spark_checksum(sources.scan(self.spark, path).filter(f"id = {n + 7}")),
            lambda: spark_checksum(sources.scan(self.spark, path, columns="f9")),
            # the Parquet baseline's calls
            lambda: self._df(batches[0]).write.mode("overwrite").parquet(path + "_parquet"),
            lambda: spark_checksum(self.spark.read.parquet(path + "_parquet")
                                   .join(self._df(batches[2]).select("id"), "id", "left_anti")
                                   .unionByName(self._df(batches[2])).coalesce(1)),
            # last, so the deck's first appends find the append paths hot
            *[lambda: sources.write(self._df(batches[1]), path, mode="append"),
              lambda: self._df(batches[1]).write.mode("append").parquet(path + "_parquet"),
              ] * WARM_APPENDS,
        ]
        ok, secs = [], []
        for call in calls:
            t0 = time.perf_counter()
            try:
                call()
                ok.append(True)
            except Exception as exc:  # noqa: BLE001 — counted as a failed check
                log(f"ingest warm-up call failed: {exc!r}")
                ok.append(False)
            secs.append(f"{time.perf_counter() - t0:.1f}")
        log("warm-up calls (s): " + " ".join(secs))
        return ok

    def deck(self, deck_no: int) -> list[Op]:
        return [Op(k) for k in DECK]

    def run_op(self, op: Op, baseline: bool = False, base_first: bool = False) -> OpResult:
        from quiver_spark import maintenance, sources

        k, spark = op.kind, self.spark
        # inputs are made before the clock starts
        if k in ("append", "append_gen"):
            batch = self._new_batch()
            df = self._df(batch)
        elif k == "delete":
            lo = int(self.rng.integers(self.next_id - self.batch, self.next_id - self.batch // 50))
            hi = lo + self.batch // 50
            pred = f"id >= {lo} AND id < {hi}"
        elif k == "upsert":
            ids = self.model.column("id").to_numpy()
            n = self.batch // 20
            upd = self.rng.choice(ids[ids >= self.next_id - self.batch], n, replace=False)
            src = self._new_batch(n)
            fresh = datagen.ingest_batch(self.rng, 0, len(upd)).set_column(0, "id", pa.array(upd))
            src = pa.concat_tables([fresh, src])
            df = self._df(src)
        elif k == "point":
            ids = self.model.column("id").to_numpy()
            key = int(self.rng.choice(ids)) if len(ids) else -1
        cols = self.model.column_names

        def program():
            if k in ("append", "append_gen"):
                opts = {"keep_generations": 2} if k == "append_gen" else {}
                return {"engine": sources.write(df, self.table, mode="append", **opts)}
            if k == "delete":
                return maintenance.delete_where(spark, self.table, pred)
            if k == "upsert":
                return maintenance.merge_upsert(spark, self.table, df, on=["id"])
            if k == "compact":
                return maintenance.compact(spark, self.table, target_rows_per_file=self.batch * 4)
            if k == "read_back":
                return spark_checksum(sources.scan(spark, self.table).select(*cols))
            if k == "point":
                return spark_checksum(sources.scan(spark, self.table).filter(f"id = {key}").select(*cols))
            return spark_checksum(sources.scan(spark, self.table, columns="f9"))

        def parquet():
            """The same operation in plain Spark on a Parquet table: appends
            append, and a delete, upsert or compaction rewrites the table
            into a new directory that then replaces the old one."""
            read = lambda: spark.read.parquet(self.pq)  # noqa: E731
            if k in ("append", "append_gen"):
                return df.write.mode("append").parquet(self.pq)
            if k == "delete":
                return self._pq_replace(read().filter(f"NOT ({pred})"))
            if k == "upsert":
                return self._pq_replace(read().join(df.select("id"), "id", "left_anti")
                                        .unionByName(df))
            if k == "compact":
                files = max(1, -(-self.model.num_rows // (self.batch * 4)))
                return self._pq_replace(read().coalesce(files))
            if k == "read_back":
                return spark_checksum(read().select(*cols))
            if k == "point":
                return spark_checksum(read().filter(f"id = {key}").select(*cols))
            return spark_checksum(read().select("f9"))

        t0 = time.perf_counter()
        try:
            info, secs, base_got, base_secs = common.timed_pair(
                program, parquet if baseline else None, base_first)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            log(f"ingest op {k} failed: {exc!r}")
            return OpResult(k, time.perf_counter() - t0, False)
        if k in READS:
            got, info = info, {}
        ok, rb, wb = True, 0, 0
        if k in ("append", "append_gen"):
            self.model = pa.concat_tables([self.model, batch])
            self.user_bytes_written += batch.nbytes
            self.engines.append(info["engine"])
            wb = batch.nbytes
        elif k == "delete":
            ids = self.model.column("id")
            drop = pc.and_(pc.greater_equal(ids, lo), pc.less(ids, hi))
            self.model = self.model.filter(pc.invert(drop))
        elif k == "upsert":
            keep = pc.invert(pc.is_in(self.model.column("id"), value_set=src.column("id")))
            self.model = pa.concat_tables([self.model.filter(keep), src])
            self.user_bytes_written += src.nbytes
        elif k in READS:
            rows = self.model
            if k == "point":
                rows = rows.filter(pc.equal(rows.column("id"), key))
            elif k == "narrow":
                rows = rows.select(["f9"])
            want = arrow_checksum(rows)
            ok = tuple(got) == want
            if not ok:
                log(f"ingest {k} wrong: got {got}, expected {want}")
            if base_got is not None and tuple(base_got) != want:
                log(f"ingest Parquet {k} wrong: got {base_got}, expected {want}")
                ok = False
            rb = rows.nbytes
        if k in DML:
            self.summaries.append({"kind": k, **{x: info.get(x, 0) for x in (
                "files_rewritten", "files_carried", "files_before", "files_after")}})
        if k == "compact":
            self.ratios.append(self.stored_ratio())
            log("stored bytes per user byte after each compaction: "
                + " ".join(f"{r:.3f}" for r in self.ratios))
        self._account_writes()
        info = {"rows": int(got[0]) if k in READS else self.model.num_rows,
                "engine": info.get("engine")}
        return OpResult(k, secs, ok, read_bytes=rb, write_bytes=wb, info=info,
                        base_seconds=base_secs)

    def _pq_replace(self, df) -> None:
        """Write ``df`` to a new directory and swap it in for the Parquet
        table (Spark cannot overwrite a path it is reading)."""
        import shutil

        df.write.parquet(self.pq + ".next")
        os.rename(self.pq, self.pq + ".old")
        os.rename(self.pq + ".next", self.pq)
        shutil.rmtree(self.pq + ".old")

    # -- figures read after the loop ----------------------------------------

    def stored_ratio(self, results=None) -> float:
        live = live_dir(self.table)
        stored = sum(st.st_size for st in dir_files(live))
        if live != self.table:  # pointer and root-level metadata
            stored += sum(os.path.getsize(os.path.join(self.table, f))
                          for f in os.listdir(self.table)
                          if os.path.isfile(os.path.join(self.table, f)))
        return stored / max(self.model.nbytes, 1)

    def data_files(self) -> list[str]:
        live = live_dir(self.table)
        return sorted(os.path.join(r, f) for r, _d, fs in os.walk(live)
                      for f in fs if f.endswith(".quiver"))

    def layer_metrics(self, results=None) -> dict:
        from quiver_spark.format.stat import stat_file

        data_files = self.data_files()
        pages: dict[str, int] = {}
        for f in data_files:
            pages = page_histogram(stat_file(f), pages)
        return {
            **{f"format.pages.{c}": (v, "count") for c, v in pages.items()},
            "storage.bytes_written_per_user_byte": (
                self.bytes_written / max(self.user_bytes_written, 1), "ratio"),
            "storage.files": (len(data_files), "count"),
            "maintenance.files_rewritten": (
                sum(s["files_rewritten"] for s in self.summaries), "count"),
            "maintenance.files_carried": (
                sum(s["files_carried"] for s in self.summaries), "count"),
        }

    def exact_counts(self) -> dict:
        # data file bytes repeat exactly; the manifest holds commit times
        files = self.data_files()
        return {"rows": self.model.num_rows, "engines": self.engines,
                "summaries": self.summaries, "data_files": len(files),
                "data_bytes": sum(os.path.getsize(f) for f in files)}
