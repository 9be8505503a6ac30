"""``scan``: quiver reads through ``sources.scan`` over layouts written once
in an untimed prepare step.

Operation types (one of each per deck, in seeded order):

- ``full``: all of lineitem;
- ``narrow``: one column;
- ``range``: about 6 % of a layout sorted on ``l_shipdate`` (zone maps);
- ``point``: equality on a ``bloom_columns`` key chosen by the seed;
- ``count``: the aggregate served from the manifest;
- ``manyfiles``: the 256-file layout;
- ``nested``: the embeddings table;
- ``cdc``: ``changes_since`` over a 64-file base plus a 1 % append.

Every operation returns a row count and an order-insensitive checksum
that must equal the same read of the source parquet.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

import datagen
from common import Op, OpResult, log

KINDS = ("full", "narrow", "range", "point", "count", "manyfiles", "nested", "cdc")
N_WINDOWS = 8
N_KEYS = 16
#: modulus that keeps the checksum sum inside a long
_P = 1_000_003


def checksum(df) -> tuple:
    """(rows, order-insensitive sum of per-row xxhash64 mod _P)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]) % _P
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0])


class ScanWorkload:
    name = "scan"
    uses_spark = True
    dml_kinds = ()
    tracer = None
    #: nominal seconds per deck on a 4-core host (sets the deck count)
    deck_seconds = 2.0

    def __init__(self, seed: int, size: str, work):
        self.seed = seed
        self.work = work
        self.sf = 0.03 if size == "full" else 0.001
        self.n_many = 256 if size == "full" else 16
        self.n_cdc = 64 if size == "full" else 8

    # -- prepare (untimed) --------------------------------------------------

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 2])
        tabs = datagen.star_tables(self.seed, self.sf)
        li, emb = tabs["lineitem"], tabs["embeddings"]
        n = len(li)
        self.data = self.work / "data"
        in_delta = rng.random(n) < 0.01
        datagen.write_star({"lineitem": li, "embeddings": emb}, str(self.data))
        datagen.write_star({"base": li.filter(pa.array(~in_delta)),
                            "delta": li.filter(pa.array(in_delta))}, str(self.data))
        days = np.sort(li.column("l_shipdate").to_numpy().astype("datetime64[D]"))
        span = max(int(n * 0.06), 1)
        starts = rng.integers(0, max(n - span, 1), N_WINDOWS)
        self.windows = [(str(days[s]), str(days[min(s + span, n - 1)])) for s in starts]
        self.keys = [int(k) for k in rng.choice(li.column("l_orderkey").to_numpy(), N_KEYS, replace=False)]
        self.rows = {"lineitem": n, "embeddings": len(emb)}
        self.row_bytes = li.nbytes / n
        self.narrow_bytes = li.column("l_extendedprice").nbytes / n
        self.emb_row_bytes = emb.nbytes / len(emb)

    def prepare(self, spark) -> None:
        from quiver_spark import maintenance, sources

        self.spark = spark
        tables = self.work / "tables"

        def read(name):
            return spark.read.parquet(str(self.data / f"{name}.parquet"))

        li = read("lineitem")
        p = {k: str(tables / k) for k in ("plain", "sorted", "many", "nested", "cdc")}
        self.paths = p
        sources.write(li.repartition(4), p["plain"], bloom_columns="l_orderkey")
        sources.write(li.orderBy("l_shipdate"), p["sorted"],
                      max_rows_per_file=max(self.rows["lineitem"] // 8, 1))
        sources.write(li.repartition(self.n_many), p["many"])
        sources.write(read("embeddings"), p["nested"])
        sources.write(read("base").repartition(self.n_cdc), p["cdc"])
        self.cdc_since = maintenance.current_commit(p["cdc"])
        sources.write(read("delta").repartition(1), p["cdc"], mode="append")
        self.cols = li.columns
        self.expected = self._expected(li, read("embeddings"), read("delta"))
        log(f"scan: {self.rows['lineitem']} lineitem rows in {len(p)} layouts")

    def _expected(self, li, emb, delta) -> dict:
        """Every answer, from the source parquet: one pass over lineitem
        with a conditional aggregate per range window and point key."""
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in li.columns]) % _P
        hn = F.xxhash64(F.col("l_extendedprice")) % _P
        conds = {("range", i): F.expr(self._range_pred(lo, hi)) for i, (lo, hi) in enumerate(self.windows)}
        conds.update({("point", i): F.col("l_orderkey") == k for i, k in enumerate(self.keys)})
        aggs = [F.count(F.lit(1)), F.sum(h), F.sum(hn)]
        for c in conds.values():
            aggs += [F.count(F.when(c, 1)), F.sum(F.when(c, h))]
        row = list(li.agg(*aggs).collect()[0])
        exp = {"full": (row[0], row[1]), "narrow": (row[0], row[2]), "count": (row[0],)}
        exp["manyfiles"] = exp["full"]
        for j, key in enumerate(conds):
            exp[key] = (row[3 + 2 * j], row[4 + 2 * j])
        exp["nested"] = checksum(emb)
        exp["cdc"] = checksum(delta)
        return exp

    @staticmethod
    def _range_pred(lo: str, hi: str) -> str:
        return f"l_shipdate >= TIMESTAMP'{lo} 00:00:00' AND l_shipdate < TIMESTAMP'{hi} 00:00:00'"

    def reset(self) -> None:
        pass

    def stored_ratio(self, results) -> float:
        return 0.0

    def layer_metrics(self, results) -> dict:
        return {}

    def warm(self) -> list[bool]:
        """One untimed deck: JIT, worker pools and page caches warm up."""
        return [self.run_op(op).ok for op in self.deck(-1)]

    # -- the loop -------------------------------------------------------------

    def deck(self, deck_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, 3, deck_no + 1])
        ops = [Op(k) for k in KINDS]
        for op in ops:
            if op.kind == "range":
                op.args["i"] = int(rng.integers(0, N_WINDOWS))
            elif op.kind == "point":
                op.args["i"] = int(rng.integers(0, N_KEYS))
        return [ops[i] for i in rng.permutation(len(ops))]

    def _read(self, op: Op):
        """(DataFrame or row count, expected key, Arrow bytes per row)."""
        from pyspark.sql import functions as F

        from quiver_spark import sources

        spark, p, k = self.spark, self.paths, op.kind
        if k == "full":
            return sources.scan(spark, p["plain"]), k, self.row_bytes
        if k == "narrow":
            return sources.scan(spark, p["plain"], columns="l_extendedprice"), k, self.narrow_bytes
        if k == "range":
            lo, hi = self.windows[op.args["i"]]
            df = sources.scan(spark, p["sorted"]).filter(self._range_pred(lo, hi))
            return df, ("range", op.args["i"]), self.row_bytes
        if k == "point":
            df = sources.scan(spark, p["plain"]).filter(F.col("l_orderkey") == self.keys[op.args["i"]])
            return df, ("point", op.args["i"]), self.row_bytes
        if k == "count":
            return sources.scan(spark, p["plain"]).count(), k, 0.0
        if k == "manyfiles":
            return sources.scan(spark, p["many"]), k, self.row_bytes
        if k == "nested":
            return sources.scan(spark, p["nested"]), k, self.emb_row_bytes
        if k == "cdc":
            df = sources.scan(spark, p["cdc"], changes_since=self.cdc_since).select(*self.cols)
            return df, k, self.row_bytes
        raise ValueError(k)

    def run_op(self, op: Op) -> OpResult:
        t0 = time.perf_counter()
        try:
            df, key, width = self._read(op)
            got = (df,) if isinstance(df, int) else checksum(df)
            secs = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            log(f"scan op {op.kind} failed: {exc!r}")
            return OpResult(op.kind, time.perf_counter() - t0, False)
        ok = got == self.expected[key]
        if not ok:
            log(f"scan op {op.kind} wrong: got {got}, expected {self.expected[key]}")
        rows = int(got[0])
        return OpResult(op.kind, secs, ok, read_bytes=int(rows * width), info={"rows": rows})

    def exact_counts(self) -> dict:
        return {"expected": {str(k): list(v) for k, v in self.expected.items()}}
