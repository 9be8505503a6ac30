"""``queries``: registry queries over seeded star-schema tables.

One operation is ``spec.spark(spark, sf_dir)`` followed by the noop write,
the shape of the engine's own bench.  The pool (``pool.json``) is a
stratified sample of the bench-tagged registry: queries from every
operator module, chosen by ``select_pool.py``, which also lists every
query it left out and why.  Each deck runs the whole pool once in seeded
order, so every run sees the same mix.

Before the loop every pool query is checked once, untimed, against its
registry DuckDB oracle on the same tables (values compared exactly after
sorting rows and columns, as the engine's verify recipe does).  That pass
is also the warm-up: it builds the fixtures the format queries cache.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import datagen
from common import Op, OpResult, log
from tracing import span

POOL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool.json")
SF = 0.01


def normalise(pdf) -> list:
    """Rows as sorted tuples of value reprs, columns in name order."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(tuple(repr(x) for x in r) for r in pdf.itertuples(index=False))


def oracle_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def use_cache_root(path: str) -> None:
    """Keep the format queries' parquet→quiver fixture cache inside the
    run's scratch directory (it defaults to a fixed directory under /tmp)."""
    from quiver_spark.operators import format_queries, format_queries2

    format_queries.CACHE_ROOT = path
    format_queries2.CACHE_ROOT = path


def load_pool() -> list[str]:
    with open(POOL_FILE) as f:
        return json.load(f)["pool"]


class QueriesWorkload:
    name = "queries"
    uses_spark = True
    dml_kinds = ()
    tracer = None
    #: nominal seconds per deck on a 4-core host (sets the deck count)
    deck_seconds = 5.0

    def __init__(self, seed: int, size: str, work):
        self.seed = seed
        self.work = work
        self.sf = SF if size == "full" else 0.001
        self.sf_dir = str(work / "data" / f"sf{self.sf}")
        self.tiny = size != "full"

    def generate(self) -> None:
        datagen.write_star(datagen.star_tables(self.seed, self.sf), self.sf_dir)

    def prepare(self, spark) -> None:
        from quiver_spark.registry import load_all_operators

        self.spark = spark
        self.specs = load_all_operators()
        use_cache_root(str(self.work / "quiver_cache"))
        pool = load_pool()
        missing = [q for q in pool if q not in self.specs]
        if missing:
            raise RuntimeError(f"pool queries missing from the registry: {missing}")
        self.pool = pool[:: max(len(pool) // 6, 1)] if self.tiny else pool

    def reset(self) -> None:
        pass

    def stored_ratio(self, results) -> float:
        return 0.0

    def layer_metrics(self, results) -> dict:
        return {}

    def check(self, name: str) -> bool:
        """Untimed: Spark's rows against the registry oracle's rows."""
        spec = self.specs[name]
        try:
            got = normalise(spec.spark(self.spark, self.sf_dir).toPandas())
            want = normalise(self.con.execute(spec.oracle).fetchdf())
        except Exception as exc:  # noqa: BLE001 — a failed check is counted
            log(f"query {name} check failed: {exc!r}")
            return False
        if got != want:
            log(f"query {name} differs from its oracle ({len(got)} vs {len(want)} rows)")
        return got == want

    def warm(self) -> list[bool]:
        self.con = oracle_connection(self.sf_dir)
        ok, secs = [], []
        try:
            for op in self.deck(-1):
                t0 = time.perf_counter()
                ok.append(self.check(op.kind))
                secs.append(f"{op.kind} {time.perf_counter() - t0:.1f}s")
        finally:
            self.con.close()
        log("checks: " + ", ".join(secs))
        return ok

    def deck(self, deck_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, 9, deck_no + 1])
        return [Op(self.pool[i]) for i in rng.permutation(len(self.pool))]

    def run_op(self, op: Op) -> OpResult:
        spec = self.specs[op.kind]
        t0 = time.perf_counter()
        try:
            with span(self.tracer, "operators.build"):
                df = spec.spark(self.spark, self.sf_dir)
            with span(self.tracer, "operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            log(f"query {op.kind} failed: {exc!r}")
            return OpResult(op.kind, time.perf_counter() - t0, False)
        return OpResult(op.kind, time.perf_counter() - t0, True)

    def exact_counts(self) -> dict:
        return {"pool": self.pool}
