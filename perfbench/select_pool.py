"""Choose the ``queries`` pool and write ``pool.json``.

    python3 perfbench/select_pool.py

Runs every bench-tagged registry query on the generated tables of each of
``SEEDS``: once checked against its DuckDB oracle, then once timed with
the noop write.  A query enters the candidate set only when it is exact on
every seed and its timed run stays under ``MAX_SECONDS``; the pool then
takes ``PER_FAMILY`` candidates from each family of operator modules (the
module name without its round number, so ``relational2`` counts as
``relational``), in a fixed pseudo-random order (sha1 of the name).  Every
query left out is listed in ``pool.json`` with its reason.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import datagen  # noqa: E402
from w_queries import POOL_FILE, SF, normalise, oracle_connection, use_cache_root  # noqa: E402

#: two seeds, so a query that is exact only by luck of the data leaves the pool
SEEDS = (1, 2)
#: one query per family keeps a deck short enough for several decks a run
PER_FAMILY = 1
#: a query slower than this at sf0.01 would dominate a deck of the others;
#: this cut leaves out the heavy joins, ANN and sketch queries
MAX_SECONDS = 0.6


def sweep(spark, specs, sf_dir: str) -> dict:
    con = oracle_connection(sf_dir)
    out = {}
    for name, spec in sorted(specs.items()):
        if not spec.bench:
            continue
        module = spec.spark.__module__.rsplit(".", 1)[-1]
        rec = {"module": module, "family": re.sub(r"\d+$", "", module.removesuffix("_jvm"))}
        try:
            got = normalise(spec.spark(spark, sf_dir).toPandas())
            rec["exact"] = got == normalise(con.execute(spec.oracle).fetchdf())
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
            rec["seconds"] = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — recorded as the reason
            rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
        common.log(f"{name}: {rec}")
        out[name] = rec
    con.close()
    return out


def main() -> int:
    common.check_checkout()
    work = common.make_workdir()
    sess = None
    try:
        common.configure_env(work)
        sess = common.start_session(work)
        from quiver_spark.registry import load_all_operators

        specs = load_all_operators()
        runs = []
        for seed in SEEDS:
            # the fixture cache is keyed by the tables' directory name, so
            # each seed gets its own cache
            use_cache_root(str(work / f"quiver_cache-{seed}"))
            sf_dir = str(work / f"seed{seed}" / f"sf{SF}")
            datagen.write_star(datagen.star_tables(seed, SF), sf_dir)
            runs.append(sweep(sess.spark, specs, sf_dir))
        excluded, candidates = {}, {}
        for name in runs[0]:
            recs = [r[name] for r in runs]
            err = next((r["error"] for r in recs if "error" in r), None)
            slowest = max(r.get("seconds", 0.0) for r in recs)
            if err:
                excluded[name] = f"fails on the generated tables: {err}"
            elif not all(r["exact"] for r in recs):
                bad = [s for s, r in zip(SEEDS, recs) if not r["exact"]]
                excluded[name] = f"not exact against its oracle on seeds {bad}"
            elif slowest > MAX_SECONDS:
                excluded[name] = f"slower than {MAX_SECONDS} s ({slowest:.2f} s)"
            else:
                candidates.setdefault(recs[0]["family"], []).append(name)
        pool = []
        for family, names in sorted(candidates.items()):
            names.sort(key=lambda n: hashlib.sha1(n.encode()).hexdigest())
            pool += names[:PER_FAMILY]
            for n in names[PER_FAMILY:]:
                excluded[n] = f"not sampled: {family} already has {PER_FAMILY} in the pool"
        with open(POOL_FILE, "w") as f:
            json.dump({
                "sf": SF,
                "seeds": list(SEEDS),
                "per_family": PER_FAMILY,
                "max_seconds": MAX_SECONDS,
                "pool": sorted(pool),
                "excluded": dict(sorted(excluded.items())),
                "seconds": {n: round(max(r[n].get("seconds", 0.0) for r in runs), 3)
                            for n in sorted(runs[0])},
            }, f, indent=1)
            f.write("\n")
        common.log(f"pool of {len(pool)} written to {POOL_FILE}")
        return 0
    finally:
        if sess is not None:
            common.stop_session(sess)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
