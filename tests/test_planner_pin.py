"""Planner pin: the Python reader's default split plans, recorded as
``(relpath, page_start, page_end, extra)`` tuples, must stay byte-for-byte
the same. Covers the batch planner (``QuiverScanReader.partitions``) at
two planning parallelisms over a wide file (full width and a one-column
projection), a 16-file table, a Hive-partitioned table and a sorted table
under ``page_prune`` with a pushed filter, plus the streaming planner
(``QuiverStreamReader.partitions``) over the same directories.

Every fixture is written deterministically with the library writer, so
the page layout (and therefore the plan) depends only on the code."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pytest

from quiver_spark.format.writer import WriteOptions, write_table
from quiver_spark.sources.quiver_datasource import (
    QuiverScanReader,
    QuiverStreamReader,
)


def _build_fixtures(root: str) -> dict[str, str]:
    def put(rel: str, table: pa.Table, **wo) -> None:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_table(table, path, WriteOptions(**wo))

    n = 400_000
    put(
        "wide/part-0.quiver",
        pa.table(
            {
                f"c{i}": pa.array(np.random.default_rng(i).normal(size=n))
                for i in range(8)
            }
        ),
    )
    rows = 40_000
    for k in range(16):
        put(
            f"many/part-{k:02d}.quiver",
            pa.table(
                {
                    "a": pa.array(np.random.default_rng(k).normal(size=rows)),
                    "b": pa.array(np.arange(rows, dtype=np.int64)),
                }
            ),
        )
    for p in range(4):
        put(
            f"hive/p={p}/part-0.quiver",
            pa.table(
                {
                    "x": pa.array(
                        np.random.default_rng(100 + p).normal(size=30_000)
                    )
                }
            ),
        )
    m = 200_000
    put(
        "sorted/part-0.quiver",
        pa.table(
            {
                "k": pa.array(np.arange(m, dtype=np.int64)),
                "v": pa.array(np.random.default_rng(9).normal(size=m)),
            }
        ),
        max_page_size=1000,
    )
    return {
        name: os.path.join(root, name)
        for name in ("wide", "many", "hive", "sorted")
    }


#: case -> (fixture, extra reader options, pushed filters)
CASES = {
    "wide": ("wide", {}, False),
    "wide_narrow": ("wide", {"columns": "c0"}, False),
    "many": ("many", {}, False),
    "hive": ("hive", {}, False),
    "sorted_pruned": ("sorted", {"page_prune": "true"}, True),
}

STREAM_CASES = ("wide", "many", "hive")


def _tuples(root: str, parts) -> list[tuple]:
    return [
        (
            os.path.relpath(p.file, root),
            p.page_start,
            p.page_end,
            tuple(
                (os.path.relpath(c[0], root), c[1], c[2]) for c in p.extra
            ),
        )
        for p in parts
    ]


def _plan(fx: dict[str, str], case: str, parallelism: int) -> list[tuple]:
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    name, opts, filtered = CASES[case]
    r = QuiverScanReader(
        {
            "path": fx[name],
            "planning_parallelism": str(parallelism),
            **opts,
        },
        None,
    )
    if filtered:
        r.pushFilters(
            [
                GreaterThanOrEqual(("k",), 20_000),
                LessThan(("k",), 180_000),
            ]
        )
    return _tuples(fx[name], r.partitions())


def _stream_plan(fx: dict[str, str], name: str) -> list[tuple]:
    root = fx[name]
    r = QuiverStreamReader({"path": root}, None)
    end = r.latestOffset()
    return _tuples(root, r.partitions({"files": []}, end))


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    return _build_fixtures(str(tmp_path_factory.mktemp("planner_pin")))


@pytest.mark.parametrize("parallelism", [4, 32])
@pytest.mark.parametrize("case", sorted(CASES))
def test_batch_plan_is_pinned(fixtures, case, parallelism):
    assert _plan(fixtures, case, parallelism) == EXPECTED[
        f"{case}@{parallelism}"
    ]


@pytest.mark.parametrize("name", STREAM_CASES)
def test_stream_plan_is_pinned(fixtures, name):
    assert _stream_plan(fixtures, name) == EXPECTED[f"stream:{name}"]


#: the default planning rules' plans for these fixtures; regenerate
#: only for a deliberate planning-rule change
EXPECTED = {'wide@4': [('part-0.quiver', 0, 13, ()),
            ('part-0.quiver', 13, 26, ()),
            ('part-0.quiver', 26, 39, ()),
            ('part-0.quiver', 39, 49, ())],
 'wide@32': [('part-0.quiver', 0, 4, ()),
             ('part-0.quiver', 4, 8, ()),
             ('part-0.quiver', 8, 12, ()),
             ('part-0.quiver', 12, 16, ()),
             ('part-0.quiver', 16, 20, ()),
             ('part-0.quiver', 20, 24, ()),
             ('part-0.quiver', 24, 28, ()),
             ('part-0.quiver', 28, 32, ()),
             ('part-0.quiver', 32, 36, ()),
             ('part-0.quiver', 36, 40, ()),
             ('part-0.quiver', 40, 44, ()),
             ('part-0.quiver', 44, 48, ()),
             ('part-0.quiver', 48, 49, ())],
 'wide_narrow@4': [('part-0.quiver', 0, 16, ()),
                   ('part-0.quiver', 16, 32, ()),
                   ('part-0.quiver', 32, 48, ()),
                   ('part-0.quiver', 48, 49, ())],
 'wide_narrow@32': [('part-0.quiver', 0, 16, ()),
                    ('part-0.quiver', 16, 32, ()),
                    ('part-0.quiver', 32, 48, ()),
                    ('part-0.quiver', 48, 49, ())],
 'many@4': [('part-00.quiver',
             0,
             5,
             (('part-01.quiver', 0, 5),
              ('part-02.quiver', 0, 5),
              ('part-03.quiver', 0, 5))),
            ('part-04.quiver',
             0,
             5,
             (('part-05.quiver', 0, 5),
              ('part-06.quiver', 0, 5),
              ('part-07.quiver', 0, 5))),
            ('part-08.quiver',
             0,
             5,
             (('part-09.quiver', 0, 5),
              ('part-10.quiver', 0, 5),
              ('part-11.quiver', 0, 5))),
            ('part-12.quiver',
             0,
             5,
             (('part-13.quiver', 0, 5),
              ('part-14.quiver', 0, 5),
              ('part-15.quiver', 0, 5)))],
 'many@32': [('part-00.quiver',
              0,
              5,
              (('part-01.quiver', 0, 5), ('part-02.quiver', 0, 1))),
             ('part-02.quiver',
              1,
              5,
              (('part-03.quiver', 0, 5), ('part-04.quiver', 0, 2))),
             ('part-04.quiver',
              2,
              5,
              (('part-05.quiver', 0, 5), ('part-06.quiver', 0, 3))),
             ('part-06.quiver',
              3,
              5,
              (('part-07.quiver', 0, 5), ('part-08.quiver', 0, 4))),
             ('part-08.quiver',
              4,
              5,
              (('part-09.quiver', 0, 5), ('part-10.quiver', 0, 5))),
             ('part-11.quiver',
              0,
              5,
              (('part-12.quiver', 0, 5), ('part-13.quiver', 0, 1))),
             ('part-13.quiver',
              1,
              5,
              (('part-14.quiver', 0, 5), ('part-15.quiver', 0, 2))),
             ('part-15.quiver', 2, 5, ())],
 'hive@4': [('p=0/part-0.quiver',
             0,
             4,
             (('p=1/part-0.quiver', 0, 4),
              ('p=2/part-0.quiver', 0, 4),
              ('p=3/part-0.quiver', 0, 4)))],
 'hive@32': [('p=0/part-0.quiver',
              0,
              4,
              (('p=1/part-0.quiver', 0, 4),
               ('p=2/part-0.quiver', 0, 4),
               ('p=3/part-0.quiver', 0, 4)))],
 'sorted_pruned@4': [('part-0.quiver', 20, 106, ()),
                     ('part-0.quiver', 106, 180, ())],
 'sorted_pruned@32': [('part-0.quiver', 20, 106, ()),
                      ('part-0.quiver', 106, 180, ())],
 'stream:wide': [('part-0.quiver', 0, 4, ()),
                 ('part-0.quiver', 4, 8, ()),
                 ('part-0.quiver', 8, 12, ()),
                 ('part-0.quiver', 12, 16, ()),
                 ('part-0.quiver', 16, 20, ()),
                 ('part-0.quiver', 20, 24, ()),
                 ('part-0.quiver', 24, 28, ()),
                 ('part-0.quiver', 28, 32, ()),
                 ('part-0.quiver', 32, 36, ()),
                 ('part-0.quiver', 36, 40, ()),
                 ('part-0.quiver', 40, 44, ()),
                 ('part-0.quiver', 44, 48, ()),
                 ('part-0.quiver', 48, 49, ())],
 'stream:many': [('part-00.quiver', 0, 4, ()),
                 ('part-00.quiver', 4, 5, ()),
                 ('part-01.quiver', 0, 4, ()),
                 ('part-01.quiver', 4, 5, ()),
                 ('part-02.quiver', 0, 4, ()),
                 ('part-02.quiver', 4, 5, ()),
                 ('part-03.quiver', 0, 4, ()),
                 ('part-03.quiver', 4, 5, ()),
                 ('part-04.quiver', 0, 4, ()),
                 ('part-04.quiver', 4, 5, ()),
                 ('part-05.quiver', 0, 4, ()),
                 ('part-05.quiver', 4, 5, ()),
                 ('part-06.quiver', 0, 4, ()),
                 ('part-06.quiver', 4, 5, ()),
                 ('part-07.quiver', 0, 4, ()),
                 ('part-07.quiver', 4, 5, ()),
                 ('part-08.quiver', 0, 4, ()),
                 ('part-08.quiver', 4, 5, ()),
                 ('part-09.quiver', 0, 4, ()),
                 ('part-09.quiver', 4, 5, ()),
                 ('part-10.quiver', 0, 4, ()),
                 ('part-10.quiver', 4, 5, ()),
                 ('part-11.quiver', 0, 4, ()),
                 ('part-11.quiver', 4, 5, ()),
                 ('part-12.quiver', 0, 4, ()),
                 ('part-12.quiver', 4, 5, ()),
                 ('part-13.quiver', 0, 4, ()),
                 ('part-13.quiver', 4, 5, ()),
                 ('part-14.quiver', 0, 4, ()),
                 ('part-14.quiver', 4, 5, ()),
                 ('part-15.quiver', 0, 4, ()),
                 ('part-15.quiver', 4, 5, ())],
 'stream:hive': [('p=0/part-0.quiver', 0, 4, ()),
                 ('p=1/part-0.quiver', 0, 4, ()),
                 ('p=2/part-0.quiver', 0, 4, ()),
                 ('p=3/part-0.quiver', 0, 4, ())]}
