"""``codec``: the format layer alone, no Spark.

Seeded arrays in the FIXTURES.md shapes (F2 random i64/utf8/bool, F4
dictionary utf8, F7 sorted i64, F9 smooth f64 with nulls, F10 array<int>)
at 2^16, 2^18 and 2^20 rows.  Every array is encoded by
``format.writer.write_table`` (page size 8192) with lz4 and zstd, adaptive
compression on (the default ratio 2.0) and off (``compress_ratio=None``),
and decoded by ``format.reader.read_table`` with checksum verification on,
the default.  A deck holds one encode and one decode of every case, in
seeded order; each decode must equal its input.  In a timed run every
encode is paired with ``pyarrow.parquet.write_table`` of the same array
with the same codec, and every decode with ``pyarrow.parquet.read_table``
on one thread, timed right before or right after it and checked too.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa

import common
import datagen
from common import ROOT, Op, OpResult, SetupError, log

#: array kind -> the type it is reported under
KINDS = {
    "i64": "i64", "i64_delta": "i64", "f64": "f64", "utf8": "utf8",
    "utf8_dict": "utf8", "bool": "bool", "list": "list",
}
TYPES = ("i64", "f64", "utf8", "bool", "list")
CODECS = ("lz4", "zstd")
ADAPTIVE = (True, False)

#: one cold set-up in a fresh interpreter: argv is the checkout, an Arrow
#: file and the path to encode to
SETUP_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from quiver_spark.format import reader, writer
table = pa.ipc.open_file(sys.argv[2]).read_all()
writer.write_table(table, sys.argv[3])
sys.exit(0 if reader.read_table(sys.argv[3]).equals(table) else 1)
"""


class CodecWorkload:
    name = "codec"
    uses_spark = False
    dml_kinds = ()
    #: each timed operation is paired with the same operation through Parquet
    parquet_baseline = True
    tracer = None
    #: nominal seconds per deck with its Parquet twins on a 4-core host
    #: (sets the deck count)
    deck_seconds = 15.0

    def __init__(self, seed: int, size: str, work):
        self.seed = seed
        self.work = work
        self.sizes = (1 << 16, 1 << 18, 1 << 20) if size == "full" else (1 << 10,)
        self.dir = work / "codec"
        self.dir.mkdir(parents=True, exist_ok=True)

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 6])
        self.arrays = {
            (kind, n): pa.table({"c": datagen.codec_array(rng, kind, n)})
            for kind in KINDS for n in self.sizes
        }
        self.cases = [(kind, n, codec, adaptive) for (kind, n) in self.arrays
                      for codec in CODECS for adaptive in ADAPTIVE]
        small_rng = np.random.default_rng([self.seed, 7])
        self.small = pa.table({k: datagen.codec_array(small_rng, k, 4096) for k in KINDS})

    def setup(self) -> list[float]:
        """Three cold set-ups, each a fresh interpreter that imports the
        format layer, then encodes and decodes one small table of every
        type and compares it with its input; timed from start to exit."""
        src = str(self.dir / "setup.arrow")
        with pa.OSFile(src, "wb") as f, pa.ipc.new_file(f, self.small.schema) as w:
            w.write_table(self.small)
        times = []
        for i in range(3):
            t0 = time.perf_counter()
            proc = subprocess.run([sys.executable, "-c", SETUP_SCRIPT, str(ROOT), src,
                                   str(self.dir / f"setup-{i}.qv")])
            times.append(time.perf_counter() - t0)
            if proc.returncode != 0:
                raise SetupError(f"codec set-up exited with {proc.returncode}")
        return times

    def prepare(self, spark) -> None:
        pass

    def reset(self) -> None:
        """Remove the encoded files, so a replay creates them again."""
        for case in self.cases:
            for p in (self._path(case), self._path(case) + ".stats.json",
                      self._path(case) + ".parquet"):
                if os.path.exists(p):
                    os.remove(p)

    def warm(self) -> list[bool]:
        """Untimed: import the format layer and pyarrow Parquet here too,
        and encode and decode the small table once with each, checked."""
        import pyarrow.parquet as pq

        from quiver_spark.format import reader, writer

        path = str(self.dir / "warm.qv")
        writer.write_table(self.small, path)
        pq.write_table(self.small, path + ".parquet")
        return [reader.read_table(path).equals(self.small),
                pq.read_table(path + ".parquet", use_threads=False).equals(self.small)]

    def _path(self, case) -> str:
        kind, n, codec, adaptive = case
        return str(self.dir / f"{kind}-{n}-{codec}-{int(adaptive)}.qv")

    def deck(self, deck_no: int) -> list[Op]:
        rng = np.random.default_rng([self.seed, 8, deck_no + 1])
        order = rng.permutation(len(self.cases))
        ops = []
        for i in order:
            ops.append(Op("encode", {"case": self.cases[i]}))
            ops.append(Op("decode", {"case": self.cases[i]}))
        return ops

    def run_op(self, op: Op, baseline: bool = False, base_first: bool = False) -> OpResult:
        """One encode or decode; with ``baseline``, also the same array
        written or read by pyarrow Parquet with the same codec (Parquet's
        other defaults, one thread), timed beside it and checked too."""
        import pyarrow.parquet as pq

        from quiver_spark.format import reader, writer

        case = op.args["case"]
        kind, n, codec, adaptive = case
        table = self.arrays[(kind, n)]
        path = self._path(case)
        opts = writer.WriteOptions(default_codec=codec, compress_ratio=2.0 if adaptive else None,
                                   max_page_size=8192)
        info = {"type": KINDS[kind], "rows": n}
        if op.kind == "encode":
            program = lambda: writer.write_table(table, path, opts)  # noqa: E731
            base = lambda: pq.write_table(table, path + ".parquet", compression=codec)  # noqa: E731
        else:
            program = lambda: reader.read_table(path)  # noqa: E731
            base = lambda: pq.read_table(path + ".parquet", use_threads=False)  # noqa: E731
        t0 = time.perf_counter()
        try:
            got, secs, base_got, base_secs = common.timed_pair(
                program, base if baseline else None, base_first)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the loop goes on
            log(f"codec {op.kind} {case} failed: {exc!r}")
            return OpResult(op.kind, time.perf_counter() - t0, False, info=info)
        if op.kind == "encode":
            stored = os.path.getsize(path) + os.path.getsize(path + ".stats.json")
            info["stored"] = stored
            return OpResult("encode", secs, True, write_bytes=table.nbytes, info=info,
                            base_seconds=base_secs)
        want = table.column(0).combine_chunks()
        ok = got.column(0).combine_chunks().equals(want)
        if not ok:
            log(f"codec decode {case} differs from its input")
        if base_got is not None and not base_got.column(0).combine_chunks().equals(want):
            log(f"codec Parquet decode {case} differs from its input")
            ok = False
        return OpResult("decode", secs, ok, read_bytes=table.nbytes, info=info,
                        base_seconds=base_secs)

    # -- figures read after the loop ----------------------------------------

    def stored_ratio(self, results) -> float:
        enc = [r for r in results if r.kind == "encode" and r.ok]
        return sum(r.info["stored"] for r in enc) / max(sum(r.write_bytes for r in enc), 1)

    def layer_metrics(self, results) -> dict:
        from quiver_spark.format.constants import CODEC_NAMES
        from quiver_spark.format.stat import stat_file

        out = {}
        for t in TYPES:
            enc = [r for r in results if r.kind == "encode" and r.ok and r.info["type"] == t]
            dec = [r for r in results if r.kind == "decode" and r.ok and r.info["type"] == t]
            out[f"format.encode_mb_per_s.{t}"] = (
                sum(r.write_bytes for r in enc) / 1e6 / max(sum(r.seconds for r in enc), 1e-9), "MB/s")
            out[f"format.decode_mb_per_s.{t}"] = (
                sum(r.read_bytes for r in dec) / 1e6 / max(sum(r.seconds for r in dec), 1e-9), "MB/s")
            out[f"format.bytes_per_user_byte.{t}"] = (
                sum(r.info["stored"] for r in enc) / max(sum(r.write_bytes for r in enc), 1), "ratio")
        pages = dict.fromkeys(CODEC_NAMES.values(), 0)
        for case in self.cases:
            pages = page_histogram(stat_file(self._path(case)), pages)
        out.update({f"format.pages.{c}": (v, "count") for c, v in pages.items()})
        return out

    def exact_counts(self) -> dict:
        return {"stored": {f"{k}-{n}-{c}-{int(a)}": os.path.getsize(self._path((k, n, c, a)))
                           for (k, n, c, a) in self.cases}}


def page_histogram(stats: dict, into: dict) -> dict:
    """Add the top-level codec of every page in a ``stat_file`` result."""
    out = dict(into)
    for pages in stats.values():
        for p in pages:
            out[p.codec] = out.get(p.codec, 0) + 1
    return out
