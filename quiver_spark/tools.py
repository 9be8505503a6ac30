"""Command-line inspection utilities for quiver files — the operational
layer a format needs at fleet scale (what `parquet-tools` is to parquet).

    python -m quiver_spark inspect <file.quiver>   # schema + size summary
    python -m quiver_spark stat    <file.quiver>   # per-page codec trees
    python -m quiver_spark verify  <file.quiver>   # checksum + full decode
    python -m quiver_spark head    <file.quiver> [-n N]
    python -m quiver_spark compact <src_dir> <dst_file>  # merge small files
                                   # (driver-local; flat dirs — use
                                   # maintenance.compact for cluster scale)
    python -m quiver_spark generations <dir>             # snapshot inventory
    python -m quiver_spark expire  <dir> [--keep N]      # retention sweep
    python -m quiver_spark rollback <dir> --to N  # re-point _current at a
                                   # retained generation (undo an overwrite;
                                   # CAS + writer lock, loud on races)

Pure pyarrow — no Spark session, no JVM. `stat` is the reference's
stat_simple diagnostic (src/stat.rs:26-152) surfaced as a CLI; `verify` is
the operational "is this object healthy" probe (sidecar CRCs when present,
full decode always).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _footer(path: str):
    from quiver_spark.format.reader import read_footer

    with open(path, "rb") as f:
        return read_footer(f)


def cmd_inspect(path: str) -> dict:
    """Schema, row/page counts, per-column compressed size, sidecar status
    — one footer read plus the sidecar, no data pages touched."""
    from quiver_spark.format import stats as stats_mod
    from quiver_spark.format.reader import column_leaf_ranges, file_row_count

    schema, metas = _footer(path)
    ranges = column_leaf_ranges(schema)
    sidecar = stats_mod.load_sidecar(path)
    cols = []
    for ci in range(len(schema)):
        fld = schema.field(ci)
        lo, cnt = ranges[ci]
        leaf_metas = metas[lo : lo + cnt]
        cols.append(
            {
                "name": fld.name,
                "type": str(fld.type),
                "nullable": fld.nullable,
                "leaves": cnt,
                "pages": len(leaf_metas[0].pages),
                "compressed_bytes": int(
                    sum(p.length for m in leaf_metas for p in m.pages)
                ),
            }
        )
    # file_row_count, not metas[0] num_values: a nested first column's
    # pages carry SLOT counts, which over-count rows
    rows = file_row_count(path, schema, metas)
    return {
        "file": path,
        "file_bytes": os.path.getsize(path),
        "rows": rows,
        "columns": cols,
        "sidecar": {
            "present": sidecar is not None,
            "page_stats": bool(sidecar and sidecar.get("columns")),
            "page_crc32": bool(sidecar and sidecar.get("page_crc32")),
        },
    }


def cmd_stat(path: str) -> str:
    from quiver_spark.format.stat import describe

    return describe(path)


def cmd_verify(path: str) -> dict:
    """Full-decode health probe: footer parse, sidecar CRC verification
    (when the sidecar carries checksums), and a decode of every page of
    every column. Returns ok=False with the error instead of raising."""
    from quiver_spark.format.reader import read_table

    try:
        t = cmd_inspect(path)
        table = read_table(path, verify_checksums=True)
        return {
            "file": path,
            "ok": True,
            "rows": table.num_rows,
            "columns": table.num_columns,
            "crc_checked": t["sidecar"]["page_crc32"],
        }
    except Exception as exc:  # operational probe: report, don't crash
        return {"file": path, "ok": False, "error": f"{type(exc).__name__}: {exc}"}


def cmd_generations(path: str) -> dict:
    """Generation inventory of a table directory: every retained
    `gen-NNNNNN/` snapshot with file/row counts, which one is live, and
    whether a pre-generation flat layout is present."""
    from quiver_spark.sources import snapshot
    from quiver_spark.sources.quiver_datasource import _data_root, _list_files

    cur = None
    cur_path = os.path.join(path, snapshot.CURRENT)
    if os.path.exists(cur_path):
        with open(cur_path) as f:
            cur = f.read().strip()
    gens = []
    for d in snapshot.generations(path):
        files = _list_files(os.path.join(path, d))
        gens.append(
            {
                "generation": d,
                "live": d == cur,
                "files": len(files),
                "rows": sum(cmd_inspect(f).get("rows", 0) for f in files),
            }
        )
    return {
        "dir": path,
        "current": cur,
        "resolved_root": _data_root(path) if os.path.isdir(path) else path,
        "generations": gens,
        "flat_files": 0
        if cur
        else len(_list_files(path)) if os.path.isdir(path) else 0,
    }


def _table_data_files(root: str) -> list[str]:
    """Data files of both table formats under a resolved root, deduped
    (a non-directory path comes back once, not once per pattern)."""
    from quiver_spark.sources.quiver_datasource import _list_files_pattern

    seen: dict[str, None] = {}
    for pattern in ("*.quiver", "*.arrow"):
        for f in _list_files_pattern(root, pattern):
            seen[f] = None
    return list(seen)


def cmd_commits(path: str, version: int | None = None) -> dict:
    """Commit history view of a table's live (or time-traveled) snapshot:
    the manifest commit sequence with per-commit file and row counts —
    the cursor surface for incremental consumers (``changes_since`` /
    ``maintenance.table_changes``). Data files the manifest cannot vouch
    for are listed separately (an incremental scan conservatively
    includes them)."""
    from quiver_spark.format.reader import file_row_count
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _file_footer,
    )

    root = _data_root(path, version)
    # both table formats share the commit protocol — list both
    data_files = _table_data_files(root)
    man = load_manifest(root)
    if man is None:
        return {
            "dir": path,
            "resolved_root": root,
            "current_commit": 0,
            "commits": [],
            "unvouched_files": len(data_files),
            "note": "no manifest — rebuild with `quiver-tools manifest "
            "rebuild` to start a commit history (existing files become "
            "baseline commit 0)",
        }
    per: dict[int, dict] = {}
    unvouched = 0
    for f in data_files:
        ent = man.lookup(f)
        if ent is None:
            unvouched += 1
            continue
        if ent.rows is not None:
            rows = ent.rows
        elif f.endswith(".quiver"):
            served = man.footer(f)
            schema, metas = (
                served if served is not None else _file_footer(f)
            )
            rows = file_row_count(f, schema, metas)
        else:
            rows = 0  # pre-rows-entry arrow manifest: count unknown
        c = per.setdefault(ent.commit, {"commit": ent.commit, "files": 0,
                                        "rows": 0})
        c["files"] += 1
        c["rows"] += rows
    # metadata-only commits (ALTER DDL) stamp no file but DO advance the
    # sequence — surface them as zero-file history rows, labeled with the
    # op recorded at commit time. Live files rewritten by a LATER commit
    # naturally stop witnessing the commit that first added them, so a
    # timestamped-but-fileless seq is only called DDL when labeled.
    for seq, op in man.commit_ops.items():
        if seq not in per:
            per[seq] = {"commit": seq, "files": 0, "rows": 0}
        per[seq]["op"] = op
    for seq, t in man.commit_times.items():
        if seq in per:
            import datetime as _dt

            per[seq]["committed_at"] = _dt.datetime.fromtimestamp(
                t
            ).isoformat()
    return {
        "dir": path,
        "resolved_root": root,
        "current_commit": man.commit_seq,
        "commits": [per[k] for k in sorted(per)],
        "unvouched_files": unvouched,
    }


def cmd_changes(
    path: str, since: int | None = None, at: str | None = None,
    version: int | None = None,
) -> dict:
    """Changed-file listing after a cursor (``--since N``) or wall-clock
    instant (``--at ISO``): what an incremental ``changes_since`` scan
    would plan — file, commit stamp, rows. Unvouched files (no valid
    manifest entry) are listed too, as an incremental scan includes
    them."""
    from quiver_spark.maintenance import commit_at
    from quiver_spark.sources.manifest import load_manifest
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _files_changed_since,
    )

    if at is not None and since is not None:
        raise ValueError("pass --since or --at, not both")
    if at is not None:
        since = commit_at(path, at, version=version)
    since = int(since or 0)
    root = _data_root(path, version)
    files = _table_data_files(root)
    man = load_manifest(root)
    changed = _files_changed_since(files, man, since)
    out = []
    for f in changed:
        ent = man.lookup(f) if man is not None else None
        out.append(
            {
                "file": os.path.relpath(f, root),
                "commit": ent.commit if ent is not None else None,
                "rows": ent.rows if ent is not None else None,
            }
        )
    return {
        "dir": path,
        "resolved_root": root,
        "since_commit": since,
        "current_commit": man.commit_seq if man is not None else 0,
        "changed_files": out,
        "total_rows": sum(e["rows"] or 0 for e in out),
    }


def cmd_verify_dir(path: str) -> dict:
    """cmd_verify over every .quiver file under a directory (recursive,
    Hive layouts included): the post-ingest / post-compaction health sweep.
    Returns per-file results plus a summary; ok only if every file is."""
    from quiver_spark.sources.quiver_datasource import _list_files

    files = _list_files(path)
    results = [cmd_verify(f) for f in files]
    bad = [r for r in results if not r["ok"]]
    return {
        "dir": path,
        "ok": not bad and bool(files),
        "files": len(files),
        "rows": sum(r.get("rows", 0) for r in results),
        "failed": [r["file"] for r in bad],
        "results": results,
    }


def cmd_doctor(path: str, deep: bool = False) -> dict:
    """One-command table health report — the ops entry point that runs
    every diagnostic the CLI already has pieces for (VERDICT r9 stretch):
    manifest verify, generation inventory, declared schema + CHECK
    constraints, ANALYZE-stats staleness, and the commit-history tail.
    ``deep=True`` additionally decodes every page of every file
    (cmd_verify_dir — checksums + full structural decode; cost O(data)).
    ``ok`` aggregates: a healthy table answers True from metadata alone."""
    from quiver_spark.sources.manifest import load_manifest, verify_manifest
    from quiver_spark.sources.quiver_datasource import _data_root

    report: dict = {"dir": path, "ok": True, "problems": []}
    try:
        root = _data_root(path)
    except Exception as ex:
        return {"dir": path, "ok": False, "problems": [f"unresolvable table root: {ex}"]}
    report["root"] = root

    man = load_manifest(root)
    if man is None:
        report["manifest"] = {
            "present": False,
            "note": "no manifest — scans degrade to per-file footer reads; "
            "run `quiver-tools manifest rebuild` to retrofit",
        }
    else:
        mv = verify_manifest(root)
        report["manifest"] = {
            "present": True,
            "ok": mv["ok"],
            "checked": mv["checked"],
            "stale": len(mv["stale"]),
            "mismatched": mv["mismatched"],
            "unlisted": len(mv["unlisted"]),
            "missing": mv["missing"],
        }
        if not mv["ok"]:
            report["ok"] = False
            report["problems"].append("manifest verify failed (see .manifest)")

    try:
        gens = cmd_generations(path)
        report["generations"] = gens
    except Exception as ex:
        report["generations"] = {"error": str(ex)}

    try:
        sch = cmd_schema(path)
        report["schema_source"] = sch.get("schema_source")
        report["columns"] = len(sch.get("columns", []))
        report["check_constraints"] = sch.get("check_constraints", {})
    except Exception as ex:
        report["ok"] = False
        report["problems"].append(f"schema unreadable: {ex}")

    if man is not None:
        st = man.table_stats
        report["analyze_stats"] = (
            {"present": False}
            if st is None
            else {
                "present": True,
                "stale": st.get("analyzed_at_commit") != man.commit_seq,
                "analyzed_at_commit": st.get("analyzed_at_commit"),
                "current_commit": man.commit_seq,
            }
        )

    try:
        hist = cmd_commits(path)
        commits = hist.get("commits", [])
        report["commits"] = {"total": len(commits), "tail": commits[-5:]}
    except Exception as ex:
        report["commits"] = {"error": str(ex)}

    if deep:
        dv = cmd_verify_dir(path)
        report["deep_verify"] = {
            "ok": dv["ok"],
            "files": dv["files"],
            "rows": dv["rows"],
            "failed": dv["failed"],
        }
        if not dv["ok"]:
            report["ok"] = False
            report["problems"].append("deep verify failed (see .deep_verify)")

    return report


def cmd_head(path: str, n: int) -> list[dict]:
    """First n rows, decoding only the leading pages (page-range read)."""
    from quiver_spark.format.reader import read_footer, read_table

    with open(path, "rb") as f:
        _schema, metas = read_footer(f)
    pages_needed = 0
    rows = 0
    for p in (metas[0].pages if metas else []):
        pages_needed += 1
        rows += p.num_values
        if rows >= n:
            break
    t = read_table(path, page_start=0, page_end=pages_needed)
    return t.slice(0, n).to_pylist()


def cmd_schema(path: str, version: int | None = None) -> dict:
    """DESCRIBE analogue for a table directory: the schema a scan will
    serve (the manifest's DECLARED table schema when ALTER-style DDL ever
    ran, else the first file's footer), whether it is declared or
    inferred, and any per-file declared->physical rename maps."""
    from quiver_spark.sources.manifest import load_manifest, rename_maps
    from quiver_spark.sources.quiver_datasource import (
        _data_root,
        _footer_of,
        _list_files_pattern,
    )

    root = _data_root(path, version=version)
    man = load_manifest(root)
    declared = man.table_schema() if man is not None else None
    if declared is not None:
        schema, source = declared, "declared (ALTER DDL)"
    else:
        files = _list_files_pattern(root, "*.quiver") or _list_files_pattern(
            root, "*.arrow"
        )
        if not files:
            return {"root": root, "columns": [], "schema_source": "empty"}
        if files[0].endswith(".arrow"):
            import pyarrow.ipc as ipc

            with ipc.open_file(files[0]) as r:
                schema = r.schema
        else:
            schema, _ = _footer_of(man, files[0])
        source = f"inferred from {os.path.basename(files[0])}"
    defaults = dict(man.column_defaults) if man is not None else {}
    return {
        "root": root,
        "schema_source": source,
        "check_constraints": (
            dict(man.check_constraints) if man is not None else {}
        ),
        "columns": [
            {
                "name": f.name,
                "type": str(f.type),
                "nullable": f.nullable,
                **(
                    {"default": defaults[f.name]}
                    if f.name in defaults
                    else {}
                ),
            }
            for f in schema
        ],
        "renamed_files": rename_maps(root),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="quiver_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    for c in ("inspect", "stat", "verify"):
        s = sub.add_parser(c)
        s.add_argument("file")
    h = sub.add_parser("head")
    h.add_argument("file")
    h.add_argument("-n", type=int, default=10)
    c = sub.add_parser("compact")
    c.add_argument("src_dir")
    c.add_argument("dst_file")
    c.add_argument("--codec", default="lz4")
    g = sub.add_parser("generations")
    g.add_argument("dir")
    x = sub.add_parser("expire")
    x.add_argument("dir")
    x.add_argument("--keep", type=int, default=1)
    v = sub.add_parser(
        "vacuum",
        help="one-call housekeeping: expire old generations (--keep N), "
        "sweep abandoned staging attempts, remove orphan sidecars",
    )
    v.add_argument("dir")
    v.add_argument("--keep", type=int, default=1)
    v.add_argument("--staging-age-sec", type=int, default=24 * 3600)
    r = sub.add_parser("rollback")
    r.add_argument("dir")
    r.add_argument("--to", type=int, required=True, metavar="VERSION")
    m = sub.add_parser(
        "manifest",
        help="verify or rebuild the commit-time plan manifest of a table's "
        "live data root (the O(1) plan-time metadata the sink writes at "
        "each commit)",
    )
    m.add_argument("action", choices=("verify", "rebuild"))
    m.add_argument("dir")
    m.add_argument(
        "--version",
        type=int,
        default=None,
        help="operate on a retained generation instead of the live one",
    )
    co = sub.add_parser(
        "commits",
        help="manifest commit history of a table snapshot (per-commit "
        "file/row counts — the cursors incremental changes_since scans "
        "consume)",
    )
    co.add_argument("dir")
    co.add_argument("--version", type=int, default=None)
    ch = sub.add_parser(
        "changes",
        help="changed files after a commit cursor (--since N) or "
        "wall-clock instant (--at ISO) — what an incremental "
        "changes_since scan plans",
    )
    ch.add_argument("dir")
    chx = ch.add_mutually_exclusive_group()
    chx.add_argument("--since", type=int, default=None)
    chx.add_argument("--at", default=None)
    ch.add_argument("--version", type=int, default=None)
    cl = sub.add_parser(
        "clone",
        help="zero-copy clone of a table snapshot into a NEW table "
        "(hard links, no data movement; --version clones a retained "
        "older generation)",
    )
    cl.add_argument("src")
    cl.add_argument("dst")
    cl.add_argument("--version", type=int, default=None)
    al = sub.add_parser(
        "alter",
        help="metadata-only schema evolution on a table directory: "
        "add-column DIR NAME TYPE | drop-column DIR NAME | "
        "rename-column DIR OLD NEW (each publishes a hard-linked "
        "generation; time travel / rollback cover ALTERs like any commit)",
    )
    al.add_argument(
        "action", choices=("add-column", "drop-column", "rename-column")
    )
    al.add_argument("dir")
    al.add_argument("name", help="column name (OLD name for rename-column)")
    al.add_argument(
        "arg2",
        nargs="?",
        default=None,
        help="Spark-DDL type for add-column / NEW name for rename-column",
    )
    al.add_argument(
        "--default",
        dest="default",
        default=None,
        help="add-column only: initial default — files lacking the "
        "column serve this value instead of NULL (parsed as JSON, so "
        "strings need quotes: --default '\"unknown\"')",
    )
    ts = sub.add_parser(
        "stats",
        help="table statistics recorded by maintenance.analyze_table "
        "(row count, per-column nulls/ndv/min/max), with a staleness "
        "flag against the current commit",
    )
    ts.add_argument("dir")
    ts.add_argument("--version", type=int, default=None)
    cn = sub.add_parser(
        "constraint",
        help="drop a CHECK constraint (adding one needs a SparkSession "
        "for validation — use maintenance.add_constraint); `schema` "
        "lists the table's constraints",
    )
    cn.add_argument("action", choices=("drop",))
    cn.add_argument("dir")
    cn.add_argument("name")
    sc = sub.add_parser(
        "schema",
        help="the schema a scan of this table directory will serve "
        "(declared by ALTER DDL, or footer-inferred) plus any per-file "
        "rename maps",
    )
    sc.add_argument("dir")
    sc.add_argument("--version", type=int, default=None)
    dr = sub.add_parser(
        "doctor",
        help="one-command table health report: manifest verify, "
        "generations, schema + constraints, ANALYZE staleness, commit "
        "tail; --deep additionally decodes every page of every file",
    )
    dr.add_argument("dir")
    dr.add_argument("--deep", action="store_true")
    args = ap.parse_args(argv)
    if args.cmd == "inspect":
        print(json.dumps(cmd_inspect(args.file), indent=2))
    elif args.cmd == "stat":
        print(cmd_stat(args.file))
    elif args.cmd == "verify":
        out = (
            cmd_verify_dir(args.file)
            if os.path.isdir(args.file)
            else cmd_verify(args.file)
        )
        print(json.dumps(out, indent=2))
        return 0 if out["ok"] else 1
    elif args.cmd == "head":
        for row in cmd_head(args.file, args.n):
            print(json.dumps(row, default=str))
    elif args.cmd == "generations":
        print(json.dumps(cmd_generations(args.dir), indent=2))
    elif args.cmd == "expire":
        from quiver_spark.maintenance import expire_generations

        print(json.dumps(expire_generations(args.dir, keep=args.keep), indent=2))
    elif args.cmd == "vacuum":
        from quiver_spark.maintenance import vacuum

        print(
            json.dumps(
                vacuum(
                    args.dir,
                    keep=args.keep,
                    staging_age_sec=args.staging_age_sec,
                ),
                indent=2,
            )
        )
    elif args.cmd == "rollback":
        from quiver_spark.maintenance import rollback_generation

        print(json.dumps(rollback_generation(args.dir, args.to), indent=2))
    elif args.cmd == "manifest":
        from quiver_spark.sources.manifest import (
            rebuild_manifest,
            verify_manifest,
        )
        from quiver_spark.sources.quiver_datasource import _data_root

        root = _data_root(args.dir, version=args.version)
        if args.action == "rebuild":
            print(json.dumps(rebuild_manifest(root), indent=2))
        else:
            out = verify_manifest(root)
            print(json.dumps(out, indent=2))
            return 0 if out["ok"] else 1
    elif args.cmd == "commits":
        print(json.dumps(cmd_commits(args.dir, args.version), indent=2))
    elif args.cmd == "changes":
        print(
            json.dumps(
                cmd_changes(
                    args.dir, since=args.since, at=args.at,
                    version=args.version,
                ),
                indent=2,
            )
        )
    elif args.cmd == "alter":
        from quiver_spark.maintenance import (
            add_column,
            drop_column,
            rename_column,
        )

        if args.action == "add-column":
            if args.arg2 is None:
                ap.error("add-column requires NAME TYPE")
            dflt = None
            if args.default is not None:
                try:
                    dflt = json.loads(args.default)
                except json.JSONDecodeError:
                    dflt = args.default  # bare string convenience
            out = add_column(args.dir, args.name, args.arg2, default=dflt)
        elif args.action == "drop-column":
            out = drop_column(args.dir, args.name)
        else:
            if args.arg2 is None:
                ap.error("rename-column requires OLD NEW")
            out = rename_column(args.dir, args.name, args.arg2)
        print(json.dumps(out, indent=2))
    elif args.cmd == "stats":
        from quiver_spark.sources.manifest import load_manifest
        from quiver_spark.sources.quiver_datasource import _data_root

        root = _data_root(args.dir, version=args.version)
        man = load_manifest(root)
        st = man.table_stats if man is not None else None
        if st is None:
            print(json.dumps({
                "root": root, "table_stats": None,
                "note": "never analyzed — run "
                "maintenance.analyze_table(spark, dir)",
            }, indent=2))
        else:
            cur = man.commit_seq
            out = {
                "root": root,
                "stale": st.get("analyzed_at_commit") != cur,
                "current_commit": cur,
                **st,
            }
            print(json.dumps(out, indent=2))
    elif args.cmd == "constraint":
        from quiver_spark.maintenance import drop_constraint

        print(json.dumps(drop_constraint(args.dir, args.name), indent=2))
    elif args.cmd == "schema":
        print(json.dumps(cmd_schema(args.dir, args.version), indent=2))
    elif args.cmd == "doctor":
        out = cmd_doctor(args.dir, deep=args.deep)
        print(json.dumps(out, indent=2, default=str))
        return 0 if out["ok"] else 1
    elif args.cmd == "clone":
        from quiver_spark.maintenance import clone_snapshot

        print(
            json.dumps(
                clone_snapshot(args.src, args.dst, version=args.version),
                indent=2,
            )
        )
    elif args.cmd == "compact":
        from quiver_spark.maintenance import compact_local

        print(
            json.dumps(
                compact_local(args.src_dir, args.dst_file, codec=args.codec),
                indent=2,
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
