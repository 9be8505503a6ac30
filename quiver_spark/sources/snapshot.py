"""The table layer's snapshot protocol: generations, the pointer, and the
one commit every table write that needs a snapshot publishes through.

The reference format is a single file with no table layer (PAPER.md §0);
this module is the repo's own addition and the one place that knows the
on-disk protocol. A table directory holds numbered snapshots
``gen-NNNNNN/`` and a ``_current`` pointer naming the live one (no
pointer: a flat table that resolves to itself). Writers stage task
output under the hidden ``_temporary/`` root; :func:`commit` publishes
it — data files first, then one atomic metadata publish, the split of
Delta's log commit. Callers: every write of ``sources.write`` (its
files staged under ``_temporary/<engine>-<uuid>/``), the quiver and
arrowipc batch and stream sinks (``QuiverWriter._publish``) and
metadata-only ALTERs (``maintenance._commit_evolution``); clone,
rollback, retention, vacuum and ``quiver-tools generations`` use the
listing and linking helpers.
Nothing here names a file format: callers pass their data-file globs.
The storage primitives (lock, claim, CAS swap) sit behind
``pointer_store.PointerStore``.
"""

from __future__ import annotations

import fnmatch
import glob
import hashlib
import os
import re
import shutil
from typing import Callable, Iterable, Sequence

from .pointer_store import ConcurrentWriteError, PointerStore, get_pointer_store

#: staging root for the write commit protocol (hidden from readers, the
#: same convention as Spark's file sinks)
STAGING_DIR = "_temporary"
#: generation-directory name pattern for atomic overwrite snapshots
#: (6+ digits: names are zero-padded to 6 but keep resolving past the
#: millionth overwrite, when :06d naturally widens to 7 digits)
GEN_RE = re.compile(r"gen-\d{6,}")
#: pointer file naming the live generation (atomic os.replace swap)
CURRENT = "_current"
#: marker stamped inside a generation directory by every SUCCESSFUL
#: pointer swap: distinguishes a committed snapshot (retained for time
#: travel — e.g. the generation a rollback moved away from, which sits
#: NEWER than the live pointer) from an orphaned claim a crashed writer
#: left behind. vacuum's orphan sweep only ever touches unmarked dirs.
COMMITTED = "_committed"
SIDECAR = ".stats.json"
#: per-table log of published stream batches, one ``<batchId>`` marker
#: each (``publish_once``; ``sources.stream_writer`` and the arrowipc
#: stream sink share it)
COMMIT_LOG = "_quiver_commits"


def gen_name(number: int) -> str:
    return f"gen-{number:06d}"


def gen_number(name: str) -> int:
    return int(name.split("-")[1])


def generations(table: str) -> list[str]:
    """Generation directory names under ``table``, sorted by number (NOT
    lexicographically: past the millionth overwrite names widen to 7
    digits and ``gen-1000000`` would sort before ``gen-999999`` as a
    string, corrupting max+1 claiming and retention order)."""
    if not os.path.isdir(table):
        return []
    return sorted(
        (
            d
            for d in os.listdir(table)
            if GEN_RE.fullmatch(d) and os.path.isdir(os.path.join(table, d))
        ),
        key=gen_number,
    )


def mark_committed(gen_dir: str) -> None:
    """Best-effort commit marker (see COMMITTED) — advisory metadata,
    never load-bearing for reads, so failures are swallowed."""
    try:
        with open(os.path.join(gen_dir, COMMITTED), "w") as f:
            f.write("")
    except OSError:
        pass


def data_root(path: str, version: str | int | None = None) -> str:
    """Resolve a table path to its live data root.

    Sink OVERWRITES publish into numbered generation subdirectories
    (`gen-000001/…`) and atomically swap a `_current` pointer file — so an
    overwrite is all-or-nothing for every reader that starts after the
    commit, and a failed job never touches the previous generation.
    Directories without a pointer (library write_table output, appends to
    flat layouts, pre-generation tables) resolve to themselves.
    ``version`` pins a retained older generation (time travel — requires
    the write to have kept it via ``keep_generations``)."""
    if not os.path.isdir(path):
        return path
    if version is not None:
        name = (
            gen_name(int(version)) if str(version).isdigit() else str(version)
        )
        d = os.path.join(path, name)
        if not GEN_RE.fullmatch(name) or not os.path.isdir(d):
            raise ValueError(
                f"version {version!r} not found under {path}; retained "
                f"generations: {generations(path) or 'none'} (older "
                "generations are kept only when written with "
                "keep_generations > 1)"
            )
        return d
    cur = os.path.join(path, CURRENT)
    if not os.path.exists(cur):
        return path
    with open(cur) as f:
        name = f.read().strip()
    d = os.path.join(path, name)
    if not GEN_RE.fullmatch(name) or not os.path.isdir(d):
        raise ValueError(
            f"corrupt generation pointer {cur}: names {name!r}, which is "
            "not a retained generation directory"
        )
    return d


def list_files(path: str, pattern: str) -> list[str]:
    """Committed data files under a resolved root matching ``pattern``,
    skipping hidden/staging components (any path segment, filename
    included — the Hadoop/Spark convention): files under _temporary are
    uncommitted task attempts and must never be scanned. Generation
    directories directly under the root are skipped too: under a flat
    root they are claims no pointer names yet (``QuiverJvmRead.listFiles``
    parity)."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for f in glob.glob(os.path.join(path, "**", pattern), recursive=True):
        segs = os.path.relpath(f, path).split(os.sep)
        if any(seg.startswith(("_", ".")) for seg in segs) or (
            len(segs) > 1 and GEN_RE.fullmatch(segs[0])
        ):
            continue
        out.append(f)
    return sorted(out)


def link_files(src_root: str, dst_root: str, rels: Iterable[str]) -> list[str]:
    """Hard-link each ``rel`` and its stats sidecar from ``src_root`` into
    ``dst_root`` (a copy where the filesystem refuses links). Links share
    the inode, so they survive the source generation's deletion and the
    manifest's stat keys stay valid; an object-store adapter would
    server-side-copy here instead. A missing data file raises
    FileNotFoundError naming it; a missing sidecar is skipped (sidecars
    are optional). Returns the linked rels."""
    linked = []
    for rel in rels:
        src = os.path.join(src_root, rel)
        if not os.path.exists(src):
            raise FileNotFoundError(rel)
        dst = os.path.join(dst_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        for s, d in ((src, dst), (src + SIDECAR, dst + SIDECAR)):
            if not os.path.exists(s):
                continue
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
        linked.append(rel)
    return linked


def _files_digest(rels: Iterable[str]) -> str:
    return hashlib.sha256("\n".join(sorted(rels)).encode()).hexdigest()[:16]


def carry_source(gen: str, rels: Iterable[str]) -> str:
    """The ``carry_src`` of a row-level rewrite planned against the live
    generation ``gen`` (``""`` = flat root) whose data files were
    ``rels``: the name, ``@``, and a digest of that file set. The commit
    compares both under the lock, so rows committed into the SAME
    generation after planning fail the rewrite instead of vanishing
    from the new snapshot. A bare name checks the generation only."""
    return f"{gen}@{_files_digest(rels)}"


def sweep_stale_staging(
    path: str, max_age_sec: int = 24 * 3600
) -> list[str]:
    """Remove abandoned write-attempt staging entries under
    ``path/_temporary`` older than ``max_age_sec``, then drop the root
    if empty. Returns the entries VERIFIED gone (an rmtree that failed
    — e.g. foreign-owned files — is not reported as swept). Shared by
    the sink's commit-time GC and maintenance.vacuum so the sweep
    semantics can never diverge. PRECONDITION for callers passing a
    short age: it must exceed the longest in-flight write, or a live
    job's staged files can be destroyed mid-commit."""
    import time as _time

    swept: list[str] = []
    stage_root = os.path.join(path, STAGING_DIR)
    if os.path.isdir(stage_root):
        cutoff = _time.time() - max_age_sec
        for entry in os.listdir(stage_root):
            full = os.path.join(stage_root, entry)
            try:
                if os.path.getmtime(full) < cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    if not os.path.exists(full):
                        swept.append(entry)
            except OSError:
                continue
    try:
        os.rmdir(stage_root)  # only if no other attempts remain
    except OSError:
        pass
    return swept


def publish_once(table: str, batch_id, publish: Callable[[], object]) -> bool:
    """Run ``publish()`` for stream batch ``batch_id`` unless its marker
    exists, then write the marker; returns whether it ran. A batch Spark
    replays after a driver failure then publishes once; a crash between
    publish and marker still repeats it (at-least-once)."""
    marker = os.path.join(table, COMMIT_LOG, str(batch_id))
    if os.path.exists(marker):
        return False
    publish()
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker + ".tmp", "w") as f:
        f.write("ok")
    os.replace(marker + ".tmp", marker)
    return True


def _claim(table: str, store: PointerStore) -> str:
    """Claim the next generation by exclusive create; a concurrent writer
    holding the number bumps us to the next one (collision-proof names
    even on stores whose lock() is a no-op)."""
    gens = generations(table)
    nxt = gen_number(gens[-1]) + 1 if gens else 1
    while not store.claim_generation(table, gen_name(nxt)):
        nxt += 1
    return gen_name(nxt)


def _publish_staged(
    staged: Iterable[tuple[str, Sequence[str]]], dst_root: str
) -> list[str]:
    """Move each task's staged files (same-filesystem rename) into
    ``dst_root`` and drop the task's staging dir. Data file first, then
    its sidecar: a crash in between leaves a data file whose reads are
    briefly unverified (the checksum cache keys on the sidecar's stat, so
    the late sidecar IS picked up) — the reverse order would leave
    permanent orphan sidecars no GC path sweeps."""
    published: list[str] = []
    for task_dir, files in staged:
        for rel in files:
            dst = os.path.join(dst_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(task_dir, rel), dst)
            side = os.path.join(task_dir, rel + SIDECAR)
            if os.path.exists(side):
                os.replace(side, dst + SIDECAR)
            published.append(rel)
        shutil.rmtree(task_dir, ignore_errors=True)
    return published


def _write_manifest(
    dst_root: str,
    live_root: str,
    published: list[str],
    carried: list[str],
    fmt: str | None,
    mutate: Callable[[str, list[str]], object] | None,
) -> None:
    """The generation's manifest, written BEFORE the pointer swap (it is
    part of the atomic snapshot). A data commit merges the published
    files' footers and copies the carried files' entries from the live
    snapshot's manifest (no footer re-reads); ``prev_root`` keeps the
    CDC commit counter monotone across the swap and the unconditional
    call stamps even an all-carried or empty snapshot as one commit. A
    metadata-only commit copies the live manifest and hands it to
    ``mutate``."""
    from .manifest import manifest_path, update_manifest

    if mutate is None:
        update_manifest(
            dst_root,
            published,
            fmt,
            carry=(live_root, carried) if carried else None,
            prev_root=live_root,
        )
        return
    if os.path.exists(manifest_path(live_root)):
        shutil.copy2(manifest_path(live_root), manifest_path(dst_root))
    mutate(dst_root, carried)


def _retain(table: str, current: str, previous: str | None, keep: int) -> None:
    """After a data commit's swap: keep ``keep`` generations — the new
    current, then the IMMEDIATELY-SUPERSEDED one (``previous``), then
    numerically-newest others — and delete the rest. ``previous`` ranks
    ABOVE numerically-newer others because after a rollback the live
    generation is an old number: newest-first retention would GC the
    generation mid-scan readers froze at plan time, breaking the
    documented keep_generations >= 2 isolation contract (pinned in
    tests/test_concurrent_writers.py)."""
    ranked: list[str] = [current]
    if previous is not None and previous != current:
        ranked.append(previous)
    for g in reversed(generations(table)):  # newest first
        if g not in ranked:
            ranked.append(g)
    for g in ranked[max(1, keep):]:
        shutil.rmtree(os.path.join(table, g), ignore_errors=True)


def sweep_flat(table: str, globs: Sequence[str]) -> list[str]:
    """Remove data files (and sidecars) matching ``globs`` that sit
    outside every generation and staging dir: once a pointer exists no
    resolver sees them, so leaving them is a disk leak. The directories
    this leaves empty (Hive ``k=v/``) go bottom-up, and the flat-root
    manifest described them and goes too (each generation carries its
    own). Returns the removed files, relative to ``table``."""
    from .manifest import remove_manifest

    removed: list[str] = []
    walked: list[str] = []
    pats = [p for g in globs for p in (g, g + SIDECAR)]
    for dirpath, dirs, files in os.walk(table):
        gens_here = dirpath == table
        dirs[:] = [
            d
            for d in dirs
            if not d.startswith(("_", "."))
            and not (gens_here and GEN_RE.fullmatch(d))
        ]
        walked.extend(os.path.join(dirpath, d) for d in dirs)
        for f in files:
            if not f.startswith(("_", ".")) and any(
                fnmatch.fnmatchcase(f, p) for p in pats
            ):
                try:
                    os.remove(os.path.join(dirpath, f))
                    removed.append(
                        os.path.relpath(os.path.join(dirpath, f), table)
                    )
                except OSError:
                    pass
    for d in reversed(walked):  # children before their parents
        try:
            os.rmdir(d)
        except OSError:
            pass
    remove_manifest(table)
    return removed


def commit(
    table: str,
    globs: Sequence[str],
    *,
    overwrite: bool,
    staged: Iterable[tuple[str, Sequence[str]]] = (),
    fmt: str | None = None,
    carry_src: str | None = None,
    carry: Sequence[str] = (),
    keep: int = 1,
    mutate: Callable[[str, list[str]], object] | None = None,
    store: PointerStore | None = None,
    flat_if_empty: bool = False,
) -> str:
    """Publish one commit of ``table`` under its writer lock; returns the
    data root it published into.

    - APPEND (``overwrite=False``): the ``staged`` ``(task_dir, rels)``
      files move into the live root, resolved under the lock, and merge
      into its manifest; the pointer is then re-read, so a lock-less
      race with an overwrite fails loudly (ConcurrentWriteError).
    - OVERWRITE: claim the next generation, move the staged files in,
      hard-link the ``carry`` rels from ``carry_src`` (row-level
      copy-on-write; it must STILL be live with the file set the rewrite
      was planned against, see :func:`carry_source`), write
      the manifest, CAS-swap the pointer, stamp the marker, keep
      ``keep`` generations and sweep superseded flat-root files.
    - METADATA-ONLY (``mutate`` given, an ALTER): an overwrite that
      carries every live file matching ``globs`` and hands the copied
      live manifest to ``mutate(new_root, rels)``; no retention, so the
      old snapshot stays for time travel and rollback.

    ``flat_if_empty`` turns an overwrite into an append when, under the
    lock, the table has no pointer and holds nothing but the staging
    root and the lock file: a first load makes a flat table, and of two
    racing loads into a new directory the later one still replaces the
    earlier.

    A crash before the swap leaves the old snapshot live plus, at worst,
    an unmarked claim and staging entries that ``maintenance.vacuum``
    sweeps; after it, at worst a superseded generation lingers. A
    failure raised before the swap, or a lost CAS, removes the claim."""
    if carry and not overwrite:
        raise ValueError(
            "carry_files requires mode('overwrite'): carrying is part "
            "of the copy-on-write generation swap, append has no "
            "snapshot to carry into"
        )
    store = store if store is not None else get_pointer_store()
    with store.lock(table):
        expected = store.read_pointer(table)
        live_root = os.path.join(table, expected) if expected else table
        if overwrite and flat_if_empty and expected is None:
            overwrite = bool(
                set(os.listdir(table)) - {STAGING_DIR, store.LOCKFILE}
            )
        if not overwrite:
            return _append(table, store, staged, fmt)
        if mutate is not None:
            carry_src = expected or ""
            carry = [
                os.path.relpath(f, live_root)
                for g in globs
                for f in list_files(live_root, g)
            ]
        if carry_src is not None:
            # before the claim, so a refused rewrite leaves no claim
            src_gen, _, digest = carry_src.partition("@")
            if (expected or "") != src_gen:
                raise ConcurrentWriteError(
                    f"row-level rewrite of {table} was planned "
                    f"against snapshot {src_gen or '<flat>'!r} "
                    f"but {expected!r} is now live — a concurrent "
                    "overwrite won; re-run the rewrite"
                )
            live_rels = (
                os.path.relpath(f, live_root)
                for g in globs
                for f in list_files(live_root, g)
            )
            if digest and _files_digest(live_rels) != digest:
                raise ConcurrentWriteError(
                    f"row-level rewrite of {table}: files were added "
                    f"to or are missing from snapshot "
                    f"{src_gen or '<flat>'!r} since the rewrite was "
                    "planned — a concurrent commit changed it; re-run "
                    "the rewrite"
                )
        gen = _claim(table, store)
        dst_root = os.path.join(table, gen)
        try:
            published = _publish_staged(staged, dst_root)
            carried: list[str] = []
            if carry_src is not None:
                try:
                    carried = link_files(live_root, dst_root, carry)
                except FileNotFoundError as exc:
                    # a carried DATA file vanished (e.g. a rival's GC
                    # inside a lock-less store's narrow window):
                    # committing would silently drop every row of an
                    # UNTOUCHED file — abort loudly instead
                    raise ConcurrentWriteError(
                        f"row-level rewrite of {table}: carried file "
                        f"{exc.args[0]!r} is missing from snapshot "
                        f"{carry_src or '<flat>'!r} — the snapshot changed "
                        "under the rewrite; re-run"
                    ) from None
            _write_manifest(
                dst_root, live_root, published, carried, fmt, mutate
            )
        except Exception:
            shutil.rmtree(dst_root, ignore_errors=True)
            raise
        try:
            store.swap_pointer(table, gen, expected)
        except ConcurrentWriteError:
            # lost the CAS on a lock-less store: remove the claimed
            # (never-visible, never-committed) generation so it can
            # neither be time-traveled into nor count toward retention
            shutil.rmtree(dst_root, ignore_errors=True)
            raise
        mark_committed(dst_root)
        if mutate is None:
            _retain(table, gen, expected, keep)
        sweep_flat(table, globs)
        return dst_root


def _append(
    table: str,
    store: PointerStore,
    staged: Iterable[tuple[str, Sequence[str]]],
    fmt: str | None,
) -> str:
    # resolved UNDER the lock: a pre-lock resolution could name a
    # generation a concurrent overwrite is about to GC
    dst_root = data_root(table)
    published = _publish_staged(staged, dst_root)
    if published:
        from .manifest import update_manifest

        update_manifest(dst_root, published, fmt)
    live = store.read_pointer(table)
    if dst_root != table:
        # append into a generation: verify it is STILL the live one
        # before acknowledging (under the local lock this cannot fire;
        # on a lock-less store it turns append-vs-overwrite races from
        # silent loss into a loud, retryable failure)
        if live != os.path.basename(dst_root):
            raise ConcurrentWriteError(
                f"append published into generation "
                f"{os.path.basename(dst_root)!r} of {table}, but a "
                f"concurrent overwrite made {live!r} current — the "
                "appended rows are NOT in the live snapshot; re-run the "
                "append"
            )
    elif live is not None:
        # append into the FLAT root: on a lock-less store the table's
        # FIRST overwrite can race it, and its flat-file sweep deletes
        # (or orphans behind the new pointer) the appended files
        raise ConcurrentWriteError(
            f"append published into the flat root of {table}, but a "
            f"concurrent overwrite made {live!r} current — the appended "
            "rows are NOT in the live snapshot; re-run the append"
        )
    return dst_root
