"""Minimal manifest commit log — transactional visibility for the
file-based continuous aggregates.

The reference's loader gets atomicity for free from Postgres
transactions (transform_data.py's INSERT batches — SURVEY §2.2 K2).
The Spark-side incremental partials (streaming/pipeline.py,
streaming/ivf.py) are ``batch_id=<id>/`` parquet directories; listed
bare, a reader could observe a directory mid-(over)write, merge a
torn directory a crash left behind, and see a multi-directory
compaction swap half done. This module is the table format that
closes those gaps, pared to exactly what the partials need — the
Delta/Iceberg core idea (an append-only log of manifests; the current
snapshot is the fold of the log; data files are immutable and
invisible until a manifest names them) without the format's
schema/stats machinery:

    table_root/
      batch_id=0/  batch_id=1/ ...     (parquet dirs, written first)
      _commits/
        00000000.json   {"add": ["batch_id=0"], "remove": []}
        00000001.json   {"add": ["batch_id=1"], "remove": []}
        00000002.json   {"add": ["batch_id=-1"],
                         "remove": ["batch_id=0", "batch_id=1"]}

- WRITE protocol (`publish`): write the data directory fully, then
  `commit(root, add=[dir])`. A crash between the two leaves an orphan directory that
  no reader ever merges (vacuum sweeps it later).
- COMMIT protocol (optimistic, multi-writer-safe on a POSIX fs): the
  manifest body is written to a hidden temp file, fsynced, then
  `os.link`ed to the next sequential slot ``NNNNNNNN.json`` — link is
  atomic and fails with EEXIST if another writer claimed the slot, in
  which case the writer re-reads the log and retries the next slot
  (compare-and-swap on the file name; same device-local guarantee
  Delta relies on for `_delta_log/N.json`).
- READ protocol: `snapshot(root)` folds the ordered manifests into the
  live-directory set; readers load exactly those paths. A concurrent
  commit lands either wholly before or wholly after the listing —
  snapshot isolation at directory granularity.
- REPLAY idempotence: foreachBatch re-delivery re-writes the same
  directory content and re-commits the same `add`; the fold is
  set-valued, so a duplicate add is harmless. `commit` skips the
  manifest entirely when every add was EVER added before and nothing
  is removed — "ever", not "currently live", so a replay of batch N
  that lands after compaction already folded N away cannot resurrect
  it next to its copy inside the compacted directory (the Delta
  per-writer-txn idea at directory granularity; round-8 ADVICE).
  Re-introducing a previously-removed name is still possible, but
  only via a manifest that also removes something (the compaction
  swap shape) — never via a bare replayed add.
- COMPACTION: write the folded directory, then ONE manifest
  {add: [compacted], remove: [inputs]} — the reader-visible swap is a
  single atomic link, so compaction may run concurrently with readers
  (pipeline.compact_rollup). Removed/orphan directories are deleted by
  `vacuum`, which never touches live ones.
- MIGRATION: a store written before the log existed holds bare
  ``batch_id=`` directories and no ``_commits/``. Readers refuse it
  with a FileNotFoundError naming `adopt_plain_layout`, which commits
  those directories in one manifest, once.

Scale notes: manifests are O(changed directories) — bytes, not data;
the fold is a driver-side listing of one small directory (Delta does
exactly this plus periodic checkpoints, unnecessary at the partial
counts a rollup accumulates between compactions). Data never moves
through the log.
"""

from __future__ import annotations

import json
import os


_COMMITS = "_commits"
_BATCH = "batch_id="


def _commits_dir(root: str) -> str:
    return os.path.join(root.rstrip("/"), _COMMITS)


def _manifest_name(idx: int) -> str:
    return f"{idx:08d}.json"


def log_entries(root: str) -> list[tuple[int, dict]]:
    """Ordered (index, manifest) pairs; empty when no log exists."""
    cd = _commits_dir(root)
    if not os.path.isdir(cd):
        return []
    out = []
    for entry in sorted(os.listdir(cd)):
        if not entry.endswith(".json") or entry.startswith("."):
            continue
        stem = entry[: -len(".json")]
        if not stem.isdigit():
            continue
        with open(os.path.join(cd, entry)) as f:
            out.append((int(stem), json.load(f)))
    return out


def snapshot(root: str, as_of: int | None = None) -> list[str]:
    """The live relative directory names: fold of add/remove over the
    ordered log. Sorted for deterministic plans.

    ``as_of`` folds only manifests with index ≤ as_of — time travel to
    the table state right after that commit (Delta's VERSION AS OF).
    Correct as long as the named directories haven't been vacuumed;
    pair with a retention policy at the call site. Makes audits (e.g.
    the forget-cascade checks) reproducible against a pinned version
    instead of whatever the log has grown to since."""
    live: set[str] = set()
    for idx, manifest in log_entries(root):
        if as_of is not None and idx > as_of:
            break
        live.difference_update(manifest.get("remove", ()))
        live.update(manifest.get("add", ()))
    return sorted(live)


def ever_added(root: str) -> set[str]:
    """Every directory name any manifest has EVER added, live or not.
    The replay no-op check and compaction's fresh-name pick both key
    off this set rather than the live fold, so a name that compaction
    folded away can never be silently resurrected (by a replayed add)
    nor physically overwritten (by a re-used compaction id) while an
    in-flight reader may still hold its path."""
    seen: set[str] = set()
    for _, m in log_entries(root):
        seen.update(m.get("add", ()))
    return seen


def commit(root: str, add: list[str] | None = None,
           remove: list[str] | None = None) -> int | None:
    """Atomically append a manifest; returns its index, or None when
    the commit would be a no-op (every `add` was ever added before,
    nothing to remove) — the foreachBatch replay path. The check is
    against the EVER-added set, not the live fold: a re-delivered
    batch whose directory compaction already folded away must stay
    invisible, not be double-counted next to its compacted copy.

    Claims the next slot with write-temp + fsync + os.link (EEXIST on
    a lost race → re-read, retry next slot)."""
    add = list(add or [])
    remove = list(remove or [])
    if not add and not remove:
        return None
    cd = _commits_dir(root)
    os.makedirs(cd, exist_ok=True)
    body = json.dumps({"add": add, "remove": remove}).encode()
    while True:
        entries = log_entries(root)
        if not remove:
            seen: set[str] = set()
            for _, m in entries:
                seen.update(m.get("add", ()))
            if set(add) <= seen:
                return None  # replayed batch: already visible (or
                # already folded away by compaction — stays invisible)
        idx = entries[-1][0] + 1 if entries else 0
        tmp = os.path.join(cd, f".tmp-{idx}-{os.getpid()}.json")
        with open(tmp, "wb") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        target = os.path.join(cd, _manifest_name(idx))
        try:
            os.link(tmp, target)  # atomic CAS on the slot name
            return idx
        except FileExistsError:
            continue  # another writer claimed the slot; retry
        finally:
            os.unlink(tmp)


def plain_dirs(root: str) -> list[str]:
    """Every ``batch_id=`` data directory under ``root``, committed or
    not — what a bare list-the-directory reader would merge."""
    r = root.rstrip("/")
    if not os.path.isdir(r):
        return []
    return sorted(
        e
        for e in os.listdir(r)
        if e.startswith(_BATCH) and os.path.isdir(os.path.join(r, e))
    )


def _require_adopted(root: str, own: str | None = None) -> None:
    """Refuse a store in the pre-log plain layout: ``batch_id=``
    directories (other than ``own``, the caller's own in-flight batch)
    but no ``_commits/`` log."""
    if os.path.isdir(_commits_dir(root)):
        return
    if any(d != own for d in plain_dirs(root)):
        raise FileNotFoundError(
            f"{root} holds batch_id= directories but no {_COMMITS}/ log "
            f"— a store written in the old plain layout (or whose first "
            f"batch never committed). Migrate it once with "
            f"commitlog.adopt_plain_layout({root!r})."
        )


def adopt_plain_layout(root: str) -> int | None:
    """One-shot migration of a store written before the commit log:
    commit, in ONE manifest, exactly the ``batch_id=`` directories the
    plain reader used to merge. Returns the manifest index, or None
    when there is nothing new to adopt — so a second call writes no
    manifest (`commit` skips adds that were ever added before). Run it
    with the store's writers stopped: a directory written but not yet
    committed would be adopted with the rest."""
    return commit(root, add=plain_dirs(root))


def committed_snapshot(root: str, as_of: int | None = None) -> list[str]:
    """`snapshot`, erroring — not cold-starting — when nothing is
    committed; the error names `adopt_plain_layout` when the root is
    an unmigrated plain-layout store."""
    live = snapshot(root, as_of=as_of)
    if not live:
        _require_adopted(root)
        raise FileNotFoundError(f"no committed partials under {root}")
    return live


def read_committed(spark, root: str, as_of: int | None = None):
    """Reader-side helper shared by every partial sink: a DataFrame
    over exactly the live directories (snapshot isolation).
    ``as_of`` time-travels to the state after manifest ``as_of``."""
    r = root.rstrip("/")
    paths = [f"{r}/{d}" for d in committed_snapshot(root, as_of=as_of)]
    return spark.read.option("basePath", root).parquet(*paths)


def publish(part, root: str, batch_id: int) -> None:
    """Writer-side helper shared by every partial sink (the WRITE
    protocol): overwrite the batch's own ``batch_id=<id>/`` directory —
    a replay rewrites the same content — then make it reader-visible
    with one manifest append (a no-op on replay). Refuses an
    unmigrated plain-layout store, whose directories a fresh log would
    silently hide."""
    name = f"{_BATCH}{batch_id}"
    _require_adopted(root, own=name)
    part.write.mode("overwrite").parquet(f"{root.rstrip('/')}/{name}")
    commit(root, add=[name])


def vacuum(root: str, only: list[str] | None = None) -> list[str]:
    """Delete data directories that are NOT in the current snapshot.
    Never touches a live directory or the log itself. Returns what it
    removed.

    ``only`` restricts deletion to the named directories (still
    intersected with not-live). Compaction passes the exact input set
    it removed, because a FULL vacuum concurrent with a live stream is
    unsafe: a batch directory already written but not yet committed is
    indistinguishable from a crash orphan, and deleting it would break
    the writer's imminent commit permanently (the checkpoint advances,
    the batch is never re-delivered — round-8 ADVICE). Run the
    unrestricted form only while no writer is mid write-then-commit
    (e.g. with the stream stopped).

    Reader caveat (documented, not solved — Delta has the same race
    and answers it with a retention window): a DataFrame built from a
    snapshot taken BEFORE the directories were removed will fail with
    FileNotFoundException if it reads after vacuum deletes its inputs.
    Fail-loud, never wrong data; long-running readers should re-read
    from a fresh snapshot on failure, or vacuum should be deferred by
    a retention delay at the call site."""
    import shutil

    r = root.rstrip("/")
    if not os.path.isdir(r):
        return []
    live = set(snapshot(root))
    candidates = set(only) if only is not None else None
    removed = []
    for entry in os.listdir(r):
        if entry == _COMMITS or entry in live:
            continue
        if candidates is not None and entry not in candidates:
            continue
        p = os.path.join(r, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(entry)
    return sorted(removed)
