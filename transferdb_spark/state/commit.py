"""The one commit path for driver-side state on a plain filesystem.

The reference commits every piece of its checkpoint state (wait / full
/ compare / incr sync meta, chunk_error_detail) through one
transactional meta database (database/meta/meta.go:100-117 in the
reference). Here that state is files and directories, and each way of
committing it lives in this module — the only place in the package
that renames, replaces or links a path (a table format would plug in
here, behind the same three verbs):

- ``atomic_write_json`` replaces a JSON state file whole: the chunk
  plan, the compare state, the CDC SCN gate, the SCN checkpoints.
- ``commit_json_if_absent`` adds the next numbered JSON record without
  ever clobbering a concurrent writer's: snapshot manifests and schema
  epochs.
- ``swap_dirs`` / ``recover_swap`` replace a set of directories with
  one staged directory, and finish or undo a swap a crash interrupted;
  ``BatchDirSwap`` binds them to the ``batch_id=N`` stores the
  streaming sinks land.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import suppress


def _dump_synced(obj, path: str, **dump_kw) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, **dump_kw)
        fh.flush()
        os.fsync(fh.fileno())


def atomic_write_json(path: str, obj, **dump_kw) -> None:
    """Replace ``path`` with ``obj`` serialized as JSON.

    The bytes go to a sibling tmp file, are fsynced, and only then
    ``os.replace`` the old file, so a reader (or a restart after a
    crash) sees the previous state or the new one, never a truncated
    mix. A failure before the replace leaves the previous file as it
    was; the tmp file is removed unless the process itself dies."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        _dump_synced(obj, tmp, **dump_kw)
        os.replace(tmp, path)
    except BaseException:
        with suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def list_numbered(dirpath: str) -> list[int]:
    """The committed record numbers under ``dirpath`` (``NNNNNN.json``)."""
    if not os.path.isdir(dirpath):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(dirpath) if f.endswith(".json") and f[:-5].isdigit()
    )


def numbered_path(dirpath: str, n: int) -> str:
    return os.path.join(dirpath, f"{n:06d}.json")


def commit_json_if_absent(dirpath: str, first: int, build) -> int:
    """Commit ``build(n)`` as record ``n`` under ``dirpath`` for the
    first ``n >= first`` that no one holds yet; returns that ``n``.

    os.rename would silently REPLACE a record another writer committed
    under the same number (last writer wins, the loser's data becomes
    an orphan). os.link is create-exclusive: the loser gets EEXIST and
    retries at the next number, so both commits survive as distinct
    records. ``build`` is called per attempt, so a record can carry
    its own number and commit time."""
    tmp = os.path.join(dirpath, f".{uuid.uuid4().hex}.json.tmp")
    n = first
    try:
        while True:
            _dump_synced(build(n), tmp)
            try:
                os.link(tmp, numbered_path(dirpath, n))
                return n
            except FileExistsError:
                n += 1
    finally:
        with suppress(FileNotFoundError):
            os.remove(tmp)


def swap_dirs(staged: str, final: str, asides: dict[str, str]) -> None:
    """Replace the directories ``asides`` maps from with ``staged``,
    which lands as ``final``.

    Each old directory is renamed to its aside path, the staged
    directory is renamed to ``final`` (the commit point), and only
    then are the aside directories dropped. Every step is one rename
    or one rmtree, so a crash at any point leaves a state
    ``recover_swap`` can finish or undo."""
    for old, aside in asides.items():
        os.rename(old, aside)
    os.rename(staged, final)
    for aside in asides.values():
        shutil.rmtree(aside)


def recover_swap(staged: str, final: str | None, asides: dict[str, str]) -> None:
    """Finish or undo a ``swap_dirs`` that a crash interrupted.

    ``asides`` maps each old directory to its aside path; asides that
    do not exist are ignored. One rule decides:

    - the staged directory is still present, so the commit rename never
      happened: roll back — restore every aside directory to its old
      name and drop the stale staged directory;
    - it is gone, so the staged directory went in: roll forward — drop
      the aside directories.

    ``final`` (when known) guards the roll-forward: if nothing sits at
    ``final`` either, nothing was swapped in and dropping the aside
    directories would lose the only copy, so the swap rolls back."""
    present = {old: aside for old, aside in asides.items() if os.path.isdir(aside)}
    if os.path.isdir(staged) or (final is not None and not os.path.isdir(final)):
        for old, aside in present.items():
            os.rename(aside, old)
        shutil.rmtree(staged, ignore_errors=True)
    else:
        for aside in present.values():
            shutil.rmtree(aside)


class BatchDirSwap:
    """Compaction of a ``batch_id=N`` store into one snapshot directory.

    The streaming sinks land each micro-batch in its own ``batch_id=N``
    directory. A compaction writes its snapshot to ``staged``, then
    ``commit`` swaps it in for the batch directories listed at
    construction. Staged and aside names start with an underscore, so
    Spark's partition discovery skips them: no reader ever counts a
    folded row twice.

    Construction first recovers any swap a crash interrupted (see
    ``recover_swap``), so a rerun never reads a store with rows parked
    in aside directories."""

    STAGED = "_compact_tmp"
    ASIDE = "_old_"

    def __init__(self, target_dir: str):
        self.target_dir = target_dir
        self.staged = os.path.join(target_dir, self.STAGED)
        recover_swap(
            self.staged,
            None,
            {
                os.path.join(target_dir, d[len(self.ASIDE):]): os.path.join(target_dir, d)
                for d in os.listdir(target_dir)
                if d.startswith(self.ASIDE)
            },
        )
        self.batches = sorted(
            d for d in os.listdir(target_dir) if d.startswith("batch_id=")
        )
        self.batch_ids = [int(d.split("=", 1)[1]) for d in self.batches]

    def commit(self, land_id: int) -> None:
        """Swap the staged snapshot in as ``batch_id=land_id`` for every
        listed batch directory (batches landed since construction are
        untouched)."""
        join = os.path.join
        swap_dirs(
            self.staged,
            join(self.target_dir, f"batch_id={land_id}"),
            {join(self.target_dir, d): join(self.target_dir, self.ASIDE + d) for d in self.batches},
        )
