"""Crash-safe directory replacement and the exactly-once commit for
parquet state/sink directories.

The sinks in :mod:`mapreduce_hw05_spark.streaming.ops` and the table
maintenance passes rewrite a directory by writing a complete ``.next``
copy and swapping it in. A naive ``rmtree(dst); rename(tmp, dst)`` has a
crash window in which NO state directory exists: on recovery the
``_SUCCESS`` probe finds nothing, the replayed batch's delta becomes the
whole state, and previously accumulated counts/sketches (and the
committed-batch manifest) are silently discarded.

``replace_dir`` closes that window with rename-aside: the current
directory is first renamed to ``<dst>.old`` (one atomic rename), the
fully-written ``tmp`` is renamed into place (second atomic rename), and
only then is ``.old`` deleted. At every instant a complete copy of
either the previous or the new state exists under a well-known name, so
``recover_dir`` can always restore a consistent directory:

- ``dst`` present  → any ``tmp``/``.old`` remnants are garbage from an
  interrupted *previous* swap (or a crash mid-write of ``tmp``); delete
  them.
- ``dst`` missing, ``tmp`` present → the crash hit between the two
  renames. ``tmp`` was fully written before the swap began (the swap
  only starts after the parquet write committed), so roll FORWARD:
  promote ``tmp``. The committed-batch marker inside it travels with
  the promotion, so a replayed foreachBatch id remains a no-op.
- ``dst`` missing, only ``.old`` present → roll BACK: restore ``.old``;
  the checkpoint will replay the uncommitted batch against it.

``commit_once(dst, batch_id, write_tmp)`` is the exactly-once commit
the foreachBatch state sinks share. Its committed-batch manifest is a
directory of empty ``_batches/<id>`` files INSIDE ``dst`` (underscore
entries are invisible to Spark's file index). A commit recovers ``dst``,
returns if ``batch_id`` is already in the manifest, has ``write_tmp``
write the complete new state into ``<dst>.next``, copies the manifest
there with ``batch_id`` added, and swaps state and manifest in together:
a re-delivered batch id is a no-op, also across a crash mid-swap.
``rewrite_dir`` is that write-copy-swap without the marker check.

On a POSIX filesystem both renames are atomic; on an object store the
same protocol is a manifest swap (pointer update), as the sink
docstrings note.
"""

from __future__ import annotations

import os
import shutil


def _old_path(dst: str) -> str:
    return dst.rstrip("/") + ".old"


def replace_dir(tmp: str, dst: str) -> None:
    """Swap the fully-written directory ``tmp`` into place at ``dst``.

    ``tmp`` must be complete (parquet write finished) before calling.
    Never leaves a moment without a complete state directory under
    ``dst`` or a recoverable name (see module docstring).
    """
    old = _old_path(dst)
    if os.path.isdir(old):  # leftover from a prior interrupted swap
        shutil.rmtree(old)
    if os.path.exists(dst):
        os.rename(dst, old)
    os.rename(tmp, dst)
    shutil.rmtree(old, ignore_errors=True)


def recover_dir(dst: str, tmp: str) -> None:
    """Restore ``dst`` to a consistent state after a possible crash
    mid-:func:`replace_dir`. Idempotent and cheap (three stat calls in
    the common case); call before reading the directory."""
    old = _old_path(dst)
    if os.path.exists(dst):
        # tmp here is either an interrupted pre-swap write (incomplete —
        # must not be promoted) or a fully-swapped-out remnant; either
        # way dst is authoritative.
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(tmp):
        os.rename(tmp, dst)  # roll forward: tmp was complete at swap time
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        os.rename(old, dst)  # roll back: replay restores the lost batch


_MANIFEST = "_batches"


def _next_path(dst: str) -> str:
    return dst.rstrip("/") + ".next"


def recover(dst: str) -> None:
    """:func:`recover_dir` with the protocol's own ``.next`` name."""
    recover_dir(dst, _next_path(dst))


def committed(dst: str, batch_id: int) -> bool:
    """Whether ``batch_id`` is in ``dst``'s committed-batch manifest."""
    return os.path.exists(os.path.join(dst, _MANIFEST, str(batch_id)))


def mark_committed(dst: str, *batch_ids) -> None:
    """Add ``batch_ids`` to ``dst``'s manifest (created if missing)."""
    marker_dir = os.path.join(dst, _MANIFEST)
    os.makedirs(marker_dir, exist_ok=True)
    for b in batch_ids:
        open(os.path.join(marker_dir, str(b)), "w").close()


def rewrite_dir(dst: str, write_tmp, batch_id: int | None = None) -> None:
    """Swap in the copy ``write_tmp(tmp)`` writes, with ``dst``'s
    manifest (plus ``batch_id``). If ``write_tmp`` raises, ``dst`` is
    untouched; once ``dst`` exists, :func:`recover` deletes the remnant."""
    tmp = _next_path(dst)
    write_tmp(tmp)
    marker_dir = os.path.join(dst, _MANIFEST)
    carried = os.listdir(marker_dir) if os.path.isdir(marker_dir) else []
    marks = [*carried, *([] if batch_id is None else [batch_id])]
    if marks:  # a table without a manifest does not gain an empty one
        mark_committed(tmp, *marks)
    replace_dir(tmp, dst)


def commit_once(dst: str, batch_id: int, write_tmp) -> bool:
    """Commit ``write_tmp``'s state as ``batch_id`` unless that id is
    already committed (then return False without calling it)."""
    recover(dst)
    if committed(dst, batch_id):
        return False
    rewrite_dir(dst, write_tmp, batch_id)
    return True
