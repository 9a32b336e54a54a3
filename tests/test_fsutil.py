"""Crash-safety of the rename-aside directory swap (ADVICE r2 item 1).

Each test drops the filesystem into one of the states a crash inside
``replace_dir`` can leave behind and asserts ``recover_dir`` restores a
complete, consistent directory — in particular that there is NEVER a
moment where the state is silently reset to empty (the failure mode of
the old rmtree-then-rename swap).
"""

from __future__ import annotations

import os

import pytest

from mapreduce_hw05_spark.fsutil import commit_once, recover_dir, replace_dir


def _mkdir_with(path: str, marker: str) -> None:
    os.makedirs(path)
    open(os.path.join(path, marker), "w").close()
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _content(path: str) -> set[str]:
    return set(os.listdir(path))


def test_replace_dir_happy_path(tmp_path):
    dst, tmp = str(tmp_path / "state"), str(tmp_path / "state.next")
    _mkdir_with(dst, "old-data")
    _mkdir_with(tmp, "new-data")
    replace_dir(tmp, dst)
    assert "new-data" in _content(dst)
    assert not os.path.exists(tmp)
    assert not os.path.exists(dst + ".old")


def test_replace_dir_first_write(tmp_path):
    """No existing dst (first batch ever)."""
    dst, tmp = str(tmp_path / "state"), str(tmp_path / "state.next")
    _mkdir_with(tmp, "new-data")
    replace_dir(tmp, dst)
    assert "new-data" in _content(dst)


def test_recover_rolls_forward_after_crash_between_renames(tmp_path):
    """Crash after dst→old but before tmp→dst: tmp was fully written, so
    recovery promotes it (the committed-batch marker inside travels
    along, keeping the replayed batch a no-op)."""
    dst, tmp = str(tmp_path / "state"), str(tmp_path / "state.next")
    _mkdir_with(dst + ".old", "old-data")
    _mkdir_with(tmp, "new-data")
    recover_dir(dst, tmp)
    assert "new-data" in _content(dst)
    assert not os.path.exists(tmp)
    assert not os.path.exists(dst + ".old")


def test_recover_rolls_back_when_only_old_remains(tmp_path):
    """Crash with only .old present (tmp promoted then crashed mid-
    cleanup is dst-present; this state arises from a crash in a future
    variant that deletes tmp first) — recovery must restore .old, never
    leave nothing."""
    dst = str(tmp_path / "state")
    _mkdir_with(dst + ".old", "old-data")
    recover_dir(dst, dst + ".next")
    assert "old-data" in _content(dst)
    assert not os.path.exists(dst + ".old")


def test_recover_cleans_remnants_when_dst_exists(tmp_path):
    """dst present ⇒ authoritative: an interrupted pre-swap tmp write
    (possibly incomplete — no _SUCCESS) must be discarded, not promoted."""
    dst, tmp = str(tmp_path / "state"), str(tmp_path / "state.next")
    _mkdir_with(dst, "cur-data")
    os.makedirs(tmp)  # incomplete write: no _SUCCESS
    open(os.path.join(tmp, "partial"), "w").close()
    _mkdir_with(dst + ".old", "stale")
    recover_dir(dst, tmp)
    assert "cur-data" in _content(dst)
    assert not os.path.exists(tmp)
    assert not os.path.exists(dst + ".old")


def test_recover_is_noop_on_fresh_start(tmp_path):
    dst = str(tmp_path / "state")
    recover_dir(dst, dst + ".next")
    assert not os.path.exists(dst)


def test_state_never_vanishes_mid_swap(tmp_path):
    """At every step of replace_dir a complete copy exists under dst,
    .old, or tmp — simulate each crash point and recover."""
    for crash_after in ("rename_aside", "rename_in"):
        dst = str(tmp_path / f"s_{crash_after}")
        tmp = dst + ".next"
        _mkdir_with(dst, "v1")
        _mkdir_with(tmp, "v2")
        # manual replay of replace_dir with an injected crash
        os.rename(dst, dst + ".old")
        if crash_after == "rename_in":
            os.rename(tmp, dst)
        recover_dir(dst, tmp)
        marker = "v2" if crash_after == "rename_in" else "v2"
        # roll-forward in both cases: tmp was complete
        assert marker in _content(dst)


# ------------------------------------------------------------ commit_once


def _writer(marker: str, calls: list | None = None):
    """A ``write_tmp`` that writes a complete state dir holding ``marker``."""

    def write_tmp(tmp: str) -> None:
        if calls is not None:
            calls.append(tmp)
        _mkdir_with(tmp, marker)

    return write_tmp


def _batches(path: str) -> list[str]:
    return sorted(os.listdir(os.path.join(path, "_batches")))


def _tree(path: str) -> dict[str, bytes]:
    return {
        os.path.relpath(os.path.join(d, f), path): open(
            os.path.join(d, f), "rb"
        ).read()
        for d, _dirs, files in os.walk(path)
        for f in files
    }


def test_commit_once_first_commit_writes_state_and_marker(tmp_path):
    dst = str(tmp_path / "state")
    assert commit_once(dst, 0, _writer("v0"))
    assert "v0" in _content(dst)
    assert _batches(dst) == ["0"]
    assert not os.path.exists(dst + ".next")


def test_commit_once_replayed_id_is_a_noop(tmp_path):
    """A committed batch id never reaches ``write_tmp`` and leaves the
    directory byte-identical."""
    dst = str(tmp_path / "state")
    commit_once(dst, 0, _writer("v0"))
    before, calls = _tree(dst), []
    assert not commit_once(dst, 0, _writer("v1", calls))
    assert calls == []
    assert _tree(dst) == before


def test_commit_once_new_id_carries_the_manifest(tmp_path):
    dst = str(tmp_path / "state")
    for batch_id in range(3):
        assert commit_once(dst, batch_id, _writer(f"v{batch_id}"))
    assert _content(dst) == {"v2", "_SUCCESS", "_batches"}
    assert _batches(dst) == ["0", "1", "2"]


def test_commit_once_failed_write_keeps_state_and_manifest(tmp_path):
    """A ``write_tmp`` that raises leaves the old state and manifest in
    place; the next commit deletes the half-written remnant."""
    dst = str(tmp_path / "state")
    commit_once(dst, 0, _writer("v0"))

    def boom(tmp: str) -> None:
        _writer("partial")(tmp)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        commit_once(dst, 1, boom)
    assert "v0" in _content(dst)
    assert _batches(dst) == ["0"]
    assert os.path.exists(dst + ".next")  # the remnant
    assert commit_once(dst, 1, _writer("v1"))
    assert _content(dst) == {"v1", "_SUCCESS", "_batches"}
    assert _batches(dst) == ["0", "1"]
    assert not os.path.exists(dst + ".next")


def test_commit_once_rolls_forward_a_dangling_next(tmp_path):
    """Crash between the two renames (only ``.next`` left): the next
    commit promotes it with its manifest, so the replayed id is a no-op."""
    dst = str(tmp_path / "state")
    commit_once(dst, 0, _writer("v0"))
    commit_once(dst, 1, _writer("v1"))
    os.rename(dst, dst + ".next")
    calls = []
    assert not commit_once(dst, 1, _writer("v9", calls))
    assert calls == []
    assert "v1" in _content(dst)
    assert _batches(dst) == ["0", "1"]
