"""Crash harness for the one directory publish (``index_io.publish_dirs``
and ``roll_forward``) behind the bucket-swap merge sink and the audit
compact.

The harness is pure filesystem, no Spark. The swap under test has three
pairs: two buckets with a staged replacement and one bucket emptied by
deletes (no staged directory, its live directory only retires). Every
filesystem step the publish takes is a kill point, and each kill point
gets two crash kinds:

- ``raise``: the step raises, so every ``finally`` and ``except`` on
  the way out runs (the path that lost rows in the old swap);
- ``exit``: a forked child calls ``os._exit`` at the step, so nothing
  runs after it.

After the crash, ``roll_forward`` must leave exactly the old tree (crash
before the journal exists; the staged tree is kept for the caller or
``vacuum()``) or exactly the published tree (any later crash), and a
second ``roll_forward`` must change nothing. ``test_kill_point_census``
pins the step list, so a new filesystem step cannot go untested.

The two Spark-level tests are the data-loss repros of the swaps this
publish replaced: a crash at the bucket sink's first rename in, and a
crash between the audit compact's two renames.
"""

from __future__ import annotations

import datetime
import multiprocessing
import os
import shutil

import pytest

from dataplatform_cdc_pipeline_spark.operators import index_io

#: the publish's filesystem steps, in order (see test_kill_point_census)
STEPS = [
    "open",  # journal tmp
    "replace",  # journal tmp -> journal: from here on the swap rolls forward
    "rename",  # bucket 0 aside
    "rename",  # bucket 0 in
    "rename",  # bucket 1 aside
    "rename",  # bucket 1 in
    "rename",  # bucket 2 aside (emptied: nothing renames in)
    "open",  # version tmp
    "replace",  # version tmp -> version
    "remove",  # journal
    "rmtree",  # staging tree, old buckets with it
]
KILL_POINTS = 11
JOURNAL_STEP = STEPS.index("replace")
MUTATORS = {"makedirs", "rename", "replace", "remove", "rmtree"}
EXIT_CODE = 71

OLD = {
    "__bucket=0/part-0.parquet": "old0",
    "__bucket=1/part-0.parquet": "old1",
    "__bucket=2/part-0.parquet": "old2",
    "_commit_version": "1",
}
NEW = {
    "__bucket=0/part-0.parquet": "new0",
    "__bucket=1/part-0.parquet": "new1",
    "_commit_version": "2",
}
STAGED = {
    "__bucket=0/part-0.parquet": "new0",
    "__bucket=1/part-0.parquet": "new1",
    "_SUCCESS": "",
}


class _Crash(Exception):
    pass


def _write_tree(root: str, files: dict) -> None:
    for rel, text in files.items():
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        with open(os.path.join(root, rel), "w") as f:
            f.write(text)


def _tree(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p) as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _layout(root: str) -> tuple[str, str]:
    target, staging = os.path.join(root, "t"), os.path.join(root, "t.staging-x")
    _write_tree(target, OLD)
    _write_tree(staging, STAGED)
    return target, staging


def _journal(target: str) -> str:
    return os.path.join(target, "_commit_manifest.json")


def _publish(target: str, staging: str) -> None:
    names = [f"__bucket={b}" for b in range(3)]
    index_io.publish_dirs(
        _journal(target),
        staging,
        [(n, os.path.join(target, n)) for n in names],
        os.path.join(target, "_commit_version"),
        2,
    )


class _Steps:
    """Stands in for ``os``, ``shutil`` and ``open`` inside index_io:
    each call that changes the filesystem is one step, and step ``kill``
    runs ``crash`` instead of the call."""

    def __init__(self, kill=None, crash=None):
        self.names, self.kill, self.crash = [], kill, crash

    def step(self, name, fn):
        def run(*args, **kwargs):
            if len(self.names) == self.kill:
                self.crash()
            self.names.append(name)
            return fn(*args, **kwargs)

        return run

    def install(self, monkeypatch=None):
        steps = self

        class _Module:
            def __init__(self, real):
                self._real = real

            def __getattr__(self, name):
                fn = getattr(self._real, name)
                return steps.step(name, fn) if name in MUTATORS else fn

        def open_(path, mode="r", *args, **kwargs):
            if "w" in mode:
                return steps.step("open", open)(path, mode, *args, **kwargs)
            return open(path, mode, *args, **kwargs)

        for name, value in (
            ("os", _Module(os)), ("shutil", _Module(shutil)), ("open", open_)
        ):
            if monkeypatch is None:  # a forked child: nothing to restore
                setattr(index_io, name, value)
            else:
                monkeypatch.setattr(index_io, name, value, raising=False)


def _raise():
    raise _Crash()


def _exit():
    os._exit(EXIT_CODE)


def _publish_and_die(target: str, staging: str, kill: int) -> None:
    _Steps(kill, _exit).install()
    _publish(target, staging)
    os._exit(0)  # the kill point was never reached


def test_kill_point_census(tmp_path, monkeypatch):
    """The clean publish takes exactly these steps; adding a filesystem
    step changes the list and must add its kill point here."""
    target, staging = _layout(str(tmp_path))
    steps = _Steps()
    steps.install(monkeypatch)
    _publish(target, staging)
    monkeypatch.undo()
    assert steps.names == STEPS and len(STEPS) == KILL_POINTS
    assert _tree(str(tmp_path)) == {f"t/{k}": v for k, v in NEW.items()}
    index_io.roll_forward(_journal(target))  # nothing pending: a no-op
    assert _tree(str(tmp_path)) == {f"t/{k}": v for k, v in NEW.items()}


@pytest.mark.parametrize("kind", ["raise", "exit"])
@pytest.mark.parametrize("kill", range(KILL_POINTS))
def test_crash_at_every_step_rolls_forward(tmp_path, monkeypatch, kill, kind):
    root = str(tmp_path)
    target, staging = _layout(root)
    if kind == "raise":
        _Steps(kill, _raise).install(monkeypatch)
        with pytest.raises(_Crash):
            _publish(target, staging)
        monkeypatch.undo()
    else:
        child = multiprocessing.get_context("fork").Process(
            target=_publish_and_die, args=(target, staging, kill)
        )
        child.start()
        child.join(60)
        assert child.exitcode == EXIT_CODE

    index_io.roll_forward(_journal(target))
    if kill <= JOURNAL_STEP:
        # no journal yet: the live tree is untouched (a leftover journal
        # tmp is an underscore file every reader skips) and the staged
        # tree is intact for the caller to reclaim
        live = {k: v for k, v in _tree(target).items() if not k.endswith(".tmp")}
        assert live == OLD
        assert _tree(staging) == STAGED
    else:
        assert _tree(target) == NEW
        # the journal goes before the staging tree: a crash between the
        # two leaves that tree unreferenced, and vacuum() reclaims it
        last = kill == KILL_POINTS - 1
        assert set(os.listdir(root)) == ({"t", "t.staging-x"} if last else {"t"})
    settled = _tree(root)
    index_io.roll_forward(_journal(target))
    assert _tree(root) == settled


# -- Spark-level repros ---------------------------------------------------------


def _crash_on_rename_out_of(marker, monkeypatch):
    """Patch ``os.rename`` to crash on the first rename whose source is
    inside a ``marker`` tree and whose destination is not — the rename
    that puts a staged directory live."""
    real = os.rename

    def rename(src, dst):
        if marker in str(src) and marker not in str(dst):
            raise _Crash(f"crash renaming {src} in")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_bucket_swap_crash_at_first_rename_in_loses_nothing(spark, tmp_path, monkeypatch):
    """200 rows in 16 buckets, a 2-key update window, a crash at the
    swap's first rename in. The old swap had already deleted that live
    bucket and its ``finally`` then deleted the staged one, so the
    bucket's untouched rows were gone for good (183 rows left, 184
    after the replay). Now the next writer rolls the swap forward, and
    replaying the window (the watermark never moved) is a no-op."""
    from dataplatform_cdc_pipeline_spark.operators.merge_target import (
        ParquetMergeTarget,
    )
    from dataplatform_cdc_pipeline_spark.sources.cdc import (
        USER_STATE_SCHEMA,
        user_state_config,
    )

    from test_merge_target_contract import changes, state

    t = ParquetMergeTarget(
        spark, str(tmp_path / "t"), user_state_config(n_buckets=16), USER_STATE_SCHEMA
    )
    t.merge(changes(spark, [("c", i, float(i), 0, i) for i in range(200)]))
    window = changes(spark, [("u", 7, 700.0, 10, 1000), ("u", 150, 1500.0, 10, 1001)])
    expected = {i: float(i) for i in range(200)}
    expected.update({7: 700.0, 150: 1500.0})

    _crash_on_rename_out_of(".staging-", monkeypatch)
    with pytest.raises(_Crash):
        t.merge(window)
    monkeypatch.undo()
    assert t.pending_commit() is not None

    t.merge(window)
    assert state(t) == sorted(expected.items())
    assert t.pending_commit() is None and t.vacuum() == []


def test_audit_compact_crash_between_renames_keeps_watermark(spark, tmp_path, monkeypatch):
    """A crash between the audit compact's rename aside and its rename
    in. The old compact left no live audit directory: the watermark
    read as epoch and history() as empty, so the next run_merge would
    have restarted from 1970. Now the store's next call rolls forward."""
    from dataplatform_cdc_pipeline_spark.operators.watermark import WatermarkStore

    audit = WatermarkStore(spark, str(tmp_path / "audit"))
    day = datetime.datetime(2024, 1, 1)
    for i in range(3):
        audit.append_run(
            "events_cdc", "silver", "user_state",
            day + datetime.timedelta(days=i), day + datetime.timedelta(days=i + 1),
            "SUCCESS", records_inserted=i,
        )
    audit.append_run("events_cdc", "silver", "user_state", day, None, "FAILED")
    watermark = audit.read_watermark("events_cdc", "user_state")
    rows = audit.history().count()
    assert watermark == day + datetime.timedelta(days=3) and rows == 4

    _crash_on_rename_out_of(".compact-", monkeypatch)
    with pytest.raises(_Crash):
        audit.compact()
    monkeypatch.undo()

    assert audit.read_watermark("events_cdc", "user_state") == watermark
    assert audit.history().count() == rows
    parts = [f for f in os.listdir(audit.path) if f.endswith(".parquet")]
    assert len(parts) == 1  # the compacted table is the live one
    assert not [e for e in os.listdir(tmp_path) if e.startswith(".")]
