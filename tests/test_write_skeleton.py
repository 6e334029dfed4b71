"""The one write skeleton under every SnapshotTable commit.

Merges, folds, rebucket, tombstone GC and overwrite all run as
attempts on ``SnapshotTable._write``: one pointer read, one fresh
physical id, one ``_commit``, one ``_vacuum``. These tests pin what
that buys every write:

1. a maintenance op whose input files a racing writer's vacuum deletes
   mid-job reports a write conflict, not Spark's raw read error;
2. the crash-point matrix: for every write op, a crash in the staged
   write, in the commit before it publishes, or in the vacuum after it
   leaves a table that re-running the same op repairs — ``fsck`` clean,
   the crashed staging reclaimable by ``vacuum_orphans``, contents
   equal to the op's expected result, one history entry per logical op;
3. a merge-on-read append rebased onto a racing winner commits the
   winner's schema, so a column the winner added survives;
4. an attempt that finds nothing to commit leaves no staging behind.
"""

from __future__ import annotations

import os
import shutil

import pytest

from changedatacapture_spark.streaming.sink import (
    ConcurrentWriteError,
    MaintenancePolicy,
    SnapshotTable,
)

_KV = "k long, op string, v long"
_GUARDED = "k long, op string, ts long, v long"


def _kv(spark, rows):
    return spark.createDataFrame(rows, _KV)


def _state(t) -> dict:
    """Committed contents (tombstones included) as ``{k: other cols}``,
    columns in name order."""
    return {
        r.k: tuple(v for c, v in sorted(r.asDict().items()) if c != "k")
        for r in t.read(include_tombstones=True).collect()
    }


def _apply(state: dict, rows) -> dict:
    """Last-batch-wins merge of ``(k, op, v)`` rows."""
    out = dict(state)
    for k, op, v in rows:
        if op == "d":
            out.pop(k, None)
        else:
            out[k] = (v,)
    return out


def _apply_guarded(state: dict, rows) -> dict:
    """Order-guarded merge of ``(k, op, ts, v)`` rows: the larger ``ts``
    wins and deletes stay as tombstones."""
    out = dict(state)
    for k, op, ts, v in rows:
        if k not in out or ts > out[k][1]:
            out[k] = (op, ts, v)
    return out


# -- template tables, built once ------------------------------------------

_BASE = [(k, "c", k * 10) for k in range(40)]
_COW_1 = [(k, "u", k * 10 + 1) for k in range(0, 40, 3)]
_MOR_1 = [(k, "u", k * 10 + 3) for k in range(0, 40, 4)]
_MOR_2 = [(k, "d", 0) for k in range(1, 40, 6)]
_G_0 = [(k, "c", 5, k) for k in range(30)]
_G_1 = [(k, "d", 6, 0) for k in range(0, 30, 3)]
_G_2 = [(k, "d", 20, 0) for k in range(1, 30, 7)]


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("write_skeleton")
    # copy-on-write, with a bucket-local merge so buckets hold 2 files
    cow = SnapshotTable(spark, str(root / "cow"), ["k"], n_buckets=4)
    cow.bucket_local_merge_bytes = 0
    cow.merge(_kv(spark, _BASE), batch_id=0)
    cow.merge(_kv(spark, _COW_1), batch_id=1)
    # merge-on-read: a copy-on-write base plus two pending runs
    mor = SnapshotTable(spark, str(root / "mor"), ["k"], n_buckets=4)
    mor.merge(_kv(spark, _BASE), batch_id=0)
    mor.merge(_kv(spark, _MOR_1), batch_id=1, mode="mor")
    mor.merge(_kv(spark, _MOR_2), batch_id=2, mode="mor")
    # order-guarded, with tombstones on both sides of the GC horizon
    guard = SnapshotTable(spark, str(root / "guard"), ["k"], n_buckets=4)
    for i, rows in enumerate((_G_0, _G_1, _G_2)):
        guard.merge(
            spark.createDataFrame(rows, _GUARDED), batch_id=i,
            guard_cols=["ts"],
        )
    return {
        "cow": (str(root / "cow"), _apply(_apply({}, _BASE), _COW_1)),
        "mor": (
            str(root / "mor"),
            _apply(_apply(_apply({}, _BASE), _MOR_1), _MOR_2),
        ),
        "guard": (
            str(root / "guard"),
            _apply_guarded(_apply_guarded(_apply_guarded({}, _G_0), _G_1), _G_2),
        ),
    }


# -- the operations --------------------------------------------------------

_COW_2 = [(k, "u", k * 10 + 2) for k in range(0, 50, 5)] + [
    (k, "d", 0) for k in (1, 2, 4)
]
_MOR_3 = [(k, "u", k * 10 + 4) for k in range(2, 45, 7)] + [
    (k, "d", 0) for k in (0, 8)
]
_G_3 = [(k, "u", 7, k + 100) for k in range(0, 35, 4)] + [(5, "u", 4, 999)]
_NEW = [(k, k) for k in range(100, 120)]


def _unchanged(state):
    return state


#: name -> (template, op, expected contents from the template's, whether
#: re-running the op once its commit landed commits again)
OPS = {
    "cow_merge": (
        "cow", lambda s, t: t.merge(_kv(s, _COW_2), batch_id=2),
        lambda st: _apply(st, _COW_2), False,
    ),
    "guarded_merge": (
        "guard",
        lambda s, t: t.merge(
            s.createDataFrame(_G_3, _GUARDED), batch_id=3, guard_cols=["ts"]
        ),
        lambda st: _apply_guarded(st, _G_3), False,
    ),
    "mor_merge_minor": (
        "mor",
        lambda s, t: t.merge(
            _kv(s, _MOR_3), batch_id=3, mode="mor",
            maintain=MaintenancePolicy(compact_every=3),
        ),
        lambda st: _apply(st, _MOR_3), False,
    ),
    "mor_merge_major": (
        "mor",
        lambda s, t: t.merge(
            _kv(s, _MOR_3), batch_id=3, mode="mor",
            maintain=MaintenancePolicy(major_ratio=0.0),
        ),
        lambda st: _apply(st, _MOR_3), False,
    ),
    "compact_runs": ("mor", lambda s, t: t.compact_runs(), _unchanged, False),
    "compact": ("mor", lambda s, t: t.compact(), _unchanged, True),
    "file_count_tier": (
        "cow", lambda s, t: t.compact_by_size(max_files_per_bucket=1),
        _unchanged, False,
    ),
    "rebucket_map_only": ("cow", lambda s, t: t.rebucket(8), _unchanged, True),
    "rebucket_general": ("cow", lambda s, t: t.rebucket(6), _unchanged, True),
    "gc_tombstones": (
        "guard", lambda s, t: t.gc_tombstones(10),
        lambda st: {
            k: r for k, r in st.items() if not (r[0] == "d" and r[1] < 10)
        },
        False,
    ),
    "overwrite": (
        "cow",
        lambda s, t: t.overwrite(s.createDataFrame(_NEW, "k long, v long")),
        lambda st: {k: (v,) for k, v in _NEW}, True,
    ),
}

#: crash point -> (method, whether the crash lands after the commit)
CRASHES = {
    "write": ("_do_write_buckets", False),
    "commit": ("_commit", False),
    "vacuum": ("_vacuum", True),
}


class _Crash(RuntimeError):
    pass


def _crash_once(monkeypatch, method: str) -> list:
    """Make the next call of ``SnapshotTable.<method>`` crash: the
    staged write crashes after its files land (so they need
    reclaiming), the commit before it publishes, the vacuum before it
    deletes anything."""
    orig = getattr(SnapshotTable, method)
    fired: list = []

    def crash(self, *a, **k):
        if fired:
            return orig(self, *a, **k)
        fired.append(True)
        if method == "_do_write_buckets":
            orig(self, *a, **k)
        raise _Crash(f"injected crash in {method}")

    monkeypatch.setattr(SnapshotTable, method, crash)
    return fired


@pytest.mark.parametrize("crash", sorted(CRASHES))
@pytest.mark.parametrize("op_name", sorted(OPS))
def test_crash_then_rerun_repairs(
    spark, tmp_path, monkeypatch, templates, op_name, crash
):
    template, op, expected, rerun_commits = OPS[op_name]
    src, before = templates[template]
    path = str(tmp_path / "t")
    shutil.copytree(src, path)
    t = SnapshotTable(spark, path, ["k"], n_buckets=4)
    n_before = len(t.history())
    method, after_commit = CRASHES[crash]
    fired = _crash_once(monkeypatch, method)
    with pytest.raises(_Crash):
        op(spark, t)
    assert fired
    # the same operation again (merges: the same batch id)
    op(spark, t)
    report = t.fsck()
    assert report["ok"], report
    # a crash before the commit strands exactly one attempt's staging,
    # and nothing else is an orphan
    assert len(report["orphans"]) == (0 if after_commit else 1)
    assert t.vacuum_orphans(0) == report["orphans"]
    assert t.fsck()["orphans"] == []
    assert _state(t) == expected(before)
    hist = t.history()
    assert [e["version"] for e in hist] == list(range(len(hist)))
    assert len(hist) == n_before + 1 + (after_commit and rerun_commits)


# -- a maintenance op losing a race mid-job --------------------------------


def test_compact_losing_a_race_mid_job_reports_a_write_conflict(
    spark, tmp_path, monkeypatch
):
    """A racing writer commits a copy-on-write merge touching every
    bucket while ``compact()``'s rewrite job is about to read the base;
    with ``retain_history=0`` the winner's vacuum deletes those files.
    The job failure surfaces as a write conflict (the pointer moved),
    compaction keeps its no-retry contract, and a second ``compact()``
    lands cleanly on the winner's state."""
    path = str(tmp_path / "t")
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t1.merge(_kv(spark, [(k, "c", k) for k in range(20)]), batch_id=0)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    assert t2.retain_history == 0
    orig = SnapshotTable._do_write_buckets
    fired = []

    def hook(self, df, version, *a, **k):
        if self is t1 and not fired:
            fired.append(True)
            t2.merge(_kv(spark, [(k, "u", k + 100) for k in range(20)]), batch_id=1)
        return orig(self, df, version, *a, **k)

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    with pytest.raises(ConcurrentWriteError, match="write job failed"):
        t1.compact()
    assert fired
    assert t1.compact() > 0
    assert t1.fsck()["ok"]
    assert _state(t1) == {k: (k + 100,) for k in range(20)}
    assert [e["batch_id"] for e in t1.history()] == [0, 1, 1]


def test_rebased_append_keeps_the_winners_new_column(
    spark, tmp_path, monkeypatch
):
    """A merge-on-read append that loses its commit race to a batch
    adding a column rebases its staged run (no second write) and
    commits the winner's schema with its own evolution applied: the
    new column survives."""
    path = str(tmp_path / "t")
    SnapshotTable(spark, path, ["k"], n_buckets=2).merge(
        _kv(spark, [(0, "c", 1)]), batch_id=0
    )
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    orig = SnapshotTable._do_write_buckets
    writes = []

    def hook(self, df, version, *a, **k):
        if self is t1:
            writes.append(version)
            if len(writes) == 1:
                t2.merge(
                    spark.createDataFrame(
                        [(0, "u", 2, "x")], "k long, op string, v long, w string"
                    ),
                    batch_id=50, mode="mor",
                )
        return orig(self, df, version, *a, **k)

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    t1.merge(_kv(spark, [(1, "c", 3)]), batch_id=1, mode="mor", retry_conflicts=1)
    assert len(writes) == 1
    assert [e["batch_id"] for e in t1.history()] == [0, 50, 1]
    assert t1.schema().fieldNames() == ["k", "v", "w"]
    assert _state(t1) == {0: (2, "x"), 1: (3, None)}


def test_empty_mor_ticks_leave_no_staging(spark, tmp_path):
    """A merge-on-read merge of an empty batch with no fold due commits
    nothing and leaves nothing behind: no staging marker, no orphan
    ``v=`` directory for ``fsck`` to report."""
    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t.merge(_kv(spark, [(1, "c", 1)]), batch_id=0)
    for i in range(1, 4):
        assert t.merge(_kv(spark, []), batch_id=i, mode="mor") == "none"
    assert t.version == 0
    assert os.listdir(f"{path}/_staging") == []
    assert t.fsck()["orphans"] == []
    assert _state(t) == {1: (1,)}
