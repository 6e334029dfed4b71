"""Merge-path hardening (round-7 advisory findings).

Key-type discipline: ``F.hash`` bucket routing is type-sensitive, so a
key column may never change its committed type — widening raises, and a
NARROWER batch key is cast up to the committed type before routing.
Without either guard a type drift leaves the incumbent row in a bucket
the merge no longer probes: silent duplicate keys.

Also: composite-key ``read_keys`` binds tuples in ``key_cols`` order,
the merge anti-join drops its broadcast hint above a configurable batch
size, a concurrent writer trips a commit-pointer CAS instead of
silently winning, and the Delta merge-builder sequence is pinned via a
fake (no delta-spark release is compatible with this PySpark).
"""

from __future__ import annotations

import pytest

from changedatacapture_spark.streaming import sink as sink_mod
from changedatacapture_spark.streaming.sink import (
    ConcurrentWriteError,
    SnapshotTable,
)


def _rows(t):
    return sorted((r.k, r.v) for r in t.read().collect())


# -- key-type discipline --------------------------------------------------


def test_key_widening_rejected(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(
        spark.createDataFrame([(1, "c", 10)], "k int, op string, v int"),
        batch_id=0,
    )
    with pytest.raises(ValueError, match="key column 'k' cannot widen"):
        t.merge(
            spark.createDataFrame([(1, "u", 11)], "k long, op string, v int"),
            batch_id=1,
        )
    # the rejected batch must not have corrupted the table
    assert _rows(t) == [(1, 10)]


def test_narrow_batch_key_cast_to_committed_type(spark, tmp_path):
    """Batch key arrives narrower (int) than the committed type (long):
    routing must use the committed type, or hash(5 as int) lands the
    update in a different bucket than the committed hash(5 as long) row
    and the key silently duplicates."""
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=16)
    t.merge(
        spark.createDataFrame(
            [(k, "c", k * 10) for k in range(20)], "k long, op string, v long"
        ),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(k, "u", k * 10 + 1) for k in range(20)],
            "k int, op string, v long",
        ),
        batch_id=1,
    )
    assert _rows(t) == [(k, k * 10 + 1) for k in range(20)]  # no dup keys
    # deletes through the narrow-key path must find their victim too
    t.merge(
        spark.createDataFrame([(3, "d", 0)], "k int, op string, v long"),
        batch_id=2,
    )
    assert 3 not in {k for k, _ in _rows(t)}
    # point reads agree with the full scan
    assert [(r.k, r.v) for r in t.read_keys([5]).collect()] == [(5, 51)]


def test_narrow_key_cast_on_guarded_merge(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=16)
    ddl_l = "k long, op string, ts long, v long"
    ddl_i = "k int, op string, ts long, v long"
    t.merge(
        spark.createDataFrame([(k, "c", 100, k) for k in range(20)], ddl_l),
        guard_cols=["ts"],
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame([(5, "u", 200, 55)], ddl_i),
        guard_cols=["ts"],
        batch_id=1,
    )
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == sorted([(k, k) for k in range(20) if k != 5] + [(5, 55)])


def test_nonkey_widening_still_allowed(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(
        spark.createDataFrame([(1, "c", 10)], "k long, op string, v int"),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(2, "c", 5_000_000_000)], "k long, op string, v long"
        ),
        batch_id=1,
    )
    assert t.schema()["v"].dataType.typeName() == "long"
    assert _rows(t) == [(1, 10), (2, 5_000_000_000)]


# -- read_keys composite-key binding --------------------------------------


def test_read_keys_composite_key_binds_in_key_cols_order(spark, tmp_path):
    """key_cols order (name, id) deliberately disagrees with the table
    schema order (id, name): tuples follow key_cols, so schema-ordered
    binding would put a string where an id belongs."""
    t = SnapshotTable(spark, str(tmp_path / "t"), ["name", "id"], n_buckets=8)
    t.merge(
        spark.createDataFrame(
            [(i, f"u{i}", "c", i * 2) for i in range(30)],
            "id long, name string, op string, v long",
        ),
        batch_id=0,
    )
    got = sorted(
        (r.id, r.name, r.v)
        for r in t.read_keys([("u3", 3), ("u27", 27)]).collect()
    )
    assert got == [(3, "u3", 6), (27, "u27", 54)]
    assert t.read_keys([("u3", 99)]).count() == 0  # half-matching key


# -- merge anti-join broadcast guard --------------------------------------


def _broadcast_spy(monkeypatch):
    import pyspark.sql.functions as pf

    calls = []
    orig = pf.broadcast

    def spy(df):
        calls.append(df)
        return orig(df)

    monkeypatch.setattr(pf, "broadcast", spy)
    return calls


def test_merge_broadcasts_small_batch_keys(spark, tmp_path, monkeypatch):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(
        spark.createDataFrame(
            [(k, "c", k) for k in range(10)], "k long, op string, v long"
        ),
        batch_id=0,
    )
    calls = _broadcast_spy(monkeypatch)
    t.merge(
        spark.createDataFrame([(1, "u", 100)], "k long, op string, v long"),
        batch_id=1,
    )
    assert len(calls) == 1  # the normal CDC case keeps the hint


def test_merge_drops_broadcast_hint_above_key_limit(spark, tmp_path, monkeypatch):
    """A backfill-sized batch shoved through merge() must not pin the
    key set to a driver broadcast; above the ceiling AQE picks."""
    t = SnapshotTable(
        spark, str(tmp_path / "t"), ["k"], n_buckets=4, broadcast_key_limit=5
    )
    t.merge(
        spark.createDataFrame(
            [(k, "c", k) for k in range(10)], "k long, op string, v long"
        ),
        batch_id=0,
    )
    calls = _broadcast_spy(monkeypatch)
    t.merge(
        spark.createDataFrame(
            [(k, "u", k + 100) for k in range(10)], "k long, op string, v long"
        ),
        batch_id=1,
    )
    assert calls == []  # hint dropped, merge still correct:
    assert _rows(t) == [(k, k + 100) for k in range(10)]


# -- concurrent-writer detection ------------------------------------------


def test_commit_cas_detects_stale_base(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.merge(
        spark.createDataFrame([(1, "c", 10)], "k long, op string, v long"),
        batch_id=0,
    )
    # an attempt planned against version 7 while the table is at 0
    stale = sink_mod._Attempt(
        sink_mod._Fold("major"), {"version": 7, "buckets": {}}, t.schema(),
        t.n_buckets, None, t.schema(),
    )
    with pytest.raises(ConcurrentWriteError, match="planned against version 7"):
        t._commit(stale, stale.ptr)


def test_interleaved_writers_fail_loudly(spark, tmp_path, monkeypatch):
    """Two writer instances on one table: the second commit (planned
    against a pointer the first writer already moved) must raise, not
    silently last-write-wins."""
    path = str(tmp_path / "t")
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t1.merge(
        spark.createDataFrame(
            [(1, "c", 10), (2, "c", 20)], "k long, op string, v long"
        ),
        batch_id=0,
    )
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    orig = SnapshotTable._write_buckets
    fired = []

    def hook(self, df, version, dynamic=False, **kw):
        if self is t1 and not fired:
            fired.append(True)
            t2.merge(  # concurrent writer lands first
                spark.createDataFrame(
                    [(2, "u", 99)], "k long, op string, v long"
                ),
                batch_id=100,
            )
        return orig(self, df, version, dynamic, **kw)

    monkeypatch.setattr(SnapshotTable, "_write_buckets", hook)
    with pytest.raises(ConcurrentWriteError, match="concurrent writer"):
        t1.merge(
            spark.createDataFrame([(1, "u", 11)], "k long, op string, v long"),
            batch_id=1,
        )
    # the winner's state is intact and readable
    t3 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    assert sorted((r.k, r.v) for r in t3.read().collect()) == [(1, 10), (2, 99)]


# -- Delta merge-builder contract (fake; no delta-spark in the image) -----


class _FakeMergeBuilder:
    def __init__(self, log):
        self.log = log

    def whenMatchedDelete(self, condition=None):
        self.log.append(("whenMatchedDelete", condition))
        return self

    def whenMatchedUpdateAll(self):
        self.log.append(("whenMatchedUpdateAll", None))
        return self

    def whenNotMatchedInsertAll(self, condition=None):
        self.log.append(("whenNotMatchedInsertAll", condition))
        return self

    def execute(self):
        self.log.append(("execute", None))


class _FakeDeltaTable:
    instances: list["_FakeDeltaTable"] = []

    def __init__(self, path):
        self.path = path
        self.log: list[tuple] = []
        _FakeDeltaTable.instances.append(self)

    @classmethod
    def forPath(cls, spark, path):
        return cls(path)

    def alias(self, name):
        self.log.append(("alias", name))
        return self

    def merge(self, source, cond):
        self.log.append(("merge", cond))
        return _FakeMergeBuilder(self.log)


def test_delta_sink_merge_builder_sequence(spark, tmp_path, monkeypatch):
    """Pin the single conditional merge (delete-guard first, then
    update-all, then insert-unless-delete) that replaces the
    reference's three separate merges (cdc_stream.py:653-689)."""
    monkeypatch.setattr(sink_mod, "HAS_DELTA", True)
    monkeypatch.setattr(sink_mod, "DeltaTable", _FakeDeltaTable, raising=False)
    _FakeDeltaTable.instances.clear()

    sink = sink_mod.DeltaTableSink(spark, "/fake/path", ["id", "grp"])
    batch = spark.createDataFrame(
        [(1, "a", "u", 10)], "id long, grp string, op string, v long"
    )
    sink.merge(batch)

    (dt,) = _FakeDeltaTable.instances
    assert dt.path == "/fake/path"
    assert dt.log == [
        ("alias", "t"),
        ("merge", "t.id = s.id AND t.grp = s.grp"),
        ("whenMatchedDelete", "s.op = 'd'"),
        ("whenMatchedUpdateAll", None),
        ("whenNotMatchedInsertAll", "s.op != 'd'"),
        ("execute", None),
    ]


def test_delta_sink_raises_without_delta(spark):
    monkeypatch_free = sink_mod.HAS_DELTA
    if monkeypatch_free:  # pragma: no cover - image has no delta
        pytest.skip("delta-spark present")
    with pytest.raises(ImportError):
        sink_mod.DeltaTableSink(spark, "/p", ["k"])


# -- optimistic-concurrency retry (round-11) ------------------------------


def _bucket_of(spark, t, k):
    import pyspark.sql.functions as F

    return (
        spark.createDataFrame([(k,)], "k long")
        .select(F.pmod(F.hash("k"), F.lit(t.n_buckets)).alias("b"))
        .first()["b"]
    )


def _race(spark, tmp_path, monkeypatch, k1, k2, retry, mode="cow"):
    """Seed a table, then have t2 commit k2 while t1's merge of k1 is
    mid-write. ``mode="guarded"`` runs every merge order-guarded on a
    ``ts`` column that rises with each event. Returns (t1,
    write_calls_by_t1)."""
    guard = {"guard_cols": ["ts"]} if mode == "guarded" else {}

    def batch(rows):
        return spark.createDataFrame(rows, "k long, op string, ts long, v long")

    path = str(tmp_path / "t")
    seed = SnapshotTable(spark, path, ["k"], n_buckets=2)
    seed.merge(batch([(k1, "c", 1, 10), (k2, "c", 1, 20)]), batch_id=0, **guard)
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    orig = SnapshotTable._write_buckets
    fired = []
    t1_writes = []

    def hook(self, df, version, dynamic=False, **kw):
        if self is not t1:
            return orig(self, df, version, dynamic, **kw)
        t1_writes.append(version)
        out = orig(self, df, version, dynamic, **kw)
        if not fired:
            # the winner lands AFTER the loser's files are on disk but
            # BEFORE its commit — the commit-time race the rebase covers
            fired.append(True)
            t2.merge(batch([(k2, "u", 2, 99)]), batch_id=100, **guard)
        return out

    monkeypatch.setattr(SnapshotTable, "_write_buckets", hook)
    t1.merge(
        batch([(k1, "u", 3, 11)]), batch_id=1, retry_conflicts=retry,
        **guard,
    )
    return t1, t1_writes


@pytest.mark.parametrize("mode", ["cow", "guarded"])
def test_retry_disjoint_buckets_rebases_without_recompute(
    spark, tmp_path, monkeypatch, mode
):
    """Racing merges to DISJOINT buckets must both commit; the loser
    rebases its already-written files (manifest overlay, no second
    Spark write job) and the history records both versions. The final
    state equals the fold of every event."""
    probe = SnapshotTable(spark, str(tmp_path / "probe"), ["k"], n_buckets=2)
    k1 = 0
    k2 = next(
        k for k in range(1, 50)
        if _bucket_of(spark, probe, k) != _bucket_of(spark, probe, k1)
    )

    t1, writes = _race(spark, tmp_path, monkeypatch, k1, k2, retry=1, mode=mode)
    assert _rows(t1) == [(k1, 11), (k2, 99)]
    assert len(writes) == 1, "disjoint rebase must not re-run the write job"
    hist = t1.history()
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert [e["batch_id"] for e in hist] == [0, 100, 1]
    assert bool(hist[-1]["guard"]) == (mode == "guarded")


@pytest.mark.parametrize("mode", ["cow", "guarded"])
def test_retry_overlapping_buckets_replans_and_succeeds(
    spark, tmp_path, monkeypatch, mode
):
    """Racing merges to the SAME bucket: the loser replans against the
    winner's committed state and succeeds; both commits appear and the
    final state equals the fold of every event."""
    probe = SnapshotTable(spark, str(tmp_path / "probe"), ["k"], n_buckets=2)
    # two keys in the SAME bucket
    k1 = 0
    k2 = next(
        k for k in range(1, 50)
        if _bucket_of(spark, probe, k) == _bucket_of(spark, probe, k1)
    )
    t1, writes = _race(spark, tmp_path, monkeypatch, k1, k2, retry=1, mode=mode)
    # loser replanned: its anti-join (or guarded compaction) ran against
    # the winner's v, so the winner's update to k2 survives alongside
    # the loser's to k1
    assert _rows(t1) == [(k1, 11), (k2, 99)]
    assert len(writes) == 2, "overlap must force a full replan write"
    hist = t1.history()
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert [e["batch_id"] for e in hist] == [0, 100, 1]
    assert bool(hist[-1]["guard"]) == (mode == "guarded")


def test_retry_winner_commits_during_losers_write(
    spark, tmp_path, monkeypatch
):
    """The interleaving that silently dropped the winner's batch under
    the shared ``v=base+1`` directory scheme: the winner commits while
    the loser's write job is ALREADY IN FLIGHT (past the pre-write
    pointer check). The loser's overwrite used to replace the winner's
    committed bucket files with the loser's stale computation, and the
    replan then read that stale content as the winner's state.
    Writer-unique staging dirs make the clobber impossible: both
    batches must survive, for OVERLAPPING buckets."""
    path = str(tmp_path / "t")
    probe = SnapshotTable(spark, str(tmp_path / "probe"), ["k"], n_buckets=2)
    k1 = 0
    k2 = next(  # same bucket — the overlap case
        k for k in range(1, 50)
        if _bucket_of(spark, probe, k) == _bucket_of(spark, probe, k1)
    )
    seed = SnapshotTable(spark, path, ["k"], n_buckets=2)
    seed.merge(
        spark.createDataFrame(
            [(k1, "c", 10), (k2, "c", 20)], "k long, op string, v long"
        ),
        batch_id=0,
    )
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    orig = SnapshotTable._do_write_buckets
    fired = []

    def hook(self, df, version, dynamic=False, records_per_file=None, **kw):
        # fires AFTER t1's pre-write pointer check passed, BEFORE its
        # files hit disk — the winner's full merge + commit lands here
        if self is t1 and not fired:
            fired.append(True)
            t2.merge(
                spark.createDataFrame(
                    [(k2, "u", 99)], "k long, op string, v long"
                ),
                batch_id=100,
            )
        return orig(self, df, version, dynamic, records_per_file, **kw)

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    t1.merge(
        spark.createDataFrame([(k1, "u", 11)], "k long, op string, v long"),
        batch_id=1,
        retry_conflicts=1,
    )
    # BOTH batches applied: the winner's k2=99 was not clobbered by the
    # loser's in-flight write, and the loser's k1=11 landed via replan
    assert _rows(t1) == [(k1, 11), (k2, 99)]
    hist = t1.history()
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert [e["batch_id"] for e in hist] == [0, 100, 1]


def test_retry_exhausted_still_raises(spark, tmp_path, monkeypatch):
    """retry_conflicts bounds the loop: with enough racing winners the
    merge still fails loudly."""
    path = str(tmp_path / "t")
    seed = SnapshotTable(spark, path, ["k"], n_buckets=2)
    seed.merge(
        spark.createDataFrame([(0, "c", 1)], "k long, op string, v long"),
        batch_id=0,
    )
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    orig = SnapshotTable._write_buckets
    n = [0]

    def hook(self, df, version, dynamic=False, **kw):
        if self is t1:
            n[0] += 1
            t2.merge(  # a winner lands before EVERY attempt
                spark.createDataFrame(
                    [(0, "u", 100 + n[0])], "k long, op string, v long"
                ),
                batch_id=100 + n[0],
            )
        return orig(self, df, version, dynamic, **kw)

    monkeypatch.setattr(SnapshotTable, "_write_buckets", hook)
    with pytest.raises(ConcurrentWriteError):
        t1.merge(
            spark.createDataFrame([(0, "u", 7)], "k long, op string, v long"),
            batch_id=1,
            retry_conflicts=2,
        )


def test_guarded_creation_race_never_clobbers_winner(
    spark, tmp_path, monkeypatch
):
    """Two writers racing to CREATE a guarded table: both plan with
    exists()==False, so both write v-dirs — under the old shared
    literal v=0 directory the loser's static overwrite wiped the
    winner's committed files before losing the CAS. With writer-unique
    staging dirs the loser fails loudly and the winner's data is
    intact."""
    path = str(tmp_path / "t")
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    def gb(rows):
        return spark.createDataFrame(
            rows, "k long, op string, ts long, v long"
        )

    orig = SnapshotTable._do_write_buckets
    fired = []

    def hook(self, df, version, dynamic=False, records_per_file=None, **kw):
        if self is t1 and not fired:
            fired.append(True)
            t2.merge(  # the winner creates the table mid-plan
                gb([(7, "c", 100, 70)]), guard_cols=["ts"], batch_id=50
            )
        return orig(self, df, version, dynamic, records_per_file, **kw)

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    with pytest.raises(ConcurrentWriteError):
        t1.merge(gb([(1, "c", 100, 10)]), guard_cols=["ts"], batch_id=1)
    # the winner's committed creation is intact and readable
    t3 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    assert sorted((r.k, r.v) for r in t3.read().collect()) == [(7, 70)]


def test_mor_write_phase_conflict_consumes_retry_budget(
    spark, tmp_path, monkeypatch
):
    """A winner landing BETWEEN the MoR merge's pointer read and its
    write trips the pre-write economy check — with retry_conflicts
    budgeted, the merge must replan and land instead of surfacing the
    conflict (the write reads no table state, so retrying is always
    safe)."""
    def b(rows):
        return spark.createDataFrame(rows, "k long, op string, v long")

    path = str(tmp_path / "t")
    seed = SnapshotTable(spark, path, ["k"], n_buckets=2)
    seed.merge(b([(0, "c", 1)]), batch_id=0)
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    fired = []
    orig_check = SnapshotTable._write_buckets

    def check_hook(self, df, version, dynamic=False, expected_base=None):
        # fire the winner BEFORE t1's pre-write check runs
        if self is t1 and not fired:
            fired.append(True)
            t2.merge(b([(0, "u", 100)]), batch_id=50, mode="mor")
        return orig_check(self, df, version, dynamic,
                          expected_base=expected_base)

    monkeypatch.setattr(SnapshotTable, "_write_buckets", check_hook)
    t1.merge(
        b([(1, "c", 200)]), batch_id=1, mode="mor",
        retry_conflicts=1,
    )
    assert sorted((r.k, r.v) for r in t1.read().collect()) == [
        (0, 100), (1, 200),
    ]
