"""Merge-on-read (deletion-vector) mode for SnapshotTable.

SURVEY §7.5's "merge-on-read for high-churn tables": merges append
keyed delta runs (deletes as a ``_mor_del`` mask) instead of rewriting
touched buckets; readers fold runs with one latest-per-key aggregate;
``compact()`` folds them back into a copy-on-write base.
"""

from __future__ import annotations

import pytest

from changedatacapture_spark.streaming.sink import (
    ConcurrentWriteError,
    SnapshotTable,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k long, op string, v long")


def _rows(t, **kw):
    return sorted((r.k, r.v) for r in t.read(**kw).collect())


def test_mor_apply_read_and_reinsert(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k * 10) for k in range(20)]), batch_id=0)
    t.merge(
        _batch(spark, [(1, "u", 111), (2, "d", 0), (25, "c", 250)]),
        batch_id=1,
        mode="mor",
    )
    # delete-then-reinsert across runs: the later run must win
    t.merge(
        _batch(spark, [(2, "c", 222), (3, "d", 0)]), batch_id=2, mode="mor"
    )
    exp = sorted(
        [(k, k * 10) for k in range(20) if k not in (1, 2, 3)]
        + [(1, 111), (2, 222), (25, 250)]
    )
    assert _rows(t) == exp
    # manifest untouched by MoR merges: runs carry the deltas
    assert len(t._read_pointer()["runs"]) == 2
    # replay idempotence
    t.merge(_batch(spark, [(2, "u", 999)]), batch_id=2, mode="mor")
    assert _rows(t) == exp


def test_mor_point_lookup_prunes_runs_by_bucket(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k) for k in range(30)]), batch_id=0)
    t.merge(
        _batch(spark, [(3, "u", 333), (7, "d", 0)]), batch_id=1, mode="mor"
    )
    got = sorted(
        (r.k, r.v) for r in t.read_keys([3, 7, 11]).collect()
    )
    assert got == [(3, 333), (11, 11)]


def test_mor_read_where_resolves_before_predicate(spark, tmp_path):
    """A superseded base row matching the predicate must NOT emit; a
    run row that newly matches must."""
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k) for k in range(10)]), batch_id=0)
    # 5 moves out of range; 3 deleted; 42 arrives in range
    t.merge(
        _batch(spark, [(5, "u", 1000), (3, "d", 0), (42, "c", 7)]),
        batch_id=1,
        mode="mor",
    )
    got = sorted(
        (r.k, r.v)
        for r in t.read_where([("v", "<=", 9)]).collect()
    )
    assert got == sorted(
        [(k, k) for k in range(10) if k not in (3, 5)] + [(42, 7)]
    )


def test_mor_compact_folds_runs_then_cow_resumes(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k) for k in range(12)]), batch_id=0)
    t.merge(_batch(spark, [(1, "d", 0)]), batch_id=1, mode="mor")
    before = _rows(t)
    # cow while runs pending must refuse loudly
    with pytest.raises(ValueError, match="merge-on-read"):
        t.merge(_batch(spark, [(2, "u", 22)]), batch_id=2)
    t.compact()
    assert t._read_pointer()["runs"] == []
    assert _rows(t) == before
    t.merge(_batch(spark, [(2, "u", 22)]), batch_id=2)
    assert (2, 22) in set(_rows(t))


def test_mor_rejects_guarded_tables(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    with pytest.raises(ValueError, match="order-guarded"):
        t.merge(
            _batch(spark, [(1, "c", 1)]),
            batch_id=0,
            mode="mor",
            guard_cols=["v"],
        )
    gb = spark.createDataFrame(
        [(1, "c", 100, 1)], "k long, op string, ts long, v long"
    )
    t.merge(gb, guard_cols=["ts"], batch_id=0)
    with pytest.raises(ValueError, match="order-guarded"):
        t.merge(_batch(spark, [(2, "c", 2)]), batch_id=1, mode="mor")


def test_mor_schema_evolution_through_runs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.merge(_batch(spark, [(1, "c", 10), (2, "c", 20)]), batch_id=0)
    wide = spark.createDataFrame(
        [(1, "u", 11, "x")], "k long, op string, v long, tag string"
    )
    t.merge(wide, batch_id=1, mode="mor")
    got = sorted(
        (r.k, r.v, r.tag) for r in t.read().collect()
    )
    assert got == [(1, 11, "x"), (2, 20, None)]


def test_mor_concurrent_appends_both_commit_without_rerun(
    spark, tmp_path, monkeypatch
):
    """Two MoR writers race on the commit: appends commute, so the
    loser re-commits with its run appended after the winner's — no
    Spark job re-runs, both batches land, run order serializes
    last-writer-wins."""
    path = str(tmp_path / "t")
    seed = SnapshotTable(spark, path, ["k"], n_buckets=2)
    seed.merge(_batch(spark, [(0, "c", 1), (1, "c", 2)]), batch_id=0)
    t1 = SnapshotTable(spark, path, ["k"], n_buckets=2)
    t2 = SnapshotTable(spark, path, ["k"], n_buckets=2)

    orig = SnapshotTable._do_write_buckets
    writes = {"t1": 0}
    fired = []

    def hook(self, df, version, dynamic=False, records_per_file=None, **kw):
        if self is t1:
            writes["t1"] += 1
            out = orig(self, df, version, dynamic, records_per_file, **kw)
            if not fired:
                fired.append(True)
                t2.merge(  # winner lands between loser's write & commit
                    _batch(spark, [(0, "u", 100)]), batch_id=50, mode="mor"
                )
            return out
        return orig(self, df, version, dynamic, records_per_file, **kw)

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    t1.merge(
        _batch(spark, [(1, "u", 200)]), batch_id=1, mode="mor",
        retry_conflicts=1,
    )
    assert writes["t1"] == 1, "MoR conflict retry must not re-run the write"
    assert _rows(t1) == [(0, 100), (1, 200)]
    hist = t1.history()
    assert [e["batch_id"] for e in hist] == [0, 50, 1]
    assert len(hist[-1]["runs"]) == 2


def test_mor_write_amplification_below_cow(spark, tmp_path):
    """The reason MoR exists: a small high-churn batch on a large
    table must write ~batch-size bytes, not ~touched-bucket-size. With
    every bucket touched, copy-on-write rewrites the whole table; the
    MoR run must stay an order of magnitude smaller."""
    import glob
    import os

    def table_bytes_written(path):
        return sum(
            os.path.getsize(f)
            for f in glob.glob(f"{path}/v=*/bucket=*/*.parquet")
        )

    base_rows = [(k, "c", k) for k in range(4000)]
    # every batch key hits a different bucket -> all buckets touched
    churn = [(k, "u", k + 1) for k in range(0, 4000, 500)]

    cow_path = str(tmp_path / "cow")
    cow = SnapshotTable(spark, cow_path, ["k"], n_buckets=8,
                        retain_history=1)
    cow.merge(_batch(spark, base_rows), batch_id=0)
    before = table_bytes_written(cow_path)
    cow.merge(_batch(spark, churn), batch_id=1)
    cow_delta = table_bytes_written(cow_path) - before

    mor_path = str(tmp_path / "mor")
    mor = SnapshotTable(spark, mor_path, ["k"], n_buckets=8,
                        retain_history=1)
    mor.merge(_batch(spark, base_rows), batch_id=0)
    before = table_bytes_written(mor_path)
    mor.merge(_batch(spark, churn), batch_id=1, mode="mor")
    mor_delta = table_bytes_written(mor_path) - before

    assert _rows(mor) == _rows(cow)
    assert mor_delta * 3 < cow_delta, (mor_delta, cow_delta)


def test_pipeline_mor_mode_with_compaction_cadence(spark, tmp_path):
    """CdcPipeline(merge_mode="mor", compact_every=2): batches append
    delta runs; once two runs are pending the pipeline folds them —
    final state must equal the copy-on-write pipeline's on the same
    envelope stream."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from changedatacapture_spark.streaming.pipeline import CdcPipeline

    record_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
        ]
    )

    def envelopes(rows):
        df = spark.createDataFrame(
            rows, "k long, op string, ts long, seq long, v long"
        )
        doc = F.struct("k", "v")
        return df.select(
            F.to_json(
                F.struct(
                    F.struct(
                        F.when(F.col("op") != "c", doc).alias("before"),
                        F.when(F.col("op") != "d", doc).alias("after"),
                        F.col("op").alias("op"),
                        F.col("ts").alias("ts_ms"),
                    ).alias("payload")
                )
            ).alias("value"),
            "seq",
        )

    batches = [
        [(k, "c", 100, k, k * 10) for k in range(12)],
        [(1, "u", 200, 100, 111), (2, "d", 200, 101, 0)],
        [(3, "u", 300, 200, 333), (20, "c", 300, 201, 200)],
        [(1, "u", 400, 300, 112)],
    ]
    results = {}
    for mode, every in (("cow", None), ("mor", 2)):
        t = SnapshotTable(
            spark, str(tmp_path / f"t_{mode}"), ["k"], n_buckets=4
        )
        pipe = CdcPipeline(
            spark, record_schema, t, "k",
            merge_mode=mode, compact_every=every,
        )
        for i, rows in enumerate(batches):
            pipe.process_batch(envelopes(rows), batch_id=i)
        results[mode] = sorted(
            (r.k, r.v) for r in t.read().select("k", "v").collect()
        )
        if mode == "mor":
            # cadence bound held: never more than `every` runs pending
            assert len(t._read_pointer().get("runs") or []) <= 2
    assert results["mor"] == results["cow"]
    assert (1, 112) in results["mor"] and (2, 112) not in results["mor"]


def test_minor_compaction_folds_runs_preserving_deletes(spark, tmp_path):
    """compact_runs (LSM minor fold): N pending runs collapse into one
    — logical state unchanged, delete masks preserved (a folded delete
    must still mask its base row), base buckets untouched, read
    amplification back to base + 1 run."""
    import glob

    path = str(tmp_path / "t")
    t = SnapshotTable(spark, path, ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k * 10) for k in range(20)]), batch_id=0)
    base_files = set(glob.glob(f"{path}/v=*/bucket=*/*.parquet"))
    t.merge(_batch(spark, [(1, "u", 111), (2, "d", 0)]), batch_id=1,
            mode="mor")
    t.merge(_batch(spark, [(2, "c", 222), (3, "d", 0)]), batch_id=2,
            mode="mor")
    t.merge(_batch(spark, [(3, "c", 333), (4, "d", 0)]), batch_id=3,
            mode="mor")
    before = _rows(t)
    assert (2, 222) in before and (3, 333) in before
    assert all(kv[0] != 4 for kv in before)

    folded = t.compact_runs()
    assert folded == 3
    ptr = t._read_pointer()
    assert len(ptr["runs"]) == 1
    assert _rows(t) == before  # bit-identical logical state
    # base buckets untouched: every original base file still present
    assert base_files <= set(glob.glob(f"{path}/v=*/bucket=*/*.parquet"))
    # the folded delete still masks key 4's base row
    assert sorted(r.k for r in t.read_keys([4, 5]).collect()) == [5]
    # idempotent / no-op on a single run
    assert t.compact_runs() == 1
    assert _rows(t) == before
    # replay idempotence survives the fold (batch_id carried through)
    t.merge(_batch(spark, [(9, "u", 999)]), batch_id=3, mode="mor")
    assert _rows(t) == before
    # and a further MoR merge + major compaction still work
    t.merge(_batch(spark, [(9, "u", 999)]), batch_id=4, mode="mor")
    t.compact()
    assert t._read_pointer()["runs"] == []
    assert (9, 999) in set(_rows(t))


# -- fold on write: a merge carrying a maintenance policy rides its due
# fold, so each batch costs one write and one commit


def _policy(**kw):
    from changedatacapture_spark.streaming.sink import MaintenancePolicy

    return MaintenancePolicy(**kw)


def _seeded(spark, tmp_path, n=12):
    t = SnapshotTable(spark, str(tmp_path / "t"), ["k"], n_buckets=4)
    t.merge(_batch(spark, [(k, "c", k * 10) for k in range(n)]), batch_id=0)
    return t


def test_fused_folds_record_tier_and_batch_in_history(spark, tmp_path):
    """A minor fold and a major fold each ride their batch: one commit
    per batch, whose history entry names the fold and the batch."""
    t = _seeded(spark, tmp_path)
    every2 = _policy(compact_every=2)
    assert t.merge(
        _batch(spark, [(1, "u", 11)]), batch_id=1, mode="mor", maintain=every2
    ) == "none"
    assert t.merge(
        _batch(spark, [(2, "u", 22)]), batch_id=2, mode="mor", maintain=every2
    ) == "minor"
    hist = t.history()
    assert len(hist) == 3
    assert hist[-1]["maintenance"] == "minor" and hist[-1]["batch_id"] == 2
    assert [r["batch_id"] for r in hist[-1]["runs"]] == [2]
    assert t.merge(
        _batch(spark, [(3, "d", 0)]), batch_id=3, mode="mor",
        maintain=_policy(major_ratio=0.0),
    ) == "major"
    hist = t.history()
    assert len(hist) == 4
    assert hist[-1]["maintenance"] == "major" and hist[-1]["batch_id"] == 3
    assert hist[-1]["runs"] == []
    assert [e["maintenance"] for e in hist[:2]] == [None, None]
    assert _rows(t) == sorted(
        [(k, k * 10) for k in range(12) if k not in (1, 2, 3)]
        + [(1, 11), (2, 22)]
    )
    # the major fold wrote fresh zone maps for the new base
    assert t._read_pointer()["stats"]


def test_fused_fold_replay_is_a_noop(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    every2 = _policy(compact_every=2)
    t.merge(_batch(spark, [(1, "u", 11)]), batch_id=1, mode="mor",
            maintain=every2)
    t.merge(_batch(spark, [(2, "u", 22)]), batch_id=2, mode="mor",
            maintain=every2)
    version, rows = t.version, _rows(t)
    # re-delivered after its fused commit landed: nothing runs
    assert t.merge(
        _batch(spark, [(2, "u", 999)]), batch_id=2, mode="mor",
        maintain=every2,
    ) == "none"
    assert t.version == version and _rows(t) == rows


@pytest.mark.parametrize("retries", [0, 1])
def test_fused_fold_race_raises_or_replans(
    spark, tmp_path, monkeypatch, retries
):
    """A second writer commits between the fused merge's plan and its
    commit. Without retries the merge fails loudly; with one it
    replans (a fold never rebases: the runs it replaced moved) and
    both batches land."""
    t = _seeded(spark, tmp_path)
    t.merge(_batch(spark, [(1, "u", 11)]), batch_id=1, mode="mor")
    t1 = SnapshotTable(spark, t.path, ["k"], n_buckets=4)
    t2 = SnapshotTable(spark, t.path, ["k"], n_buckets=4)
    orig = SnapshotTable._do_write_buckets
    writes = []

    def hook(self, df, version, dynamic=False, records_per_file=None, **kw):
        out = orig(self, df, version, dynamic, records_per_file, **kw)
        if self is t1:
            writes.append(version)
            if len(writes) == 1:  # the winner lands before t1 commits
                t2.merge(_batch(spark, [(5, "u", 55)]), batch_id=50,
                         mode="mor")
        return out

    monkeypatch.setattr(SnapshotTable, "_do_write_buckets", hook)
    fused = dict(batch_id=2, mode="mor", maintain=_policy(compact_every=2),
                 retry_conflicts=retries)
    if retries == 0:
        with pytest.raises(ConcurrentWriteError):
            t1.merge(_batch(spark, [(2, "u", 22)]), **fused)
        assert t1.last_batch_id() == 50
        return
    assert t1.merge(_batch(spark, [(2, "u", 22)]), **fused) == "minor"
    assert len(writes) == 2, "a lost fold must replan, not rebase"
    hist = t1.history()
    assert [e["batch_id"] for e in hist] == [0, 1, 50, 2]
    assert hist[-1]["maintenance"] == "minor"
    assert len(hist[-1]["runs"]) == 1
    got = dict(_rows(t1))
    assert (got[1], got[2], got[5]) == (11, 22, 55)


@pytest.mark.parametrize("tier", ["minor", "major"])
def test_fused_fold_carries_a_new_column(spark, tmp_path, tier):
    """A batch that adds a column rides a fold: the folded output has
    the column, and rows from the base and from older runs read it as
    null."""
    t = _seeded(spark, tmp_path, n=4)
    t.merge(_batch(spark, [(1, "u", 11)]), batch_id=1, mode="mor")
    wide = spark.createDataFrame(
        [(2, "u", 22, "x")], "k long, op string, v long, tag string"
    )
    policy = (
        _policy(compact_every=2) if tier == "minor"
        else _policy(major_ratio=0.0)
    )
    assert t.merge(wide, batch_id=2, mode="mor", maintain=policy) == tier
    assert t.history()[-1]["maintenance"] == tier
    got = sorted((r.k, r.v, r.tag) for r in t.read().collect())
    assert got == [(0, 0, None), (1, 11, None), (2, 22, "x"), (3, 30, None)]


def test_fused_minor_fold_keeps_a_base_only_delete_mask(spark, tmp_path):
    """A delete of a key that lives only in the base rides a minor
    fold: the folded run keeps its mask, which still hides the base
    row."""
    t = _seeded(spark, tmp_path)
    t.merge(_batch(spark, [(5, "u", 55)]), batch_id=1, mode="mor")
    assert t.merge(
        _batch(spark, [(3, "d", 0)]), batch_id=2, mode="mor",
        maintain=_policy(compact_every=2),
    ) == "minor"
    ptr = t._read_pointer()
    assert len(ptr["runs"]) == 1
    assert ptr["buckets"] == t.history()[0]["buckets"]  # base untouched
    got = dict(_rows(t))
    assert 3 not in got and got[5] == 55 and len(got) == 11
    assert t.read_keys([3]).count() == 0


def test_empty_batch_commits_its_due_fold(spark, tmp_path):
    """An empty batch that finds a fold due commits the fold under its
    own batch id (the batch is applied: it changed nothing), so its
    replay is a no-op like any other; with no fold due it commits
    nothing."""
    t = _seeded(spark, tmp_path)
    every2 = _policy(compact_every=2)
    empty = _batch(spark, [])
    assert t.merge(empty, batch_id=1, mode="mor", maintain=every2) == "none"
    assert t.version == 0
    t.merge(_batch(spark, [(1, "u", 11)]), batch_id=2, mode="mor")
    rows = _rows(t)
    assert t.merge(empty, batch_id=3, mode="mor", maintain=every2) == "minor"
    hist = t.history()
    assert hist[-1]["batch_id"] == 3 and hist[-1]["maintenance"] == "minor"
    assert _rows(t) == rows
    version = t.version
    assert t.merge(empty, batch_id=3, mode="mor", maintain=every2) == "none"
    assert t.version == version


def test_compact_every_bounds_runs_any_reader_sees(spark, tmp_path):
    """With ``compact_every = k`` no committed state — the only states
    a reader can see — holds more than k pending runs, and every
    batch costs one commit."""
    k = 3
    t = _seeded(spark, tmp_path)
    for i in range(1, 8):
        t.merge(
            _batch(spark, [(i, "u", 100 + i)]), batch_id=i, mode="mor",
            maintain=_policy(compact_every=k),
        )
    hist = t.history()
    assert len(hist) == 8
    assert max(len(e["runs"]) for e in hist) <= k
    assert [e["maintenance"] for e in hist].count("minor") >= 2
    assert dict(_rows(t))[7] == 107


def test_direct_folds_record_their_tier(spark, tmp_path):
    t = _seeded(spark, tmp_path)
    for i in (1, 2):
        t.merge(_batch(spark, [(i, "u", 100 + i)]), batch_id=i, mode="mor")
    assert t.compact_runs() == 2
    assert t.history()[-1]["maintenance"] == "minor"
    t.compact()
    assert t.history()[-1]["maintenance"] == "major"
    assert t.history()[-1]["batch_id"] == 2
