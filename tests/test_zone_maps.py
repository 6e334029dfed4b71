"""Manifest-level zone maps (data skipping): per-bucket min/max stats
collected at commit time, carried forward for untouched buckets, and
used by ``read_where`` to avoid scheduling buckets whose value range
cannot match a predicate.

The Delta analogue is file-level stats in the transaction log
(dataSkippingNumIndexedCols); the reference has no counterpart — its
Delta reads always scan the whole table (cdc_stream.py:664-689 reads
``DeltaTable.forPath`` unpruned).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.streaming.sink import SnapshotTable


def _bucket_map(spark, keys, n_buckets):
    """key -> bucket for all ``keys`` in ONE Spark job (not one per
    key): thousands of single-row jobs were pure test overhead."""
    df = spark.createDataFrame([(int(k),) for k in keys], "k long")
    rows = df.select(
        "k", F.pmod(F.hash(F.col("k")), F.lit(n_buckets)).alias("b")
    ).collect()
    return {r.k: r.b for r in rows}


def _build_correlated(spark, tmp_path, n_buckets=4):
    """Table where bucket-0 keys hold small ``val`` and every other
    bucket holds large ``val`` — value range correlates with bucket, so
    a selective predicate can prove most buckets irrelevant."""
    path = str(tmp_path / "zt")
    bmap = _bucket_map(spark, range(200), n_buckets)
    b0 = [k for k, b in bmap.items() if b == 0][:20]
    rest = [k for k, b in bmap.items() if b != 0][:60]
    rows = [(k, i, float(i)) for i, k in enumerate(b0)]  # val in [0, 20)
    rows += [(k, 1000 + i, float(1000 + i)) for i, k in enumerate(rest)]
    df = spark.createDataFrame(rows, "k long, val long, fval double")
    t = SnapshotTable(spark, path, ["k"], n_buckets=n_buckets)
    t.overwrite(df, batch_id=0)
    return t, rows


def _kept_buckets(t, predicates):
    """(kept, every) base bucket ids of the read planner's bucket pass."""
    plan = t._plan(t._read_pointer(), predicates=predicates)
    return plan.buckets, sorted(int(b) for b in plan.ptr["buckets"])


@pytest.fixture(scope="module")
def correlated(spark, tmp_path_factory):
    """Shared READ-ONLY correlated table — tests that mutate must build
    their own via ``_build_correlated``."""
    tmp = tmp_path_factory.mktemp("zonemaps")
    return _build_correlated(spark, tmp)


def test_stats_written_and_bounded(correlated):
    t, rows = correlated
    ptr = t._read_pointer()
    stats = ptr["stats"]
    assert set(stats) == set(ptr["buckets"])
    mins = [s["val"][0] for s in stats.values()]
    maxs = [s["val"][1] for s in stats.values()]
    assert min(mins) == min(r[1] for r in rows)
    assert max(maxs) == max(r[1] for r in rows)


def test_read_where_prunes_and_stays_exact(correlated):
    t, rows = correlated
    kept, every = _kept_buckets(t, [("val", "<=", 10)])
    assert kept == [0] and len(every) == 4

    got = sorted(r.k for r in t.read_where([("val", "<=", 10)]).collect())
    want = sorted(k for k, v, _ in rows if v <= 10)
    assert got == want
    # the pruned plan reads fewer files than the full read
    assert len(t.read_where([("val", "<=", 10)]).inputFiles()) < len(
        t.read().inputFiles()
    )


def test_read_where_all_pruned_is_empty_not_error(correlated):
    t, _rows = correlated
    df = t.read_where([("val", ">", 10_000)])
    kept, _ = _kept_buckets(t, [("val", ">", 10_000)])
    assert kept == []
    assert df.count() == 0
    assert df.schema == t.read().schema


@pytest.mark.parametrize(
    "pred",
    [
        [("val", "=", 1000)],
        [("val", "between", 5, 1002)],
        [("val", ">=", 1050)],
        [("fval", "<", 10.0)],
        [("val", ">", 3), ("val", "<", 1001)],  # conjunction
    ],
)
def test_read_where_matches_plain_filtered_read(correlated, pred):
    t, _rows = correlated
    base = t.read()
    for col, op, *vals in pred:
        c = F.col(col)
        base = base.filter(
            (c >= vals[0]) & (c <= vals[1])
            if op == "between"
            else {"=": c == vals[0], "<": c < vals[0], "<=": c <= vals[0],
                  ">": c > vals[0], ">=": c >= vals[0]}[op]
        )
    want = sorted(tuple(r) for r in base.collect())
    got = sorted(tuple(r) for r in t.read_where(pred).collect())
    assert got == want


def test_merge_drops_touched_stats_and_carries_untouched(spark, tmp_path):
    """Hot-path policy: a merge must NOT pay a stats job — the touched
    bucket's stats are dropped (absent stats never prune, so reads stay
    exact); untouched buckets keep theirs verbatim."""
    t, _rows = _build_correlated(spark, tmp_path)
    before = t._read_pointer()["stats"]
    key = int(t.read().select("k").first()[0])
    b = _bucket_map(spark, [key], t.n_buckets)[key]
    batch = spark.createDataFrame(
        [(key, 999_999, 1.5, "u")], "k long, val long, fval double, op string"
    )
    t.merge(batch, batch_id=1)
    after = t._read_pointer()["stats"]
    assert str(b) not in after  # dropped, not stale
    for ob in after:
        assert after[ob] == before[ob]  # carried forward verbatim
    # the de-statted bucket always survives pruning → exactness holds
    got = sorted(r.k for r in t.read_where([("val", ">=", 999_999)]).collect())
    assert got == [key]
    # maintenance rewrite restores full stats coverage
    t.compact()
    refreshed = t._read_pointer()["stats"]
    assert set(refreshed) == set(t._read_pointer()["buckets"])
    assert refreshed[str(b)]["val"][1] == 999_999


def test_stats_on_merge_refreshes_touched_bucket(spark, tmp_path):
    path = str(tmp_path / "som")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(40)], "k long, val long"
    )
    t = SnapshotTable(spark, path, ["k"], n_buckets=4, stats_on_merge=True)
    t.overwrite(df, batch_id=0)
    before = t._read_pointer()["stats"]
    key = 7
    b = _bucket_map(spark, [key], 4)[key]
    t.merge(
        spark.createDataFrame([(key, 555_555, "u")], "k long, val long, op string"),
        batch_id=1,
    )
    after = t._read_pointer()["stats"]
    assert after[str(b)]["val"][1] == 555_555  # refreshed in-merge
    for ob in after:
        if ob != str(b):
            assert after[ob] == before[ob]


def test_string_max_truncation_never_misprunes(spark, tmp_path):
    path = str(tmp_path / "st")
    long_a = "a" * 200  # bucket's true max would be truncated
    long_z = "z" * 200
    df = spark.createDataFrame(
        [(1, long_a), (2, long_z), (3, "mmm")], "k long, s string"
    )
    t = SnapshotTable(spark, path, ["k"], n_buckets=1)
    t.overwrite(df, batch_id=0)
    zone = t._read_pointer()["stats"]["0"]["s"]
    assert zone[0] == "a" * 64  # truncated lower bound, still valid
    assert zone[1] is None  # truncated upper bound DROPPED, not stored
    # a predicate above the truncated-away max must still find the row
    assert t.read_where([("s", ">=", "z" * 100)]).count() == 1
    assert t.read_where([("s", "<", "a" * 300)]).count() == 1


def test_timestamp_zone_pruning(spark, tmp_path):
    path = str(tmp_path / "tt")
    rows = [
        (k, datetime.datetime(2024, 1, 1 + (k % 5), 12, 0, 0)) for k in range(40)
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    t = SnapshotTable(spark, path, ["k"], n_buckets=4)
    t.overwrite(df, batch_id=0)
    cut = datetime.datetime(2024, 1, 3)
    got = sorted(r.k for r in t.read_where([("ts", "<", cut)]).collect())
    want = sorted(k for k, ts in rows if ts < cut)
    assert got == want
    # out-of-range timestamp prunes everything
    kept, _ = _kept_buckets(t, [("ts", ">", datetime.datetime(2030, 1, 1))])
    assert kept == []


def test_timestamp_stat_value_is_exact_integer_micros():
    """Float ``.timestamp()`` spacing near current epochs is ~0.25us;
    the bound conversion must be exact integer arithmetic or a pruning
    bound can land 1us low and wrongly exclude a boundary bucket."""
    for us in (0, 1, 123456, 999999):
        v = datetime.datetime(
            2026, 8, 14, 12, 30, 45, us, tzinfo=datetime.timezone.utc
        )
        got = SnapshotTable._stat_value(v, "ts")
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        want = (v - epoch) // datetime.timedelta(microseconds=1)
        assert got == want
        assert got % 1_000_000 == us
    naive = datetime.datetime(2026, 8, 14, 12, 30, 45, 1)
    assert SnapshotTable._stat_value(naive, "ts") % 1_000_000 == 1


def _build_clustered(spark, tmp_path, n_keys=400, n_buckets=2, mrpf=40):
    """Table whose buckets each hold several files, cluster-sorted by
    ``val`` — so every file covers a contiguous val range and per-file
    zone maps can prune WITHIN a bucket."""
    path = str(tmp_path / "fz")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(n_keys)], "k long, val long"
    )
    t = SnapshotTable(
        spark,
        path,
        ["k"],
        n_buckets=n_buckets,
        cluster_cols=["val"],
        max_records_per_file=mrpf,
    )
    t.overwrite(df, batch_id=0)
    return t


def test_file_stats_written_per_file(spark, tmp_path):
    t = _build_clustered(spark, tmp_path)
    ptr = t._read_pointer()
    fstats = ptr["fstats"]
    assert set(fstats) == set(ptr["buckets"])
    for b, fmap in fstats.items():
        # 400 keys / 2 buckets / 40-record cap → ≥ 5 files per bucket
        assert len(fmap) >= 5
        for zone in fmap.values():
            mn, mx = zone["val"]
            assert mn is not None and mx is not None and mn <= mx
        # cluster-sorted write: file ranges within a bucket are disjoint
        ranges = sorted(z["val"] for z in fmap.values())
        for (_, amx), (bmn, _) in zip(ranges, ranges[1:]):
            assert amx < bmn


def test_read_where_prunes_files_within_surviving_buckets(spark, tmp_path):
    """The VERDICT-7 assertion: a selective predicate on the cluster key
    keeps every bucket (val ranges span all buckets) but only the FILES
    whose range intersects — file-count pruning, not just bucket-count."""

    t = _build_clustered(spark, tmp_path)
    pred = [("val", "between", 1000, 1200)]
    kept_b, every_b = _kept_buckets(t, pred)
    assert kept_b == every_b  # bucket level cannot help here
    df = t.read_where(pred)
    rep = t.last_scan_report
    assert rep["buckets_kept"] == rep["buckets_total"]
    assert rep["files_kept"] < rep["files_total"]
    assert len(df.inputFiles()) == rep["files_kept"]
    got = sorted(r.k for r in df.collect())
    assert got == [k for k in range(400) if 1000 <= k * 10 <= 1200]


def test_file_pruning_all_files_of_a_bucket_prunable(spark, tmp_path):
    t = _build_clustered(spark, tmp_path)
    df = t.read_where([("val", ">", 10**9)])
    assert df.count() == 0
    assert df.schema == t.read().schema


def test_merge_without_stats_falls_back_to_whole_bucket(spark, tmp_path):
    """A hot-path merge drops the touched bucket's file stats with its
    bucket stats; reads fall back to the whole bucket dir and stay
    exact; untouched buckets keep file-level pruning."""
    t = _build_clustered(spark, tmp_path)
    key = 7
    b = _bucket_map(spark, [key], t.n_buckets)[key]
    t.merge(
        spark.createDataFrame([(key, 999_999, "u")], "k long, val long, op string"),
        batch_id=1,
    )
    ptr = t._read_pointer()
    assert str(b) not in ptr["fstats"]  # dropped with the bucket stats
    got = sorted(r.k for r in t.read_where([("val", ">=", 999_999)]).collect())
    assert got == [key]
    # untouched bucket still prunes at file level: its fstats survive
    other = [x for x in ptr["fstats"] if x != str(b)]
    assert other and all(len(ptr["fstats"][x]) >= 5 for x in other)


def test_pointer_without_fstats_reads_whole_buckets(spark, tmp_path):
    """Backward compat: a pointer from before file-level stats (no
    ``fstats`` key) must read exactly as before."""
    import json as _json

    t = _build_clustered(spark, tmp_path)
    p = t._pointer_path()
    with open(p) as f:
        ptr = _json.load(f)
    ptr.pop("fstats", None)
    ptr.pop("fstats_ref", None)  # v2 pointers carry refs, not inline
    with open(p, "w") as f:
        _json.dump(ptr, f)
    df = t.read_where([("val", "between", 1000, 1200)])
    got = sorted(r.k for r in df.collect())
    assert got == [k for k in range(400) if 1000 <= k * 10 <= 1200]


def test_stats_disabled_keeps_everything_and_read_where_still_exact(
    spark, tmp_path
):
    path = str(tmp_path / "nd")
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(30)], "k long, val long"
    )
    t = SnapshotTable(spark, path, ["k"], n_buckets=4, collect_stats=False)
    t.overwrite(df, batch_id=0)
    assert t._read_pointer()["stats"] == {}
    kept, every = _kept_buckets(t, [("val", "<", 50)])
    assert kept == every  # no stats → never prune
    got = sorted(r.k for r in t.read_where([("val", "<", 50)]).collect())
    assert got == [0, 1, 2, 3, 4]
