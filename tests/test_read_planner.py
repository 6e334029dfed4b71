"""SnapshotTable's read planner: every public read plans from one
pointer through one bucket → file pruning pass (``_plan``), so the
reads, their scan reports and ``estimate_rows_where`` agree with each
other and with some committed state even while another writer commits."""

from __future__ import annotations

import os

import pytest

from changedatacapture_spark.streaming.index import SecondaryIndex
from changedatacapture_spark.streaming.sink import (
    SEMI_JOIN_IN_THRESHOLD,
    SnapshotTable,
)

REPORT_KEYS = {
    "buckets_total", "buckets_kept", "files_total", "files_kept",
    "rows_total", "rows_kept", "run_files", "run_rows",
}


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """Path of a shared READ-ONLY table: several files per bucket
    (cluster sort + 8-row file cap), a bloom column, and one pending
    merge-on-read run. Tests open their own instance on it."""
    path = str(tmp_path_factory.mktemp("planner") / "t")
    t = SnapshotTable(
        spark, path, ["k"], n_buckets=4, cluster_cols=["v"],
        max_records_per_file=8, bloom_cols=["tag"],
    )
    t.overwrite(
        spark.createDataFrame(
            [(k, k * 10, f"t{k % 7}") for k in range(120)],
            "k long, v long, tag string",
        ),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(3, 35, "t3", "u"), (500, 40, "t2", "c"), (9, 0, "t0", "d")],
            "k long, v long, tag string, op string",
        ),
        batch_id=1, mode="mor",
    )
    assert t._read_pointer()["runs"]
    return path


def test_index_route_reads_one_committed_state(spark, tmp_path):
    """A commit landing while the index route collects its posting keys
    must not leak into the result: reading the new version for only the
    old version's keys is a state no commit ever held (here: key 2
    updated but the inserted key 1000 missing)."""
    path = os.path.join(str(tmp_path), "t")
    t = SnapshotTable(spark, path, ["k"], n_buckets=4, retain_history=1)
    t.overwrite(
        spark.createDataFrame(
            [(k, k % 4, "old") for k in range(40)], "k long, v long, s string"
        ),
        batch_id=0,
    )
    idx = SecondaryIndex(spark, t, "v", n_buckets=4)
    idx.sync()
    t.attach_index(idx)
    before = sorted(
        (r.k, r.s) for r in t.read().collect() if r.v == 2
    )
    other = SnapshotTable(spark, path, ["k"], n_buckets=4, retain_history=1)
    lookup = idx.lookup_keys_in

    def racing_lookup(values):
        other.merge(
            spark.createDataFrame(
                [(2, 2, "new", "u"), (1000, 2, "new", "c")],
                "k long, v long, s string, op string",
            ),
            batch_id=1,
        )
        return lookup(values)

    idx.lookup_keys_in = racing_lookup
    got = sorted((r.k, r.s) for r in t.read_where([("v", "=", 2)]).collect())
    after = sorted((r.k, r.s) for r in t.read().collect() if r.v == 2)
    assert len(before) == 10 and len(after) == 11
    assert got in (before, after), got


def test_read_keys_routes_and_reads_under_one_pointer(spark, tmp_path):
    """A rebucket (4 → 8) by another writer between the key routing job
    and the bucket read must not pair old-modulus bucket ids with the
    new manifest: keys whose new bucket is 4-7 would silently drop."""
    path = os.path.join(str(tmp_path), "t")
    t = SnapshotTable(spark, path, ["k"], n_buckets=4, retain_history=1)
    t.overwrite(
        spark.createDataFrame([(k, k) for k in range(100)], "k long, v long"),
        batch_id=0,
    )
    other = SnapshotTable(spark, path, ["k"], n_buckets=4, retain_history=1)
    route = t._bucket_col
    raced = []

    def racing_route(*args):
        if not raced:
            raced.append(True)
            other.rebucket(8)
        return route(*args)

    t._bucket_col = racing_route
    got = sorted(r.k for r in t.read_keys(list(range(100))).collect())
    assert raced and other._read_pointer()["n_buckets"] == 8
    # both committed states (before and after the rebucket) hold every key
    assert got == list(range(100))


def test_each_public_read_parses_the_pointer_once(spark, clustered):
    t = SnapshotTable(spark, clustered, ["k"])
    idx = SecondaryIndex(spark, t, "tag", n_buckets=4)
    idx.sync()
    t.attach_index(idx)
    calls = []
    read_pointer = t._read_pointer

    def counting():
        calls.append(1)
        return read_pointer()

    t._read_pointer = counting
    reads = {
        "read": lambda: t.read(),
        "read_buckets": lambda: t.read_buckets([0, 1]),
        "read_keys": lambda: t.read_keys([1, 2, 500]),
        "read_where": lambda: t.read_where([("v", "<", 300)]),
        "read_where_index": lambda: t.read_where([("tag", "=", "t3")]),
        "read_where_large_in": lambda: t.read_where(
            [("v", "in", list(range(SEMI_JOIN_IN_THRESHOLD + 1)))]
        ),
        "read_in_values": lambda: t.read_in_values("v", [10, 20]),
        "estimate_rows_where": lambda: t.estimate_rows_where(
            [("v", "=", 10)]
        ),
    }
    counts = {}
    for name, fn in reads.items():
        calls.clear()
        fn()
        counts[name] = len(calls)
    assert counts == {name: 1 for name in reads}, counts


def test_every_read_reports_one_shape(spark, clustered):
    t = SnapshotTable(spark, clustered, ["k"])
    every = sorted(int(b) for b in t._read_pointer()["buckets"])
    t.read_where([]).collect()
    where_all = dict(t.last_scan_report)
    t.read_buckets(every).collect()
    buckets_all = dict(t.last_scan_report)
    # files are counted from file stats on both paths
    assert where_all["files_total"] > len(every)
    assert buckets_all["files_total"] == where_all["files_total"]
    assert buckets_all["files_kept"] == where_all["files_kept"]
    assert buckets_all["rows_kept"] == where_all["rows_kept"]
    reports = {"read_where": where_all, "read_buckets": buckets_all}
    for name, fn in {
        "read_keys": lambda: t.read_keys([1, 500]),
        "read_keys_empty": lambda: t.read_keys([]),
        "read_in_values": lambda: t.read_in_values("v", [10, 20]),
        "read_in_values_empty": lambda: t.read_in_values("v", []),
    }.items():
        fn().collect()
        reports[name] = dict(t.last_scan_report)
    for name, rep in reports.items():
        semi = {"semi_join"} if name.startswith("read_in_values") else set()
        assert set(rep) == REPORT_KEYS | semi, (name, rep)
        assert rep["files_total"] == where_all["files_total"], name
    empty = reports["read_keys_empty"]
    assert empty["buckets_kept"] == empty["files_kept"] == 0
    assert empty["rows_kept"] == empty["run_rows"] == 0


@pytest.mark.parametrize(
    "pred",
    [
        [("v", "=", 40)],
        [("tag", "=", "t3")],
        [("v", "between", 100, 420)],
        [("v", ">=", 1000)],
        [("tag", "in", ["t1", "t5"])],
    ],
    ids=["eq", "eq_bloom", "range", "range_open", "small_in"],
)
def test_estimate_equals_planned_scan_volume(spark, clustered, pred):
    t = SnapshotTable(spark, clustered, ["k"])
    est = t.estimate_rows_where(pred)
    t.read_where(pred).collect()
    rep = t.last_scan_report
    assert rep["rows_kept"] is not None and rep["run_rows"] > 0
    assert est == rep["rows_kept"] + rep["run_rows"]
