"""Round-19 optimization pins.

- The size-targeted compact's OPTIMIZE fast path: a committed layout
  already meeting the byte target resolves as a metadata no-op (no
  rewrite, no new version); a fragmented layout still rewrites.
- The static-merge-planning window restores the session's adaptive
  conf exactly once under concurrent merges (depth-counted), and a
  merge whose write raises leaves conf, cache and pointer as they
  were, in every merge mode.
- The observed merge probe yields the same touched-bucket set and
  batch size the old groupBy probe did (pinned indirectly: merges with
  deletes, empty batches, and evolution all hash-exact in the core
  suites; here we pin the no-op/empty edge).
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import SparkSession

from changedatacapture_spark.streaming.sink import SnapshotTable


@pytest.fixture(scope="module")
def spark():
    from changedatacapture_spark.session import get_spark

    return get_spark(app_name="test-opt-r19", shuffle_partitions=8)


def _files_of(t: SnapshotTable) -> list[str]:
    ptr = t._read_pointer()
    out = []
    for b, v in ptr["buckets"].items():
        d = f"{t.path}/v={v}/bucket={b}"
        out += sorted(
            f"{d}/{f}" for f in os.listdir(d) if f.endswith(".parquet")
        )
    return sorted(out)


class TestCompactFastPath:
    def test_layout_meeting_target_is_metadata_noop(self, spark, tmp_path):
        t = SnapshotTable(
            spark, str(tmp_path / "t"), ["k"], n_buckets=4,
            cluster_cols=["v"],
        )
        t.overwrite(
            spark.createDataFrame(
                [(k, k % 97, "x" * 32) for k in range(4000)],
                "k long, v long, p string",
            ),
            batch_id=0,
        )
        before_version = t.version
        before_files = _files_of(t)
        sizes = [os.path.getsize(f) for f in before_files]
        # target chosen so every committed file is inside [T/2, 2T]
        target = max(sizes)
        assert min(sizes) * 2 >= target  # fixture sanity
        n = t.compact(target_file_bytes=target)
        assert n == len(before_files)
        # metadata no-op: same version, same physical files
        assert t.version == before_version
        assert _files_of(t) == before_files

    def test_partial_merge_then_compact_leaves_one_data_version(
        self, spark, tmp_path
    ):
        """A merge that rewrites a subset of buckets leaves the manifest
        on two data versions; a size-targeted compact must consolidate
        them even when every file already meets the target."""
        t = SnapshotTable(
            spark, str(tmp_path / "tp"), ["k"], n_buckets=4,
            cluster_cols=["v"],
        )
        t.overwrite(
            spark.createDataFrame(
                [(k, k % 97, "x" * 32) for k in range(4000)],
                "k long, v long, p string",
            ),
            batch_id=0,
        )
        t.merge(
            spark.createDataFrame(
                [(0, 1, "y" * 32, "u")], "k long, v long, p string, op string"
            ),
            batch_id=1,
        )
        ptr = t._read_pointer()
        assert len(set(ptr["buckets"].values())) == 2  # fixture sanity
        before = sorted(tuple(r) for r in t.read().collect())
        sizes = [os.path.getsize(f) for f in _files_of(t)]
        target = max(sizes)
        assert min(sizes) * 2 >= target  # every file meets the target
        t.compact(target_file_bytes=target)
        assert len(set(t._read_pointer()["buckets"].values())) == 1
        assert sorted(tuple(r) for r in t.read().collect()) == before

    def test_fragmented_layout_still_rewrites(self, spark, tmp_path):
        t = SnapshotTable(
            spark, str(tmp_path / "t2"), ["k"], n_buckets=4,
            cluster_cols=["v"], max_records_per_file=8,
        )
        t.overwrite(
            spark.createDataFrame(
                [(k, k % 97, "x" * 32) for k in range(2000)],
                "k long, v long, p string",
            ),
            batch_id=0,
        )
        before_version = t.version
        before = sorted(tuple(r) for r in t.read().collect())
        n = t.compact(target_file_bytes=1 << 30)
        assert n == 4  # one packed file per bucket
        assert t.version == before_version + 1
        assert sorted(tuple(r) for r in t.read().collect()) == before

    def test_pending_runs_disable_fast_path(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "t3"), ["k"], n_buckets=2)
        t.overwrite(
            spark.createDataFrame(
                [(k, k) for k in range(100)], "k long, v long"
            ),
            batch_id=0,
        )
        t.merge(
            spark.createDataFrame(
                [(1, 999, "u")], "k long, v long, op string"
            ),
            batch_id=1,
            mode="mor",
        )
        assert t._read_pointer()["runs"]
        before_version = t.version
        # huge per-file sizes would pass the size check; runs must not
        t.compact(target_file_bytes=1)
        assert t.version == before_version + 1
        assert not (t._read_pointer().get("runs") or [])
        assert t.read().filter("k = 1").collect()[0].v == 999


class TestStaticMergePlanning:
    @pytest.mark.parametrize("mode", ["cow", "guarded", "mor"])
    def test_failed_write_restores_conf_cache_and_pointer(
        self, spark, tmp_path, monkeypatch, mode
    ):
        """A merge whose write job raises leaves the session exactly
        as the caller had it: adaptive execution at the caller's value,
        the batch unpersisted, the pointer unmoved."""
        kw = {"guard_cols": ["ts"]} if mode == "guarded" else {"mode": mode}
        t = SnapshotTable(spark, str(tmp_path / mode), ["k"], n_buckets=2)
        t.merge(
            spark.createDataFrame(
                [(k, "c", 1, k) for k in range(10)],
                "k long, op string, ts long, v long",
            ),
            batch_id=0,
            **kw,
        )
        version = t.version

        persisted = []
        frame_cls = type(spark.range(1))
        orig_persist = frame_cls.persist

        def persist(self, *a, **k):
            persisted.append(self)
            return orig_persist(self, *a, **k)

        def failing_write(self, *a, **k):
            raise RuntimeError("injected write failure")

        monkeypatch.setattr(frame_cls, "persist", persist)
        monkeypatch.setattr(SnapshotTable, "_do_write_buckets", failing_write)
        key = "spark.sql.adaptive.enabled"
        prior = spark.conf.get(key)
        spark.conf.set(key, "true")
        try:
            with pytest.raises(RuntimeError, match="injected write failure"):
                t.merge(
                    spark.createDataFrame(
                        [(1, "u", 2, 100)], "k long, op string, ts long, v long"
                    ),
                    batch_id=1,
                    **kw,
                )
            assert spark.conf.get(key) == "true"
        finally:
            spark.conf.set(key, prior)
        # merge-on-read reads no table state: nothing to persist
        assert bool(persisted) == (mode != "mor")
        for df in persisted:
            level = df.storageLevel
            assert not (level.useMemory or level.useDisk)
        assert t.version == version

    def test_concurrent_windows_restore_conf_once(self, spark, tmp_path):
        t1 = SnapshotTable(spark, str(tmp_path / "a"), ["k"], n_buckets=2)
        t2 = SnapshotTable(spark, str(tmp_path / "b"), ["k"], n_buckets=2)
        key = "spark.sql.adaptive.enabled"
        spark.conf.set(key, "true")
        inside = {}
        barrier = threading.Barrier(2)

        def hold(t, name):
            with t._static_merge_planning():
                barrier.wait(timeout=10)
                inside[name] = spark.conf.get(key)
                barrier.wait(timeout=10)

        th = [
            threading.Thread(target=hold, args=(t1, "a")),
            threading.Thread(target=hold, args=(t2, "b")),
        ]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert inside == {"a": "false", "b": "false"}
        assert spark.conf.get(key) == "true"

    def test_disabled_knob_leaves_conf_alone(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "c"), ["k"], n_buckets=2)
        t.merge_static_planning = False
        key = "spark.sql.adaptive.enabled"
        spark.conf.set(key, "true")
        with t._static_merge_planning():
            assert spark.conf.get(key) == "true"


class TestReplayStatePartitions:
    def test_caps_at_session_value_and_restores(self, spark):
        from changedatacapture_spark.queries import _replay_state_partitions

        key = "spark.sql.shuffle.partitions"
        prior = spark.conf.get(key)
        spark.conf.set(key, "8")
        try:
            # small key space shrinks below the session value
            with _replay_state_partitions(spark, 300):
                assert spark.conf.get(key) == "2"
            assert spark.conf.get(key) == "8"
            # plentiful keys: the session value is the cap, never wider
            with _replay_state_partitions(spark, 10_000_000):
                assert spark.conf.get(key) == "8"
            assert spark.conf.get(key) == "8"
        finally:
            spark.conf.set(key, prior)


class TestObservedProbeEdges:
    def test_empty_batch_merge_is_noop_on_contents(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "e"), ["k"], n_buckets=2)
        t.overwrite(
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            batch_id=0,
        )
        empty = spark.createDataFrame([], "k long, v long, op string")
        t.merge(empty, batch_id=1)
        assert sorted((r.k, r.v) for r in t.read().collect()) == [
            (1, 10),
            (2, 20),
        ]

    def test_delete_only_batch_drops_keys(self, spark, tmp_path):
        t = SnapshotTable(spark, str(tmp_path / "d"), ["k"], n_buckets=2)
        t.overwrite(
            spark.createDataFrame(
                [(k, k) for k in range(10)], "k long, v long"
            ),
            batch_id=0,
        )
        t.merge(
            spark.createDataFrame(
                [(3, None, "d"), (7, None, "d")], "k long, v long, op string"
            ),
            batch_id=1,
        )
        assert sorted(r.k for r in t.read().collect()) == [
            0, 1, 2, 4, 5, 6, 8, 9,
        ]
