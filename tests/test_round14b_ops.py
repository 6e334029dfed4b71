"""Round-14 second-wave operators: secondary index, CDF pre-images,
point-in-time join, RRF fusion."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.streaming.index import SecondaryIndex
from changedatacapture_spark.streaming.sink import SnapshotTable


def _mk_table(spark, tmp_path, retain=4):
    t = SnapshotTable(
        spark,
        os.path.join(str(tmp_path), "t"),
        ["k"],
        n_buckets=4,
        retain_history=retain,
    )
    b1 = spark.createDataFrame(
        [(i, i % 3, f"p{i}", "c") for i in range(20)],
        "k long, band long, payload string, op string",
    )
    t.merge(b1, batch_id=0)
    return t


class TestChangesPreimage:
    def test_update_pre_rows(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        v1 = t.version
        b2 = spark.createDataFrame(
            [
                (1, 2, "p1b", "u"),   # band change → pre + post
                (4, None, None, "d"),  # delete → pre-image row only
                (100, 1, "new", "c"),  # insert
                (7, 1, "p7b", "u"),   # payload-only update (band kept)
            ],
            "k long, band long, payload string, op string",
        )
        t.merge(b2, batch_id=1)
        feed = t.changes_between(v1, t.version, include_preimage=True)
        rows = {(r.change_type, r.k): r for r in feed.collect()}
        assert rows[("update_pre", 1)].band == 1
        assert rows[("update_post", 1)].band == 2
        assert rows[("update_pre", 7)].band == 1  # value unchanged, payload not
        assert rows[("delete", 4)].band == 1  # deletes carry the pre-image
        assert ("update_pre", 100) not in rows
        # default call shape is unchanged
        base = t.changes_between(v1, t.version)
        assert set(base.select("change_type").distinct().toPandas()["change_type"]) == {
            "insert",
            "delete",
            "update_post",
        }

    def test_preimage_nulls_for_evolved_columns(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        v1 = t.version
        b2 = spark.createDataFrame(
            [(1, 2, "p1b", 9.5, "u")],
            "k long, band long, payload string, extra double, op string",
        )
        t.merge(b2, batch_id=1)
        feed = t.changes_between(v1, t.version, include_preimage=True)
        pre = feed.filter(
            (F.col("change_type") == "update_pre") & (F.col("k") == 1)
        ).first()
        assert pre.extra is None  # column postdates the old version
        assert pre.band == 1

    def test_backfill_only_change_is_an_update(self, spark, tmp_path):
        # a merge whose ONLY change is populating a schema-evolved
        # column must still surface as an update (old value logically
        # NULL) — a feed that skips it starves every CDF consumer
        t = _mk_table(spark, tmp_path)
        v1 = t.version
        b2 = spark.createDataFrame(
            [(1, 1, "p1", 9.5, "u")],  # band AND payload unchanged
            "k long, band long, payload string, extra double, op string",
        )
        t.merge(b2, batch_id=1)
        feed = t.changes_between(v1, t.version, include_preimage=True)
        rows = {r.change_type: r for r in feed.filter(F.col("k") == 1).collect()}
        assert rows["update_post"].extra == 9.5
        assert rows["update_pre"].extra is None
        base = t.changes_between(v1, t.version).filter(F.col("k") == 1)
        assert [r.change_type for r in base.collect()] == ["update_post"]


class TestSecondaryIndex:
    def test_lookup_tracks_band_moves(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        idx = SecondaryIndex(spark, t, "band")
        assert idx.sync()["mode"] == "full"
        assert sorted(r.k for r in idx.lookup(1).collect()) == [
            x for x in range(20) if x % 3 == 1
        ]
        b2 = spark.createDataFrame(
            [
                (1, 2, "p1b", "u"),
                (4, None, None, "d"),
                (100, 1, "new", "c"),
                (7, 1, "p7b", "u"),
            ],
            "k long, band long, payload string, op string",
        )
        t.merge(b2, batch_id=1)
        assert idx.sync()["mode"] == "incremental"
        got = sorted(r.k for r in idx.lookup(1).collect())
        assert got == [
            x for x in range(20) if x % 3 == 1 and x not in (1, 4)
        ] + [100]
        # stale postings retracted: band 2 gained k=1
        assert 1 in {r.k for r in idx.lookup(2).collect()}

    def test_sync_noop_and_replay(self, spark, tmp_path):
        t = _mk_table(spark, tmp_path)
        idx = SecondaryIndex(spark, t, "band")
        idx.sync()
        # the indexed-version record IS the posting commit's batch id —
        # one atomic commit, no marker file that a crash could leave
        # behind the postings
        assert idx.indexed_version == t.version
        assert idx.indexed_version == idx.postings.last_batch_id()
        assert idx.sync()["mode"] == "noop"
        t.merge(
            spark.createDataFrame(
                [(1, 2, "p1b", "u")],
                "k long, band long, payload string, op string",
            ),
            batch_id=1,
        )
        idx.sync()
        before = idx.postings.version
        assert idx.indexed_version == t.version
        # replayed sync (same base version): no-op, no new commit
        assert idx.sync()["mode"] == "noop"
        assert idx.postings.version == before
        assert sorted(r.k for r in idx.lookup_keys(2).collect()) == sorted(
            [1] + [x for x in range(20) if x % 3 == 2]
        )

    def test_sync_reports_the_tier_that_ran(self, spark, tmp_path):
        """The incremental sync's ``maintenance`` field names the tier
        that ran: ``none`` when a policy is set but nothing is due,
        ``minor`` once the run-count tier folds the posting runs."""
        t = _mk_table(spark, tmp_path)
        idx = SecondaryIndex(
            spark, t, "band", postings_mode="mor", compact_every=2,
            compact_max_files_per_bucket=1000,
        )
        idx.sync()
        reports = []
        for i, band in enumerate((2, 0), start=1):
            t.merge(
                spark.createDataFrame(
                    [(1, band, "p1", "u")],
                    "k long, band long, payload string, op string",
                ),
                batch_id=i,
            )
            reports.append(idx.sync()["maintenance"])
        assert reports == ["none", "minor"]
        assert len(idx.postings._read_pointer()["runs"]) == 1
        assert sorted(r.k for r in idx.lookup_keys(0).collect()) == sorted(
            [1] + [x for x in range(20) if x % 3 == 0]
        )

    def test_update_to_null_retracts_posting(self, spark, tmp_path):
        # the indexed column transitioning non-null → NULL must emit a
        # NULL post-image in the CDF (not the coalesce'd OLD value —
        # that bogus add would anti-join away its own update_pre
        # retraction, leaving a stale posting lookup_keys serves
        # forever). k=1 starts at band 1.
        t = _mk_table(spark, tmp_path)
        v1 = t.version
        idx = SecondaryIndex(spark, t, "band")
        idx.sync()
        t.merge(
            spark.createDataFrame(
                [(1, None, "p1-nulled", "u")],
                "k long, band long, payload string, op string",
            ),
            batch_id=1,
        )
        feed = t.changes_between(v1, t.version, include_preimage=True)
        rows = {r.change_type: r for r in feed.filter(F.col("k") == 1).collect()}
        assert rows["update_post"].band is None
        assert rows["update_pre"].band == 1
        assert idx.sync()["mode"] == "incremental"
        # the POSTING itself is gone (not merely re-filtered by lookup)
        assert 1 not in {r.k for r in idx.lookup_keys(1).collect()}
        assert 1 not in {r.k for r in idx.lookup(1).collect()}

    def test_null_values_not_indexed(self, spark, tmp_path):
        t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "tn"), ["k"], n_buckets=2
        )
        t.merge(
            spark.createDataFrame(
                [(1, None, "c"), (2, 5, "c")],
                "k long, band long, op string",
            ),
            batch_id=0,
        )
        idx = SecondaryIndex(spark, t, "band")
        idx.sync()
        assert [r.k for r in idx.lookup(5).collect()] == [2]
        with pytest.raises(ValueError):
            idx.lookup(None)

    def test_retention_gap_falls_back_to_full(self, spark, tmp_path, monkeypatch):
        t = _mk_table(spark, tmp_path, retain=0)
        idx = SecondaryIndex(spark, t, "band")
        idx.sync()
        t.merge(
            spark.createDataFrame(
                [(1, 2, "x", "u")],
                "k long, band long, payload string, op string",
            ),
            batch_id=1,
        )

        # the indexed horizon's files were vacuumed: the feed raises
        # and sync must fall back to a full rebuild, never fail
        def gone(*a, **kw):
            raise ValueError("version beyond retain_history")

        monkeypatch.setattr(t, "changes_between", gone)
        assert idx.sync()["mode"] == "full"
        assert 1 in {r.k for r in idx.lookup(2).collect()}
        assert 1 not in {r.k for r in idx.lookup(1).collect()}

    def test_lookup_prunes_posting_buckets(self, spark, tmp_path):
        # high-cardinality value column → bloom bitmaps prune buckets
        t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "tp"), ["k"], n_buckets=4
        )
        t.merge(
            spark.createDataFrame(
                [(i, 1000 + i, "c") for i in range(400)],
                "k long, v long, op string",
            ),
            batch_id=0,
        )
        idx = SecondaryIndex(spark, t, "v", n_buckets=16)
        idx.sync()
        assert [r.k for r in idx.lookup(1007).collect()] == [7]
        idx.lookup_keys(1007).collect()
        rep = idx.postings.last_scan_report
        assert rep["buckets_kept"] < rep["buckets_total"], rep
        # the base side reads a key-routed bucket subset, never the
        # full table: one key routes to exactly one of 4 base buckets
        base_files = [
            p for p in idx.lookup(1007).inputFiles() if "/tp/" in p
        ]
        base_buckets = {p.split("/bucket=")[1].split("/")[0] for p in base_files}
        assert len(base_buckets) == 1, sorted(base_buckets)


class TestPointInTimeJoin:
    def test_asof_semantics_with_deletes(self, spark):
        from changedatacapture_spark.operators.cdc import point_in_time_join

        changes = spark.createDataFrame(
            [
                (1, 10, 1, "c", 100.0),
                (1, 50, 2, "u", 200.0),
                (1, 80, 3, "d", None),
                (2, 5, 4, "c", 7.0),
            ],
            "key long, t long, seq long, op string, value double",
        )
        facts = spark.createDataFrame(
            [(101, 1, 5), (102, 1, 10), (103, 1, 50), (104, 1, 60),
             (105, 1, 90), (106, 2, 5), (107, 3, 5)],
            "fid long, key long, t long",
        )
        out = {
            r.fid: (r.asof_value, r.asof_seq)
            for r in point_in_time_join(
                facts, changes, ["key"], "t", ["seq"], ["value", "seq"]
            ).collect()
        }
        assert out[101] == (None, None)      # before any change
        assert out[102] == (100.0, 1)        # change at SAME time visible
        assert out[103] == (200.0, 2)
        assert out[104] == (200.0, 2)
        assert out[105] == (None, None)      # deleted before the fact
        assert out[106] == (7.0, 4)
        assert out[107] == (None, None)      # key never seen

    def test_same_time_change_ordering(self, spark):
        from changedatacapture_spark.operators.cdc import point_in_time_join

        # two changes at the same t: the higher seq wins for a fact at t
        changes = spark.createDataFrame(
            [(1, 10, 1, "u", 1.0), (1, 10, 2, "u", 2.0)],
            "key long, t long, seq long, op string, value double",
        )
        facts = spark.createDataFrame([(9, 1, 10)], "fid long, key long, t long")
        got = point_in_time_join(
            facts, changes, ["key"], "t", ["seq"], ["value"]
        ).first()
        assert got.asof_value == 2.0


class TestRrfFuse:
    def test_integer_fusion(self, spark):
        from changedatacapture_spark.operators.text import rrf_fuse

        a = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3)], "doc_id long, rk long"
        )
        b = spark.createDataFrame(
            [(11, 1), (13, 2)], "doc_id long, rk long"
        )
        rows = {
            r.doc_id: r
            for r in rrf_fuse([a, b], top_k=10).collect()
        }
        s = 1_000_000_000_000
        assert rows[11].rrf_scaled == s // 61 + s // 62
        assert rows[11].n_lists == 2
        assert rows[10].rrf_scaled == s // 61
        assert rows[10].n_lists == 1
        # ranking: 11 (two lists) first, then 10, 13, 12
        order = sorted(rows.values(), key=lambda r: r.rk)
        assert [r.doc_id for r in order] == [11, 10, 13, 12]

    def test_tie_breaks_by_id(self, spark):
        from changedatacapture_spark.operators.text import rrf_fuse

        a = spark.createDataFrame(
            [(5, 1), (3, 1)], "doc_id long, rk long"
        )  # impossible in one real list, but pins the tie rule
        got = [r.doc_id for r in rrf_fuse([a], top_k=2).collect()]
        assert got == [3, 5]


class TestSCD2View:
    def _mk(self, spark, tmp_path, payload=("value",)):
        from changedatacapture_spark.streaming.history import SCD2View

        open_t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "open"), ["key_id"],
            n_buckets=2,
        )
        closed_t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "closed"),
            ["key_id", "valid_from", "seq"], n_buckets=2,
            bloom_cols=["key_id"],
        )
        return SCD2View(
            spark, open_t, closed_t, ["key_id"], ["ts", "seq"],
            list(payload),
        )

    DDL = "key_id long, ts long, seq long, op string, value double"

    def test_same_ts_versions_span_batches(self, spark, tmp_path):
        # batch 1 ends with an open version at ts=5; batch 2 opens a
        # NEW version at the SAME ts=5 (higher seq) — the old one
        # becomes a zero-length closed version that must NOT overwrite
        # or be overwritten by batch 1's earlier zero-length at ts=5
        v = self._mk(spark, tmp_path)
        b1 = spark.createDataFrame(
            [(1, 5, 1, "c", 10.0), (1, 5, 2, "u", 11.0)], self.DDL
        )
        b2 = spark.createDataFrame([(1, 5, 3, "u", 12.0)], self.DDL)
        v.apply(b1, batch_id=0)
        v.apply(b2, batch_id=1)
        hist = sorted(
            (r.value, r.valid_from, r.valid_to, r.is_current)
            for r in v.history().collect()
        )
        assert hist == [
            (10.0, 5, 5, 0),
            (11.0, 5, 5, 0),
            (12.0, 5, None, 1),
        ]

    def test_delete_gap_and_reinsert(self, spark, tmp_path):
        v = self._mk(spark, tmp_path)
        v.apply(
            spark.createDataFrame(
                [(1, 1, 0, "c", 1.0), (1, 4, 1, "d", None)], self.DDL
            ),
            batch_id=0,
        )
        # key fully deleted: no open row
        assert v.open.read().count() == 0
        assert [
            (r.valid_from, r.valid_to) for r in v.closed.read().collect()
        ] == [(1, 4)]
        v.apply(
            spark.createDataFrame([(1, 9, 2, "c", 2.0)], self.DDL),
            batch_id=1,
        )
        probe = spark.createDataFrame(
            [(10, 1, 2), (11, 1, 5), (12, 1, 9)], "fid long, key_id long, ts long"
        )
        got = {
            r.fid: r.asof_value
            for r in v.probe_as_of(probe, "ts").collect()
        }
        assert got == {10: 1.0, 11: None, 12: 2.0}

    def test_replay_idempotent(self, spark, tmp_path):
        v = self._mk(spark, tmp_path)
        b1 = spark.createDataFrame(
            [(1, 1, 0, "c", 1.0), (2, 2, 1, "c", 2.0)], self.DDL
        )
        b2 = spark.createDataFrame([(1, 5, 2, "u", 3.0)], self.DDL)
        v.apply(b1, batch_id=0)
        v.apply(b2, batch_id=1)
        before = sorted(map(tuple, v.history().collect()))
        v.apply(b2, batch_id=1)  # foreachBatch replay
        assert sorted(map(tuple, v.history().collect())) == before

    def test_non_default_op_col_and_delete_marker(self, spark, tmp_path):
        # a Debezium-style envelope uses __op with 'D' for delete and
        # 'c' happens to be a LIVE op value — the constructor params
        # must flow through scd2_history, the synthesized markers, and
        # both merges (a hardcoded 'd'/'op' would corrupt history)
        import os

        from changedatacapture_spark.streaming.history import SCD2View
        from changedatacapture_spark.streaming.sink import SnapshotTable

        open_t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "o2"), ["key_id"], n_buckets=2
        )
        closed_t = SnapshotTable(
            spark, os.path.join(str(tmp_path), "c2"),
            ["key_id", "valid_from", "seq"], n_buckets=2,
        )
        v = SCD2View(
            spark, open_t, closed_t, ["key_id"], ["ts", "seq"], ["value"],
            op_col="__op", delete_op="D",
        )
        ddl = "key_id long, ts long, seq long, __op string, value double"
        v.apply(
            spark.createDataFrame(
                [(1, 1, 0, "c", 1.0), (1, 3, 1, "u", 2.0)], ddl
            ),
            batch_id=0,
        )
        # 'd' is NOT the delete marker here — it must stay a live row
        v.apply(
            spark.createDataFrame(
                [(1, 5, 2, "d", 3.0), (2, 6, 3, "c", 9.0), (1, 8, 4, "D", None)],
                ddl,
            ),
            batch_id=1,
        )
        hist = sorted(
            (r.key_id, r.value, r.valid_from, r.valid_to, r.is_current)
            for r in v.history().collect()
        )
        assert hist == [
            (1, 1.0, 1, 3, 0),
            (1, 2.0, 3, 5, 0),
            (1, 3.0, 5, 8, 0),   # op 'd' row is live, closed by the real delete
            (2, 9.0, 6, None, 1),
        ]
        assert open_t.read().filter(F.col("key_id") == 1).count() == 0
