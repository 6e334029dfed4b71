"""Session-level side effects are exception-safe: a conf override is
restored, and a pinned (persisted) frame is released, however the
block that needed it ends."""

from __future__ import annotations

import pytest

from changedatacapture_spark import queries
from changedatacapture_spark.operators import similarity

KEY = "spark.sql.shuffle.partitions"


def _vec(seed, dim=64):
    return [(((seed * 31 + d) * 2654435761) % 2000) / 1000.0 - 1.0 for d in range(dim)]


class _Conf:
    """Stand-in for ``spark.conf`` holding a value a real session may
    reject on ``set`` (it validates the key as an integer)."""

    def __init__(self, value):
        self.values = {KEY: value}
        self.sets = []

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.sets.append((key, value))
        self.values[key] = value


class _Session:
    def __init__(self, value):
        self.conf = _Conf(value)


def test_replay_partitions_leave_non_numeric_conf_untouched():
    s = _Session("auto")
    with queries._replay_state_partitions(s, 500):
        assert s.conf.get(KEY) == "auto"
    assert s.conf.get(KEY) == "auto" and s.conf.sets == []


def test_replay_partitions_restore_on_exit_and_on_exception(spark):
    prior = spark.conf.get(KEY)
    with queries._replay_state_partitions(spark, 500):
        assert spark.conf.get(KEY) == str(max(2, min(int(prior), 3)))
    assert spark.conf.get(KEY) == prior
    with pytest.raises(RuntimeError, match="boom"):
        with queries._replay_state_partitions(spark, 500):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == prior


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _fail_on_call(monkeypatch, name: str, n: int) -> None:
    """Make ``similarity.<name>`` raise on its ``n``-th call — late
    enough that the pinned frame has been materialized."""
    real = getattr(similarity, name)
    seen = []

    def flaky(*args, **kwargs):
        seen.append(1)
        if len(seen) == n:
            raise RuntimeError("injected failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(similarity, name, flaky)


def test_pq_fit_codebook_releases_its_pin_on_failure(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, _vec(i + 100)) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    before = _persistent_rdds(spark)
    # the second Lloyd pass fails after the first one cached the frame
    _fail_on_call(monkeypatch, "_pq_dists_expr", 2)
    with pytest.raises(RuntimeError, match="injected"):
        similarity.pq_fit_codebook(df, m=8, ks=16, n_iter=2)
    assert _persistent_rdds(spark) == before


def test_semdedup_stats_releases_its_pin_on_failure(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, _vec(i % 5)) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    before = _persistent_rdds(spark)
    # fails after the k-means fit collected from the cached frame
    _fail_on_call(monkeypatch, "_int_cell_scores", 1)
    with pytest.raises(RuntimeError, match="injected"):
        similarity.semdedup_stats(df, n_cells=4)
    assert _persistent_rdds(spark) == before
