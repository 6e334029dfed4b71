"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest cdcbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stargen  # noqa: E402
from measure import percentile  # noqa: E402

TINY = gen.Profile(40, 15, 10.0, (0.5, 0.3, 0.2), 1.0)


def test_generator_is_deterministic_per_seed():
    a, b, c = (gen.ChangeLog(TINY, s, 6) for s in (3, 3, 4))
    assert a.files == b.files
    assert [a.lines(i) for i in range(len(a.files))] == [b.lines(i) for i in range(len(b.files))]
    assert a.files != c.files
    assert a.backlog(4, 2, 30) == b.backlog(4, 2, 30) != c.backlog(4, 2, 30)


def test_star_tables_are_deterministic_per_seed():
    a, b, c = (stargen.tables(s, 0.0001) for s in (3, 3, 4))
    assert a == b and a != c
    assert set(a) == set(stargen.TABLES)


def test_log_length_covers_the_run():
    """A run never publishes more files than were generated: the
    longest warm-up, the (stretched) window and the spare all fit."""
    for name, prof in gen.PROFILES.items():
        for seconds in (1, 20, 60):
            n = run.files_needed(prof, seconds)
            busy = run.WARM_CAP_S + run.window_s(prof, seconds)
            assert n >= (busy + run.SPARE_S) * prof.rate_files_s
            assert run.window_s(prof, seconds) * prof.rate_files_s > run.MIN_FILES


def test_log_is_valid_cdc():
    """Updates and deletes only touch live keys; inserts only new ones."""
    log = gen.ChangeLog(gen.PROFILES["serve_mor"], 1, 300)
    live = set()
    for f in log.files[:200] + log.backlog(200, 3, 500):
        for op, k, _ in f:
            assert (op in ("r", "c")) == (k not in live)
            if op == "d":
                live.discard(k)
            else:
                live.add(k)


def test_percentile_needs_ten_samples_beyond():
    assert percentile(range(19), 0.5) is None
    assert percentile(range(20), 0.5) == (9.5, 20)
    assert percentile(range(99), 0.9) is None
    value, n = percentile(range(100), 0.9)
    assert n == 100 and value == pytest.approx(89.1)


def test_check_reads_flags_a_wrong_read():
    log = gen.ChangeLog(TINY, 5, 6)
    state = gen.fold({}, (c for f in log.files[:3] for c in f))
    k = next(iter(state))
    good = {"kind": "lookup", "lo": 3, "hi": 3, "keys": [k], "rows": {k: state[k]}}
    stale = dict(good, rows={k: dict(state[k], city="elsewhere")})
    assert run.check_reads([good], log) == 0
    assert run.check_reads([good, stale], log) == 1
    lo, hi = 0, gen.ZIP_HI
    scan = {"kind": "scan", "lo": 3, "hi": 3, "range": (lo, hi), "rows": dict(state)}
    missing = dict(scan, rows={x: r for x, r in state.items() if x != k})
    assert run.check_reads([scan], log) == 0
    assert run.check_reads([missing], log) == 1


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_e2e_metric_names_match_benchmark_json():
    ctx = {"setup_s": 1.0, "fresh": [float(i) for i in range(100)]}
    names = set(run.e2e_metrics(ctx))
    assert names == {m["name"] for m in _benchmark_json()["end_to_end"]}


def test_layer_metric_names_match_benchmark_json(tmp_path):
    tracer = types.SimpleNamespace(spans=[], self_s=0.0)
    publisher = types.SimpleNamespace(late=[0.0], due={1: 0.0})
    ckpt = types.SimpleNamespace(file_batch={})
    ctx = {"tracer": tracer, "t_timed": 0.0, "t_live_end": 1.0, "progress": [], "history": [],
           "mirror": str(tmp_path), "n_buckets": 8, "log": gen.ChangeLog(TINY, 1, 6),
           "ckpt": ckpt, "reads": [], "publisher": publisher, "gen_s": 0.0, "timed_files": [1],
           "marks": {"session": 0.0, "bootstrap": 0.0, "warm": 0.0}, "lag_end": 0, "lags": [],
           "cpu_live": 0.0, "rows_final": 1, "workload": "live_cow", "seed": 1,
           "peak_rss_mb": 0.0}
    names = set(layers.layer_metrics(ctx, str(tmp_path), None))
    assert names == {m["name"] for m in _benchmark_json()["per_layer"]}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from changedatacapture_spark.session import get_spark

    s = get_spark(cpus=2, shuffle_partitions=4, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
    })
    yield s
    s.stop()


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_fold_equals_engine_on_tiny_log(spark, tmp_path, workload):
    """The expected-state fold and the engine agree file by file, with
    each workload's table and pipeline configuration."""
    from pyspark.sql.types import StructType

    from changedatacapture_spark.streaming.pipeline import CdcPipeline
    from changedatacapture_spark.streaming.sink import SnapshotTable

    cfg = run.WorkloadConfig(workload)
    log = gen.ChangeLog(gen.Profile(40, 15, 10.0, cfg.profile.mix, cfg.profile.hot_exp), 9, 6)
    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=[gen.KEY], **cfg.table_kw)
    pipe = CdcPipeline(spark, StructType.fromDDL(gen.RECORD_DDL), table, key_col=gen.KEY,
                       merge_mode=cfg.merge_mode, **cfg.pipe_kw)
    backlog = log.backlog(len(log.files), 1, 30)
    bodies = [log.lines(i) for i in range(len(log.files))] + [
        gen.render(f, log.backlog_seq(j, 30)) for j, f in enumerate(backlog)]
    state: dict = {}
    for i, changes in enumerate(log.files + backlog):
        src = tmp_path / f"in{i}"
        src.mkdir()
        (src / "f.jsonl").write_text(bodies[i])
        pipe.process_batch(spark.read.schema("value string, seq long").json(str(src)),
                           batch_id=i)
        gen.fold(state, changes)
        got = {r[gen.KEY]: run.row_dict(r) for r in table.read().collect()}
        assert got == state, f"file {i}"
