"""End-to-end streaming test: JSONL envelopes → CdcPipeline → snapshot.

The hermetic twin of the reference's Postgres→Debezium→Kafka→Delta
loop (SURVEY §3.3): generate a change log, stream it through the
engine with foreachBatch, then differential-check the materialized
table against the expected state.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from changedatacapture_spark.sources.envelope_gen import write_envelope_jsonl
from changedatacapture_spark.streaming.pipeline import CdcPipeline, file_envelope_stream
from changedatacapture_spark.streaming.sink import SnapshotTable

RECORD = T.StructType(
    [
        T.StructField("customerId", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
    ]
)


def _row(k, name, city):
    return {"customerId": k, "name": name, "city": city}


@pytest.fixture()
def workload(tmp_path):
    src = str(tmp_path / "envelopes")
    ops = [
        ("c", None, _row(1, "ada", "london"), 1000),
        ("c", None, _row(2, "grace", "nyc"), 1001),
        ("u", _row(1, "ada", "london"), _row(1, "ada", "cambridge"), 1002),
        ("c", None, _row(3, "alan", "manchester"), 1003),
        ("d", _row(2, "grace", "nyc"), None, 1004),
        # same-ms tie: later seq must win
        ("u", None, _row(3, "alan", "bletchley"), 1005),
        ("u", None, _row(3, "alan", "princeton"), 1005),
    ]
    write_envelope_jsonl(src, ops)
    return src


def test_stream_materializes_expected_state(spark, workload, tmp_path):
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=4
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    q = pipe.start(
        file_envelope_stream(spark, workload),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    got = {
        (r.customerId, r.name, r.city)
        for r in table.read().select("customerId", "name", "city").collect()
    }
    assert got == {(1, "ada", "cambridge"), (3, "alan", "princeton")}


def test_batch_replay_is_idempotent(spark, workload, tmp_path):
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=4
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    raw = spark.read.schema(T.StructType.fromDDL("value string, seq long")).json(
        workload
    )
    pipe.process_batch(raw, batch_id=7)
    v1 = table.version
    pipe.process_batch(raw, batch_id=7)  # replay of the same batch
    assert table.version == v1
    assert table.read().count() == 2


def test_incremental_merge_across_batches(spark, tmp_path):
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=4
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    src = str(tmp_path / "env")
    n = write_envelope_jsonl(
        src,
        [("c", None, _row(1, "a", "x"), 1000), ("c", None, _row(2, "b", "y"), 1001)],
        file_name="b0.jsonl",
    )
    schema = T.StructType.fromDDL("value string, seq long")
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b0.jsonl"), batch_id=0)
    write_envelope_jsonl(
        src,
        [
            ("d", _row(1, "a", "x"), None, 2000),
            ("u", None, _row(2, "b", "z"), 2001),
            ("c", None, _row(9, "n", "m"), 2002),
        ],
        start_seq=n,
        file_name="b1.jsonl",
    )
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b1.jsonl"), batch_id=1)
    got = {
        (r.customerId, r.name, r.city)
        for r in table.read().select("customerId", "name", "city").collect()
    }
    assert got == {(2, "b", "z"), (9, "n", "m")}


def test_dlq_captures_corrupt_records(spark, tmp_path):
    import json, os

    src = str(tmp_path / "env")
    os.makedirs(src, exist_ok=True)
    with open(f"{src}/b.jsonl", "w") as f:
        f.write(json.dumps({"value": "{not json", "seq": 0}) + "\n")
        f.write(
            json.dumps(
                {
                    "value": json.dumps(
                        {"payload": {"before": None, "after": _row(5, "ok", "ok"),
                                     "op": "c", "ts_ms": 1}}
                    ),
                    "seq": 1,
                }
            )
            + "\n"
        )
    dlq = str(tmp_path / "dlq")
    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["customerId"])
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId", dlq_path=dlq)
    schema = T.StructType.fromDDL("value string, seq long")
    pipe.process_batch(spark.read.schema(schema).json(src), batch_id=0)
    assert table.read().count() == 1
    assert spark.read.parquet(dlq).count() == 1


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100 TB contract: a merge touching one key must carry every
    other bucket forward by manifest reference, not rewrite it."""
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=8
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    src = str(tmp_path / "env")
    schema = T.StructType.fromDDL("value string, seq long")
    n = write_envelope_jsonl(
        src,
        [("c", None, _row(k, f"n{k}", "x"), 1000 + k) for k in range(32)],
        file_name="b0.jsonl",
    )
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b0.jsonl"), batch_id=0)
    v0 = table.version
    manifest0 = table._bucket_manifest()
    assert len(manifest0) > 1  # 32 keys spread over several buckets

    write_envelope_jsonl(
        src,
        [("u", None, _row(0, "n0", "updated"), 9000)],
        start_seq=n,
        file_name="b1.jsonl",
    )
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b1.jsonl"), batch_id=1)
    manifest1 = table._bucket_manifest()

    changed = {b for b in manifest1 if manifest1[b] != manifest0.get(b)}
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
    untouched_same = all(
        manifest1[b] == manifest0[b] for b in manifest0 if b not in changed
    )
    assert untouched_same
    # content still correct after the partial rewrite
    got = {
        (r.customerId, r.city)
        for r in table.read().select("customerId", "city").collect()
    }
    assert (0, "updated") in got and len(got) == 32


def test_deletes_can_empty_a_bucket(spark, tmp_path):
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=2
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    src = str(tmp_path / "env")
    schema = T.StructType.fromDDL("value string, seq long")
    n = write_envelope_jsonl(
        src,
        [("c", None, _row(k, f"n{k}", "x"), 1000 + k) for k in range(8)],
        file_name="b0.jsonl",
    )
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b0.jsonl"), batch_id=0)
    write_envelope_jsonl(
        src,
        [("d", _row(k, f"n{k}", "x"), None, 2000 + k) for k in range(8)],
        start_seq=n,
        file_name="b1.jsonl",
    )
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b1.jsonl"), batch_id=1)
    assert table.read().count() == 0
    assert table._bucket_manifest() == {}


def test_adhoc_dlq_calls_do_not_clobber(spark, tmp_path):
    """batch_id=None DLQ writes get their own numbered subdirs: they
    must not overwrite each other or a streaming run's real batch 0."""
    import json, os

    src = str(tmp_path / "env")
    os.makedirs(src, exist_ok=True)
    for i, bad in enumerate(["{corrupt-a", "{corrupt-b", "{corrupt-c"]):
        with open(f"{src}/b{i}.jsonl", "w") as f:
            f.write(json.dumps({"value": bad, "seq": i}) + "\n")
    dlq = str(tmp_path / "dlq")
    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["customerId"])
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId", dlq_path=dlq)
    schema = T.StructType.fromDDL("value string, seq long")
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b0.jsonl"), batch_id=0)
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b1.jsonl"))
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b2.jsonl"))
    # all three corrupt rows retained, in three distinct directories
    assert spark.read.parquet(dlq).count() == 3
    assert spark.read.parquet(f"{dlq}/batch_id=0").count() == 1
    assert spark.read.parquet(f"{dlq}/batch_id=adhoc_0").count() == 1
    assert spark.read.parquet(f"{dlq}/batch_id=adhoc_1").count() == 1


def test_adhoc_dlq_seed_survives_glob_metachar_path(spark, tmp_path):
    """A dlq_path containing glob metacharacters must still see its own
    prior adhoc_* dirs — an unescaped glob matches nothing, reseeds at
    0, and clobbers adhoc_0."""
    import json, os

    src = str(tmp_path / "env")
    os.makedirs(src, exist_ok=True)
    for i, bad in enumerate(["{corrupt-a", "{corrupt-b"]):
        with open(f"{src}/b{i}.jsonl", "w") as f:
            f.write(json.dumps({"value": bad, "seq": i}) + "\n")
    dlq = str(tmp_path / "dlq[v2]")
    schema = T.StructType.fromDDL("value string, seq long")
    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["customerId"])
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId", dlq_path=dlq)
    pipe.process_batch(spark.read.schema(schema).json(f"{src}/b0.jsonl"))
    # fresh pipeline instance = the lazy seed runs again from disk state
    pipe2 = CdcPipeline(spark, RECORD, table, key_col="customerId", dlq_path=dlq)
    pipe2.process_batch(spark.read.schema(schema).json(f"{src}/b1.jsonl"))
    # read via pyarrow: Spark's read path would itself glob-expand
    import pyarrow.parquet as pq

    assert pq.read_table(f"{dlq}/batch_id=adhoc_0").num_rows == 1
    assert pq.read_table(f"{dlq}/batch_id=adhoc_1").num_rows == 1


def test_fan_out_spreads_narrow_many_file_scan(spark, tmp_path):
    """The file-count probe alone is not proof of parallelism: a batch
    can report many input files yet scan in 1-2 partitions (file
    packing, coalesced plans). fan_out must confirm with the real
    partition count and spread the narrow case — and leave an already
    well-partitioned scan alone (no gratuitous shuffle)."""
    import json, os

    from changedatacapture_spark.streaming.pipeline import fan_out

    src = str(tmp_path / "tiny")
    os.makedirs(src, exist_ok=True)
    for i in range(64):
        with open(f"{src}/f{i}.jsonl", "w") as f:
            f.write(json.dumps({"value": f"row-{i}", "seq": i}) + "\n")
    schema = T.StructType.fromDDL("value string, seq long")
    raw = spark.read.schema(schema).json(src)
    target = spark.sparkContext.defaultParallelism
    floor = max(2, target // 4)
    assert len(raw.inputFiles()) >= floor
    # the cliff case: many files, narrow scan (one partition is below
    # floor = max(2, …) on any core count)
    narrow = raw.coalesce(1)
    assert len(narrow.inputFiles()) >= floor
    assert narrow.rdd.getNumPartitions() < floor
    spread = fan_out(narrow, spark)
    assert spread.rdd.getNumPartitions() >= floor
    assert spread.count() == 64
    # the healthy case: scan already wide → returned untouched
    if raw.rdd.getNumPartitions() >= floor:
        assert fan_out(raw, spark) is raw


def _raw(spark, src):
    return spark.read.schema(T.StructType.fromDDL("value string, seq long")).json(
        src
    )


def test_cow_pipeline_file_tier_repacks_fragmented_table(spark, tmp_path):
    """The file-count tier runs on copy-on-write pipelines too: a table
    fragmented past ``compact_max_files_per_bucket`` repacks after the
    next batch, contents unchanged."""
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"],
        n_buckets=2, max_records_per_file=2,
    )
    table.overwrite(
        spark.createDataFrame(
            [(k, f"n{k}", "x") for k in range(40)],
            "customerId long, name string, city string",
        ),
        batch_id=-1,
    )
    assert table._max_files_per_bucket(table._read_pointer()) > 3
    table.max_records_per_file = None  # hand sizing back to the rewrite
    pipe = CdcPipeline(
        spark, RECORD, table, key_col="customerId",
        compact_max_files_per_bucket=3,
    )
    src = str(tmp_path / "env")
    write_envelope_jsonl(src, [("u", None, _row(1, "ada", "cambridge"), 1000)])
    pipe.process_batch(_raw(spark, src), batch_id=0)
    assert table._max_files_per_bucket(table._read_pointer()) <= 3
    got = {r.customerId: r.city for r in table.read().collect()}
    assert len(got) == 40 and got[1] == "cambridge"
    assert table.last_batch_id() == 0


def test_pipeline_without_policy_adds_no_maintenance_work(
    spark, tmp_path, monkeypatch
):
    """With no maintenance policy set (the default copy-on-write
    configuration), the post-batch policy evaluation reads no pointer
    and runs no Spark job."""
    table = SnapshotTable(
        spark, str(tmp_path / "table"), key_cols=["customerId"], n_buckets=4
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    reads = []
    read_pointer = table._read_pointer
    monkeypatch.setattr(
        table, "_read_pointer", lambda: reads.append(1) or read_pointer()
    )
    sc = spark.sparkContext
    evaluations = []
    policy = table.compact_by_size

    def traced_policy(*a, **kw):
        n = len(reads)
        sc.setJobGroup("maintenance-policy", "policy evaluation")
        try:
            out = policy(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        evaluations.append((len(reads) - n, out))
        return out

    monkeypatch.setattr(table, "compact_by_size", traced_policy)
    src = str(tmp_path / "env")
    for i, city in enumerate(("london", "cambridge")):
        write_envelope_jsonl(
            src, [("u", None, _row(1, "ada", city), 1000 + i)],
            file_name=f"b{i}.jsonl",
        )
        pipe.process_batch(_raw(spark, f"{src}/b{i}.jsonl"), batch_id=i)
    assert evaluations == [(0, "none"), (0, "none")]
    assert list(sc.statusTracker().getJobIdsForGroup("maintenance-policy")) == []
    assert table.read().first().city == "cambridge"


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """A duplicate key arriving in a LATER micro-batch (within the
    watermark horizon) must still be dropped — state carries across
    batches, bounded by the watermark."""
    import json, os, uuid

    from changedatacapture_spark.streaming.pipeline import stream_dedup
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = [{"event_id": 1, "ts_ms": 1_000_000}, {"event_id": 2, "ts_ms": 1_060_000}]
    b2 = [{"event_id": 1, "ts_ms": 1_000_000}, {"event_id": 3, "ts_ms": 1_120_000}]
    for i, rows in enumerate((b1, b2), 1):
        p = f"{src}/b{i}.json"
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_000_000 + i * 10, 1_000_000 + i * 10))

    stream = (
        spark.readStream.schema("event_id long, ts_ms long")
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("event_time", F.timestamp_millis(F.col("ts_ms")))
    )
    sink = f"sd_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup(stream, ["event_id"], "event_time", "1 hour")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.table(sink).collect())
    assert got == [1, 2, 3]


def test_replay_dlq_recovers_repaired_rows(spark, tmp_path):
    """The ops recovery loop: corrupt rows quarantine; an operator
    repairs the payloads in the DLQ; replay merges them and consumes
    the queue; still-broken rows re-quarantine."""
    import json, os

    import pyarrow as pa
    import pyarrow.parquet as pq

    good = json.dumps(
        {"payload": {"before": None, "after": _row(7, "fixed", "leeds"),
                     "op": "c", "ts_ms": 5}}
    )
    src = str(tmp_path / "env")
    os.makedirs(src)
    with open(f"{src}/b.jsonl", "w") as f:
        f.write(json.dumps({"value": "{broken-a", "seq": 0}) + "\n")
        f.write(json.dumps({"value": "{broken-b", "seq": 1}) + "\n")
    dlq = str(tmp_path / "dlq")
    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["customerId"])
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId", dlq_path=dlq)
    schema = T.StructType.fromDDL("value string, seq long")
    pipe.process_batch(spark.read.schema(schema).json(src), batch_id=0)
    assert spark.read.parquet(dlq).count() == 2

    # operator repairs ONE of the two rows in place
    d = f"{dlq}/batch_id=0"
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    rows = pq.read_table(d).to_pylist()
    for r in rows:
        if r["seq"] == 0:
            r["value"] = good
    for f in files:
        os.remove(os.path.join(d, f))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa.schema(
            [("seq", pa.int64()), ("value", pa.string())])),
        os.path.join(d, "repaired.parquet"),
    )

    out = pipe.replay_dlq()
    assert out == {"replayed_rows": 2, "recovered_rows": 1, "still_corrupt": 1}
    # recovered row merged into the table
    got = {(r.customerId, r.name) for r in table.read().collect()}
    assert (7, "fixed") in got
    # original dir consumed; the still-corrupt row re-quarantined alone
    assert not os.path.isdir(d)
    assert spark.read.parquet(dlq).count() == 1
    # a second replay re-quarantines it again but never duplicates
    out2 = pipe.replay_dlq()
    assert out2["still_corrupt"] == 1
    assert spark.read.parquet(dlq).count() == 1


def test_optimize_runs_gc_and_compaction(spark, tmp_path):
    from pyspark.sql import functions as F

    from changedatacapture_spark.operators.cdc import compact_latest

    table = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["k"], n_buckets=4)
    ins = spark.createDataFrame(
        [(i, i, i, "c", float(i)) for i in range(8)],
        "k long, ts long, seq long, op string, v double",
    )
    table.merge(compact_latest(ins, ["k"], ["ts", "seq"]), guard_cols=["ts", "seq"],
                batch_id=0)
    dels = spark.createDataFrame(
        [(0, 100, 100, "d", None), (1, 101, 101, "d", None)],
        "k long, ts long, seq long, op string, v double",
    )
    table.merge(compact_latest(dels, ["k"], ["ts", "seq"]), guard_cols=["ts", "seq"],
                batch_id=1)
    summary = table.optimize(tombstone_horizon=1_000)
    assert summary["tombstones_dropped"] == 2
    assert summary["files_after_compaction"] >= 1
    assert table.read().count() == 6


def test_agg_view_tracks_stream(spark, tmp_path):
    """Streaming materialized view: the maintained grouped COUNT/SUM
    equals a from-scratch aggregate over the base table after every
    micro-batch — across inserts, updates, deletes, and replays."""
    from pyspark.sql import functions as F

    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming.pipeline import AggView

    base = SnapshotTable(spark, str(tmp_path / "base"), key_cols=["k"], n_buckets=4)
    vt = SnapshotTable(spark, str(tmp_path / "view"), key_cols=["grp"], n_buckets=2)
    grp = F.pmod(F.col("k"), F.lit(2)).cast("long")
    view = AggView(spark, base, vt, grp, "v", ["k"])

    def step(rows, bid):
        bdf = spark.createDataFrame(rows, "k long, seq long, op string, v long")
        compacted = compact_latest(bdf, ["k"], ["seq"])
        view.apply(compacted, batch_id=bid)
        base.merge(compacted, batch_id=bid)
        got = {r.grp: (r.cnt, r.total) for r in view.read().collect()}
        expected = {
            r.grp: (r.cnt, r.total)
            for r in base.read()
            .groupBy(grp.alias("grp"))
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
            .collect()
        }
        assert got == expected, f"batch {bid}: {got} != {expected}"

    step([(1, 1, "c", 10), (2, 2, "c", 20), (3, 3, "c", 30)], 0)
    step([(1, 4, "u", 15), (4, 5, "c", 40)], 1)          # update + insert
    step([(2, 6, "d", 0), (4, 7, "d", 0)], 2)            # deletes empty grp 0
    # grp 0 (keys 2,4) fully retracted → view row gone
    assert {r.grp for r in view.read().collect()} == {1}
    # replay of the last batch is a no-op for both tables
    v_base, v_view = base.version, vt.version
    step([(2, 6, "d", 0), (4, 7, "d", 0)], 2)
    assert (base.version, vt.version) == (v_base, v_view)


def test_agg_view_e2e_through_stream(spark, tmp_path):
    """attach_agg_view maintains the view through the real streaming
    path (file source -> foreachBatch -> merge), not just direct calls."""
    from pyspark.sql import functions as F

    from changedatacapture_spark.streaming.pipeline import AggView

    record = T.StructType.fromDDL("customerId long, v long")
    ops = [
        ("c", None, {"customerId": 1, "v": 10}, 1000),
        ("c", None, {"customerId": 2, "v": 20}, 1001),
        ("c", None, {"customerId": 3, "v": 30}, 1002),
        ("u", None, {"customerId": 1, "v": 15}, 1003),
        ("d", {"customerId": 2, "v": 20}, None, 1004),
    ]
    src = str(tmp_path / "env")
    write_envelope_jsonl(src, ops)

    base = SnapshotTable(spark, str(tmp_path / "base"), key_cols=["customerId"])
    vt = SnapshotTable(spark, str(tmp_path / "view"), key_cols=["grp"], n_buckets=2)
    grp = F.pmod(F.col("customerId"), F.lit(2)).cast("long")
    pipe = CdcPipeline(spark, record, base, key_col="customerId")
    pipe.attach_agg_view(AggView(spark, base, vt, grp, "v", ["customerId"]))
    q = pipe.start(
        file_envelope_stream(spark, src, max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    got = {r.grp: (r.cnt, r.total) for r in vt.read().collect()}
    # final state: {1: 15, 3: 30} -> grp 1: cnt 2, total 45
    assert got == {1: (2, 45)}


def test_bootstrap_then_stream_equals_full_replay(spark, tmp_path):
    """Kappa handoff: a static historical bootstrap followed by the
    live stream over the remainder must equal streaming everything."""
    ops_hist = [
        ("c", None, _row(1, "ada", "london"), 1000),
        ("c", None, _row(2, "grace", "nyc"), 1001),
        ("u", None, _row(1, "ada", "cambridge"), 1002),
    ]
    ops_live = [
        ("d", _row(2, "grace", "nyc"), None, 2000),
        ("c", None, _row(3, "alan", "manchester"), 2001),
    ]
    hist_src = str(tmp_path / "hist")
    live_src = str(tmp_path / "live")
    n = write_envelope_jsonl(hist_src, ops_hist)
    write_envelope_jsonl(live_src, ops_live, start_seq=n)

    table = SnapshotTable(
        spark, str(tmp_path / "t"), key_cols=["customerId"], n_buckets=4
    )
    pipe = CdcPipeline(spark, RECORD, table, key_col="customerId")
    schema = T.StructType.fromDDL("value string, seq long")
    pipe.bootstrap(spark.read.schema(schema).json(hist_src))
    q = pipe.start(
        file_envelope_stream(spark, live_src),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    got = {
        (r.customerId, r.name, r.city)
        for r in table.read().select("customerId", "name", "city").collect()
    }
    assert got == {(1, "ada", "cambridge"), (3, "alan", "manchester")}


def test_interval_join_state_is_watermark_evicted(spark, tmp_path):
    """VERDICT-8 evidence: ``stream_interval_join`` claims bounded state
    via watermarks — prove it. Eight daily micro-batches (100 rows each)
    flow through a click->purchase self-join with a 10-minute watermark;
    per-batch ``state_rows`` from ``MetricsRecorder`` must plateau at
    O(one batch), not accumulate toward the 800-row total — i.e. the
    join's buffered rows are EVICTED once the watermark passes them.
    The joined output stays exact (one purchase per click per day)."""
    import json
    import os
    import time
    import uuid

    from pyspark.sql import functions as F

    from changedatacapture_spark.streaming.manager import MetricsRecorder
    from changedatacapture_spark.streaming.pipeline import stream_interval_join

    src = str(tmp_path / "src")
    os.makedirs(src)
    day_ms = 86_400_000
    base = 1_700_000_000_000
    n_days, n_users = 8, 50
    for d in range(n_days):
        p = f"{src}/b{d}.json"
        with open(p, "w") as f:
            for u in range(n_users):
                click = base + d * day_ms + u * 1_000
                f.write(json.dumps({
                    "event_id": d * 1000 + u, "user_id": u,
                    "event_type": "click", "ts_ms": click,
                }) + "\n")
                f.write(json.dumps({
                    "event_id": d * 1000 + 500 + u, "user_id": u,
                    "event_type": "purchase", "ts_ms": click + 120_000,
                }) + "\n")
        os.utime(p, (1_000_000 + d * 10, 1_000_000 + d * 10))

    ddl = "event_id long, user_id long, event_type string, ts_ms long"

    def branch(kind, id_alias, t_alias):
        return (
            spark.readStream.schema(ddl)
            .option("maxFilesPerTrigger", "1")
            .json(src)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(id_alias),
                "user_id",
                F.timestamp_millis(F.col("ts_ms")).alias(t_alias),
            )
        )

    joined = stream_interval_join(
        branch("click", "click_id", "click_time"),
        branch("purchase", "purchase_id", "purchase_time"),
        ["user_id"],
        "click_time",
        "purchase_time",
        lag="interval 5 minutes",
        watermark_delay="10 minutes",
    )
    metrics_path = str(tmp_path / "metrics.jsonl")
    rec = MetricsRecorder(spark, metrics_path).attach()
    try:
        sink = f"ij_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        for _ in range(40):  # listener delivery is async
            if (
                os.path.exists(metrics_path)
                and sum(1 for _ in open(metrics_path)) >= n_days
            ):
                break
            time.sleep(0.25)
    finally:
        rec.detach()

    # exactness: one purchase matches exactly its same-day click
    assert spark.table(sink).count() == n_days * n_users

    per_batch = 2 * n_users  # clicks + purchases arriving per micro-batch
    states = [
        r.state_rows
        for r in rec.load().filter(F.col("num_input_rows") > 0).collect()
    ]
    assert len(states) >= n_days - 1
    # bounded: both sides buffer the current day plus at most the
    # not-yet-evicted previous day — far below the 800-row total that
    # an uncleaned stream-stream join would accumulate
    assert max(states) <= 3 * per_batch
    # eviction actually fired: state did not grow monotonically to the end
    assert states[-1] < n_days * per_batch / 2
