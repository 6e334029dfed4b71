"""Streaming CDC apply micro-benchmark (library form).

Generates a Debezium change log with the reference's op mix
(50% insert / 30% update / 20% delete — test/cdc_test_framework.py:171-172,
which paces ~0.4-2 ops/s against Postgres; this measures the same
pipeline at engine speed), streams it through parse → compact → merge
in fixed-size micro-batches, and reports events/s and sec/batch.
Used by ``tools/bench_stream.py`` (CLI) and ``bench.py`` (per-round).
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
import time

#: lines per JSONL file — a micro-batch spans several files, mirroring
#: a Kafka topic's partition parallelism (one giant file per batch
#: would serialize the source scan on one core)
FILE_SIZE = 10_000

RECORD_DDL = (
    "customerId long, name string, email string, city string, zipcode long"
)


def _row(k: int, i: int) -> dict:
    return {
        "customerId": k,
        "name": f"name-{k}",
        "email": f"u{k}@example.com",
        "city": f"city-{i % 997}",
        "zipcode": 10_000 + (i % 89_999),
    }


def generate(src: str, n_events: int, keyspace: int | None = None) -> None:
    """50/30/20 c/u/d mix over a bounded keyspace, ``FILE_SIZE`` lines
    per JSONL file. Deterministic (seeded)."""
    from changedatacapture_spark.sources.envelope_gen import write_envelope_jsonl

    keyspace = keyspace or max(1, n_events // 4)
    rng = random.Random(42)
    # swap-remove list: O(1) random choice and delete (a set + tuple()
    # round-trip is O(n) per op — quadratic over the whole log)
    live: list[int] = []
    pos: dict[int, int] = {}
    next_key = 0
    seq = 0
    batch: list = []
    batch_idx = 0

    def remove(k: int) -> None:
        i = pos.pop(k)
        last = live.pop()
        if last != k:
            live[i] = last
            pos[last] = i

    for i in range(n_events):
        r = rng.random()
        if r < 0.5 or not live:
            k, next_key = next_key % keyspace, next_key + 1
            if k not in pos:
                pos[k] = len(live)
                live.append(k)
            op, before, after = "c", None, _row(k, i)
        elif r < 0.8:
            k = live[rng.randrange(len(live))]
            op, before, after = "u", None, _row(k, i)
        else:
            k = live[rng.randrange(len(live))]
            remove(k)
            op, before, after = "d", _row(k, i), None
        batch.append((op, before, after, 1_000_000 + i))
        if len(batch) == FILE_SIZE:
            seq = write_envelope_jsonl(
                src, batch, start_seq=seq, file_name=f"b{batch_idx:04d}.jsonl"
            )
            batch, batch_idx = [], batch_idx + 1
    if batch:
        write_envelope_jsonl(
            src, batch, start_seq=seq, file_name=f"b{batch_idx:04d}.jsonl"
        )


def run(
    spark,
    n_events: int = 100_000,
    batch_size: int = 10_000,
    n_buckets: int = 32,
) -> dict:
    """Run the end-to-end streaming apply; returns the metrics dict."""
    from pyspark.sql.types import StructType

    from changedatacapture_spark.streaming.pipeline import (
        CdcPipeline,
        file_envelope_stream,
    )
    from changedatacapture_spark.streaming.sink import SnapshotTable

    record = StructType.fromDDL(RECORD_DDL)
    work = tempfile.mkdtemp(prefix="cdc_stream_bench_")
    src = os.path.join(work, "envelopes")
    try:
        t0 = time.time()
        generate(src, n_events)
        gen_s = time.time() - t0

        table = SnapshotTable(
            spark,
            os.path.join(work, "table"),
            key_cols=["customerId"],
            n_buckets=n_buckets,
        )
        pipe = CdcPipeline(spark, record, table, key_col="customerId")
        n_batches = (n_events + batch_size - 1) // batch_size

        t1 = time.time()
        q = pipe.start(
            file_envelope_stream(
                spark, src, max_files_per_trigger=max(1, batch_size // FILE_SIZE)
            ),
            checkpoint_dir=os.path.join(work, "ckpt"),
            available_now=True,
        )
        q.awaitTermination()
        wall = time.time() - t1

        return {
            "metric": "cdc_stream_apply",
            "events_per_sec": round(n_events / wall, 1),
            "sec_per_batch": round(wall / n_batches, 3),
            "wall_sec": round(wall, 2),
            "n_events": n_events,
            "n_batches": n_batches,
            "batch_size": batch_size,
            "n_buckets": n_buckets,
            "final_rows": table.read().count(),
            "gen_sec": round(gen_s, 2),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_mor_policy(
    spark,
    n_events: int = 50_000,
    batch_size: int = 10_000,
    n_buckets: int = 32,
    thresholds=((0.05, 1e9), (10.0, 1e9)),
) -> dict:
    """Measure the size-based MoR compaction policy's read-amp /
    write-amp trade on the high-churn changelog: the SAME envelope log
    applies through ``CdcPipeline(merge_mode="mor")`` once per
    ``(minor_ratio, major_ratio)`` threshold pair, instrumented for

    - ``bytes_written``: every ``_do_write_buckets`` output (merge
      runs + fold rewrites) — the WRITE amplification a tighter
      threshold pays;
    - ``n_minor`` / ``n_major``: folds the policy fired, from the
      tier each commit records in ``history()``;
    - ``final_runs`` + ``resolve_wall_sec``: pending runs at the end
      and the cost of one resolving read — the READ amplification a
      looser threshold pays.

    An aggressive threshold (0.05: fold almost every batch) should
    show more bytes written and fewer final runs than a lax one
    (10.0: never fold) — the knob trades one amplification for the
    other; correctness is threshold-independent (property-tested).
    """
    from pyspark.sql.types import StructType

    from changedatacapture_spark.streaming.pipeline import CdcPipeline
    from changedatacapture_spark.streaming.sink import SnapshotTable

    record = StructType.fromDDL(RECORD_DDL)
    work = tempfile.mkdtemp(prefix="cdc_mor_policy_")
    src = os.path.join(work, "envelopes")
    try:
        generate(src, n_events)
        files = sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".jsonl")
        )
        per_batch = max(1, batch_size // FILE_SIZE)
        batches = [
            files[i:i + per_batch] for i in range(0, len(files), per_batch)
        ]
        out = {}
        for minor_r, major_r in thresholds:
            table = SnapshotTable(
                spark,
                os.path.join(work, f"t_{minor_r}_{major_r}"),
                key_cols=["customerId"],
                n_buckets=n_buckets,
            )
            pipe = CdcPipeline(
                spark, record, table, key_col="customerId",
                merge_mode="mor",
                compact_minor_ratio=minor_r, compact_major_ratio=major_r,
            )
            counters = {"bytes": 0}
            orig_write = table._do_write_buckets

            def write_hook(
                df, version, dynamic=False, records_per_file=None, **kw
            ):
                written = orig_write(
                    df, version, dynamic, records_per_file, **kw
                )
                counters["bytes"] += table._bucket_dir_bytes(
                    version, range(table.n_buckets)
                )
                return written

            table._do_write_buckets = write_hook
            t0 = time.time()
            for i, fs in enumerate(batches):
                raw = (
                    spark.read.schema("value string, seq long").json(fs)
                )
                pipe.process_batch(raw, batch_id=i)
            apply_wall = time.time() - t0
            t1 = time.time()
            n_rows = table.read().count()
            resolve_wall = time.time() - t1
            ptr = table._read_pointer() or {}
            # folds ride their batch's commit: count them from the
            # tier each commit records
            tiers = [e.get("maintenance") for e in table.history()]
            out[f"minor={minor_r},major={major_r}"] = {
                "bytes_written": counters["bytes"],
                "n_minor": tiers.count("minor"),
                "n_major": tiers.count("major") + tiers.count("files"),
                "final_runs": len(ptr.get("runs") or []),
                "final_rows": n_rows,
                "apply_wall_sec": round(apply_wall, 2),
                "resolve_wall_sec": round(resolve_wall, 2),
            }
        return {
            "metric": "mor_size_policy_trade",
            "n_events": n_events,
            "batch_size": batch_size,
            "thresholds": out,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
