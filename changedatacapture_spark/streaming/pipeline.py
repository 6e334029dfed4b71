"""Structured-Streaming orchestration: source → compact → merge.

Re-architecture of the reference's ``run_stream`` / ``process_batch``
(cdc_stream.py:909-1006, :545-708):

- the per-batch function is the *same* batch operator pipeline used in
  batch mode (compact → merge), wrapped in ``foreachBatch`` — exactly
  the structural split the reference uses, minus its driver-side
  schema cache, per-batch ``count()`` actions, and global flags;
- checkpointing is Spark's (Kafka offsets + batch id), and the sink's
  ``batch_id`` idempotence makes replays safe (exactly-once effect);
- the Kafka source is configuration; tests drive the identical code
  path with a file (or rate) source.
"""

from __future__ import annotations

import glob
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from changedatacapture_spark.operators.cdc import compact_latest
from changedatacapture_spark.schema.envelope import debezium_envelope_schema
from changedatacapture_spark.streaming.sink import MaintenancePolicy, SnapshotTable


def fan_out(raw: DataFrame, spark: SparkSession) -> DataFrame:
    """Spread a narrow micro-batch across the cluster before parsing.

    File/Kafka micro-batches often arrive in 1-2 partitions (one per
    file / topic-partition) and would run the whole parse on one core.
    The fast-path probe is metadata-only: ``inputFiles()`` reads the
    plan's FileIndex on the driver. Few files always fan out — but MANY
    files don't prove parallelism: the file source packs small files
    together up to ``maxPartitionBytes``/``openCostInBytes``, so a
    64-tiny-file batch can still scan on 1-2 cores. When the file count
    alone would skip, confirm with the scan's real partition count
    (one driver-side plan conversion per micro-batch — no job runs) and
    fan out if it's narrow. Non-file batches (Kafka, in-memory test
    frames) report no files and always fan out; a shuffle of one
    micro-batch is noise next to parse + merge.
    """
    target = spark.sparkContext.defaultParallelism
    floor = max(2, target // 4)
    try:
        n_in = len(raw.inputFiles())
    except Exception:  # noqa: BLE001 - non-file source plans
        n_in = 0
    if n_in < floor:
        return raw.repartition(target)
    try:
        n_parts = raw.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - plans that refuse RDD conversion
        return raw.repartition(target)
    if n_parts < floor:
        return raw.repartition(target)
    return raw


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = 10000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Reader options for the Kafka source (S1/S2), as data.

    Factored out of :func:`kafka_envelope_stream` so the option
    contract — format keys, rate limiting, data-loss stance (reference
    parity ``cdc_stream.py:945-952``) — is unit-testable in an
    environment with no broker: the sandbox can never ``.load()`` a
    real Kafka stream, but it can pin the assembled surface.
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        # resumed streams whose offsets aged out must surface the gap
        # only when the caller opts into strictness; default matches
        # the reference's restart-tolerant stance
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger:
        # S2 rate limiting: bounds each micro-batch so merge cost and
        # checkpoint lag stay predictable under backlog
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


#: projection from Kafka's fixed output schema to the engine's raw
#: envelope contract (value/seq/kafka_ts); ``offset`` is the per-
#: partition monotone sequence the compactor's (ts, seq) tie-break uses
KAFKA_VALUE_PROJECTION = (
    "CAST(value AS STRING) AS value",
    "offset AS seq",
    "timestamp AS kafka_ts",
)


def kafka_envelope_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int | None = 10000,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka source (S1/S2): one topic of Debezium JSON envelope values."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, max_offsets_per_trigger, fail_on_data_loss
    ).items():
        reader = reader.option(k, v)
    return reader.load().selectExpr(*KAFKA_VALUE_PROJECTION)


def file_envelope_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File source of JSONL envelopes with a monotone ``seq`` — the
    hermetic test twin of the Kafka source."""
    schema = StructType.fromDDL("value string, seq long")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(path)
    )


class CdcPipeline:
    """End-to-end CDC materialization: envelopes in, snapshot table out.

    Parse once (``from_json`` with the typed envelope schema), derive
    the key with the delete/before rule, compact to the net change per
    key with deterministic ``(ts_ms, seq)`` ordering, and apply it as a
    single merge per micro-batch.
    """

    def __init__(
        self,
        spark: SparkSession,
        record_schema: StructType,
        table: SnapshotTable,
        key_col: str,
        dlq_path: str | None = None,
        merge_mode: str = "cow",
        compact_every: int | None = None,
        compact_minor_ratio: float | None = None,
        compact_major_ratio: float | None = None,
        compact_max_files_per_bucket: int | None = None,
    ) -> None:
        self.spark = spark
        self.record_schema = record_schema
        self.envelope_schema = debezium_envelope_schema(record_schema)
        self.table = table
        self.key_col = key_col
        self.dlq_path = dlq_path
        #: merge mode for every batch: "cow" rewrites touched buckets
        #: (default), "mor" appends delta runs — the high-churn
        #: configuration where batches touch most buckets and
        #: copy-on-write amplification would rewrite the table per
        #: micro-batch (see SnapshotTable.merge mode="mor")
        self.merge_mode = merge_mode
        #: maintenance policy, carried by every batch's one
        #: SnapshotTable.merge call (None disables a tier): a MoR batch
        #: that finds a fold due rides it (one write, one commit; see
        #: merge's ``maintain``), a copy-on-write batch evaluates the
        #: policy after its commit. Byte-tier folds weigh the runs
        #: committed before the batch, so one fires one batch later
        #: than a check after the append would.
        #: Run-count tier, for MoR: MINOR-compact (compact_runs — fold
        #: all pending delta runs into one at DELTA cost, base
        #: untouched) once this many runs are pending: the cadence
        #: that bounds read amplification at base + compact_every
        #: runs without paying a full-table rewrite per trigger. The
        #: MAJOR compact() (fold into the base) stays a scheduled
        #: maintenance op, like OPTIMIZE. All tiers None = caller
        #: schedules all compaction
        self.compact_every = compact_every
        #: byte tiers: minor-fold past ``compact_minor_ratio *
        #: base_bytes`` of pending runs, major-fold past
        #: ``compact_major_ratio * base_bytes``. Byte thresholds track
        #: real read/write amplification where the run-count cadence
        #: treats 1 KB ticks and 10 GB backfills alike; both policies
        #: compose (count fires first if both set)
        self.compact_minor_ratio = compact_minor_ratio
        self.compact_major_ratio = compact_major_ratio
        #: file-count tier of the same policy: re-pack (major compact,
        #: sized by the table's target_file_bytes) once any live
        #: bucket fragments past this many parquet files — how a
        #: map-only rebucket's ×m file split or churny clustered
        #: merges self-heal on the next maintenance evaluation
        #: instead of waiting for an operator
        self.compact_max_files_per_bucket = compact_max_files_per_bucket
        # lazily seeded past any adhoc_* dirs already on disk — see
        # process_batch
        self._adhoc_dlq_seq: int | None = None
        #: attached streaming materialized views (see AggView) — each
        #: batch updates them from the compacted changes BEFORE the
        #: base-table merge commits, so their delta join sees pre-batch
        #: state; their own batch_id idempotence makes replays safe
        self._agg_views: list = []
        #: attached streaming JOIN views (see JoinView) — updated from
        #: the compacted changes AFTER the base merge commits (the view
        #: re-joins against post-state, unlike AggView's pre-state
        #: retraction)
        self._join_views: list = []
        #: post-batch health audit config (see attach_health_audit)
        self._health_audit: dict | None = None

    def attach_agg_view(self, view) -> None:
        """Maintain ``view`` (an :class:`AggView`) from every batch."""
        self._agg_views.append(view)

    def attach_join_view(self, view) -> None:
        """Maintain ``view`` (a :class:`JoinView` whose FACT table is
        this pipeline's target) from every batch: after the base merge
        commits, the view re-joins the batch's touched fact keys
        (``JoinView.apply`` with a fact-only delta — dim changes are
        applied out of band with their own ``apply`` call, the
        slowly-changing-dimension discipline)."""
        self._join_views.append(view)

    def attach_health_audit(
        self,
        audit_path: str,
        sigma: float = 3.0,
        min_history: int = 5,
        history_cap: int = 512,
    ) -> None:
        """Post-batch health check (the reference's logging-table
        ambition done as operational monitoring): after each batch
        commits, run :meth:`SnapshotTable.fsck` (read-only manifest
        metadata) plus a volume control test — this batch's compacted
        row count against the mean ± ``sigma``·stddev of the audit
        log's own recent history (``history_cap`` most recent batches;
        fewer than ``min_history`` prior points never flags) — and
        append ONE JSON audit row to ``audit_path``.

        Cost discipline: the only Spark work is the batch's own count
        (one long — the compacted plan is already cached when any
        consumer beyond the merge is attached); fsck and the control
        stats are driver-side bounded metadata (manifest paths, one
        float per prior batch). Replays append nothing: a batch id
        already present in the log is skipped, mirroring the merge's
        idempotence."""
        self._health_audit = {
            "path": audit_path,
            "sigma": sigma,
            "min_history": min_history,
            "history_cap": history_cap,
        }

    def _run_health_audit(self, batch_id, n_rows: int) -> dict | None:
        import json
        import os
        import time

        cfg = self._health_audit
        path = cfg["path"]
        # tail-read, never the whole file: per-batch cost must stay
        # CONSTANT as the log grows (a year-old pipeline's audit file
        # is unbounded). ~512 bytes/row x history_cap bounds the tail;
        # the first (possibly partial) line is dropped. The replay
        # check only needs the tail too: foreachBatch re-delivers the
        # LAST committed batch after recovery, never ancient ids.
        hist: list[dict] = []
        try:
            with open(path, "rb") as f:
                f.seek(0, os.SEEK_END)
                size = f.tell()
                want = max(64 * 1024, cfg["history_cap"] * 512)
                f.seek(max(0, size - want))
                chunk = f.read().decode("utf-8", errors="replace")
            lines = chunk.split("\n")
            if size > want:
                lines = lines[1:]  # partial first line
            hist = [json.loads(x) for x in lines if x.strip()]
        except FileNotFoundError:
            pass
        if batch_id is not None and any(
            e.get("batch_id") == batch_id for e in hist
        ):
            return None  # foreachBatch replay: the row already stands
        counts = [e["rows"] for e in hist[-cfg["history_cap"]:]]
        mean = sig = None
        out_of_control = False
        if len(counts) >= cfg["min_history"]:
            mean = sum(counts) / len(counts)
            var = sum((c - mean) ** 2 for c in counts) / len(counts)
            sig = var**0.5
            lo = mean - cfg["sigma"] * sig
            hi = mean + cfg["sigma"] * sig
            out_of_control = n_rows < lo or n_rows > hi
        fs = self.table.fsck()
        row = {
            "batch_id": batch_id,
            "ts": time.time(),
            "rows": n_rows,
            "table_version": self.table.version,
            "fsck_ok": fs["ok"],
            "fsck_missing": len(fs["missing"]),
            "fsck_orphans": len(fs["orphans"]),
            "volume_mean": mean,
            "volume_sigma": sig,
            "volume_out_of_control": out_of_control,
        }
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "a") as f:
            f.write(json.dumps(row) + "\n")
        return row

    # -- batch core (also usable on a static DataFrame) -------------------

    def parse(self, raw: DataFrame) -> DataFrame:
        """raw(value, seq) → typed change rows (key, op, ts_ms, seq, after image).

        Pure: no side effects, so the streaming bronze/audit sinks can
        call it on an unbounded DataFrame. Corrupt rows are *dropped*
        here; :meth:`corrupt_rows` exposes them and
        :meth:`process_batch` persists them to the DLQ idempotently.
        """
        parsed = raw.select(
            F.from_json("value", self.envelope_schema).alias("e"), "seq", "value"
        )
        ok = parsed.filter(F.col("e.payload.op").isNotNull())
        key = F.when(
            F.col("e.payload.op") == "d", F.col(f"e.payload.before.{self.key_col}")
        ).otherwise(F.col(f"e.payload.after.{self.key_col}"))
        fields = [f.name for f in self.record_schema.fields if f.name != self.key_col]
        return ok.select(
            key.alias(self.key_col),
            F.col("e.payload.op").alias("op"),
            F.col("e.payload.ts_ms").alias("ts_ms"),
            "seq",
            *[F.col(f"e.payload.after.{f}").alias(f) for f in fields],
        )

    def corrupt_rows(self, raw: DataFrame) -> DataFrame:
        """Rows whose envelope fails to parse (no op after ``from_json``)."""
        parsed = raw.select(
            F.from_json("value", self.envelope_schema).alias("e"), "seq", "value"
        )
        return parsed.filter(F.col("e.payload.op").isNull()).select("seq", "value")

    def process_batch(self, raw: DataFrame, batch_id: int | None = None) -> None:
        """The foreachBatch body — also the whole batch-mode engine."""
        raw = fan_out(raw, self.spark)
        if self.dlq_path:
            # per-batch overwrite directory = replay-idempotent (a
            # foreachBatch retry rewrites the same path, never appends
            # duplicates) and no driver-side emptiness probe. Ad-hoc
            # batch-mode calls (batch_id=None) get their own numbered
            # `adhoc_N` subdirs: sharing real batch 0's directory would
            # clobber a streaming run's DLQ output, and reusing one
            # ad-hoc dir would drop earlier calls' corrupt rows.
            if batch_id is None:
                if self._adhoc_dlq_seq is None:
                    # seed past existing adhoc_* dirs: a restarted
                    # process starting again at adhoc_0 would silently
                    # overwrite a prior run's ad-hoc DLQ rows
                    # glob.escape: a dlq_path containing glob
                    # metacharacters ([], ?, *) must match itself
                    # literally, or the seed restarts at 0 and clobbers
                    # prior ad-hoc DLQ rows
                    taken = [
                        int(p.rsplit("adhoc_", 1)[1])
                        for p in glob.glob(
                            glob.escape(self.dlq_path) + "/batch_id=adhoc_*"
                        )
                        if p.rsplit("adhoc_", 1)[1].isdigit()
                    ]
                    self._adhoc_dlq_seq = max(taken, default=-1) + 1
                dlq_dir = f"{self.dlq_path}/batch_id=adhoc_{self._adhoc_dlq_seq}"
                self._adhoc_dlq_seq += 1
            else:
                dlq_dir = f"{self.dlq_path}/batch_id={batch_id}"
            self.corrupt_rows(raw).write.mode("overwrite").parquet(dlq_dir)
        changes = self.parse(raw)
        compacted = compact_latest(
            changes, [self.key_col], ["ts_ms", "seq"]
        )
        multi_consumer = bool(
            self._agg_views or self._join_views or self._health_audit
        )
        if multi_consumer:
            # views + merge each consume the compacted plan: cache it
            # once instead of re-running parse+compact per consumer
            compacted = compacted.persist()
        try:
            for view in self._agg_views:
                view.apply(compacted, batch_id=batch_id)
            # the maintenance policy rides the merge, in either mode:
            # the file-count tier heals churny clustered copy-on-write
            # merges too
            self.table.merge(
                compacted, batch_id=batch_id, mode=self.merge_mode,
                maintain=MaintenancePolicy(
                    self.compact_minor_ratio,
                    self.compact_major_ratio,
                    self.compact_max_files_per_bucket,
                    self.compact_every,
                ),
            )
            # join views read POST-merge state: the batch's touched
            # fact keys re-join against the just-committed snapshot
            for view in self._join_views:
                view.apply(compacted, None, batch_id=batch_id)
            if self._health_audit is not None:
                # one bounded aggregate (the batch's row count); fsck
                # and the control stats are driver-side metadata
                self._run_health_audit(batch_id, compacted.count())
        finally:
            if multi_consumer:
                compacted.unpersist()

    def bootstrap(self, raw: DataFrame, batch_id: int = -1) -> None:
        """Kappa-style historical bootstrap: apply an arbitrarily large
        STATIC backlog of envelopes (a bronze dump, an S3 topic export)
        through the identical parse → compact → merge path before the
        live stream attaches.

        One compacted merge regardless of backlog size — compaction
        collapses the history to ≤1 row per key first, so the merge
        cost is keyspace-, not history-, sized. Uses a negative
        ``batch_id`` so the streaming checkpoint's ids (0, 1, …) never
        collide with it and replay idempotence is preserved across the
        handoff.
        """
        self.process_batch(raw, batch_id=batch_id)

    def replay_dlq(self) -> dict:
        """Reprocess every quarantined DLQ row through the normal batch
        path — the recovery half of the dead-letter story (the
        reference drops corrupt envelopes on the floor; we quarantine
        them, an operator repairs the payloads in place — or the parser
        improves — and this call drains the queue).

        Rows that now parse merge into the snapshot exactly like any
        micro-batch; rows still corrupt re-quarantine into a fresh
        ``adhoc_N`` directory. The directories that were read are
        removed afterwards, so each replay consumes the queue it saw
        (a crash before removal replays the same upserts — idempotent
        in effect, the rows are identical).
        """
        import shutil

        if not self.dlq_path:
            raise ValueError("pipeline has no dlq_path")
        dirs = sorted(glob.glob(glob.escape(self.dlq_path) + "/batch_id=*"))
        if not dirs:
            return {"replayed_rows": 0, "recovered_rows": 0, "still_corrupt": 0}
        raw = self.spark.read.parquet(*dirs).select("value", "seq")
        total = raw.count()
        recovered = self.parse(raw).count()
        self.process_batch(raw)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        return {
            "replayed_rows": total,
            "recovered_rows": recovered,
            "still_corrupt": total - recovered,
        }

    # -- streaming wrapper -------------------------------------------------

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
        available_now: bool = False,
    ) -> StreamingQuery:
        writer = stream.writeStream.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).option("checkpointLocation", checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def start_bronze(
        self,
        stream: DataFrame,
        path: str,
        checkpoint_dir: str,
        available_now: bool = False,
    ) -> StreamingQuery:
        """Raw-events bronze sink (K4, archive/original.py:79-86): every
        parsed change row appended to parquet, no merge — the immutable
        event history next to the merged snapshot. Append-only file
        sink, so this is a plain ``writeStream`` (exactly-once via the
        sink's own transaction log), not foreachBatch."""
        writer = (
            self.parse(stream)
            .writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def audit_sql(self, changes: DataFrame, table_name: str = "target") -> DataFrame:
        """Reconstructed SQL per change row (K6/P11) as column
        expressions — the reference builds these strings in driver-side
        Python loops (archive/streaming_from_kafka_to_minio_2.py:242-357).

        INSERT for c/r, UPDATE SET all non-key fields for u, DELETE for
        d; string values quoted with ``''`` escaping, NULLs literal."""
        fields = [f.name for f in self.record_schema.fields if f.name != self.key_col]

        def literal(col: F.Column, is_string: bool) -> F.Column:
            if is_string:
                quoted = F.concat(
                    F.lit("'"), F.replace(col, F.lit("'"), F.lit("''")), F.lit("'")
                )
            else:
                quoted = col.cast("string")
            return F.coalesce(quoted, F.lit("NULL"))

        from pyspark.sql.types import StringType

        strings = {
            f.name: isinstance(f.dataType, StringType)
            for f in self.record_schema.fields
        }
        key_lit = literal(F.col(self.key_col), strings[self.key_col])
        insert_cols = F.concat_ws(
            ", ", *[literal(F.col(f), strings[f]) for f in [self.key_col, *fields]]
        )
        set_clause = F.concat_ws(
            ", ",
            *[
                F.concat(F.lit(f"{f} = "), literal(F.col(f), strings[f]))
                for f in fields
            ],
        )
        stmt = (
            F.when(
                F.col("op").isin("c", "r"),
                F.concat(
                    F.lit(
                        f"INSERT INTO {table_name} ({', '.join([self.key_col, *fields])}) VALUES ("
                    ),
                    insert_cols,
                    F.lit(")"),
                ),
            )
            .when(
                F.col("op") == "d",
                F.concat(
                    F.lit(f"DELETE FROM {table_name} WHERE {self.key_col} = "),
                    key_lit,
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(f"UPDATE {table_name} SET "),
                    set_clause,
                    F.lit(f" WHERE {self.key_col} = "),
                    key_lit,
                ),
            )
        )
        return changes.select("seq", "ts_ms", "op", stmt.alias("stmt"))

    def start_audit(
        self,
        stream: DataFrame,
        path: str,
        checkpoint_dir: str,
        table_name: str = "target",
        available_now: bool = False,
    ) -> StreamingQuery:
        """SQL-history audit sink (K6): append the reconstructed
        statements for every event to a parquet audit table."""
        writer = (
            self.audit_sql(self.parse(stream), table_name)
            .writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def windowed_compact_stream(
        self,
        stream: DataFrame,
        window_duration: str = "1 minute",
        watermark_delay: str = "2 minutes",
    ) -> DataFrame:
        """Watermarked tumbling-window compaction (W1+W3): latest event
        per key per event-time window, late data handled by Spark's
        state store instead of the reference's hand-rolled
        ``future_data`` carry-over (archive/stable_v3.py:188-204).

        Returns a streaming DataFrame in append mode — rows emit when
        the watermark passes the window end. Callers attach any sink.
        """
        changes = self.parse(stream).withColumn(
            "event_time", F.timestamp_millis(F.col("ts_ms"))
        )
        payload = [
            c for c in changes.columns if c not in (self.key_col, "event_time")
        ]
        packed = F.struct(*[F.col(c) for c in payload])
        ordering = F.struct(F.col("ts_ms"), F.col("seq"))
        agg = (
            changes.withWatermark("event_time", watermark_delay)
            .groupBy(
                F.window("event_time", window_duration).alias("_w"),
                F.col(self.key_col),
            )
            .agg(F.max_by(packed, ordering).alias("_latest"))
        )
        return agg.select(
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            self.key_col,
            *[F.col(f"_latest.{c}").alias(c) for c in payload],
        )


def stream_dedup(
    stream: DataFrame,
    key_cols: Sequence[str],
    event_time_col: str,
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup within a watermark horizon.

    At-least-once sources (Kafka replays, retried producers, the
    reference's Debezium topics after connector restarts) deliver
    duplicate envelopes; ``dropDuplicatesWithinWatermark`` keeps one
    row per key while the state store only retains keys younger than
    the watermark — bounded state, unlike a plain ``dropDuplicates``
    whose key set grows forever on an unbounded stream.

    Returns a streaming DataFrame (append mode); callers attach sinks.
    """
    return stream.withWatermark(
        event_time_col, watermark_delay
    ).dropDuplicatesWithinWatermark(list(key_cols))


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_time_col: str,
    right_time_col: str,
    lag: str = "interval 30 minutes",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER interval join: each right-side event matches
    left-side events with the same key whose time lies in
    ``[right_time - lag, right_time]`` — the attribution join (click →
    purchase within the window) every event pipeline runs.

    Why this shape scales: both inputs carry watermarks and the join
    condition bounds event-time distance, so Spark derives a state
    watermark for each side and EVICTS buffered rows once they can no
    longer match (Structured Streaming's interval-join state cleanup).
    An unconstrained stream-stream join would buffer both streams
    forever; here state is O(key cardinality x window), independent of
    stream length.

    Inner-join append semantics: with time-ordered sources and a
    ``watermark_delay`` covering the source's out-of-orderness, the
    emitted rows equal the batch join of the full inputs — no matches
    are dropped (late rows beyond the watermark would be; size the
    delay to the source, reference Kafka topics are near-ordered).

    Columns from both sides are kept; callers project. ``left`` and
    ``right`` may be filtered branches of the SAME source stream
    (self-join), which Spark supports for inner interval joins.
    """
    lw = left.withWatermark(left_time_col, watermark_delay)
    rw = right.withWatermark(right_time_col, watermark_delay)
    lt, rt = lw[left_time_col], rw[right_time_col]
    cond = (lt >= rt - F.expr(lag)) & (lt <= rt)
    for k in key_cols:
        cond = cond & (lw[k] == rw[k])
    joined = lw.join(rw, cond, "inner")
    for k in key_cols:  # equal by the join condition — keep one copy
        joined = joined.drop(rw[k])
    return joined


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | object,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream
    joins against a batch-side dimension table — the canonical CDC
    pattern of decorating a change stream with slowly-changing
    reference data (the reference joins nothing; consumers do this by
    hand downstream, cdc_stream.py writes raw envelopes only).

    Why this shape scales: Structured Streaming re-evaluates the
    static side's LOGICAL plan each micro-batch, so the dimension stays
    current without restarting the query, and a ``broadcast`` hint
    (default, for the usual small-dim case) makes each batch a map-side
    hash join — zero shuffle of the stream, state-free (unlike
    stream-stream joins, nothing is buffered). For dimensions too big
    to broadcast, pass ``broadcast_dim=False`` and pre-bucket both
    sides on the join key.

    ``on`` is a column-name list or a join Column; ``how`` is any join
    type Spark allows for stream-static (inner / left_outer with the
    stream on the left)."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on, how)


class AggView:
    """Streaming materialized aggregate view: a grouped COUNT/SUM over
    a :class:`SnapshotTable`, maintained by delta propagation from the
    same compacted micro-batches that merge into the base table.

    The view never rescans the base table: each batch joins against the
    PRE-merge snapshot to retract old contributions, asserts the new
    ones (``operators/cdc.py:aggregate_delta``), folds the per-group
    deltas into the previous view rows for ONLY the touched groups, and
    merges those rows (delete op when a group's count reaches zero)
    into its own bucket-pruned snapshot table. Work per batch is
    batch-sized + |touched groups|; at 100 TB the dashboard aggregate
    stays current without a table scan.

    ``group_expr`` must be a function of the key columns (the
    single-row delta form's requirement; see ``aggregate_delta``).

    Call :meth:`apply` with the compacted batch BEFORE the base-table
    merge commits that batch.
    """

    def __init__(
        self,
        spark: SparkSession,
        base: SnapshotTable,
        view_table: SnapshotTable,
        group_expr,
        value_col: str,
        key_cols: Sequence[str],
        op_col: str = "op",
    ) -> None:
        self.spark = spark
        self.base = base
        self.view = view_table
        self.group_expr = group_expr
        self.value_col = value_col
        self.key_cols = list(key_cols)
        self.op_col = op_col

    def apply(self, compacted: DataFrame, batch_id: int | None = None) -> None:
        from changedatacapture_spark.operators.cdc import aggregate_delta

        if self.base.exists():
            prev = self.base.read().select(*self.key_cols, self.value_col)
        else:
            prev = compacted.filter(F.lit(False)).select(
                *self.key_cols, self.value_col
            )
        delta = aggregate_delta(
            prev, compacted, self.key_cols, self.group_expr,
            self.value_col, self.op_col,
        ).filter((F.col("d_count") != 0) | (F.col("d_sum") != 0))
        if self.view.exists():
            old = self.view.read().select("grp", "cnt", "total")
            old_touched = old.join(delta.select("grp"), "grp", "leftsemi")
        else:
            old_touched = delta.filter(F.lit(False)).select(
                "grp",
                F.col("d_count").alias("cnt"),
                F.col("d_sum").alias("total"),
            )
        merged = (
            old_touched.unionByName(
                delta.select(
                    "grp",
                    F.col("d_count").alias("cnt"),
                    F.col("d_sum").alias("total"),
                )
            )
            .groupBy("grp")
            .agg(F.sum("cnt").alias("cnt"), F.sum("total").alias("total"))
        )
        rows = merged.select(
            "grp",
            F.when(F.col("cnt") > 0, F.lit("u")).otherwise(F.lit("d")).alias("op"),
            "cnt",
            "total",
        )
        self.view.merge(rows, batch_id=batch_id)

    def read(self) -> DataFrame:
        return self.view.read()


#: bounded-metadata probing cap: the collected value set may span up
#: to this many ``max_inlist``-sized read_where chunks before a probe
#: degrades to a full scan. 64 chunks x the default 10k inlist =
#: 640k scalar values (a few MB on the driver) — far past any
#: micro-batch, so the full-scan fallback now needs a dim backfill
#: touching >640k distinct join values in ONE batch.
_MAX_PROBE_CHUNKS = 64


def _chunked_in_read(tbl: SnapshotTable, col: str, vals: list, max_inlist: int):
    """Shared with SCD2View's pruned history reads — see
    :func:`changedatacapture_spark.streaming.sink.chunked_in_read`."""
    from changedatacapture_spark.streaming.sink import chunked_in_read

    return chunked_in_read(tbl, col, vals, max_inlist)


def _star_view_apply(
    fact: SnapshotTable,
    dims: Sequence[tuple],
    view: SnapshotTable,
    fact_key_cols: Sequence[str],
    op_col: str,
    max_inlist: int,
    compacted_fact: DataFrame,
    compacted_dims: Sequence[DataFrame | None],
    batch_id: int | None,
) -> dict:
    """Shared delta-bounded recompute for :class:`JoinView` /
    :class:`StarJoinView`. Returns the per-read scan report (the
    manifest-level pruning evidence — plan tests pin
    ``buckets_kept < buckets_total`` for a delta touching few
    buckets).

    Every base read is pruned by BOUNDED DRIVER METADATA only:

    - the Δdim repair probe reads the fact through
      ``read_where((join_col, "in", Δdim values))`` — zone + bloom
      skipping on the collected (micro-batch-bounded) changed join
      values, chunked into ``max_inlist``-sized probes past the
      single-probe cap (broadcast-semi full scan only past
      ``max_inlist * _MAX_PROBE_CHUNKS`` distinct values — no longer
      bounded metadata);
    - ``fact_now`` reads ONLY the touched keys' hash buckets
      (``read_buckets`` on the ≤ ``n_buckets`` distinct bucket ids of
      the touched-key set);
    - each dim side reads ``read_keys`` on ``fact_now``'s ACTUAL
      distinct join values (collected from the delta-bounded
      ``fact_now``, so dim pruning needs no assumption about which
      row wins the base merge) when the dim is keyed by its join
      column; a composite-keyed dim probes the same values through
      chunked ``read_where`` IN-lists instead (stats pruning — a
      stats-less dim degrades to the full read it always did, never
      worse).
    """
    from changedatacapture_spark.streaming.sink import _align_key_types

    keys = list(fact_key_cols)
    io: dict = {}
    # bucket ids below derive from fact._bucket_col() outside a read
    # call: follow the committed modulus first (a view whose fact was
    # rebucketed through another instance would otherwise probe
    # buckets the touched keys left — same hazard class as read_keys)
    fact.refresh_layout()
    # align the delta's key types to the COMMITTED fact schema before
    # hashing: merge routes buckets after _align_key_types, so a
    # type-drifted batch (int keys against a long-keyed table) would
    # otherwise hash to different bucket ids here than the rows live
    # in — read_buckets would miss them and the view would emit false
    # deletes. Same discipline as read_keys' committed key_schema.
    touched = _align_key_types(
        compacted_fact.select(*keys), fact.schema(), keys
    )
    for (dim_tbl, jcol, _), cd in zip(dims, compacted_dims):
        if cd is None:
            continue
        # Δdim values: micro-batch-bounded driver metadata. NULL join
        # values never equi-join, so dropping them is exact.
        jvals = [
            r[0] for r in cd.select(jcol).distinct().collect()
            if r[0] is not None
        ]
        if not jvals:
            continue
        if len(jvals) <= max_inlist * _MAX_PROBE_CHUNKS:
            # one probe per max_inlist-sized chunk: a Δdim past the
            # single-probe cap (e.g. a dim backfill) still reads only
            # bloom/zone-kept buckets, N chunked probes' worth —
            # never the whole fact
            probed, rep = _chunked_in_read(fact, jcol, jvals, max_inlist)
            from_dim = probed.select(*keys)
            io[f"probe_{jcol}"] = rep
        else:
            # >max_inlist*_MAX_PROBE_CHUNKS distinct changed join
            # values in one batch: the value set itself is no longer
            # bounded metadata — broadcast-semi full scan is the
            # honest plan (and at that churn most buckets would
            # survive the blooms anyway)
            jdf = cd.select(jcol).distinct()
            from_dim = (
                fact.read()
                .join(F.broadcast(jdf), jcol, "left_semi")
                .select(*keys)
            )
        touched = touched.unionByName(from_dim)
    touched = touched.distinct().persist()
    try:
        # touched keys' bucket ids: ≤ n_buckets longs — the bounded
        # metadata that turns "scan the fact" into "scan |Δ| buckets"
        bids = [
            r[0]
            for r in touched.select(
                fact._bucket_col().alias("b")
            ).distinct().collect()
        ]
        fact_now = (
            fact.read_buckets(bids).join(touched, keys, "left_semi").persist()
        )
        io["fact"] = dict(fact.last_scan_report)
        try:
            joined = fact_now
            for dim_tbl, jcol, payload in dims:
                # NULLs are dropped BEFORE the overflow limit: a NULL
                # inside the sampled max_inlist+1 rows would otherwise
                # mask a value-set overflow, silently truncating the
                # dim read and evicting live view rows as deletes
                probe_cap = max_inlist * _MAX_PROBE_CHUNKS
                vals = [
                    r[0]
                    for r in fact_now.select(jcol)
                    .where(F.col(jcol).isNotNull())
                    .distinct()
                    .limit(probe_cap + 1)
                    .collect()
                ]
                if not vals:
                    # no non-null join values: nothing can inner-join;
                    # no dim read happens, so no scan report either
                    dn = dim_tbl.read().limit(0)
                elif len(vals) <= probe_cap and dim_tbl.key_cols == [jcol]:
                    # join-column-keyed dim: read_keys routes the hash
                    # buckets of the actual values — exact pruning at
                    # any value-set size up to the probe cap; broadcast
                    # only when the read is inlist-small
                    dn = dim_tbl.read_keys(vals)
                    if len(vals) <= max_inlist:
                        dn = F.broadcast(dn)
                    io[f"dim_{jcol}"] = dict(dim_tbl.last_scan_report)
                elif len(vals) <= probe_cap:
                    # composite-keyed dim (jcol is one component, so
                    # bucket routing can't apply): chunked read_where
                    # IN-probes on jcol — zone/bloom stats prune when
                    # present, and a stats-less table degrades to the
                    # old full read, never worse
                    dn, rep = _chunked_in_read(
                        dim_tbl, jcol, vals, max_inlist
                    )
                    io[f"dim_{jcol}"] = rep
                else:
                    # >probe_cap distinct live join values among the
                    # touched facts: value set is no longer bounded
                    # metadata — one full dim read is the honest plan
                    dn = dim_tbl.read()
                joined = joined.join(dn.select(jcol, *payload), jcol, "inner")
            # inner-join semantics: a touched key with no surviving
            # join row (fact deleted, or any dim partner deleted)
            # leaves the view
            gone = touched.join(joined.select(*keys), keys, "left_anti")
            payload_fields = [
                f for f in joined.schema.fields if f.name not in keys
            ]
            dels = gone.select(
                *keys,
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in payload_fields
                ],
            )
            rows = joined.withColumn(op_col, F.lit("u")).unionByName(
                dels.withColumn(op_col, F.lit("d"))
            )
            view.merge(rows, op_col=op_col, batch_id=batch_id)
        finally:
            fact_now.unpersist()
    finally:
        touched.unpersist()
    return io


#: out-of-band ids land at -(id + _OOB_BASE): far below both stream
#: ids (non-negative) and the small negative ids the Kappa bootstrap
#: convention uses (CdcPipeline.bootstrap defaults to -1), so neither
#: can collide with a namespaced dim-driven apply
_OOB_BASE = 1_000_000_000


def _namespace_batch_id(batch_id: int | None, out_of_band: bool) -> int | None:
    """Out-of-band (dim-driven) applies share the view table's single
    replay check with pipeline-driven applies; mapping their ids deep
    into the negative range means an out-of-band id can never collide
    with (and silently swallow) a pipeline batch's id — streaming ids
    are non-negative and bootstrap ids are small negatives."""
    if batch_id is None or not out_of_band:
        return batch_id
    return -(batch_id + _OOB_BASE)


class JoinView:
    """Streaming materialized JOIN view: the inner equi-join of two
    CDC-maintained :class:`SnapshotTable`\\ s (fact keyed by its own
    key, dim keyed by the join column), maintained by TOUCHED-KEY
    recomputation from the same compacted micro-batches that merge
    into the bases — the enrichment view every CDC deployment
    materializes (orders ⋈ customers) without rescanning either table
    per batch.

    Delta rule (the classic Δ(A⋈B) decomposition, realized as exact
    touched-key recompute): a batch touches

    - every fact key in ΔA (its join partner may have changed, or the
      row was deleted), and
    - every fact row whose join value appears in ΔB (dim update/delete
      must re-enrich or evict its fact rows) — found with
      ``read_where`` IN-list probes over the collected ΔB join values
      (zone + bloom manifest skipping), chunked ``max_inlist`` values
      per probe so even a dim backfill stays bucket-pruned
      (broadcast-semi full scan only past
      ``max_inlist * _MAX_PROBE_CHUNKS`` distinct values).

    Touched keys re-join against the POST-merge states; keys whose
    join vanished (fact deleted, or dim partner deleted — inner-join
    semantics) merge as deletes into the view's own snapshot table.
    Work per batch — COMPUTE and I/O both — is ∝ |ΔA| + |fact rows
    referencing ΔB| + |touched buckets|, never ∝ table size:
    ``fact_now`` reads only the touched keys' hash buckets
    (:meth:`SnapshotTable.read_buckets`), and the dim side reads only
    ``fact_now``'s actual join values (:meth:`SnapshotTable.read_keys`)
    when the dim is keyed by the join column. :attr:`last_scan`
    records each read's buckets-kept/total after every apply.

    Call :meth:`apply` with both compacted batches AFTER both base
    merges commit (the view reads post-state; contrast
    :class:`AggView`, which retracts against pre-state).

    Batch-id contract: pipeline-driven applies and out-of-band
    (dim-driven) applies share the view table's single replay check.
    Pass ``out_of_band=True`` on dim-driven applies — their ids map to
    the negative range so they can never collide with a pipeline
    batch id and silently skip its view update.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_fact: SnapshotTable,
        base_dim: SnapshotTable,
        view_table: SnapshotTable,
        fact_key_cols: Sequence[str],
        join_col: str,
        dim_payload_cols: Sequence[str],
        op_col: str = "op",
        max_inlist: int = 10_000,
    ) -> None:
        self.spark = spark
        self.fact = base_fact
        self.dim = base_dim
        self.view = view_table
        self.fact_key_cols = list(fact_key_cols)
        self.join_col = join_col
        self.dim_payload_cols = list(dim_payload_cols)
        self.op_col = op_col
        self.max_inlist = max_inlist
        #: per-read manifest pruning report of the last apply
        self.last_scan: dict = {}

    def apply(
        self,
        compacted_fact: DataFrame,
        compacted_dim: DataFrame | None,
        batch_id: int | None = None,
        out_of_band: bool = False,
    ) -> None:
        self.last_scan = _star_view_apply(
            self.fact,
            [(self.dim, self.join_col, self.dim_payload_cols)],
            self.view,
            self.fact_key_cols,
            self.op_col,
            self.max_inlist,
            compacted_fact,
            [compacted_dim],
            _namespace_batch_id(batch_id, out_of_band),
        )

    def read(self) -> DataFrame:
        return self.view.read()


class StarJoinView:
    """N-dim generalization of :class:`JoinView`: a fact inner-joined
    to several dims (orders ⋈ customers ⋈ nation — the star every
    enrichment pipeline materializes), maintained incrementally with
    per-dim touched-key decomposition.

    ``dims``: sequence of ``(dim_table, join_col, payload_cols)``.
    Each Δdim_i contributes its own repair probe (fact rows
    referencing Δdim_i's join values, found via the pruned
    ``read_where`` IN-list probe); the union of all probes plus ΔA's
    keys is the touched set, recomputed once against all dims' post
    states. I/O bounds are :class:`JoinView`'s, summed over dims.
    """

    def __init__(
        self,
        spark: SparkSession,
        base_fact: SnapshotTable,
        dims: Sequence[tuple],
        view_table: SnapshotTable,
        fact_key_cols: Sequence[str],
        op_col: str = "op",
        max_inlist: int = 10_000,
    ) -> None:
        self.spark = spark
        self.fact = base_fact
        self.dims = [(t, j, list(p)) for t, j, p in dims]
        self.view = view_table
        self.fact_key_cols = list(fact_key_cols)
        self.op_col = op_col
        self.max_inlist = max_inlist
        self.last_scan: dict = {}

    def apply(
        self,
        compacted_fact: DataFrame,
        compacted_dims: Sequence[DataFrame | None] | None = None,
        batch_id: int | None = None,
        out_of_band: bool = False,
    ) -> None:
        if compacted_dims is None:
            compacted_dims = [None] * len(self.dims)
        self.last_scan = _star_view_apply(
            self.fact,
            self.dims,
            self.view,
            self.fact_key_cols,
            self.op_col,
            self.max_inlist,
            compacted_fact,
            compacted_dims,
            _namespace_batch_id(batch_id, out_of_band),
        )

    def read(self) -> DataFrame:
        return self.view.read()
