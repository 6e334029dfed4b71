"""Materialized-table sinks.

The reference merges into Delta Lake (``cdc_stream.py:664-689``). This
image has no delta-spark jar, so the engine ships two sinks behind one
interface:

- :class:`SnapshotTable` — a versioned parquet snapshot table with
  MERGE-equivalent semantics (upsert + delete in one pass), atomic
  pointer commit, and batch-id idempotence (replay-safe, the
  ``txnAppId/txnVersion`` pattern). This is the default everywhere.
- :class:`DeltaTableSink` — thin Delta MERGE wrapper, used
  automatically when delta-spark is importable.

MERGE-equivalence of the snapshot upsert: with ``S`` the compacted
batch (≤1 row/key) and ``T`` the current table,

    T' = (T ⟕anti S.keys) ∪ S.filter(op != 'd')

which is exactly ``whenMatchedUpdate + whenNotMatchedInsert +
whenMatchedDelete(op='d')`` — the single conditional merge SURVEY
§7.4 calls for, instead of the reference's three passes.

Scale: the rewrite cost is proportional to the table, not the batch —
on a cluster this is where Delta's file-level pruning wins; the
snapshot sink therefore hash-partitions by key bucket so only buckets
containing touched keys are rewritten.
"""

from __future__ import annotations

import json
import logging
import os
import secrets
import shutil
import threading
import time
from collections.abc import Sequence
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field, replace
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # pragma: no cover - delta not present in the test image
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # noqa: BLE001
    HAS_DELTA = False

_POINTER = "_LATEST"
_LOG = "_LOG"
#: per-commit zone-map sidecar directory (the Delta checkpoint-parquet
#: analogue): ``_stats/<version>.json`` holds the stats for buckets
#: whose stats were (re)written AT that commit; the pointer carries
#: only ``{bucket: version}`` references, so commit serialization is
#: O(changed buckets), not O(total table files)
_STATS_DIR = "_stats"

#: per-file row caps at or below this are the small-file zone-map
#: regime where a clustered rewrite fans out via range partitioning;
#: larger caps mean few files per bucket, where one writer task per
#: bucket is already right (and file counts must not grow)
_RANGE_CLUSTER_MAX_RPF = 65_536

#: active scan-report taps (see :func:`capture_scan_reports`). Plan
#: evidence lives on the TABLE instance (``table.last_scan_report``);
#: the tap exists for harnesses that invoke an OPAQUE query callable
#: (bench) and need the pruning evidence of a table they never hold a
#: reference to. Explicitly scoped — nothing is recorded outside an
#: active ``with`` block — which is what replaced (and retired) the
#: round-16 ``LAST_SCAN_REPORT``/``LAST_WRITE_REPORT`` module globals.
_SCAN_TAPS: list[list] = []

#: depth-counted per-session state for :meth:`SnapshotTable.
#: _static_merge_planning` — concurrent merges on driver threads share
#: one window so the adaptive-execution conf is restored exactly once
_STATIC_PLAN_LOCK = threading.Lock()
_STATIC_PLAN_STATE: dict = {}


@contextmanager
def capture_scan_reports():
    """Collect every ``(table_path, report)`` a pruned read records
    while the block runs — ordered, so ``caps[-1]`` is the query's
    final scan. Re-entrant (each nesting level gets its own list)."""
    tap: list = []
    _SCAN_TAPS.append(tap)
    try:
        yield tap
    finally:
        _SCAN_TAPS.remove(tap)

#: zone-map width cap: per-bucket min/max is kept for the first this-many
#: eligible scalar columns (Delta's dataSkippingNumIndexedCols analogue) —
#: manifest size stays O(n_buckets * cap), independent of schema width
_STATS_MAX_COLS = 32
#: string stat bound cap: a truncated MIN is still a valid lower bound; a
#: truncated MAX is NOT a valid upper bound (it sorts below the original),
#: so over-long string maxima are dropped (= unbounded) rather than stored
_STATS_MAX_STR = 64
#: bloom-skipping geometry: 1024-bit bitmaps as 16 bit_or-merged longs,
#: k=4 md5-slice hash positions per value. At ~180 distinct values per
#: file the fill is ~50% → point-lookup false-positive rate ~6%; the
#: manifest cost is 16 longs per (file, column). Engine-portable: the
#: same md5('<i>:' || CAST(v AS STRING)) family as every content hash
#: here, so the driver-side probe (hashlib) reproduces positions exactly.
_BLOOM_BITS = 1024
_BLOOM_WORDS = 16
_BLOOM_K = 4


def _bloom_probe_str(value, kind: str) -> str | None:
    """Normalize a predicate literal to the column's Spark
    ``CAST(col AS STRING)`` rendering — the string the WRITE side
    hashed. Without this, a numerically-equal but differently-rendered
    literal (``5.0`` probing a long column that hashed ``"5"``) would
    silently prune every bucket and drop matching rows. Returns None
    when the literal cannot be normalized to the column's domain
    (e.g. a non-integral float probing an int column, where the
    re-applied equality can still match under SQL numeric coercion) —
    callers must treat None as "cannot exclude"."""
    if kind == "int":
        try:
            iv = int(value)
        except (TypeError, ValueError):
            return None
        # a non-integral float (5.7) never equals what int() gives
        # back — refuse to prune rather than hash the wrong string
        if iv != value:
            return None
        return str(iv)
    if isinstance(value, str):
        return value
    return None


def _bloom_positions(s: str) -> list[int]:
    """Driver-side twin of the write-side position expressions: the k
    bit positions of the NORMALIZED string (see _bloom_probe_str)."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:8], 16)
        % _BLOOM_BITS
        for i in range(_BLOOM_K)
    ]


def _bloom_contains(words: list, value, kind: str) -> bool:
    """True unless some hash position of ``value`` is unset — i.e. the
    value PROVABLY never entered the bitmap (no false negatives; a
    literal that cannot be normalized to the column's string domain
    always returns True — never prune on an uncertain rendering)."""
    s = _bloom_probe_str(value, kind)
    if s is None:
        return True
    for pos in _bloom_positions(s):
        if not (int(words[pos // 64]) >> (pos % 64)) & 1:
            return False
    return True


class ConcurrentWriteError(RuntimeError):
    """A second writer committed between this writer's read and its
    commit. The losing writer's version directory is orphaned (harmless
    — vacuumed later); its logical batch must be replayed against the
    new table state."""

#: safe widening lattices for merge-time type evolution; Spark 4's
#: parquet reader reads narrower files under the wider schema natively
#: (SPARK-40876), so old files never need a rewrite
_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}
_FLT_RANK = {"float": 1, "double": 2}


def _evolved_fields(
    table_schema, batch_schema, op_col: str, evolve: bool, key_cols=()
):
    """Merge-time schema evolution: batch columns the table lacks are
    appended; same-name columns whose batch type is a SAFE widening of
    the table's (int family upward, float→double) widen the committed
    type; anything else type-mismatched raises. Returns the evolved
    field list (original order, additions at the end).

    A NARROWER batch column needs no schema change — the merge union
    coerces its values up to the table type. Cross-family changes
    (int→string, double→int, …) are not evolution, they're a bug in
    the producer; failing loudly beats corrupting a 100 TB table.

    KEY columns never widen: bucket routing is ``F.hash`` over the key,
    and Spark's hash is type-sensitive (``hash(5 as int) !=
    hash(5 as long)``), so widening a key would strand every committed
    row in a bucket the new routing no longer probes — silent duplicate
    keys. Callers must instead cast batch keys to the committed types
    (see ``_align_key_types``); an int→long KEY change is a re-keying,
    which means a new table, not evolution.
    """
    keyset = set(key_cols)
    by_name = {f.name: f for f in table_schema.fields}
    widened: dict[str, object] = {}
    new_fields = []
    for f in batch_schema.fields:
        if f.name in (op_col, "bucket"):
            continue
        cur = by_name.get(f.name)
        if cur is None:
            new_fields.append(f)
            continue
        if cur.dataType == f.dataType:
            continue
        a = cur.dataType.typeName()
        b = f.dataType.typeName()
        if a in _INT_RANK and b in _INT_RANK:
            if _INT_RANK[b] > _INT_RANK[a]:
                if f.name in keyset:
                    raise ValueError(
                        f"key column {f.name!r} cannot widen "
                        f"({a} -> {b}): hash bucket routing is "
                        f"type-sensitive; re-key into a new table instead"
                    )
                widened[f.name] = f.dataType
        elif a in _FLT_RANK and b in _FLT_RANK:
            if _FLT_RANK[b] > _FLT_RANK[a]:
                if f.name in keyset:
                    raise ValueError(
                        f"key column {f.name!r} cannot widen "
                        f"({a} -> {b}): hash bucket routing is "
                        f"type-sensitive; re-key into a new table instead"
                    )
                widened[f.name] = f.dataType
        else:
            raise ValueError(
                f"column {f.name!r}: batch type {b} is not a safe "
                f"widening of table type {a}"
            )
    if (new_fields or widened) and not evolve:
        raise ValueError(
            f"batch evolves schema (new={[f.name for f in new_fields]}, "
            f"widened={sorted(widened)}) and evolve_schema is off"
        )
    from pyspark.sql.types import StructField

    evolved = [
        StructField(f.name, widened.get(f.name, f.dataType), f.nullable, f.metadata)
        for f in table_schema.fields
    ]
    return evolved + new_fields


#: IN-list size past which a literal IN predicate is the wrong plan:
#: the driver renders an N-element expression and runs N range/bloom
#: tests per zone (measured 84 s at 100k values, 211 s at 300k —
#: tools/perf_round17.py), so ``read_where``/``chunked_in_read`` route
#: bigger sets through ``read_in_values``'s broadcast semi-join
#: (0.7 s / 1.4 s on the same probes, results identical).
SEMI_JOIN_IN_THRESHOLD = 64_000


def chunked_in_read(
    tbl,
    col: str,
    vals: list,
    max_inlist: int,
    extra_preds: list | None = None,
    semi_threshold: int = SEMI_JOIN_IN_THRESHOLD,
):
    """Union of ``read_where`` IN-list probes in ``max_inlist``-sized
    chunks over ``tbl`` — N pruned probes instead of one full scan
    when a value set outgrows a single probe. ``vals`` dedupes at
    entry (callers forward user-supplied lists; a duplicate landing
    in two chunks would match the same rows twice and corrupt the
    union), after which chunks partition the value set and a row
    holds ONE value, so the union is duplicate-free and exact.
    ``extra_preds`` conjoin onto every chunk's predicate list (e.g. a
    time bound riding along with the key IN-list).

    Returns ``(df, report)``: the report sums kept buckets/files/rows
    across chunks (total SCHEDULED scan volume — chunks may re-keep
    overlapping files, so the running sum can approach one full pass
    on an unselective value set) against the single-pass totals, plus
    the chunk count. ``kept < total`` is the pruning win the plan
    tests pin for selective probes.

    Adaptive bail: chunk plans are lazy (``read_where`` prunes on the
    driver; nothing executes until an action), so the helper watches
    the RUNNING kept-file sum and, the moment the accumulated chunks
    would schedule at least one full pass while chunks remain (or
    strictly more than one on the last chunk), discards the
    un-executed chunk plans and returns ONE probe carrying the whole
    IN list (identical result; ``degraded_single_pass`` in the
    report, whose counts then describe that single pass). The first
    chunk of a stats-less table trips this immediately — the old
    first-chunk heuristic is the degenerate case — and a later chunk
    tripping it caps an unselective tail the first chunk looked too
    selective to predict. EXECUTED scan volume therefore never
    exceeds one full pass.

    Oversized value sets (> ``semi_threshold`` after dedup) skip the
    chunk loop entirely and route through
    :meth:`SnapshotTable.read_in_values` — one broadcast semi-join
    against a values DataFrame instead of a literal IN predicate the
    driver must render and test per zone per value (VERDICT r16 #2:
    callers cap near 640k values, where both costs are linear in the
    probe set). Identical results; the report carries
    ``semi_join: True``.
    """
    vals = list(dict.fromkeys(vals))
    if not vals:
        rep = dict(
            buckets_total=0, buckets_kept=0,
            files_total=0, files_kept=0,
            rows_total=0, rows_kept=0, chunks=0,
        )
        return tbl.read().limit(0), rep
    if semi_threshold and len(vals) > semi_threshold:
        df = tbl.read_in_values(col, vals, extra_preds=extra_preds)
        rep = dict(tbl.last_scan_report)
        rep["chunks"] = 1
        rep["degraded_single_pass"] = True
        return df, rep
    parts = []
    rep = {
        "buckets_total": 0, "buckets_kept": 0,
        "files_total": 0, "files_kept": 0,
        "rows_total": 0, "rows_kept": 0, "chunks": 0,
    }
    for i in range(0, len(vals), max_inlist):
        part = tbl.read_where(
            [(col, "in", vals[i:i + max_inlist])] + list(extra_preds or [])
        )
        r = dict(tbl.last_scan_report)
        parts.append(part)
        rep["buckets_total"] = r["buckets_total"]
        rep["files_total"] = r["files_total"]
        rep["rows_total"] = r.get("rows_total")
        rep["buckets_kept"] += r["buckets_kept"]
        rep["files_kept"] += r["files_kept"]
        if rep["rows_kept"] is not None:
            n = r.get("rows_kept")
            rep["rows_kept"] = None if n is None else rep["rows_kept"] + n
        rep["chunks"] += 1
        remaining = i + max_inlist < len(vals)
        if (remaining and rep["files_kept"] >= rep["files_total"]) or (
            rep["files_kept"] > rep["files_total"]
        ):
            df = tbl.read_where(
                [(col, "in", list(vals))] + list(extra_preds or [])
            )
            rep = dict(tbl.last_scan_report)
            rep["chunks"] = 1
            rep["degraded_single_pass"] = True
            return df, rep
    df = parts[0]
    for p_ in parts[1:]:
        df = df.unionByName(p_)
    return df, rep


def _align_key_types(df: DataFrame, table_schema, key_cols) -> DataFrame:
    """Cast the batch's key columns to the COMMITTED key types before any
    bucket routing or key join.

    ``F.hash`` is type-sensitive, so a batch whose key arrived narrower
    (e.g. int where the table committed long) would hash into a
    different bucket than the committed row for the same logical key —
    the anti-join would never see the incumbent and the key would
    silently exist twice. Narrow→wide casts are lossless; the
    wide→narrow direction is already rejected by ``_evolved_fields``
    before this runs.
    """
    committed = {f.name: f.dataType for f in table_schema.fields}
    have = {f.name: f.dataType for f in df.schema.fields}
    out = df
    for k in key_cols:
        want = committed.get(k)
        if want is not None and k in have and have[k] != want:
            out = out.withColumn(k, F.col(k).cast(want))
    return out


_MOR_GUARDED = (
    "merge-on-read does not compose with order-guarded merges: guard "
    "tombstones must be physically retained, which is the copy-on-write "
    "path's job"
)


class MaintenancePolicy(NamedTuple):
    """The maintenance tiers a merge carries (``merge(maintain=...)``)
    and :meth:`SnapshotTable.compact_by_size` evaluates; None disables
    a tier. The one rule (:meth:`SnapshotTable._due_tier`) checks them
    in this order, with ``n`` pending runs of ``pending`` bytes over a
    ``base`` of manifest-bucket bytes:

    - ``compact_every``: MINOR once ``n >= max(2, compact_every)`` —
      read amplification stays at base + that many runs with no
      full-table rewrite per trigger;
    - ``major_ratio``: MAJOR (a full rewrite absorbing the runs) when
      ``pending >= major_ratio * base``;
    - ``minor_ratio``: MINOR (runs collapse into one at delta cost) when
      ``pending >= minor_ratio * base`` and ``n >= 2``. A minor fold
      that leaves bytes above the threshold (disjoint keys) re-arms
      and folds the next run in until the major threshold takes over —
      the LSM behaviour. Bytes track what folds cost and reads pay; a
      run count fires the same for 1 KB ticks and 10 GB backfills;
    - ``max_files_per_bucket``: FILES, a major rewrite sized by
      ``target_file_bytes`` when the table has one, once any live
      bucket holds more parquet files (VERDICT r16 #4). It closes the
      small-file loop of the map-only :meth:`SnapshotTable.rebucket`
      split and of churny clustered merges, on copy-on-write tables
      too.

    Every fold keeps logical contents bit-exact (property-tested under
    arbitrary schedules in test_property_mor) and carries the batch id
    through, so a crash between a merge and its fold only defers the
    fold to the next evaluation."""

    minor_ratio: float | None = None
    major_ratio: float | None = None
    max_files_per_bucket: int | None = None
    compact_every: int | None = None


@dataclass
class _Attempt:
    """One write attempt on the skeleton (:meth:`SnapshotTable._write`):
    the pointer it planned against, what it staged under its
    writer-unique physical id ``pv``, and what its commit records."""

    #: the :class:`_Write` strategy that planned and staged it
    op: object
    #: pointer planned against; None when the attempt creates the table
    ptr: dict | None
    #: committed schema the plan read the table's files under
    schema: object
    #: bucket modulus the staged files were routed with
    n_buckets: int
    batch_id: int | None
    #: schema the commit records (a batch's evolution applied): a fold
    #: reads every input under it
    evolved: object = None
    #: the fold this attempt runs or rides (``minor``/``major``/
    #: ``files``), decided against ``ptr`` before any job
    maintenance: str | None = None
    #: None until the plan finds something to stage
    pv: int | None = None
    #: the merge batch, bucket-routed
    source: DataFrame | None = None
    #: base buckets the commit replaces
    touched: list = field(default_factory=list)
    batch_rows: int = 0
    #: base buckets whose new files landed under ``pv``
    written: list = field(default_factory=list)
    #: merge-on-read runs the commit appends (a fold's replace them)
    runs: list = field(default_factory=list)
    #: what the public operation returns
    result: object = None

    @property
    def base(self) -> int:
        return -1 if self.ptr is None else int(self.ptr["version"])

    def rewrite(self, written: list) -> None:
        """Stage a whole-table rewrite: every committed bucket drops
        out of the manifest, replaced by the ``written`` ones."""
        if self.ptr is not None:
            self.touched = sorted(int(b) for b in self.ptr["buckets"])
        self.written = written


@dataclass
class _ScanPlan:
    """What one read schedules, decided against ONE pointer (see
    :meth:`SnapshotTable._plan`)."""

    ptr: dict
    schema: object
    #: base bucket ids that survived the restriction and the zone tests
    buckets: list
    #: parquet paths handed to Spark: bucket directories, or files
    paths: list
    #: pending merge-on-read runs, restricted to the same bucket ids
    runs: list
    report: dict


def _plus(total: int | None, n: int | None) -> int | None:
    """Row-count sum where ``None`` (unknown) is absorbing."""
    return None if total is None or n is None else total + n


class _Write:
    """One kind of :class:`SnapshotTable` write, as a strategy on the
    one plan → stage → commit skeleton (:meth:`SnapshotTable._write`).

    The skeleton owns what every write shares: one pointer read per
    attempt, the committed-layout adoption, one fresh physical id, the
    job-failure → write-conflict translation, the one commit, the one
    vacuum and the retries. A strategy holds only what differs: what it
    plans from the pointer and what it stages. These defaults describe
    a maintenance rewrite: it needs a committed table, is a physical
    rewrite rather than a batch (the pointer's batch id and guard carry
    through, so replay idempotence survives it), keeps adaptive
    planning, takes fresh zone maps for what it writes, and replaces
    the pending runs."""

    #: skip the attempt when its batch id is already committed
    replays = False
    #: plan the staged write with adaptive execution off (see
    #: ``SnapshotTable.merge_static_planning``)
    static_write = False
    #: commit even when nothing was staged
    commits_empty = True
    #: guard metadata the commit records; None carries the pointer's
    guard: dict | None = None
    #: pending runs carry into a commit that runs no fold (an append
    #: adds its run to them); otherwise the attempt's runs replace them
    appends = False
    #: written buckets drop their zone maps unless ``stats_on_merge``
    lazy_stats = False

    def create(self, t) -> _Write:
        """The strategy that runs when the table does not exist yet."""
        raise FileNotFoundError(f"no snapshot at {t.path}")

    def check(self, ptr: dict) -> None:
        """Refuse a pointer this write does not apply to."""

    def batch_of(self, ptr: dict | None) -> int | None:
        return ptr.get("batch_id")

    def evolve(self, t, schema):
        """The schema the commit records."""
        return schema

    def tier(self, t, ptr: dict | None) -> str | None:
        """The fold this attempt runs, decided against ``ptr``."""
        return None

    def plan(self, t, a: _Attempt) -> bool:
        """Driver-side planning (and any probe job) before a physical
        id is allocated; False = nothing to stage or commit."""
        return True

    def rebases(self, a: _Attempt, ptr: dict) -> bool:
        """Whether ``a``'s staged files may be committed onto a racing
        winner's pointer ``ptr`` without re-running a job."""
        return False

    def write(self, t, source: DataFrame | None, a: _Attempt) -> None:
        raise NotImplementedError

    @staticmethod
    def _current(t, a: _Attempt) -> DataFrame | None:
        """The touched buckets' committed rows (None if no touched
        bucket holds any), read under the planning-time schema."""
        paths = [
            f"{t.path}/v={a.ptr['buckets'][str(b)]}/bucket={b}"
            for b in a.touched
            if str(b) in a.ptr["buckets"]
        ]
        return t.spark.read.schema(a.schema).parquet(*paths) if paths else None


@dataclass(eq=False)
class _Overwrite(_Write):
    """Replace the table's whole contents with ``df`` — the initial
    load and a merge's table creation: one range-clustered write, fresh
    zone maps. On an existing table the rewrite lands in the committed
    layout (bucket count, clustering): replacing contents is not a
    license to silently revert another writer's rebucket. Two racing
    creations never share a directory and the loser fails loudly."""

    df: DataFrame
    batch_id: int | None
    guard: dict | None = None

    def create(self, t) -> _Write:
        return self

    def batch_of(self, ptr: dict | None) -> int | None:
        return self.batch_id

    def evolve(self, t, schema):
        return self.df.schema

    def write(self, t, source: DataFrame | None, a: _Attempt) -> None:
        a.rewrite(t._write_buckets(
            self.df.withColumn("bucket", t._bucket_col()), a.pv,
            expected_base=a.base, range_cluster=True,
        ))


@dataclass(eq=False)
class _Fold(_Write):
    """A maintenance fold with no batch: ``minor`` collapses the
    pending runs into one (:meth:`SnapshotTable.compact_runs`),
    ``major`` and ``files`` rewrite base ∪ runs as a new base
    (:meth:`SnapshotTable.compact`, the file-count tier). The fold
    bodies are the ones a merge-on-read merge rides
    (:meth:`SnapshotTable._fold`)."""

    kind: str
    target_file_bytes: int | None = None

    def tier(self, t, ptr: dict | None) -> str | None:
        return self.kind

    def plan(self, t, a: _Attempt) -> bool:
        runs = a.ptr.get("runs") or []
        if self.kind == "minor":
            a.result = len(runs)
            return len(runs) > 1
        if self.target_file_bytes is not None:
            a.result = t._packed_files(a.ptr, self.target_file_bytes)
        return a.result is None

    def write(self, t, source: DataFrame | None, a: _Attempt) -> None:
        t._fold(a, target_file_bytes=self.target_file_bytes)
        if self.kind != "minor":
            a.result = sum(
                len(t._parquet_files(a.pv, b) or []) for b in a.written
            )


@dataclass(eq=False)
class _Rebucket(_Write):
    """Rewrite the whole table under a new bucket count (see
    :meth:`SnapshotTable.rebucket`); a pure copy-on-write table split
    to a multiple of its count writes map-only, with no exchange."""

    n_buckets: int
    map_only: bool = False

    def plan(self, t, a: _Attempt) -> bool:
        # t.n_buckets is the committed count here (the skeleton adopted it)
        self.map_only = (
            self.n_buckets > t.n_buckets
            and self.n_buckets % t.n_buckets == 0
            and not a.ptr.get("runs")
        )
        t.n_buckets = self.n_buckets
        return True

    def write(self, t, source: DataFrame | None, a: _Attempt) -> None:
        full = t._scan(t._plan(a.ptr), include_tombstones=True)
        a.rewrite(t._write_buckets(
            full.withColumn("bucket", t._bucket_col()), a.pv,
            expected_base=a.base, repartition=not self.map_only,
        ))


@dataclass(eq=False)
class _GcTombstones(_Write):
    """Drop an order-guarded table's delete tombstones older than a
    replay horizon (see :meth:`SnapshotTable.gc_tombstones`): one probe
    job finds the buckets holding expired tombstones and counts them,
    and only those buckets are rewritten."""

    horizon: object
    #: the expired-tombstone predicate, built from the planned pointer
    expired: object = None

    def check(self, ptr: dict) -> None:
        if not ptr.get("guard"):
            raise ValueError("gc_tombstones applies only to order-guarded tables")

    def plan(self, t, a: _Attempt) -> bool:
        guard = a.ptr["guard"]
        self.expired = (F.col(guard["op_col"]) == guard["delete_op"]) & (
            F.col(guard["guard_cols"][0]) < F.lit(self.horizon)
        )
        full = t._scan(t._plan(a.ptr), include_tombstones=True)
        # one scan decides both the rewrite set and the dropped count
        probe = (
            full.withColumn("bucket", t._bucket_col())
            .filter(self.expired)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        a.touched = sorted(r.bucket for r in probe)
        a.result = sum(r.n for r in probe)
        return bool(probe)

    def write(self, t, source: DataFrame | None, a: _Attempt) -> None:
        kept = self._current(t, a).filter(~self.expired)
        a.written = t._write_buckets(
            kept.withColumn("bucket", t._bucket_col()), a.pv,
            expected_base=a.base,
        )


@dataclass(eq=False)
class _CopyOnWrite(_Write):
    """Copy-on-write merge: each touched bucket is rewritten as its
    committed rows minus the batch's keys, plus the batch's upserts
    (the MERGE-equivalence in the module docstring). A merge replays
    as a no-op, records its own batch id, plans statically, appends to
    any pending runs and drops the zone maps of what it rewrites."""

    replays = True
    static_write = True
    appends = True
    lazy_stats = True
    #: persist the batch and observe its touched buckets before writing
    probes = True
    #: whether the maintenance tier rides the write (else the policy
    #: is evaluated on the committed state after the merge)
    fuses = False

    compacted: DataFrame
    op_col: str
    delete_op: str
    batch_id: int | None
    evolve_schema: bool

    def create(self, t) -> _Write:
        return _Overwrite(self.initial(t), self.batch_id, self.guard)

    def initial(self, t) -> DataFrame:
        """The table's rows when this batch creates it."""
        return self.compacted.filter(
            F.col(self.op_col) != self.delete_op
        ).drop(self.op_col)

    def batch_of(self, ptr: dict | None) -> int | None:
        return self.batch_id

    def evolve(self, t, schema):
        from pyspark.sql.types import StructType

        # before any job: an unsafe type change raises here
        return StructType(_evolved_fields(
            schema, self.compacted.schema, self.op_col, self.evolve_schema,
            t.key_cols,
        ))

    def check(self, ptr: dict) -> None:
        # a rewrite reads base buckets only: its output would let stale
        # run rows outrank the batch
        if ptr.get("runs"):
            raise ValueError(
                "copy-on-write merge on a table with pending merge-on-read "
                "runs would strand the runs' rows: call compact() to fold "
                "them in first (or keep merging with mode='mor')"
            )

    def plan(self, t, a: _Attempt) -> bool:
        from pyspark.sql import Observation

        # committed key types govern hash routing — see _align_key_types
        a.source = _align_key_types(
            self.compacted, a.schema, t.key_cols
        ).withColumn("bucket", t._bucket_col())
        if self.probes:
            # persist once: the batch plan (parse + compact shuffle)
            # feeds the probe and the write's consumers (anti-join
            # broadcast, upsert union) — without this it would
            # re-execute per consumer. The cached plan is fixed at
            # persist(), so it must be planned inside the static
            # window too: an adaptive cached plan runs each of its
            # exchanges as its own job.
            # The probe's bounded driver metadata — the touched-bucket
            # set and the batch size that decides the anti-join
            # strategy — is OBSERVED during the cache-materializing
            # noop write instead of a separate groupBy + collect (r19
            # event-log attribution: 5 probe jobs -> 3, and 1 with
            # static planning). collect_set is ≤ n_buckets values.
            obs = Observation()
            with t._static_merge_planning():
                a.source = a.source.persist()
                (
                    a.source.observe(
                        obs,
                        F.collect_set("bucket").alias("b"),
                        F.count(F.lit(1)).alias("n"),
                    )
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
            a.touched = sorted(obs.get["b"])
            a.batch_rows = int(obs.get["n"])
        return True

    def rebases(self, a: _Attempt, ptr: dict) -> bool:
        """Sound iff the winner changed nothing this merge read or
        wrote: every bucket it TOUCHED keeps its planning-time manifest
        entry (disjoint write sets, the Delta conflict rule) and the
        schema the plan read its files under is unchanged. On any doubt
        the merge replans, which is always correct."""
        if json.loads(ptr["schema"]) != json.loads(a.ptr["schema"]):
            return False
        return all(
            ptr["buckets"].get(str(b)) == a.ptr["buckets"].get(str(b))
            for b in a.touched
        )

    def write(self, t, source: DataFrame, a: _Attempt) -> None:
        upserts = source.filter(F.col(self.op_col) != self.delete_op).drop(
            self.op_col
        )
        current = self._current(t, a)
        new_data, bucket_local = upserts, False
        if current is not None:
            batch_keys = source.select(*t.key_cols)
            use_broadcast = a.batch_rows <= t.broadcast_key_limit
            if use_broadcast:
                batch_keys = F.broadcast(batch_keys)
            thr = t.bucket_local_merge_bytes
            bucket_local = use_broadcast and thr is not None
            if bucket_local:
                # short-circuit the driver-side scandir sum at the
                # threshold: a shard-scale table crosses it after one or
                # two bucket dirs instead of paying an O(touched
                # buckets) listing per merge (ADVICE r18)
                seen = 0
                for b in a.touched:
                    v = a.ptr["buckets"].get(str(b))
                    if v is not None:
                        seen += t._bucket_dir_bytes(v, [b])
                        if seen >= thr:
                            break
                bucket_local = seen >= thr
            # recover the physical bucket id from the file path (the
            # partition column is stripped from the data files)
            kept = current.withColumn("bucket", t._bucket_col()).join(
                batch_keys, t.key_cols, "left_anti"
            )
            # two-sided null backfill: batch may add columns the table
            # lacks and omit columns the table has
            if bucket_local:
                # the kept side is ALREADY bucket-local (every scan
                # split holds whole files out of bucket dirs, and the
                # broadcast anti-join adds no exchange), so the table's
                # rows stream straight from their old files to their
                # new bucket dir — only the BATCH shuffles into bucket
                # layout. Repartitioning here would move every kept row
                # through an exchange: O(touched bucket bytes) of
                # shuffle per merge instead of O(batch bytes). Cost:
                # ~one extra (batch-sized) file per touched bucket per
                # merge, which the file-count compaction tier bounds.
                upserts = upserts.repartition(t.n_buckets, "bucket")
            # (hash-join path: the anti-join itself re-keys the kept
            # side, so bucket locality is gone — the write keeps its
            # explicit bucket shuffle)
            new_data = kept.unionByName(upserts, allowMissingColumns=True)
        # the fresh dir can only hold touched buckets; adopting only
        # those is discipline
        touched = set(a.touched)
        a.written = [
            b
            for b in t._write_buckets(
                new_data, a.pv, dynamic=True, expected_base=a.base,
                repartition=not bucket_local,
            )
            if b in touched
        ]


@dataclass(eq=False)
class _OrderGuarded(_CopyOnWrite):
    """Order-guarded merge: an incoming row wins only if its
    ``guard_cols`` tuple exceeds the incumbent's.

    Fixes SURVEY §7.6.2 (the reference applies batches independently,
    so an earlier-timestamp event arriving a batch late overwrites
    newer state — accepted there, opt-out here). Deletes are retained
    as *tombstones* carrying their guard tuple, so a late, older upsert
    cannot resurrect a newer delete; :meth:`SnapshotTable.read` hides
    them from the logical view.

    Physically: union the touched buckets' current rows with the batch
    and take the per-key ``max_by(guard)`` winner — merge IS the
    compaction operator, so any sequence of guarded merges over any
    batch split of a log equals one global compaction (the invariant
    tests/test_property_cdc.py proves). Cost stays proportional to
    touched buckets + batch, same as copy-on-write. Tombstones persist
    until :meth:`SnapshotTable.gc_tombstones` compacts the ones older
    than the source's replay horizon.
    """

    #: the write compacts whole touched buckets, not just the batch:
    #: it keeps adaptive planning
    static_write = False

    guard_cols: list

    def __post_init__(self) -> None:
        self.guard = {
            "op_col": self.op_col,
            "delete_op": self.delete_op,
            "guard_cols": self.guard_cols,
        }

    def initial(self, t) -> DataFrame:
        from changedatacapture_spark.operators.cdc import compact_latest

        return compact_latest(
            self.compacted, t.key_cols, self.guard["guard_cols"]
        )

    def write(self, t, source: DataFrame, a: _Attempt) -> None:
        from changedatacapture_spark.operators.cdc import compact_latest

        merged_in = source.drop("bucket")
        current = self._current(t, a)
        if current is not None:
            merged_in = current.unionByName(merged_in, allowMissingColumns=True)
        winners = compact_latest(merged_in, t.key_cols, self.guard["guard_cols"])
        a.written = t._write_buckets(
            winners.withColumn("bucket", t._bucket_col()), a.pv,
            expected_base=a.base,
        )


@dataclass(eq=False)
class _MergeOnRead(_CopyOnWrite):
    """Merge-on-read: the batch — deletes riding as a keyed ``_mor_del``
    mask — appends as one bucket-partitioned delta run and the manifest
    carries forward untouched. The write reads no table state, so it
    needs no probe, and write cost is ∝ batch size: a high-churn batch
    touching every bucket rewrites the WHOLE table under copy-on-write
    but appends only ~batch-size bytes here (SURVEY §7.5), paid for at
    read time by one latest-per-key aggregate until a compaction folds
    the runs. With a maintenance ``policy``, a batch that finds a fold
    due rides it (fold on write, see :meth:`SnapshotTable.merge`): the
    attempt writes one folded run or one new base instead of a run
    that a second write would fold right after."""

    probes = False
    #: an idle stream tick that lands no bytes and evolves no schema
    #: commits nothing: a run entry would be pure pointer noise, count
    #: toward the run-count compaction tier and bloat every read's run
    #: list
    commits_empty = False
    #: the maintenance tier is decided before the write and rides it
    fuses = True

    policy: MaintenancePolicy | None = None

    def check(self, ptr: dict) -> None:
        if ptr.get("guard"):
            raise ValueError(_MOR_GUARDED)

    def tier(self, t, ptr: dict | None) -> str | None:
        return t._due_tier(ptr, self.policy, incoming=True)

    def rebases(self, a: _Attempt, ptr: dict) -> bool:
        # appends commute: a lost commit re-commits onto the winner's
        # run list (run ORDER still serializes last-writer-wins per key).
        # A fold replaced the runs (and base) it read, which the winner
        # may have changed: it replans
        return a.maintenance is None

    def _as_run(self, source: DataFrame, schema) -> DataFrame:
        """The batch in run shape under ``schema``: every column cast
        to its committed type (null where the batch lacks it) plus the
        ``_mor_del`` mask."""
        have = set(source.columns)
        return source.select(
            *[
                (F.col(f.name) if f.name in have else F.lit(None))
                .cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            (F.col(self.op_col) == F.lit(self.delete_op)).alias("_mor_del"),
        )

    def write(self, t, source: DataFrame, a: _Attempt) -> None:
        if a.maintenance is not None:
            t._fold(
                a, self._as_run(source, a.evolved),
                t.target_file_bytes if a.maintenance == "files" else None,
            )
            return
        run = source.withColumn(
            "_mor_del", F.col(self.op_col) == F.lit(self.delete_op)
        ).drop(self.op_col)
        written = t._write_buckets(run, a.pv, expected_base=a.base)
        if written:
            # per-file row counts ride the run entry (driver-side footer
            # reads, no job): they keep estimate_rows_where — and the
            # index-routing hot-value gate on it — live while runs are
            # pending, and price MoR read amplification in every scan
            # report (run_files/run_rows)
            a.runs = [{
                "v": a.pv,
                "batch_id": a.batch_id,
                "buckets": sorted(written),
                "fstats": t._footer_fstats(a.pv, written),
            }]


class SnapshotTable:
    """Versioned parquet table with merge semantics and atomic commits.

    Layout::

        <path>/v=<id>/bucket=<b>/part-*.parquet
        <path>/_LATEST   # JSON: {"version", "batch_id", "schema",
                         #        "buckets": {bucket: physical-id-last-written}}

    Logical versions (the pointer/history ``version`` field) are
    sequential ints; each write attempt's files land under a
    writer-unique PHYSICAL id (``_new_data_version``), which is what
    the bucket manifest references — so racing writers can never
    overwrite each other's files (see :meth:`merge`).

    The pointer's bucket manifest is the Delta-transaction-log analogue:
    each bucket records the version whose files hold its current rows,
    so a merge rewrites **only the buckets containing touched keys** and
    carries every other bucket forward by reference — merge cost is
    proportional to the batch's key spread, not the table (at 100 TB,
    rewriting the full table per 30 s micro-batch is not an option).

    ``n_buckets`` trades merge granularity against file count and must
    scale with the TABLE, not the batch: size it so one bucket is
    roughly 256 MB–1 GB of parquet (e.g. a 1 TB table → ~2,048
    buckets; the 16 default fits test scale only). Too few buckets →
    every merge rewrites most of the table; too many → small-file
    storms and a fat manifest. Buckets are hash-routed, so the count of
    an EXISTING table changes only via :meth:`rebucket` (an online full
    rewrite committed as one new version); the constructor always adopts
    the committed table's persisted count and logs if a conflicting
    ``n_buckets`` argument was passed. Single-writer POSIX-rename
    commit; a second writer is DETECTED (pre-write and commit-time
    pointer CAS raise :class:`ConcurrentWriteError` instead of silently
    last-write-winning), but real multi-writer deployments use
    :class:`DeltaTableSink`.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        n_buckets: int = 16,
        retain_history: int = 0,
        cluster_cols: list[str] | None = None,
        broadcast_key_limit: int = 1_000_000,
        collect_stats: bool = True,
        stats_on_merge: bool = False,
        max_records_per_file: int | None = None,
        bloom_cols: list[str] | None = None,
        target_file_bytes: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_cols = key_cols
        self.n_buckets = n_buckets
        #: parsed-pointer cache, keyed by the pointer FILE's identity
        #: (inode, mtime_ns, size) — see :meth:`_read_pointer`
        self._ptr_cache: tuple | None = None
        #: parsed stats-sidecar cache by commit version — sidecars are
        #: immutable once referenced, so entries never revalidate; a
        #: carried ref means the same sidecar serves every subsequent
        #: pointer read without re-touching disk (see :meth:`_load_sidecar`)
        self._side_cache: dict[int, dict] = {}
        #: merge anti-join strategy ceiling: batches with at most this
        #: many rows broadcast their key set to the touched-bucket scan
        #: (the normal CDC micro-batch case — no shuffle of table rows);
        #: above it (bootstrap/backfill misuse of the merge path) the
        #: hint is dropped and AQE picks the join strategy, instead of
        #: blowing the driver's broadcast limit
        self.broadcast_key_limit = broadcast_key_limit
        #: merge write layout threshold (bytes). When the TOUCHED
        #: buckets' on-disk size reaches this, a broadcast-anti merge
        #: streams the kept side straight from its bucket files to the
        #: partitioned write — shuffle drops from O(touched bucket
        #: bytes) to O(batch bytes), the lever that matters when one
        #: bucket is 1/n_buckets of 100 TB. Below it the single
        #: exchange is noise and the repartitioned layout's tighter
        #: file count wins (measured: ~10% faster apply on a 3 MB
        #: table, ~one extra file per touched bucket avoided). 256 MiB
        #: default = the shuffle-partition sizing band; 0 forces
        #: bucket-local always, None disables it.
        self.bucket_local_merge_bytes: int | None = 256 << 20
        #: zone maps: per-bucket min/max column stats in the manifest so
        #: ``read_where`` can skip whole buckets whose value range
        #: cannot match a predicate — manifest-level data skipping, the
        #: layer ABOVE parquet row-group stats. At 100 TB this is the
        #: difference between opening every file's footer and never
        #: scheduling the task at all.
        self.collect_stats = collect_stats
        #: stats freshness policy for the merge hot path. Default False:
        #: a merge DROPS the touched buckets' stats (zero extra work —
        #: absent stats are never used to prune, so reads stay exact)
        #: and full stats come back at the next maintenance rewrite
        #: (overwrite/compact/rebucket), which scans everything anyway.
        #: True recomputes stats on every merge commit — measured at
        #: ~0.7 s per 10k-event micro-batch (~33% apply throughput), so
        #: reserve it for merge-rarely/scan-often tables.
        self.stats_on_merge = stats_on_merge
        #: parquet file-split ceiling (``maxRecordsPerFile``): with
        #: ``cluster_cols``, each write task streams its bucket SORTED,
        #: so capping records per file makes every file cover a
        #: contiguous cluster-key range — and the per-file zone maps
        #: (``fstats`` in the pointer) then prune WITHIN a hot bucket.
        #: None = one file per bucket per version (file-level pruning
        #: degenerates to bucket-level; still exact).
        self.max_records_per_file = max_records_per_file
        #: BYTE-targeted file sizing — the 100 TB default the row-count
        #: knob above is not. Production tables should set 128 << 20
        #: (128 MB — the Delta/Iceberg OPTIMIZE file-size default;
        #: pair it with a bucket count that keeps buckets at
        #: ~256 MB–1 GB). When set and no explicit
        #: row cap governs, every write derives its own
        #: ``maxRecordsPerFile`` from the table's measured bytes/row
        #: (committed manifest bytes over committed per-file row
        #: counts — driver metadata, no data scan), so files land in
        #: the target byte band whatever the row width is. The first
        #: commit has no measurement and writes uncapped; every later
        #: write self-corrects. ``cluster_cols`` banding is preserved:
        #: the derived cap splits each sorted bucket into contiguous
        #: cluster-key ranges exactly as an explicit row cap would.
        self.target_file_bytes = target_file_bytes
        #: SQL expressions (usually column names; see
        #: ``operators/layout.py:zorder16`` for multi-column locality)
        #: that every bucket write sorts by. Sorted files give parquet
        #: row-group min/max statistics real selectivity, so reads with
        #: a predicate on the cluster key skip row groups — the Delta
        #: OPTIMIZE ZORDER analogue, applied continuously at write time
        #: instead of as a separate maintenance pass.
        self.cluster_cols = list(cluster_cols) if cluster_cols else []
        #: Bloom-filter data skipping for EQUALITY predicates on
        #: high-cardinality int/string columns — the layer zone maps
        #: can't provide: a uniformly distributed column's per-bucket
        #: [min, max] spans everything, so range stats never prune a
        #: point lookup on it, but a 1024-bit membership bitmap per
        #: bucket/file (k=4 md5-derived positions per value, built
        #: map-side as 16 bit_or'd longs in the same stats job) excludes
        #: a bucket the probed value provably never entered. False
        #: positives only cost a scan; exactness is untouched (the
        #: predicate re-applies). The Delta/Iceberg bloom-skipping
        #: analogue, stored in the manifest next to the zones.
        self.bloom_cols = list(bloom_cols) if bloom_cols else []
        #: how many PAST commits stay readable via ``read(at_version=)``
        #: (time travel). 0 = only the current version's files are
        #: retained (original behavior, minimal storage); Delta-style
        #: deployments set a horizon matching their audit window.
        self.retain_history = retain_history
        #: commit-log compaction threshold (bytes): past this size the
        #: log is rewritten keeping the last ``retain_history + 1``
        #: version entries, so commit cost stays O(retention), not
        #: O(total commits), on long-running streams
        self.log_compact_bytes = 4 * 1024 * 1024
        #: grace window (seconds) before _vacuum may collect a version
        #: dir the commit log has never referenced: such a dir is
        #: either a crashed attempt's orphan (collect eventually) or a
        #: CONCURRENT writer's in-flight staging dir (must survive its
        #: write job + commit). Size it above the longest plausible
        #: single merge write; tests shrink it to exercise collection.
        self.vacuum_grace_s = 600.0
        #: attached secondary indexes by indexed column
        #: (:meth:`attach_index`): ``read_where`` equality/IN
        #: predicates on these columns route through the posting probe
        #: when the index is exactly at the table's current version —
        #: the planner hook that makes an index benefit every caller,
        #: not just the ones who know to call ``lookup()``.
        self._indexes: dict = {}
        #: last ``read_where``/``read_buckets``/``read_in_values`` scan
        #: report for THIS table (buckets/files/rows kept vs total) —
        #: the pruning ratio, not the wall time, is the number that
        #: matters at 100 TB. Per-instance so two concurrent queries
        #: over different tables never interleave their plan evidence
        #: (the round-16 module globals are deprecated aliases).
        self.last_scan_report: dict | None = None
        #: last physical write's shape (``_do_write_buckets``): whether
        #: the write repartitioned by bucket (an exchange of the whole
        #: write set) or streamed map-side — plan tests pin the
        #: map-only rebucket split the same way scan tests pin pruning
        self.last_write_report: dict | None = None
        #: staging-marker lifetime (seconds): an uncommitted version
        #: dir whose _staging/<id> marker stands is NEVER vacuumed
        #: until the marker is this old (see _new_data_version) — the
        #: hard guarantee behind the commit guard; crashed writers'
        #: orphans are reclaimed after expiry via the grace heuristic
        self.staging_ttl_s = 86400.0
        #: plan the merge hot path STATICALLY (adaptive execution off
        #: for the merge's own jobs, restored after). AQE materializes
        #: every exchange as its own job with a driver re-planning
        #: round between — measured here at 8 jobs and ~0.8 s of
        #: driver gaps per 10k-event micro-batch, while buying the
        #: merge nothing it uses: the anti-join is an explicit
        #: broadcast below ``broadcast_key_limit``, the write shuffle
        #: is an explicit ``repartition(n_buckets)`` AQE never touches,
        #: and the batch compact's skew is absorbed by map-side partial
        #: aggregation. Batch-sized shuffles fall back to the
        #: configured ``spark.sql.shuffle.partitions``. Set False for
        #: tables that ingest huge non-broadcast backfill batches
        #: through merge() where AQE's runtime coalescing pays more
        #: than its per-stage driver rounds cost.
        self.merge_static_planning = True
        # the bucket count is a PHYSICAL property of the committed
        # files: an existing table's persisted value overrides the
        # constructor arg, otherwise a reader constructed with a
        # different default would mis-route keys on its next merge
        ptr = self._read_pointer()
        # clustering is a layout property of the committed files too:
        # adopt the persisted expressions so a reader-turned-writer
        # keeps the established sort order
        if ptr is not None and ptr.get("cluster_cols") is not None:
            persisted_cc = list(ptr["cluster_cols"])
            if cluster_cols and persisted_cc != self.cluster_cols:
                logging.getLogger(__name__).warning(
                    "SnapshotTable(%s): using committed cluster_cols=%s, "
                    "not the constructor's %s",
                    self.path,
                    persisted_cc,
                    self.cluster_cols,
                )
            self.cluster_cols = persisted_cc
        if ptr is not None and ptr.get("n_buckets"):
            persisted = int(ptr["n_buckets"])
            if persisted != n_buckets:
                logging.getLogger(__name__).warning(
                    "SnapshotTable(%s): using committed n_buckets=%d, not the "
                    "constructor's %d — call rebucket(%d) to change it",
                    self.path,
                    persisted,
                    n_buckets,
                    n_buckets,
                )
            self.n_buckets = persisted

    def _adopt_committed_layout(self, ptr: dict) -> None:
        """Re-adopt the committed physical layout (bucket count,
        clustering) from a FRESHLY read pointer before planning a
        write. The constructor adopts at build time, but a long-lived
        writer instance can straddle another writer's
        :meth:`rebucket`: planning with the stale modulus would route
        the batch's keys into buckets the committed rows no longer
        live in, so the anti-join never sees the incumbents — the key
        silently exists twice — and the commit would persist the stale
        count, stranding the manifest's other buckets for every future
        reader. The write skeleton (:meth:`_write`) calls this on the
        pointer every attempt plans against; the MoR commit-time guard
        remains as the belt for a rebucket landing mid-write."""
        nb = int(ptr.get("n_buckets") or self.n_buckets)
        if nb != self.n_buckets:
            logging.getLogger(__name__).warning(
                "SnapshotTable(%s): committed n_buckets moved %d -> %d "
                "(concurrent rebucket); re-routing this plan",
                self.path, self.n_buckets, nb,
            )
            self.n_buckets = nb
        if ptr.get("cluster_cols") is not None:
            self.cluster_cols = list(ptr["cluster_cols"])

    def _record_scan(self, report: dict) -> None:
        """Publish a scan report on the instance (the supported
        surface) and into any active :func:`capture_scan_reports`
        tap (the harness surface for opaque query callables)."""
        self.last_scan_report = report
        for tap in _SCAN_TAPS:
            tap.append((self.path, report))

    def refresh_layout(self) -> None:
        """Public :meth:`_adopt_committed_layout` on the current
        pointer (no-op on an uncommitted table) — for long-lived
        consumers that compute routing expressions OUTSIDE a
        read/merge call (e.g. a secondary index deriving base bucket
        ids from postings before a ``read_buckets``)."""
        ptr = self._read_pointer()
        if ptr is not None:
            self._adopt_committed_layout(ptr)

    # -- commit log -------------------------------------------------------

    def _pointer_path(self) -> str:
        return f"{self.path}/{_POINTER}"

    def _sidecar_path(self, version: int) -> str:
        return f"{self.path}/{_STATS_DIR}/{int(version)}.json"

    def _load_sidecar(self, version: int) -> dict:
        """Parsed stats sidecar for a commit version:
        ``{"stats": {bucket: zone}, "fstats": {bucket: {file: zone}}}``.

        Sidecars are immutable once a pointer references them (commit
        versions are never rewritten after the pointer flip), so the
        cache never revalidates — a missing file composes to absent
        stats, which never prune, so reads stay exact (same contract
        as a pre-stats pointer). Bounded LRU-ish: the live set is at
        most one sidecar per distinct ref in the current pointer
        (≤ ``n_buckets``), so the cap only matters across many tables
        sharing an instance lifetime.
        """
        cached = self._side_cache.get(version)
        if cached is not None:
            return cached
        try:
            with open(self._sidecar_path(version)) as f:
                side = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            side = {}
        if len(self._side_cache) >= 64:
            # pooled cold-cache loads race here benignly: default=None
            # because two threads may pick the same eviction victim
            self._side_cache.pop(next(iter(self._side_cache)), None)
        self._side_cache[version] = side
        return side

    def _compose_refs(self, refs: dict | None, kind: str) -> dict:
        """Materialize a ``{bucket: sidecar_version}`` ref map into the
        inline ``stats``/``fstats`` shape every reader consumes —
        loading each distinct sidecar once (cached).

        Cold-cache loads of multiple sidecars go through a small
        thread pool (the deep-fsck pattern): each sidecar is an
        independent I/O round-trip, so a fresh reader on an object
        store pays ~ceil(missing / 8) RTT batches instead of a serial
        RTT per distinct ref (bounded by ``n_buckets``). Local disk
        sees no difference; steady state (refs carried across
        commits) hits the version cache and loads nothing."""
        refs = refs or {}
        missing = sorted(
            {int(v) for v in refs.values()} - set(self._side_cache)
        )
        if len(missing) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as ex:
                list(ex.map(self._load_sidecar, missing))
        out: dict = {}
        for bs, v in refs.items():
            side = self._load_sidecar(int(v)).get(kind) or {}
            if bs in side:
                out[bs] = side[bs]
        return out

    def _read_pointer(self) -> dict | None:
        """Parsed ``_LATEST`` pointer, cached by FILE IDENTITY
        ``(inode, mtime_ns, size)``.

        Every operation plans from one pointer read, so at 100 TB —
        where per-file stats put the pointer at tens of MB (10⁵ files
        × 32 stat cols) — an uncached ``json.loads`` per micro-batch
        is seconds of driver time doing nothing. Commits go through
        ``os.replace`` (new inode, new mtime), so the identity key
        can never serve a stale pointer to the concurrent-writer CAS
        checks: a racing winner's commit always misses the cache. An
        object-store port would key on the ETag the same way.

        The returned dict is the SHARED cached object — committed
        state, treat as immutable. Callers that derive modified
        entries copy first (``_plan``'s pruned runs); a caller that
        wrote a doctored pointer to disk invalidates by identity like
        any commit.
        """
        p = self._pointer_path()
        try:
            st = os.stat(p)
        except FileNotFoundError:
            self._ptr_cache = None
            return None
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        cached = self._ptr_cache
        if cached is not None and cached[0] == key:
            return cached[1]
        try:
            with open(p) as f:
                ptr = json.load(f)
        except FileNotFoundError:
            self._ptr_cache = None
            return None
        # sidecar composition: a v2 pointer carries {bucket: version}
        # stats REFERENCES; materialize them into the inline
        # stats/fstats shape every reader consumes, once per pointer
        # identity (the composed dict is what gets cached). Inline
        # keys win when present — that is exactly an old-format or
        # hand-doctored pointer, whose values must be served verbatim.
        if "stats_ref" in ptr or "fstats_ref" in ptr:
            if "stats" not in ptr:
                ptr["stats"] = self._compose_refs(
                    ptr.get("stats_ref"), "stats"
                )
            if "fstats" not in ptr:
                ptr["fstats"] = self._compose_refs(
                    ptr.get("fstats_ref"), "fstats"
                )
        # stat-then-read race: if the file was replaced in between,
        # the content is NEWER than the key, so the worst case is one
        # redundant reparse on the next call — never a stale serve
        self._ptr_cache = (key, ptr)
        return ptr

    def _commit(self, a: _Attempt, ptr: dict | None) -> None:
        """Publish attempt ``a`` as the version after ``ptr`` — the
        pointer it planned against, or the racing winner's it rebases
        onto; None creates the table. The one commit site: every write
        reaches it through :meth:`_write`.

        The manifest is ``ptr``'s with ``a.touched`` dropped and
        ``a.written`` pointed at ``a.pv``, the writer-unique PHYSICAL
        directory id the attempt staged under (see
        :meth:`_new_data_version`); logical pointer versions stay
        sequential, manifest values are physical ids. Merge-on-read
        runs (ordered oldest-first, each ``{"v": physical id,
        "batch_id", "buckets": [...]}``, the deletion-vector analogue)
        are ``ptr``'s plus the attempt's for an append, or the
        attempt's alone for a fold or a whole-table rewrite, which
        fold the deltas in. ``a.maintenance`` (the fold the commit ran:
        ``minor``/``major``/``files``, or None) lands in the entry
        :meth:`history` returns."""
        base = -1 if ptr is None else int(ptr["version"])
        version = base + 1
        # concurrent-writer detection (commit-pointer CAS): the table is
        # single-writer by design, but a second writer must fail LOUDLY,
        # not silently last-write-wins. If the pointer moved off the one
        # this commit applies onto, another writer committed and this
        # commit would clobber its manifest. Check-then-rename is not
        # atomic, so this is detection of discipline violations, not a
        # lock — matching what a real deployment gets from a
        # conditional-put object store; multi-writer deployments use
        # DeltaTableSink.
        prev = self._read_pointer()
        cur_v = -1 if prev is None else int(prev["version"])
        if cur_v != base:
            raise ConcurrentWriteError(
                f"concurrent writer detected on {self.path}: commit "
                f"planned against version {base} but the "
                f"pointer is now at {cur_v}; this writer's work is "
                f"discarded — re-read and retry the batch"
            )
        buckets = self._overlay(
            {} if ptr is None else ptr["buckets"], a.touched, a.written, a.pv
        )
        runs = a.runs
        if a.op.appends and a.maintenance is None and ptr is not None:
            runs = (ptr.get("runs") or []) + a.runs
        schema_ddl = json.dumps(a.evolved.jsonValue())
        # vacuum-race guard: the grace window in _vacuum is an mtime
        # heuristic, so a writer whose write job outlives vacuum_grace_s
        # can have its in-flight staging dir rmtree'd by a racing
        # winner's vacuum — and the pointer CAS alone would let the
        # loser still commit a manifest/run referencing deleted files
        # (reads then raise CorruptSnapshot). Before the flip, verify
        # every NEWLY referenced physical path (manifest buckets and run
        # buckets at versions the previous pointer did not already hold)
        # still exists; a vacuumed loser fails loudly as a concurrent
        # write and retries/replans instead of committing corruption.
        prev_versions: set[int] = set()
        if prev is not None:
            prev_versions = {int(v) for v in prev["buckets"].values()}
            prev_versions |= {int(r["v"]) for r in prev.get("runs") or []}
        fresh_paths = [
            f"{self.path}/v={v}/bucket={b}"
            for b, v in buckets.items()
            if int(v) not in prev_versions
        ]
        for r in runs:
            if int(r["v"]) not in prev_versions:
                fresh_paths += [
                    f"{self.path}/v={r['v']}/bucket={b}"
                    for b in r.get("buckets") or []
                ]
        missing = [p for p in fresh_paths if not os.path.isdir(p)]
        if missing:
            raise ConcurrentWriteError(
                f"commit on {self.path} references freshly written paths "
                f"that no longer exist (vacuumed by a racing writer "
                f"during a long write job?): {missing[:3]}"
                f"{' ...' if len(missing) > 3 else ''} — this writer's "
                "work is discarded; re-read and retry the batch"
            )
        guard = a.op.guard
        if guard is None:  # carry forward: a guarded table stays guarded
            guard = None if prev is None else prev.get("guard")
        # zone maps: carry forward untouched buckets' stats (their files
        # are the same files, so their bounds still hold); buckets
        # written at THIS version get fresh stats (folds, rewrites,
        # creation) or none (a plain merge with stats_on_merge=False —
        # absent stats never prune, so reads stay exact either way)
        prev_stats = {} if prev is None else (prev.get("stats") or {})
        prev_fstats = {} if prev is None else (prev.get("fstats") or {})
        # a REBASED commit (onto a winner's pointer, not the planning
        # one) points the attempt's buckets at files planned against an
        # earlier version: carried stats would describe the winner's
        # view of content this writer replaced — those buckets drop
        # their carried stats instead (absent stats never prune)
        stale = set(a.touched) | set(a.written) if base != a.base else set()

        # stats are carried BY REFERENCE: the pointer stores
        # {bucket: sidecar_version} and only the buckets whose stats
        # were (re)written at THIS commit serialize any zone-map bytes
        # (into this commit's _stats/<version>.json sidecar). At the
        # 100 TB design point the old inline scheme re-serialized
        # every file's stats — tens of MB of JSON — twice per
        # micro-batch (pointer + log); refs make commit serialization
        # O(changed buckets) regardless of total table file count
        # (VERDICT r17 #1 / PERF_r17 §7, the Delta checkpoint-parquet
        # analogue). An old-format pointer (inline stats, no refs) is
        # migrated here: its carried values move into this commit's
        # sidecar once, then ride as refs forever after.
        prev_sref = {} if prev is None else (prev.get("stats_ref") or {})
        prev_fref = {} if prev is None else (prev.get("fstats_ref") or {})
        stats_ref: dict[str, int] = {}
        fstats_ref: dict[str, int] = {}
        side_stats: dict = {}
        side_fstats: dict = {}
        for b, v in buckets.items():
            bs = str(b)
            if v == a.pv or b in stale:
                continue
            if bs in prev_sref:
                stats_ref[bs] = int(prev_sref[bs])
            elif bs in prev_stats:  # old-format inline: migrate once
                side_stats[bs] = prev_stats[bs]
                stats_ref[bs] = version
            if bs in prev_fref:
                fstats_ref[bs] = int(prev_fref[bs])
            elif bs in prev_fstats:
                side_fstats[bs] = prev_fstats[bs]
                fstats_ref[bs] = version
        if self.stats_on_merge or not (
            a.op.lazy_stats and a.maintenance is None
        ):
            new_stats, new_fstats = self._collect_stats(
                a.pv,
                [b for b, v in buckets.items() if v == a.pv],
                schema_ddl,
            )
            side_stats.update(new_stats)
            side_fstats.update(new_fstats)
            stats_ref.update({bs: version for bs in new_stats})
            fstats_ref.update({bs: version for bs in new_fstats})
        entry = {
            "version": version,
            "batch_id": a.batch_id,
            "schema": schema_ddl,
            "buckets": {str(b): v for b, v in buckets.items()},
            "guard": guard,
            "n_buckets": self.n_buckets,
            "cluster_cols": self.cluster_cols,
            "stats_ref": stats_ref,
            "fstats_ref": fstats_ref,
            "runs": runs,
            "maintenance": a.maintenance,
        }
        os.makedirs(self.path, exist_ok=True)
        if side_stats or side_fstats:
            # sidecar lands BEFORE the log append / pointer flip: a
            # crash in between leaves an unreferenced file the sidecar
            # vacuum reclaims; the reverse order could commit refs to
            # stats that never hit disk (they would compose as absent
            # — exact but silently unpruned)
            side = {"stats": side_stats, "fstats": side_fstats}
            os.makedirs(f"{self.path}/{_STATS_DIR}", exist_ok=True)
            stmp = f"{self._sidecar_path(version)}.tmp.{time.time_ns()}"
            with open(stmp, "w") as f:
                json.dump(side, f)
            os.replace(stmp, self._sidecar_path(version))
            # prime the cache: crash-reuse of a version number rewrites
            # the sidecar, so a stale entry from a never-committed
            # attempt must not survive in this instance
            self._side_cache[version] = side
        tmp = f"{self._pointer_path()}.tmp.{time.time_ns()}"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        # commit-log append BEFORE the pointer flip: a crash between the
        # two leaves a log entry no pointer references — harmless (the
        # next commit reuses the version number and the log keeps the
        # last line per version on read)
        with open(f"{self.path}/{_LOG}", "a") as f:
            f.write(json.dumps(entry) + "\n")
        os.replace(tmp, self._pointer_path())  # atomic on POSIX
        # the pointer now references this attempt's files: the staging
        # marker's job is done (vacuum protects referenced versions by
        # the manifest itself from here on)
        self._clear_staging(a.pv)
        # O(1) size probe, not a line count: between compactions the
        # log is bounded, so the rewrite below amortizes to O(retention)
        # per commit instead of history() re-reading O(n_commits)
        if os.path.getsize(f"{self.path}/{_LOG}") > self.log_compact_bytes:
            self._compact_log(version)

    def _compact_log(self, current_version: int) -> None:
        """Rewrite the commit log keeping the last ``retain_history + 1``
        version entries (the Delta checkpoint analogue). Entries beyond
        retention are unreadable anyway — their files are vacuumed."""
        entries: dict[int, str] = {}
        try:
            with open(f"{self.path}/{_LOG}") as f:
                for line in f:
                    if line.strip():
                        entries[int(json.loads(line)["version"])] = line
        except FileNotFoundError:
            return
        keep = sorted(v for v in entries if v <= current_version)
        keep = keep[-(self.retain_history + 1):]
        tmp = f"{self.path}/{_LOG}.tmp.{time.time_ns()}"
        with open(tmp, "w") as f:
            for v in keep:
                f.write(entries[v])
        os.replace(tmp, f"{self.path}/{_LOG}")

    @property
    def version(self) -> int:
        ptr = self._read_pointer()
        return -1 if ptr is None else int(ptr["version"])

    def last_batch_id(self) -> int | None:
        ptr = self._read_pointer()
        return None if ptr is None else ptr.get("batch_id")

    def _bucket_manifest(self) -> dict[int, int]:
        ptr = self._read_pointer()
        return {} if ptr is None else {int(b): v for b, v in ptr["buckets"].items()}

    def exists(self) -> bool:
        return self._read_pointer() is not None

    # -- read -------------------------------------------------------------

    def _current_pointer(self) -> dict:
        """:meth:`_read_pointer` of a table that must exist."""
        ptr = self._read_pointer()
        if ptr is None:
            raise FileNotFoundError(f"no snapshot at {self.path}")
        return ptr

    def schema(self):
        from pyspark.sql.types import StructType

        return StructType.fromJson(
            json.loads(self._current_pointer()["schema"])
        )

    def history(self) -> list[dict]:
        """Commit log, oldest first — the ``DESCRIBE HISTORY`` analogue.

        One entry per committed version (version, batch_id, schema,
        bucket manifest, guard, and ``maintenance``: the fold the
        commit ran — ``minor``, ``major``, ``files`` — or None). A
        version written twice because of a crash between log append
        and pointer flip keeps its LAST line.
        """
        entries: dict[int, dict] = {}
        try:
            with open(f"{self.path}/{_LOG}") as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        entries[int(e["version"])] = e
        except FileNotFoundError:
            return []
        current = self.version
        return [entries[v] for v in sorted(entries) if v <= current]

    def _load_runs(
        self, runs: list[dict], schema, batch: DataFrame | None = None
    ) -> list[DataFrame]:
        """One DataFrame per pending merge-on-read run (committed
        logical schema + the ``_mor_del`` mask), each tagged with its
        1-based ``_mor_seq`` commit order — the shared loader behind
        :meth:`_mor_resolve` and :meth:`_fold_runs`. An incoming
        ``batch`` already in run shape rides as the newest run. Paths
        come from the commit entry's recorded bucket list, never a
        directory LIST."""
        from pyspark.sql.types import BooleanType, StructField, StructType

        run_schema = StructType(
            list(schema.fields) + [StructField("_mor_del", BooleanType())]
        )
        out = []
        for i, run in enumerate(runs, start=1):
            rdf = self.spark.read.schema(run_schema).parquet(
                *[
                    f"{self.path}/v={run['v']}/bucket={b}"
                    for b in run["buckets"]
                ]
            )
            out.append(rdf.withColumn("_mor_seq", F.lit(i)))
        if batch is not None:
            out.append(batch.withColumn("_mor_seq", F.lit(len(runs) + 1)))
        return out

    def _mor_resolve(
        self, base: DataFrame, runs: list[dict], schema,
        batch: DataFrame | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution: fold the pointer's delta runs
        (``merge(mode="mor")`` appends — see that docstring) over the
        copy-on-write base. Each run holds <= 1 row per key plus a
        ``_mor_del`` flag (the keyed deletion-vector analogue); the
        winner per key is the highest-sequence row (run order = commit
        order, base = 0) via the same map-side-combinable
        ``compact_latest`` the CDC core uses — one hash aggregate,
        no window. Delete winners drop from the logical view. Run
        file paths come from the commit entry's recorded bucket list,
        never a directory LIST. ``batch`` rides as the newest run (see
        :meth:`_fold_base`)."""
        if not runs and batch is None:
            return base
        from changedatacapture_spark.operators.cdc import compact_latest

        parts = [
            base.withColumn("_mor_del", F.lit(False)).withColumn(
                "_mor_seq", F.lit(0)
            )
        ] + self._load_runs(runs, schema, batch)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        winners = compact_latest(u, self.key_cols, ["_mor_seq"])
        return winners.filter(~F.col("_mor_del")).drop(
            "_mor_seq", "_mor_del"
        )

    def _footer_fstats(self, version: int, buckets) -> dict[str, dict]:
        """Per-file ``{"__rows": n}`` stats for the just-written run
        files under ``v=<version>``, from the parquet footers —
        driver-side pyarrow reads, NO Spark job on the merge hot path.
        File count is bounded by the batch's bucket spread (≤
        ``n_buckets`` files per run write), so the cost is a handful
        of footer round-trips per micro-batch. This is what keeps
        :meth:`estimate_rows_where` (and the zero-job index-routing
        gate built on it) live on merge-on-read tables: without run
        row counts, one pending run blinds the whole planner bound —
        on exactly the high-churn configuration hot values are most
        likely (VERDICT r16 #1)."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for b in buckets:
            files = sorted(
                self._parquet_files(version, b) or [], key=lambda e: e.name
            )
            if files:
                out[str(b)] = {
                    e.name: {"__rows": pq.ParquetFile(e.path).metadata.num_rows}
                    for e in files
                }
        return out

    @staticmethod
    def _file_rows(fmap: dict | None) -> int | None:
        """Committed rows of one bucket from its per-file stats —
        ``None`` (unknown, not zero) when the bucket has no file stats
        or any file predates row counts."""
        if not fmap or any("__rows" not in z for z in fmap.values()):
            return None
        return sum(z["__rows"] for z in fmap.values())

    @staticmethod
    def _run_volume(runs: list[dict]) -> tuple[int, int | None]:
        """(files, rows) across pending runs — the scan volume MoR
        resolution adds to a read. Rows are ``None`` when any run
        predates run-file row stats (unknown, not zero); files fall
        back to one opaque unit per run bucket."""
        files = 0
        rows: int | None = 0
        for run in runs:
            rf = run.get("fstats")
            if rf is None:
                files += len(run.get("buckets") or [])
                rows = None
                continue
            for fmap in rf.values():
                files += len(fmap)
                for z in fmap.values():
                    rows = _plus(rows, z.get("__rows"))
        return files, rows

    def _plan(
        self,
        ptr: dict,
        bucket_ids: Sequence[int] | None = None,
        predicates: list[tuple] | None = None,
        bisect: Sequence[tuple[str, list]] = (),
    ) -> _ScanPlan:
        """The one bucket → file pruning pass under every read, made
        against an already-read pointer so that pruning, manifest,
        schema, runs and guard all come from the SAME snapshot — a
        commit landing between two pointer reads must never mix old
        stats with a new manifest.

        - ``bucket_ids`` restricts the base buckets and the MoR runs
          (both are routed by the same hash, so a run prunes by the
          same ids); ``None`` keeps every bucket.
        - ``predicates`` (conjunctive ``read_where`` tuples) are tested
          per value against each zone's range and bloom
          (:meth:`_zone_may_match`).
        - each ``(col, values)`` in ``bisect`` is tested by one sorted
          bisect per zone bound (:meth:`_zone_range_any`) — the
          large-value-set test, O(log |values|) per zone.

        A zone survives unless some test PROVABLY excludes it; absent
        stats (older commits, dropped bounds, stats disabled) always
        survive — pruning is an optimization, never a correctness
        gate. ``predicates=None`` plans at bucket granularity (every
        kept bucket reads as its directory); a list, even an empty
        one, plans at file granularity: the per-file zones
        (``fstats``) prune again inside each kept bucket, and a bucket
        committed without file stats falls back to its directory. The
        file list comes from the pointer, never a directory listing —
        the commit log IS the authoritative file inventory.

        The report is the same shape for every read: ``buckets_*``
        over the base manifest, ``files_*`` counted from file stats
        (one opaque unit for a bucket without them), ``rows_*`` summed
        from per-file row counts (``None`` when any contributing file
        predates them) and the kept runs' ``run_files``/``run_rows``.
        Pending runs are scanned in FULL by the resolve (delta-sized,
        no zone maps), so they are reported separately: base pruning
        and run amplification never blur into one number."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(ptr["schema"]))
        kinds = dict(self._stats_cols(schema))
        preds = predicates or []
        sorted_vals: list[tuple[str, list | None]] = []
        for col, vals in bisect:
            svals = None
            if col in kinds:
                try:
                    svals = sorted(
                        self._stat_value(v, kinds[col])
                        for v in vals
                        if v is not None
                    )
                except TypeError:
                    pass  # mixed-type probe list: never prune on it
            sorted_vals.append((col, svals))

        def may_match(zone: dict) -> bool:
            return self._zone_may_match(zone, preds, kinds) and all(
                self._zone_range_any(zone, c, sv) for c, sv in sorted_vals
            )

        wanted = None if bucket_ids is None else {int(b) for b in bucket_ids}
        stats = ptr.get("stats") or {}
        fstats = ptr.get("fstats") or {}
        kept: list[int] = []
        paths: list[str] = []
        files_total = files_kept = 0
        rows_total: int | None = 0
        rows_kept: int | None = 0
        for b, v in sorted((int(b), v) for b, v in ptr["buckets"].items()):
            fmap = fstats.get(str(b))
            # a bucket without file stats is one opaque scan unit
            n_files, n_rows = len(fmap or {}) or 1, self._file_rows(fmap)
            files_total += n_files
            rows_total = _plus(rows_total, n_rows)
            zone = stats.get(str(b))
            if (wanted is not None and b not in wanted) or (
                zone is not None and not may_match(zone)
            ):
                continue
            kept.append(b)
            d = f"{self.path}/v={v}/bucket={b}"
            if predicates is None or not fmap:
                paths.append(d)
                files_kept += n_files
                rows_kept = _plus(rows_kept, n_rows)
                continue
            for fname, fzone in sorted(fmap.items()):
                if may_match(fzone):
                    paths.append(f"{d}/{fname}")
                    files_kept += 1
                    rows_kept = _plus(rows_kept, fzone.get("__rows"))
        runs = []
        for run in ptr.get("runs") or []:
            if wanted is not None:
                run = {
                    **run,
                    "buckets": [b for b in run["buckets"] if b in wanted],
                }
                if not run["buckets"]:
                    continue
                if run.get("fstats") is not None:
                    run["fstats"] = {
                        b: m for b, m in run["fstats"].items()
                        if int(b) in wanted
                    }
            runs.append(run)
        run_files, run_rows = self._run_volume(runs)
        report = {
            "buckets_total": len(ptr["buckets"]),
            "buckets_kept": len(kept),
            "files_total": files_total,
            "files_kept": files_kept,
            "rows_total": rows_total,
            "rows_kept": rows_kept,
            "run_files": run_files,
            "run_rows": run_rows,
        }
        return _ScanPlan(ptr, schema, kept, paths, runs, report)

    def _scan(
        self,
        plan: _ScanPlan,
        predicates: Sequence[tuple] = (),
        include_tombstones: bool = False,
        semi: tuple[DataFrame, object] | None = None,
        batch: DataFrame | None = None,
    ) -> DataFrame:
        """The DataFrame of a :meth:`_plan`: its paths read under the
        committed schema (an empty frame when nothing survived), the
        kept MoR runs (and an incoming run-shaped ``batch``, for a
        fold) resolved over them, ``predicates`` re-applied as
        real filters (so results are exact whatever was pruned), an
        optional broadcast left-semi join ``(frame, on)``, and the
        guard-tombstone filter of an order-guarded table.

        Pruning the BASE before the resolve is sound: a pruned base row
        either loses resolution to a run row (never emitted anyway) or
        wins but cannot match the predicate (zone maps are
        conservative) — either way the pruned result equals the
        unpruned one."""
        if plan.paths:
            df = self.spark.read.schema(plan.schema).parquet(*plan.paths)
        else:  # every row deleted, all pruned, or MoR runs carry all
            df = self.spark.createDataFrame([], plan.schema)
        df = self._mor_resolve(df, plan.runs, plan.schema, batch)
        for p in predicates:
            df = self._apply_predicate(df, p)
        if semi is not None:
            df = df.join(F.broadcast(semi[0]), semi[1], "leftsemi")
        guard = plan.ptr.get("guard")
        if guard and not include_tombstones:
            df = df.filter(F.col(guard["op_col"]) != guard["delete_op"])
        return df

    def _local_frame(self, rows: list[tuple], schema) -> DataFrame:
        """Driver-side probe rows (keys or values) as a DataFrame under
        the committed column types. Big scalar lists go through Arrow:
        the index route ships up to ``_INDEX_ROUTE_MAX_KEYS`` keys and
        the semi-join read past ``SEMI_JOIN_IN_THRESHOLD`` values as
        one Arrow batch instead of pickled rows (~10× driver time);
        exotic types fall back to the row path. A row that cannot
        round-trip to the column types can never MATCH them either —
        the literal predicate it replaces would silently not match
        it — so it is dropped (driver-side type verifier, no job)
        instead of raising."""
        if all(isinstance(x, (int, float, str)) for r in rows for x in r):
            try:
                import pandas as pd

                return self.spark.createDataFrame(
                    pd.DataFrame(rows, columns=schema.fieldNames()), schema
                )
            except Exception:  # noqa: BLE001 - fall back to row path
                pass
        try:
            return self.spark.createDataFrame(rows, schema)
        except Exception:  # noqa: BLE001 - keep the matchable rows
            from pyspark.sql.types import _make_type_verifier

            verify = _make_type_verifier(schema, nullable=False)
            ok = []
            for r in rows:
                try:
                    verify(r)
                    ok.append(r)
                except Exception:  # noqa: BLE001 - unmatchable row
                    pass
            return self.spark.createDataFrame(ok, schema)

    def read(
        self, include_tombstones: bool = False, at_version: int | None = None
    ) -> DataFrame:
        """Table contents, assembled from the bucket manifest.

        Reads with the committed schema explicitly: buckets written
        before a schema evolution lack the newer columns in their
        files; the parquet reader backfills them as nulls (no
        ``mergeSchema`` footer sweep needed).

        On an order-guarded table (see ``merge(guard_cols=...)``)
        delete tombstones are physically retained; the logical view
        filters them out unless ``include_tombstones`` is set.

        ``at_version`` time-travels to a past commit. Only versions
        within ``retain_history`` commits of the current one still
        have their files on disk; older requests raise with the
        retention bound in the message.
        """
        if at_version is None:
            ptr = self._current_pointer()
        else:
            by_version = {e["version"]: e for e in self.history()}
            if at_version not in by_version:
                raise ValueError(
                    f"version {at_version} not in commit log "
                    f"(have {sorted(by_version)})"
                )
            ptr = by_version[at_version]
        plan = self._plan(ptr)
        missing = [
            p
            for p in plan.paths + [
                f"{self.path}/v={run['v']}/bucket={b}"
                for run in plan.runs
                for b in run["buckets"]
            ]
            if not os.path.isdir(p)
        ]
        if missing:
            if at_version is None:
                # the CURRENT manifest referencing absent files is
                # corruption (external deletion / partial restore), not
                # a retention miss — don't misattribute it
                raise RuntimeError(
                    f"snapshot at {self.path} is corrupted: current "
                    f"manifest references missing bucket dirs {missing[:3]}"
                )
            raise ValueError(
                f"version {at_version} is beyond retain_history="
                f"{self.retain_history}; its files were vacuumed: {missing[:3]}"
            )
        return self._scan(plan, include_tombstones=include_tombstones)

    def read_keys(
        self, values: list, include_tombstones: bool = False
    ) -> DataFrame:
        """Point-lookup path: rows for the given key values, reading
        ONLY the buckets their hashes route to.

        At 100 TB, "fetch these 50 keys" must not scan the table:
        hash-routing means each key lives in exactly one bucket, so the
        scan is O(|touched buckets|) directories regardless of table
        size. The key→bucket mapping is computed with the engine's own
        hash on a |values|-row local DataFrame (bounded driver job), so
        it can never drift from the write-path routing.

        ``values``: scalars for a single-column key, tuples for a
        composite key. Returns the matching rows (possibly fewer than
        ``values`` — absent keys simply don't match).
        """
        return self._read_keys(
            self._current_pointer(), values, include_tombstones
        )

    def _read_keys(
        self, ptr: dict, values: list, include_tombstones: bool
    ) -> DataFrame:
        """:meth:`read_keys` against an already-read pointer: keys are
        routed under THAT pointer's bucket modulus and read from THAT
        pointer's manifest. A long-lived reader straddling a rebucket
        would otherwise probe buckets the keys no longer live in
        (silently missing rows, the read-path twin of the stale-writer
        hazard), and routing under one pointer while reading another
        pairs old-modulus ids with the new manifest."""
        from pyspark.sql.types import StructType

        self._adopt_committed_layout(ptr)
        n_buckets = int(ptr.get("n_buckets") or self.n_buckets)
        # key_cols order, NOT table-schema order: callers pass composite
        # keys as tuples following key_cols, so a schema-ordered struct
        # would bind values to the wrong columns whenever the two orders
        # differ — wrong bucket routing and a silently empty semi-join
        schema = StructType.fromJson(json.loads(ptr["schema"]))
        key_schema = StructType([schema[k] for k in self.key_cols])
        rows = [v if isinstance(v, tuple) else (v,) for v in values]
        keydf = None
        wanted: list[int] = []
        if rows:
            keydf = self._local_frame(rows, key_schema)
            wanted = [
                r.bucket
                for r in keydf.select(
                    self._bucket_col(n_buckets).alias("bucket")
                )
                .distinct()
                .collect()
            ]
        # an empty probe is still a completed scan: its zeroed report
        # keeps callers on the instance-report contract (and the index
        # route resolving to an empty posting set) from reading a stale
        # previous scan as this one's
        plan = self._plan(ptr, bucket_ids=wanted)
        self._record_scan(plan.report)
        return self._scan(
            plan,
            include_tombstones=include_tombstones,
            semi=None if keydf is None else (keydf, self.key_cols),
        )

    def read_buckets(
        self, bucket_ids: Sequence[int], include_tombstones: bool = False
    ) -> DataFrame:
        """Bucket-subset read: current rows of ONLY the listed hash
        buckets (base files plus MoR runs pruned to the same ids).

        This is the primitive under :class:`~..streaming.pipeline.
        JoinView`'s delta-bounded recompute and the index's
        ``lookup_df``: a caller that derived the touched bucket ids from
        bounded driver metadata (the distinct ``_bucket_col`` values
        of a delta's keys — at most ``n_buckets`` longs) scans
        O(|bucket_ids|) directories regardless of table size. Bucket
        ids outside the live manifest are simply absent from the
        result. Records ``self.last_scan_report`` so plan tests can
        pin ``buckets_kept < buckets_total`` for a delta touching few
        buckets.
        """
        plan = self._plan(self._current_pointer(), bucket_ids=bucket_ids)
        self._record_scan(plan.report)
        return self._scan(plan, include_tombstones=include_tombstones)

    # -- write ------------------------------------------------------------

    # -- zone maps (manifest-level data skipping) --------------------------

    @staticmethod
    def _stats_cols(schema) -> list[tuple[str, str]]:
        """Eligible ``(column, kind)`` pairs for zone-map stats: scalar
        orderable types only, capped at ``_STATS_MAX_COLS`` so manifest
        size never scales with schema width. Kinds: int/float/str/bool
        are stored natively; ts as epoch micros; date as epoch days —
        all JSON-safe and totally ordered."""
        from pyspark.sql import types as T

        out: list[tuple[str, str]] = []
        for f in schema.fields:
            if len(out) >= _STATS_MAX_COLS:
                break
            if f.name == "__rows":
                # reserved zone-dict key (per-file row count); a column
                # with this name gets no stats — never prunes, always
                # correct — instead of corrupting the counter
                continue
            dt = f.dataType
            if isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                out.append((f.name, "int"))
            elif isinstance(dt, (T.FloatType, T.DoubleType)):
                out.append((f.name, "float"))
            elif isinstance(dt, T.StringType):
                out.append((f.name, "str"))
            elif isinstance(dt, T.BooleanType):
                out.append((f.name, "bool"))
            elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
                out.append((f.name, "ts"))
            elif isinstance(dt, T.DateType):
                out.append((f.name, "date"))
        return out

    @staticmethod
    def _stat_expr(name: str, kind: str):
        col = F.col(name)
        if kind == "ts":
            return F.unix_micros(col.cast("timestamp"))
        if kind == "date":
            import datetime

            return F.datediff(col, F.lit(datetime.date(1970, 1, 1)))
        return col

    @staticmethod
    def _stat_value(value, kind: str):
        """Convert a predicate literal to the stored stat domain."""
        import datetime

        if kind == "ts":
            if isinstance(value, datetime.datetime):
                if value.tzinfo is None:  # session TZ is UTC by contract
                    value = value.replace(tzinfo=datetime.timezone.utc)
                # exact integer micros — float .timestamp() loses sub-us
                # precision near current epochs and int() truncates, which
                # could shift a pruning bound by 1us and drop a live bucket
                epoch = datetime.datetime(
                    1970, 1, 1, tzinfo=datetime.timezone.utc
                )
                return (value - epoch) // datetime.timedelta(microseconds=1)
            return int(value)
        if kind == "date":
            if isinstance(value, datetime.date):
                return (value - datetime.date(1970, 1, 1)).days
            return int(value)
        return value

    def _collect_stats(
        self, version: int, written: list[int], schema_ddl: str
    ) -> tuple[dict[str, dict], dict[str, dict]]:
        """``(bucket_stats, file_stats)`` for the buckets written at
        ``version``.

        One aggregation job over the just-written files grouped by
        ``input_file_name()`` — input bounded by the batch (merges
        rewrite touched buckets only), output bounded by the number of
        files written this version. Bucket bounds are merged
        driver-side from the file bounds, so both levels come from the
        SAME scan. The read-back (rather than re-aggregating the input
        plan) guarantees the stats describe exactly the bytes on disk.

        File-level stats are the within-bucket pruning layer: with
        ``cluster_cols`` + ``max_records_per_file``, each file covers a
        contiguous cluster-key range, so a selective predicate skips
        most files of a surviving bucket — the step that matters when
        one bucket is 1/n_buckets of 100 TB (Delta's per-file
        ``stats`` in the transaction log; the reference always scans
        whole tables, cdc_stream.py:664-689)."""
        from pyspark.sql.types import StructType

        if not self.collect_stats or not written:
            return {}, {}
        schema = StructType.fromJson(json.loads(schema_ddl))
        cols = self._stats_cols(schema)
        if not cols:
            return {}, {}
        # bucket id from the physical path, not re-hashed keys: the
        # stat must describe the directory the file actually sits in
        df = (
            self.spark.read.schema(schema)
            .parquet(*[f"{self.path}/v={version}/bucket={b}" for b in written])
            .withColumn(
                "_file", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
            )
            .withColumn(
                "_bucket",
                F.regexp_extract(
                    F.input_file_name(), r"bucket=(\d+)", 1
                ).cast("int"),
            )
        )
        # bloom columns: int/str kinds only — those are the kinds whose
        # Spark CAST(col AS STRING) rendering the driver-side probe
        # (str(value)) reproduces exactly; position arrays are computed
        # ONCE per row, then 16 bit_or word aggregates fold them
        # map-side in the same job as the zone bounds
        kinds_by_name = dict(cols)
        blooms = [
            n for n in self.bloom_cols
            if kinds_by_name.get(n) in ("int", "str")
        ]
        for name in blooms:
            pos = F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{i}:"),
                                    F.col(name).cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _BLOOM_BITS
                    for i in range(_BLOOM_K)
                ]
            )
            df = df.withColumn(f"_bp__{name}", pos)
        # per-file row count rides the same aggregate: it feeds the
        # scan report's rows-kept column (file-packing regressions are
        # measured, not inferred from file counts) and the zero-job
        # posting-count estimate behind index routing. The "__" prefix
        # keeps it out of the column-stat namespace (real columns come
        # from the schema; `_zone_may_match` only consults predicate
        # column names, so the extra key is inert there).
        aggs = [F.count(F.lit(1)).alias("n__rows")]
        for name, kind in cols:
            e = self._stat_expr(name, kind)
            aggs.append(F.min(e).alias(f"mn__{name}"))
            aggs.append(F.max(e).alias(f"mx__{name}"))
            # non-null count disambiguates "file has no values for this
            # column" (contributes nothing to the bucket bound) from
            # "file has values but the bound was dropped" (unbounded)
            aggs.append(F.count(F.col(name)).alias(f"ct__{name}"))
        for name in blooms:
            for w in range(_BLOOM_WORDS):
                word = " | ".join(
                    f"CASE WHEN `_bp__{name}`[{i}] DIV 64 = {w} "
                    f"THEN shiftleft(CAST(1 AS BIGINT), "
                    f"CAST(`_bp__{name}`[{i}] % 64 AS INT)) "
                    f"ELSE CAST(0 AS BIGINT) END"
                    for i in range(_BLOOM_K)
                )
                aggs.append(
                    F.expr(f"bit_or({word})").alias(f"bl__{name}__{w}")
                )
        fstats: dict[str, dict] = {}
        merged: dict[int, dict] = {}
        merged_bloom: dict[int, dict[str, list[int]]] = {}
        # bounded driver action: ≤ files-written-this-version rows of
        # (3*|cols| + 16*|blooms|) scalars
        for r in df.groupBy("_bucket", "_file").agg(*aggs).collect():
            b, fname = int(r["_bucket"]), r["_file"]
            d: dict = {}
            for name, kind in cols:
                if r[f"ct__{name}"] == 0:
                    continue  # all-null in this file: no rows can match
                mn, mx = r[f"mn__{name}"], r[f"mx__{name}"]
                if kind == "str":
                    # truncated min stays a valid lower bound; a
                    # truncated max does not stay an upper bound → drop
                    mn = None if mn is None else mn[:_STATS_MAX_STR]
                    mx = None if (mx is None or len(mx) > _STATS_MAX_STR) else mx
                if kind == "float":
                    # JSON has no NaN; NaN sorts above all floats, so a
                    # NaN max means "unbounded above" — drop the bound
                    if mn is not None and mn != mn:
                        mn = None
                    if mx is not None and mx != mx:
                        mx = None
                d[name] = [mn, mx]
            fbl: dict = {}
            for name in blooms:
                words = [
                    int(r[f"bl__{name}__{w}"] or 0)
                    for w in range(_BLOOM_WORDS)
                ]
                fbl[f"bloom__{name}"] = words
                acc_b = merged_bloom.setdefault(b, {})
                if name in acc_b:
                    acc_b[name] = [
                        a | w for a, w in zip(acc_b[name], words)
                    ]
                else:
                    acc_b[name] = words
            fstats.setdefault(str(b), {})[fname] = {
                **d, **fbl, "__rows": int(r["n__rows"]),
            }
            acc = merged.setdefault(b, {})
            for name, (fmn, fmx) in d.items():
                if name not in acc:
                    acc[name] = [fmn, fmx]
                    continue
                amn, amx = acc[name]
                # a None file bound poisons the merged bound: one
                # unbounded file makes the whole bucket unbounded
                acc[name][0] = (
                    None if (amn is None or fmn is None) else min(amn, fmn)
                )
                acc[name][1] = (
                    None if (amx is None or fmx is None) else max(amx, fmx)
                )
        out = {
            str(b): {
                n: v
                for n, v in acc.items()
                if not (v[0] is None and v[1] is None)
            }
            for b, acc in merged.items()
        }
        # bucket-level blooms: the wordwise OR of ALL the bucket's file
        # blooms (every file written this version carries one for each
        # bloom column, so no absent-file poisoning is possible within
        # a version; carry-forward copies whole dicts, keeping the
        # invariant across commits)
        for b, accb in merged_bloom.items():
            for name, words in accb.items():
                out.setdefault(str(b), {})[f"bloom__{name}"] = words
        # bucket-level row counts (sum of the bucket's file counts):
        # bounded-metadata answers for "how big is this bucket" without
        # walking parquet footers
        for b, fmap in fstats.items():
            out.setdefault(b, {})["__rows"] = sum(
                z["__rows"] for z in fmap.values()
            )
        return out, fstats

    def _zone_may_match(
        self, zone: dict, predicates: list[tuple], kinds: dict[str, str]
    ) -> bool:
        for p in predicates:
            col, op = p[0], p[1]
            if op in ("=", "in"):
                # IN-list: the zone survives if ANY listed value could
                # be present; an empty list matches nothing anywhere
                if not any(
                    self._value_may_match(zone, col, v, kinds)
                    for v in ([p[2]] if op == "=" else p[2])
                ):
                    return False
                continue
            if col not in zone or col not in kinds:
                continue  # no stat for this column — cannot exclude
            mn, mx = zone[col]
            if op == "between":
                lo = self._stat_value(p[2], kinds[col])
                hi = self._stat_value(p[3], kinds[col])
                if (mx is not None and mx < lo) or (mn is not None and mn > hi):
                    return False
                continue
            v = self._stat_value(p[2], kinds[col])
            if op == "<" and mn is not None and mn >= v:
                return False
            if op == "<=" and mn is not None and mn > v:
                return False
            if op == ">" and mx is not None and mx <= v:
                return False
            if op == ">=" and mx is not None and mx < v:
                return False
        return True

    def _value_may_match(
        self, zone: dict, col: str, v, kinds: dict[str, str]
    ) -> bool:
        """Equality test of one literal against a zone. Bloom
        membership runs independently of the range bounds (a zone may
        carry a bloom while its [min, max] was dropped, e.g. over-long
        string maxima): an unset hash position means the value
        provably never entered this zone's rows — no false negatives;
        a false positive just scans."""
        kind = kinds.get(col)
        bw = zone.get(f"bloom__{col}")
        if kind in ("int", "str") and bw is not None:
            if not _bloom_contains(bw, v, kind):
                return False
        if col not in zone or kind is None:
            return True  # no stat for this column — cannot exclude
        mn, mx = zone[col]
        sv = self._stat_value(v, kind)
        return not (
            (mn is not None and mn > sv) or (mx is not None and mx < sv)
        )

    def estimate_rows_where(self, predicates: list[tuple]) -> int | None:
        """Driver-only UPPER BOUND on the rows a
        :meth:`read_where` scan for ``predicates`` would schedule:
        the ``rows_kept + run_rows`` of the very :meth:`_plan` that
        read would make, so the estimate and the scan cannot disagree.
        No Spark job runs — one pointer read plus pure-Python stat
        tests — so planners can reject a route before paying for it
        (the index-routing gate below). Returns
        ``None`` when any surviving file predates row stats (older
        commits, stats-dropping merges): unknown, not zero.

        Pending merge-on-read runs count IN FULL: the read path
        resolves every run file regardless of pruning (runs are
        delta-sized and carry no zone maps), so their committed
        ``__rows`` (footer-read at run-write time, ``_footer_fstats``)
        are exactly the extra volume the scan schedules. A run written
        before run stats existed makes the estimate ``None`` — the
        high-churn MoR table, where hot values are most likely, keeps
        its zero-job planner gate (VERDICT r16 #1).

        IN predicates past ``_ESTIMATE_IN_BISECT`` values trade the
        per-value zone/bloom tests for one sorted-values bisect per
        zone bound (``_zone_range_any``) — a LOOSER test, which only
        raises the estimate, so the upper-bound contract holds while
        the estimate itself stays sub-millisecond instead of linear
        in the probe set (the cost class tools/perf_round17.py
        measured at 86 s for 100k values on the read path)."""
        small: list[tuple] = []
        bisected: list[tuple[str, list]] = []
        for p in predicates:
            if p[1] == "in" and len(p[2]) > self._ESTIMATE_IN_BISECT:
                bisected.append((p[0], list(p[2])))
            else:
                small.append(p)
        rep = self._plan(
            self._current_pointer(), predicates=small, bisect=bisected
        ).report
        return _plus(rep["rows_kept"], rep["run_rows"])

    #: IN-list size past which :meth:`estimate_rows_where` switches
    #: from per-value zone/bloom tests to the sorted-bisect range test
    #: — keeps the "driver-only, no job" promise sub-millisecond
    #: instead of linear in the probe set
    _ESTIMATE_IN_BISECT = 4096

    #: posting-collect ceiling for index-routed ``read_where``: past
    #: this many matching postings the probed value set is too hot for
    #: a driver collect and the stats path (or an explicit
    #: ``lookup_df`` join) is the right plan anyway.
    _INDEX_ROUTE_MAX_KEYS = 100_000

    def attach_index(self, index) -> None:
        """Register a :class:`~.index.SecondaryIndex` over one of this
        table's payload columns so :meth:`read_where` can route
        equality/IN predicates on that column through the posting
        probe — key-routed bucket reads instead of stats pruning —
        whenever the index is exactly at the table's current version.
        A stale or missing index silently falls back to the stats
        path; results are identical either way (the predicates
        re-apply on whatever the route returns).

        Rejects an index built over a DIFFERENT table (same-version
        coincidences would otherwise pass the freshness gate and
        route through foreign postings — silently incomplete results,
        since the predicate re-apply can only subtract rows) and an
        index column this table's committed schema lacks."""
        it = getattr(index, "table", None)
        if it is not self and getattr(it, "path", None) != self.path:
            raise ValueError(
                f"index over {getattr(it, 'path', it)!r} cannot attach "
                f"to {self.path!r}: postings map a different table's "
                "keys, and the freshness gate compares version NUMBERS "
                "only — routing would silently drop rows"
            )
        ptr = self._read_pointer()
        if ptr is not None:
            from pyspark.sql.types import StructType

            names = StructType.fromJson(
                json.loads(ptr["schema"])
            ).fieldNames()
            if index.col not in names:
                raise ValueError(
                    f"index column {index.col!r} is not a column of "
                    f"{self.path!r} (schema: {names})"
                )
        self._indexes[index.col] = index

    def _read_via_index(
        self, ptr: dict, predicates: list[tuple], include_tombstones: bool
    ) -> DataFrame | None:
        """Index-routed plan for :meth:`read_where`, or ``None`` when
        no attached index applies: first equality/IN predicate on an
        indexed column whose index is at the version of ``ptr`` — the
        pointer the whole read plans from (behind-version postings may
        miss fresh rows — correctness forbids routing) resolves to
        posting keys (bloom-pruned posting scan, driver-bounded by
        ``_INDEX_ROUTE_MAX_KEYS``), then the keys' buckets are read
        from that same pointer and ALL predicates re-apply —
        bit-identical to the stats path. A commit landing during the
        posting collect therefore never mixes into the result: reading
        the new version for only the old version's posting keys would
        return a state no commit ever held.

        HOT values bail BEFORE any job runs: the posting table's own
        manifest (per-file row counts + zone/bloom stats) upper-bounds
        how many postings the probed values can match, driver-side
        (:meth:`estimate_rows_where` on the posting store). An
        estimate past ``_INDEX_ROUTE_MAX_KEYS`` means the collect
        would overflow anyway, so the route declines with ZERO
        posting-scan jobs instead of paying the probe and a 100k-row
        collect just to discover the overflow. The post-scan count
        check stays as the belt for estimates the stats cannot bound
        (pre-row-stats commits, pending posting runs)."""
        if include_tombstones:
            # tombstones are never indexed; the stats path owns them
            return None
        for p in predicates:
            col, op = p[0], p[1]
            idx = self._indexes.get(col)
            if idx is None or op not in ("=", "in"):
                continue
            if idx.indexed_version != int(ptr["version"]):
                continue
            values = [
                v for v in ([p[2]] if op == "=" else p[2]) if v is not None
            ]
            if not values:
                continue
            cap = self._INDEX_ROUTE_MAX_KEYS
            est = idx.postings.estimate_rows_where(
                [(idx.col, "in", values)]
            )
            if est is not None and est > cap:
                return None  # provably hot: stats path, zero jobs
            keys = [
                tuple(r) if len(self.key_cols) > 1 else r[0]
                for r in idx.lookup_keys_in(values)
                .select(*self.key_cols)
                .distinct()
                .limit(cap + 1)
                .collect()
            ]
            if len(keys) > cap:
                return None  # too hot: stats path
            df = self._read_keys(ptr, keys, include_tombstones=False)
            for q in predicates:
                df = self._apply_predicate(df, q)
            return df
        return None

    @staticmethod
    def _apply_predicate(df: DataFrame, p: tuple) -> DataFrame:
        col, op = p[0], p[1]
        c = F.col(col)
        if op == "between":
            return df.filter((c >= F.lit(p[2])) & (c <= F.lit(p[3])))
        if op == "in":
            return df.filter(c.isin(list(p[2])))
        ops = {
            "=": c.__eq__,
            "<": c.__lt__,
            "<=": c.__le__,
            ">": c.__gt__,
            ">=": c.__ge__,
        }
        return df.filter(ops[op](F.lit(p[2])))

    def read_where(
        self, predicates: list[tuple], include_tombstones: bool = False
    ) -> DataFrame:
        """Filtered read with manifest-level data skipping.

        ``predicates``: conjunctive list of ``(col, op, value)`` with
        ``op`` in ``= < <= > >=``, ``(col, "between", lo, hi)``, or
        ``(col, "in", [v, ...])`` (zones survive if ANY listed value
        could be present — per-value range + bloom tests).
        Buckets whose zone map cannot contain a match are never
        scheduled — the scan's task count shrinks BEFORE Spark sees a
        file, one level above parquet row-group skipping (which the
        ``cluster_cols`` write-time sort already feeds). The same
        predicates are re-applied as real filters on the surviving
        buckets, so results are exact regardless of pruning. One
        pointer read governs the whole call — pruning, manifest,
        schema, guard, the index route and the large-IN hand-off —
        never a second read that a concurrent commit could split.

        Within each surviving bucket, per-file zone maps (``fstats``)
        prune again at file granularity (see :meth:`_plan`). Each call
        records ``self.last_scan_report`` (buckets/files/rows kept vs
        total, plus the pending-run volume MoR resolution adds) — the
        pruning ratio IS the result at 100 TB.

        With an :meth:`attach_index`-registered secondary index on an
        equality/IN predicate column, the read routes through the
        posting probe instead (key-routed buckets; identical results)
        whenever the index is at the current version.

        An IN predicate past ``SEMI_JOIN_IN_THRESHOLD`` values routes
        to :meth:`read_in_values` (identical IN semantics, broadcast
        semi-join plan): past that size BOTH the literal predicate and
        the per-value zone tests — here and in the index route's
        posting estimate — cost driver time linear in the value set
        (measured 84 s at 100k values; tools/perf_round17.py). The
        largest such predicate becomes the join; any remaining
        predicates ride along as ``extra_preds``."""
        ptr = self._current_pointer()
        big = [
            (len(p[2]), i)
            for i, p in enumerate(predicates)
            if p[1] == "in" and len(p[2]) > SEMI_JOIN_IN_THRESHOLD
        ]
        if big:
            _, i = max(big)
            p = predicates[i]
            return self._read_in_values(
                ptr,
                p[0],
                list(p[2]),
                [q for j, q in enumerate(predicates) if j != i],
                include_tombstones,
            )
        routed = self._read_via_index(ptr, predicates, include_tombstones)
        if routed is not None:
            return routed
        plan = self._plan(ptr, predicates=predicates)
        self._record_scan(plan.report)
        return self._scan(plan, predicates, include_tombstones)

    @staticmethod
    def _zone_range_any(zone: dict, col: str, svals: list | None) -> bool:
        """True unless the zone's ``[min, max]`` for ``col`` provably
        contains NONE of the SORTED stat-domain values — the O(log n)
        replacement for the per-value IN-list zone test when the value
        set is large (one bisect per zone instead of |values| range +
        bloom probes per zone). Conservative: a missing bound or
        missing stat always survives."""
        if svals is None or col not in zone:
            return True
        import bisect

        mn, mx = zone[col]
        i = 0 if mn is None else bisect.bisect_left(svals, mn)
        if i >= len(svals):
            return False
        return mx is None or svals[i] <= mx

    def read_in_values(
        self,
        col: str,
        values: list,
        extra_preds: list | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Large-IN read: rows whose ``col`` is in ``values``, planned
        for value sets too big to render as a literal IN predicate
        (VERDICT r16 #2 — a 640k-literal list makes the driver build a
        640k-element expression and run |values| range/bloom tests per
        zone; both costs grow linearly with the probe set).

        Plan: bucket/file pruning via (a) the ordinary zone tests for
        ``extra_preds`` and (b) ONE sorted-values bisect per zone
        bound on ``col`` (O(log |values|), no per-value bloom probes),
        then a single **broadcast semi-join** against a |values|-row
        values DataFrame — the ``lookup_join`` shape
        (``streaming/index.py``), so the physical plan carries a
        broadcast hash join, never a literal IN. Exactly IN semantics:
        values are deduplicated (semi-join emits each base row at most
        once regardless), NULLs never match on either side, and
        ``extra_preds`` re-apply as real filters. Reports to
        ``self.last_scan_report`` with ``semi_join: True``."""
        return self._read_in_values(
            self._current_pointer(), col, values, extra_preds,
            include_tombstones,
        )

    def _read_in_values(
        self,
        ptr: dict,
        col: str,
        values: list,
        extra_preds: list | None,
        include_tombstones: bool,
    ) -> DataFrame:
        """:meth:`read_in_values` against an already-read pointer."""
        from pyspark.sql.types import StructType

        vals = [v for v in dict.fromkeys(values) if v is not None]
        extra = list(extra_preds or [])
        # an empty value set matches nothing: plan zero buckets
        plan = self._plan(
            ptr,
            bucket_ids=None if vals else [],
            predicates=extra,
            bisect=[(col, vals)],
        )
        self._record_scan({**plan.report, "semi_join": True})
        vschema = StructType([plan.schema[col]])
        return self._scan(
            plan,
            extra,
            include_tombstones,
            semi=(self._local_frame([(v,) for v in vals], vschema), col)
            if vals
            else None,
        )

    def _bucket_col(self, n_buckets: int | None = None):
        return F.pmod(
            F.hash(*[F.col(c) for c in self.key_cols]),
            F.lit(n_buckets or self.n_buckets),
        )

    def _written_buckets(self, version: int) -> list[int]:
        try:
            return [
                int(d.split("=")[1])
                for d in os.listdir(f"{self.path}/v={version}")
                if d.startswith("bucket=")
            ]
        except FileNotFoundError:
            return []

    def allocate_data_version(self) -> int:
        """Public :meth:`_new_data_version`: allocate a writer-unique
        staged physical version id (staging marker dropped, no files
        yet). This is the external-writer staging API — a custom write
        path (or a crash-simulation harness) stages files under
        ``v=<returned id>`` exactly like the built-in writers do, with
        the same vacuum/TOCTOU protections; an allocation that never
        commits is reclaimed as an orphan once its marker expires (or
        via :meth:`vacuum_orphans`)."""
        return self._new_data_version()

    def committed_rows(self) -> dict:
        """Committed row counts from the manifest — driver metadata
        only, no Spark job: ``{"total", "buckets": {bucket: rows},
        "run_rows"}``. A bucket whose files predate per-file row stats
        (older commits, stats-dropping merges) reports ``None``
        (unknown, not zero), and ``total`` is ``None`` whenever any
        bucket or pending run is unknown. Counts are PHYSICAL (scan
        volume): pending merge-on-read runs add their delta rows even
        where they supersede base rows, matching what a full read
        schedules — the planning number, not the logical live-row
        count. The public surface for "how big is this table"
        (registered queries and harnesses previously read the raw
        pointer for this)."""
        ptr = self._current_pointer()
        fstats_all = ptr.get("fstats") or {}
        buckets = {
            int(b): self._file_rows(fstats_all.get(str(b)))
            for b in ptr["buckets"]
        }
        _, run_rows = self._run_volume(ptr.get("runs") or [])
        total: int | None = run_rows
        for n in buckets.values():
            total = _plus(total, n)
        return {"total": total, "buckets": buckets, "run_rows": run_rows}

    def _new_data_version(self) -> int:
        """Writer-unique PHYSICAL directory id for one write attempt.

        Every write attempt stages its files under its own ``v=<id>``
        directory — never a path any other writer (committed or
        in-flight) could touch. This is what makes a true commit race
        safe: under the old shared ``v=base+1`` scheme, a loser whose
        dynamic-partition-overwrite job was still in flight when the
        winner committed would physically REPLACE the winner's
        committed bucket files, and the loser's subsequent replan would
        then read its own stale content as if it were the winner's —
        silently dropping the winner's batch. With unique staging dirs
        the clobber is impossible by construction; losers replan from
        files only the winner ever wrote. Logical pointer versions stay
        sequential (history/time-travel are unchanged); the bucket
        manifest maps bucket → physical id.

        Time-ordered high bits keep directory listings debuggable; the
        salt makes same-nanosecond cross-process collisions (already
        implausible) negligible.

        A STAGING MARKER (``_staging/<id>``) is dropped at allocation
        time, before any file lands under ``v=<id>``: :meth:`_vacuum`
        never collects an uncommitted dir whose marker stands (and is
        younger than ``staging_ttl_s``), which closes the
        check-then-flip TOCTOU where a racing winner's vacuum could
        delete a slow writer's freshly written files between the
        commit guard's existence sweep and the pointer flip — the
        grace window alone only narrowed that race. :meth:`_commit`
        clears the marker once the pointer references the files; a
        crashed writer's marker expires after ``staging_ttl_s`` and
        grace-window vacuuming resumes (the residual TOCTOU now
        requires a single write job outliving the TTL, and the commit
        guard still fails it loudly rather than committing corruption).
        """
        pv = (time.time_ns() << 10) | secrets.randbits(10)
        os.makedirs(f"{self.path}/_staging", exist_ok=True)
        with open(f"{self.path}/_staging/{pv}", "w"):
            pass
        return pv

    def _clear_staging(self, data_version: int | None) -> None:
        if data_version is None:
            return
        try:
            os.remove(f"{self.path}/_staging/{data_version}")
        except OSError:
            pass

    def _write_buckets(
        self,
        df: DataFrame,
        version: int,
        dynamic: bool = False,
        expected_base: int | None = None,
        records_per_file: int | None = None,
        repartition: bool = True,
        range_cluster: bool = False,
    ) -> list[int]:
        """Write ``df`` (bucket column included) partitioned by bucket
        under ``v=<version>`` — ``version`` being this attempt's
        writer-unique physical id from :meth:`_new_data_version`;
        returns the buckets actually written (empty buckets produce no
        directory).

        With ``cluster_cols``, rows sort within each write task by
        (bucket, cluster exprs) — a local sort, no extra shuffle — so
        every parquet file's row groups carry tight, ordered min/max
        stats on the cluster key and filtered reads skip row groups.

        Pre-write concurrent-writer check (``expected_base``): if the
        pointer already moved past the version this write was planned
        against, another writer committed while we planned — abort
        before paying for the write job (the plan would be replayed
        against a stale manifest anyway). Unlike the old shared-dir
        scheme this is purely an economy measure: with unique staging
        dirs, proceeding could never clobber the winner's files; the
        commit-time CAS still catches races that land mid-write.

        ``dynamic`` switches to dynamic partition overwrite — now
        equivalent to a static write into the fresh unique dir, kept
        so the merge hot path's intent (replace only produced
        partitions) stays explicit.
        """
        if expected_base is not None:
            cur = self._read_pointer()
            cur_v = -1 if cur is None else int(cur["version"])
            if cur_v != expected_base:
                raise ConcurrentWriteError(
                    f"concurrent writer detected on {self.path}: write "
                    f"planned against version {expected_base} but the "
                    f"pointer moved to {cur_v}; aborting before the "
                    f"write job runs — re-read and retry the batch"
                )
        return self._do_write_buckets(
            df, version, dynamic, records_per_file,
            repartition=repartition, range_cluster=range_cluster,
        )

    def _do_write_buckets(
        self,
        df: DataFrame,
        version: int,
        dynamic: bool = False,
        records_per_file: int | None = None,
        repartition: bool = True,
        range_cluster: bool = False,
    ) -> list[int]:
        """The physical write behind :meth:`_write_buckets`, after the
        concurrent-writer economy check (split out so race tests can
        interleave a winner between the check and the job).
        ``records_per_file`` overrides the table's
        ``max_records_per_file`` for THIS write — maintenance rewrites
        use it to bin-pack toward a target file size. With neither an
        override nor a table-level row cap, ``target_file_bytes``
        derives one from the committed manifest's measured bytes/row
        (see the constructor)."""
        # fixed partition count = bucket count: tasks align 1:1 with
        # output bucket directories, so each task streams one file.
        # (Measured: letting AQE coalesce this shuffle for small
        # batches is NOT a win — fewer tasks each write many files
        # sequentially, and micro-batch timings are JIT/host-noise
        # dominated anyway.)
        # repartition=False streams the input partitioning straight to
        # the partitioned write — NO exchange. partitionBy is correct
        # whatever the task layout (each task opens one file per bucket
        # value it holds), so callers whose input is already
        # bucket-local (the map-only rebucket split) trade "one file
        # per bucket" for "no shuffle of the whole table".
        # range_cluster (maintenance rewrites of CLUSTERED tables only):
        # the fixed bucket-count shuffle caps write parallelism at
        # n_buckets, which serializes a many-files-per-bucket rewrite —
        # the zorder demo writes ~1.5k cluster-sliced files through 8
        # tasks. Range-partitioning on (bucket, cluster exprs) keeps
        # every task's slice contiguous on the curve (per-file zone
        # maps stay tight; partitionBy still routes rows to their
        # bucket dirs) while letting the write use the full cluster.
        # Costs one sampling pass over the input, so the merge hot
        # path keeps the plain bucket-aligned shuffle.
        rpf = (
            records_per_file
            if records_per_file is not None
            else self.max_records_per_file
        )
        if rpf is None:
            rpf = self._derived_records_per_file()
        n_parts = max(
            self.n_buckets, self.spark.sparkContext.defaultParallelism
        )
        # the range path only pays when the per-file row cap puts the
        # write in the deliberately-small-file regime (zone-map tier:
        # many curve-sliced files per bucket, where one task per
        # bucket serializes the write). An uncapped rewrite — or a
        # size-targeted pack whose derived cap is file-count-reducing
        # (compact(target_file_bytes=huge) must still emit ONE file
        # per bucket) — keeps the bucket-aligned shuffle, where the
        # sampling pass would be pure overhead and range slices would
        # add boundary files.
        if repartition and range_cluster and self.cluster_cols \
                and n_parts > self.n_buckets and rpf \
                and rpf <= _RANGE_CLUSTER_MAX_RPF:
            out = df.repartitionByRange(
                n_parts, F.col("bucket"),
                *[F.expr(c) for c in self.cluster_cols],
            )
        elif repartition:
            out = df.repartition(self.n_buckets, "bucket")
        else:
            out = df
        self.last_write_report = {"repartitioned": repartition}
        if self.cluster_cols:
            out = out.sortWithinPartitions(
                F.col("bucket"), *[F.expr(c) for c in self.cluster_cols]
            )
        writer = out.write.mode("overwrite").partitionBy("bucket")
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        if rpf:
            # split each sorted bucket into cluster-key-contiguous
            # files so per-file zone maps have something to prune
            writer = writer.option("maxRecordsPerFile", str(rpf))
        writer.parquet(f"{self.path}/v={version}")
        return self._written_buckets(version)

    @staticmethod
    def _ids(entries: list[dict]) -> set[int]:
        """The physical ids the given pointers / commit-log entries
        reference: their manifest buckets and their runs."""
        return {
            int(v) for e in entries for v in e["buckets"].values()
        } | {int(r["v"]) for e in entries for r in e.get("runs") or []}

    def _vacuum(self) -> None:
        """Drop version directories no longer referenced by the manifest
        of the current commit or the last ``retain_history`` commits
        (kept readable for time travel).

        Two deletion classes, because physical dirs are writer-unique
        (:meth:`_new_data_version`):

        * dirs that appear in SOME commit-log entry but are no longer
          referenced by any retained one — superseded committed data;
          deleted immediately (no writer ever writes into an existing
          committed dir, so there is nothing in flight to race).
        * dirs the log has never seen — either a crashed attempt's
          orphan or a CONCURRENT writer's staging dir whose commit
          hasn't landed yet. Deleted only once older than
          ``vacuum_grace_s``, so an in-flight writer's files survive
          its own job + commit window (the Delta tombstone-retention
          analogue). A concurrent reader pinned to a vacuumed version
          still loses its files — acceptable here; true multi-writer
          deployments use the Delta sink below.
        """
        ptr = self._read_pointer()
        entries = self.history()
        referenced = self._ids([] if ptr is None else [ptr])
        if self.retain_history > 0:
            referenced |= self._ids(entries[-(self.retain_history + 1):])
        committed_ever = self._ids(entries)
        try:
            versions = [
                int(d.split("=")[1])
                for d in os.listdir(self.path)
                if d.startswith("v=")
            ]
        except FileNotFoundError:
            return
        now = time.time()
        # stale-marker GC: a writer that lost the PRE-write pointer
        # check never created its v= dir, so the dir loop below never
        # visits its marker — sweep expired markers here or they
        # accumulate unboundedly under churny retry workloads. (A lost
        # race that DID write files keeps its orphan pinned until the
        # marker expires — TTL-bounded disk amplification, the price of
        # closing the vacuum TOCTOU for slow writers.)
        try:
            for m in os.listdir(f"{self.path}/_staging"):
                marker = f"{self.path}/_staging/{m}"
                try:
                    expired = now - os.path.getmtime(marker) >= self.staging_ttl_s
                except OSError:
                    continue
                if expired and not os.path.isdir(f"{self.path}/v={m}"):
                    try:
                        os.remove(marker)
                    except OSError:
                        pass
        except FileNotFoundError:
            pass
        for v in versions:
            if v in referenced:
                continue
            if v not in committed_ever:
                # a standing staging marker means the writer that
                # allocated this id is (or may still be) mid-write:
                # never collect, however old the dir's mtime — this is
                # what closes the commit guard's check-then-flip TOCTOU
                # for write jobs that outlive vacuum_grace_s. Markers
                # older than staging_ttl_s are crashed writers: expire
                # the marker and fall back to the grace heuristic.
                marker = f"{self.path}/_staging/{v}"
                try:
                    m_age = now - os.path.getmtime(marker)
                except OSError:
                    m_age = None
                if m_age is not None:
                    if m_age < self.staging_ttl_s:
                        continue
                    try:
                        os.remove(marker)
                    except OSError:
                        pass
                try:
                    age = now - os.path.getmtime(f"{self.path}/v={v}")
                except OSError:
                    continue
                if age < self.vacuum_grace_s:
                    continue  # possibly an in-flight writer's staging dir
            shutil.rmtree(f"{self.path}/v={v}", ignore_errors=True)
        # stats-sidecar GC: a sidecar is live while the current pointer
        # or any retained log entry still references it (a bucket
        # untouched for a thousand commits keeps its original sidecar
        # alive by reference — liveness is the ref set, not version
        # ordering). Unreferenced ones are superseded zone maps or a
        # crashed attempt's orphan; the grace window covers a
        # concurrent writer whose sidecar landed but whose pointer
        # flip hasn't. A wrongly-deleted sidecar can only un-prune
        # (absent stats never prune), never corrupt.
        referenced_side: set[int] = set()
        sources = list(entries[-(self.retain_history + 1):])
        if ptr is not None:
            sources.append(ptr)
        for e in sources:
            for refs in (e.get("stats_ref"), e.get("fstats_ref")):
                referenced_side |= {int(v) for v in (refs or {}).values()}
        try:
            side_files = os.listdir(f"{self.path}/{_STATS_DIR}")
        except FileNotFoundError:
            side_files = []
        for name in side_files:
            full = f"{self.path}/{_STATS_DIR}/{name}"
            is_sidecar = name.endswith(".json") and name[:-5].isdigit()
            if is_sidecar and int(name[:-5]) in referenced_side:
                continue
            # non-sidecar names (interrupted .tmp writes) fall through
            # to the age-guarded removal below
            try:
                if now - os.path.getmtime(full) < self.vacuum_grace_s:
                    continue
            except OSError:
                continue
            try:
                os.remove(full)
            except OSError:
                pass

    def vacuum_orphans(self, min_age_s: float) -> list[int]:
        """Operator-invoked orphan reclamation — the cleanup tool for
        the version dirs :meth:`fsck` reports as ``orphans``: on-disk
        ``v=`` dirs no commit-log entry has ever referenced (crashed
        write attempts, losers of a commit race). :meth:`_vacuum`
        already reclaims these eventually, but a crashed writer's
        STAGING MARKER pins its orphan for ``staging_ttl_s`` (24 h
        default) — disk amplification an operator responding to an
        fsck report shouldn't have to wait out.

        ``min_age_s`` is the caller's assertion that no legitimate
        writer has been in flight that long: an orphan younger than it
        (by the newest of its dir mtime and staging-marker mtime)
        SURVIVES, marker or not; an older one is removed along with
        its marker. Safe by the OCC physical-id scheme
        (:meth:`_new_data_version`): no committed version ever shares
        a dir with an uncommitted attempt, so deleting a never-
        committed dir can only strand a writer still mid-flight —
        which is exactly what the age guard excludes, and which the
        commit guard would fail loudly anyway rather than commit
        missing files. Returns the removed version ids.
        """
        entries = self.history()
        ptr = self._read_pointer()
        referenced = self._ids([] if ptr is None else [ptr])
        if self.retain_history > 0:
            referenced |= self._ids(entries[-(self.retain_history + 1):])
        committed_ever = self._ids(entries)
        try:
            on_disk = [
                int(d.split("=")[1])
                for d in os.listdir(self.path)
                if d.startswith("v=")
            ]
        except FileNotFoundError:
            return []
        now = time.time()
        removed: list[int] = []
        for v in on_disk:
            if v in referenced or v in committed_ever:
                continue
            ages = []
            for p in (f"{self.path}/v={v}", f"{self.path}/_staging/{v}"):
                try:
                    ages.append(now - os.path.getmtime(p))
                except OSError:
                    pass
            if not ages or min(ages) < min_age_s:
                continue  # possibly still in flight: survives
            shutil.rmtree(f"{self.path}/v={v}", ignore_errors=True)
            try:
                os.remove(f"{self.path}/_staging/{v}")
            except OSError:
                pass
            removed.append(v)
        return sorted(removed)

    def overwrite(self, df: DataFrame, batch_id: int | None = None) -> None:
        """Create / replace the table contents (initial load, K1) —
        see :class:`_Overwrite`."""
        self._write(_Overwrite(df, batch_id))

    @staticmethod
    def _overlay(buckets: dict, touched, written, pv: int) -> dict[int, int]:
        """The bucket manifest after a rewrite of ``touched``: each
        touched bucket drops out (emptied by deletes unless rewritten),
        each written one points at ``pv``, and every other bucket
        carries forward by reference."""
        manifest = {int(b): v for b, v in buckets.items()}
        for b in touched:
            manifest.pop(b, None)
        for b in written:
            manifest[b] = pv
        return manifest

    def _write(self, op: _Write, retry_conflicts: int = 0) -> _Attempt | None:
        """The one write skeleton under every commit — merges, folds,
        rebucket, tombstone GC, overwrite and creation: each attempt
        reads ONE pointer and plans against it, stages under one fresh
        physical id, then goes through the one :meth:`_commit` and the
        one :meth:`_vacuum`. The strategy ``op`` (a :class:`_Write`)
        decides only what it plans and stages.

        A lost commit race costs one of ``retry_conflicts`` retries
        (0 = fail loudly, the contract of every maintenance op); the
        next attempt rebases the staged files onto the winner's pointer
        when ``op`` allows it, else it replans. Returns the last
        attempt — committed, or found to have nothing to commit — or
        None for a replayed batch."""
        from pyspark.sql.types import StructType

        staged = None
        retries = retry_conflicts
        while True:
            try:
                ptr = self._read_pointer()
                step = op.create(self) if ptr is None else op
                if ptr is not None:
                    # per attempt: after a lost race the winner may have
                    # been this batch's own replay
                    if op.replays and op.batch_id is not None and (
                        op.batch_id == ptr.get("batch_id")
                    ):
                        return None
                    op.check(ptr)
                    self._adopt_committed_layout(ptr)
                schema = None if ptr is None else StructType.fromJson(
                    json.loads(ptr["schema"])
                )
                evolved = step.evolve(self, schema)
                tier = step.tier(self, ptr)
                if staged is not None and (
                    staged.op is not step
                    or staged.maintenance != tier
                    or not self._rebases(staged, ptr)
                ):
                    staged = None
                if staged is None:
                    staged = self._stage(
                        _Attempt(
                            step, ptr, schema, self.n_buckets,
                            step.batch_of(ptr), evolved, tier,
                        )
                    )
                # a rebased commit records the winner's schema with this
                # attempt's evolution applied
                staged.evolved = evolved
                if staged.pv is None:
                    return staged
                if (
                    step.commits_empty
                    or staged.runs
                    or staged.maintenance is not None
                    or evolved != schema
                ):
                    self._commit(staged, ptr)
                    self._vacuum()
                else:
                    # nothing landed to commit: reclaim the staging now
                    # rather than once its marker is staging_ttl_s old
                    shutil.rmtree(f"{self.path}/v={staged.pv}", ignore_errors=True)
                    self._clear_staging(staged.pv)
                return staged
            except ConcurrentWriteError:
                if not retries:
                    raise
                retries -= 1

    def merge(
        self,
        compacted: DataFrame,
        op_col: str = "op",
        delete_op: str = "d",
        batch_id: int | None = None,
        evolve_schema: bool = True,
        guard_cols: list[str] | None = None,
        retry_conflicts: int = 0,
        mode: str = "cow",
        maintain: MaintenancePolicy | None = None,
    ) -> str:
        """Apply a compacted micro-batch (≤1 row per key) as one merge.

        Only buckets whose hash range contains a touched key are
        rewritten; all others carry forward in the manifest untouched.
        Idempotent under replay: if ``batch_id`` equals the last
        committed batch id, the merge is skipped (foreachBatch replays
        after crash recovery — SURVEY §7.6.5).

        Schema evolution (``evolve_schema``): batch columns the table
        lacks are added (nulls backfill on read via per-bucket schema
        union); table columns the batch lacks arrive as nulls — the
        ``mergeSchema`` policy the reference's Mongo path advertises
        but silently inverts (it drops new fields,
        cdc_stream.py:852-861). With ``evolve_schema=False`` extra
        batch columns raise instead.

        ``guard_cols`` (e.g. ``["ts", "seq"]``) switches to the
        order-guarded mode — see :class:`_OrderGuarded`. Default mode
        is last-batch-wins, matching the reference
        (cdc_stream.py:664-689 applies batches independently).

        ``mode="mor"`` switches to MERGE-ON-READ (the deletion-vector
        analogue; SURVEY §7.5's "merge-on-read for high-churn
        tables"; see :class:`_MergeOnRead`): the batch appends as one
        delta run instead of rewriting every touched bucket. Readers
        fold runs over the base with one map-side-combinable
        latest-per-key aggregate (``_mor_resolve``); :meth:`compact`
        folds runs back into a fresh copy-on-write base (the OPTIMIZE
        cadence bounds read amplification). MoR does not compose with
        ``guard_cols`` (a guard needs physically retained tombstones),
        and a ``cow`` merge while runs are pending raises rather than
        stranding run rows.

        Every mode runs on the one write skeleton (:meth:`_write`); the
        mode strategy only writes the staged files. ``retry_conflicts``
        (default 0 = the original fail-loudly contract) bounds
        OPTIMISTIC-CONCURRENCY retries on :class:`ConcurrentWriteError`
        — the Delta conflict-resolution semantics. Every attempt
        stages its files under a writer-unique physical directory
        (:meth:`_new_data_version`), so concurrent writers can never
        touch each other's bytes — whichever side of the commit CAS a
        writer lands on, the other side's files are exactly what its
        commit (or replan) computed. Each lost race costs one retry.
        The next attempt REBASES when it can — a pure manifest-overlay
        commit onto the winner's pointer, no Spark job re-runs: sound
        for a bucket rewrite when the intervening commits touched a
        DISJOINT bucket set under the same schema, and always for a
        merge-on-read append (appends commute). A changed bucket
        count, staged files no longer on disk, overlapping buckets,
        schema drift, or a loss detected before any file was written
        force a FULL REPLAN against the winner's committed state.
        Either way both writers' batches end up applied, one commit
        per writer in the history, until the retry budget is
        exhausted — then the original loud failure.

        ``maintain`` carries the table's maintenance policy, so a batch
        and its upkeep are one call; the return value is the tier that
        ran (``"none"``, ``"minor"``, ``"major"`` or ``"files"``, as
        :meth:`compact_by_size` reports). A merge-on-read merge onto an
        existing table picks the tier BEFORE its write
        (:meth:`_due_tier`, the batch counting as one more run) and a
        due fold rides the batch: one write, one commit, whose history
        entry records the fold. Byte tiers weigh the COMMITTED runs, so
        a byte-tier fold fires one batch later than a check after the
        append would: a reader may see one more pending run for one
        batch interval. An attempt that folds replans instead of
        rebasing after a lost race; an empty batch that finds a fold
        due commits the fold under its batch id (so its replay is a
        no-op like any other). Every other path — copy-on-write and
        guarded merges, the batch that creates the table, a replayed
        batch — evaluates the policy on the committed state after the
        merge, as :meth:`compact_by_size` does.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
        args = (compacted, op_col, delete_op, batch_id, evolve_schema)
        if mode == "mor":
            if guard_cols is not None:
                raise ValueError(_MOR_GUARDED)
            strategy = _MergeOnRead(*args, maintain)
        elif guard_cols is not None:
            strategy = _OrderGuarded(*args, list(guard_cols))
        else:
            strategy = _CopyOnWrite(*args)
        a = self._write(strategy, retry_conflicts)
        if a is not None and a.op is strategy and strategy.fuses:
            return a.maintenance or "none"
        return "none" if maintain is None else self.compact_by_size(*maintain)

    @contextmanager
    def _static_merge_planning(self):
        """Scope ``spark.sql.adaptive.enabled=false`` around the merge's
        own jobs when ``merge_static_planning`` is set (see the
        constructor). Conf is session-scoped: a concurrent query in
        another driver thread that plans inside this window simply
        plans statically too — results are unaffected either way, and
        the window is one micro-batch long. Concurrent merges (two
        tables on two driver threads) share one depth-counted window
        per session, so the LAST one out restores the caller's value —
        a naive set/restore pair could race and leave AQE off."""
        if not self.merge_static_planning:
            yield
            return
        key = "spark.sql.adaptive.enabled"
        with _STATIC_PLAN_LOCK:
            st = _STATIC_PLAN_STATE.setdefault(
                self.spark, {"depth": 0, "prior": None}
            )
            if st["depth"] == 0:
                st["prior"] = self.spark.conf.get(key, None)
                self.spark.conf.set(key, "false")
            st["depth"] += 1
        try:
            yield
        finally:
            with _STATIC_PLAN_LOCK:
                st["depth"] -= 1
                if st["depth"] == 0:
                    prior = st["prior"]
                    _STATIC_PLAN_STATE.pop(self.spark, None)
                    if prior is None:  # pragma: no cover
                        self.spark.conf.unset(key)
                    else:
                        self.spark.conf.set(key, prior)

    def _rebases(self, a: _Attempt, ptr: dict) -> bool:
        """Whether the files ``a`` staged before losing a commit race
        may be committed onto the winner's pointer ``ptr`` as they are:
        the bucket modulus they were routed with still holds, they are
        still on disk (a winner's vacuum may have collected them), and
        the strategy's own conflict rule agrees."""
        buckets = a.written + [b for r in a.runs for b in r["buckets"]]
        return (
            a.n_buckets == self.n_buckets
            and all(
                os.path.isdir(f"{self.path}/v={a.pv}/bucket={b}")
                for b in buckets
            )
            and a.op.rebases(a, ptr)
        )

    def _stage(self, a: _Attempt) -> _Attempt:
        """Plan attempt ``a`` and write its files.

        Files land under this attempt's writer-unique ``pv`` dir — a
        racing writer (committed or in flight) can never touch them,
        and this write can never touch the winner's, which is what
        makes both the rebase and the full replan sound in a true
        race. A plan that finds nothing to do allocates no ``pv``."""
        try:
            if a.op.plan(self, a):
                a.pv = self._new_data_version()
                with (
                    self._static_merge_planning()
                    if a.op.static_write
                    else nullcontext()
                ):
                    a.op.write(self, a.source, a)
        except ConcurrentWriteError:
            raise
        except Exception as exc:
            # a racing winner's post-commit vacuum may delete the files
            # this plan was reading mid-job (the documented
            # pinned-reader caveat). If the pointer moved since
            # planning, the failure IS a write conflict — surface it as
            # one so a merge's retry loop replans against the winner's
            # state instead of dying on a raw read error. A failure
            # with the pointer unmoved is a genuine error.
            cur = self._read_pointer()
            cur_v = -1 if cur is None else int(cur["version"])
            if cur_v != a.base:
                raise ConcurrentWriteError(
                    f"concurrent writer detected on {self.path}: the "
                    f"write job failed and the pointer moved from "
                    f"{a.base} to {cur_v} while it ran — the winner's "
                    f"vacuum likely removed this plan's input files; "
                    f"re-read and retry"
                ) from exc
            raise
        finally:
            if a.source is not None and a.source.is_cached:
                a.source.unpersist()
        return a

    def compact(self, target_file_bytes: int | None = None) -> int:
        """Physically compact the table: rewrite every live bucket at
        one fresh version (the Delta ``OPTIMIZE`` analogue).

        Merge-heavy tables fragment two ways: the manifest ends up
        referencing many version dirs (which pins them all against
        :meth:`_vacuum`), and a ``max_records_per_file`` cap — the
        knob that keeps per-file zone maps selective — multiplies
        part files on every rewrite. Compaction rewrites the full
        current contents bucket-partitioned (each bucket hashes wholly
        into one task of the ``repartition(n_buckets, "bucket")``) and
        commits a manifest where every bucket points at the new
        version, unpinning all older dirs for vacuum.

        ``target_file_bytes`` switches the rewrite to SIZE-TARGETED
        bin-packing (the ``OPTIMIZE`` file-size knob): rows-per-file is
        derived from the table's own measured bytes/row — current
        on-disk parquet bytes (base + pending runs, bounded driver
        metadata from the manifest) over the current row count. On a
        pure copy-on-write table the count is parquet-footer-only (no
        data scan); with pending MoR runs it pays one run-resolution
        pass before the rewrite's own scan — if that matters, fold
        runs first (``compact_runs``), then size-compact. The result:
        a clustered table keeps per-file zone maps at a file size
        chosen for the target store, instead of whatever
        ``max_records_per_file`` the write-time demo picked. At
        100 TB, manifest size, open cost, and bloom/zone stats volume
        all scale with file count; this is the lever that bounds them
        after churn.

        Logical contents (including guard tombstones), schema, guard
        metadata, and the replay batch id are all carried through
        bit-identically: compaction is a physical rewrite, not a batch.
        Cost is one full-table scan + write — schedule it off the hot
        path (e.g. per N merges), like OPTIMIZE. The rewrite is the
        major-fold body (:meth:`_fold_base`); its commit records the
        tier ``"major"`` in :meth:`history`. A size-targeted compact of
        a layout that already meets the target commits nothing
        (:meth:`_packed_files`). Returns the number of data files the
        new version (or the untouched layout) holds.
        """
        return self._write(_Fold("major", target_file_bytes)).result

    def _packed_files(self, ptr: dict, target_file_bytes: int) -> int | None:
        """The OPTIMIZE fast path (r19, guide §6): the file count of a
        committed layout that ALREADY meets ``target_file_bytes``, or
        None when it must be rewritten — a size-targeted compact of a
        packed layout would re-read and re-write the whole table to
        reproduce what is on disk. "Meets the target": no pending MoR
        runs (they must fold), every bucket at ONE data version (a
        merge-fragmented manifest pins many version dirs and holds
        bucket-local merge files the rewrite re-clusters), no oversized
        file (> 2x target: needs splitting), and at most one
        sub-half-target file per writer-task slice per bucket (the
        remainder file every row-capped write leaves at each slice
        boundary — with fewer candidates than that, bin-packing cannot
        reduce the file count meaningfully). Driver-side scandir of
        the live bucket dirs, the same bounded-metadata class as the
        manifest; at 100 TB it replaces a full-table rewrite per
        maintenance tick with a listing."""
        if ptr.get("runs") or len(set(ptr["buckets"].values())) != 1:
            return None
        width = max(self.n_buckets, self.spark.sparkContext.defaultParallelism)
        small_allow = width // self.n_buckets + 1
        n_files = 0
        for b, v in ptr["buckets"].items():
            files = self._parquet_files(v, b)
            if files is None:
                return None
            sizes = [e.stat().st_size for e in files]
            if max(sizes, default=0) > 2 * target_file_bytes or (
                sum(2 * n < target_file_bytes for n in sizes) > small_allow
            ):
                return None
            n_files += len(files)
        return n_files

    def _fold(
        self, a: _Attempt, batch: DataFrame | None = None,
        target_file_bytes: int | None = None,
    ) -> None:
        """Stage the fold ``a.maintenance`` names — the one body behind
        :meth:`compact_runs`, :meth:`compact`, the file-count tier and a
        merge-on-read merge that rides a fold (whose run-shaped
        ``batch`` is the newest run): ``minor`` is :meth:`_fold_runs`,
        ``major``/``files`` is :meth:`_fold_base`."""
        if a.maintenance == "minor":
            self._fold_runs(a, batch)
        else:
            self._fold_base(a, batch, target_file_bytes)

    def _fold_base(
        self, a: _Attempt, batch: DataFrame | None = None,
        target_file_bytes: int | None = None,
    ) -> None:
        """The MAJOR fold body: stage ``a.ptr``'s base ∪ pending runs
        (∪ an incoming run-shaped ``batch``, the newest run), resolved
        to the latest row per key and read under ``a.evolved``, as a
        whole new base under ``a.pv`` — range-clustered like any full
        rewrite; the commit takes fresh zone maps. Guard tombstones are
        kept (a compaction is physical). With ``target_file_bytes``,
        rows-per-file comes from the rewrite's own row count over the
        table's on-disk bytes (see :meth:`compact`)."""
        full = self._scan(
            replace(self._plan(a.ptr), schema=a.evolved),
            include_tombstones=True, batch=batch,
        )
        rpf = None
        if target_file_bytes is not None:
            on_disk = self._base_bytes(a.ptr) + self._run_bytes(a.ptr)
            # count the SAME plan the rewrite reads (not a second
            # definition); footer-only on pure CoW — see compact()
            n_rows = full.count()
            if n_rows > 0 and on_disk > 0:
                rpf = max(1, int(n_rows * target_file_bytes / on_disk))
        a.rewrite(self._write_buckets(
            full.withColumn("bucket", self._bucket_col()), a.pv,
            expected_base=a.base, records_per_file=rpf,
            range_cluster=True,
        ))

    def compact_runs(self) -> int:
        """MINOR compaction for merge-on-read tables (the LSM L0 fold):
        collapse every pending delta run into ONE folded run — latest
        row per key across runs, delete masks preserved — WITHOUT
        touching the base buckets.

        :meth:`compact` (major) costs a full-table rewrite; this costs
        one pass over the runs only (∝ accumulated delta, not the
        table), so a high-churn table can bound its read amplification
        between major compactions at delta price: resolution cost
        drops from base + N runs to base + 1 run, and point lookups
        probe one run directory per bucket instead of N. Delete
        markers MUST survive the fold (unlike major compaction) — a
        folded delete still has base rows to mask. The fold is
        :meth:`_fold_runs`, the same body a merge-on-read merge rides.
        Returns the number of pending runs folded (0/1 = nothing to
        do).
        """
        return self._write(_Fold("minor")).result

    def _fold_runs(self, a: _Attempt, batch: DataFrame | None = None) -> None:
        """The MINOR fold body: ``a.ptr``'s pending runs (∪ an incoming
        run-shaped ``batch``, the newest run) read under ``a.evolved``
        and folded to the latest row per key, delete masks kept, staged
        under ``a.pv`` as the run list that replaces the pending runs:
        one run entry (none if nothing was written) tagged with its
        newest input's batch id."""
        from changedatacapture_spark.operators.cdc import compact_latest

        runs = a.ptr.get("runs") or []
        parts = self._load_runs(runs, a.evolved, batch)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        payload = [f.name for f in a.evolved.fields
                   if f.name not in self.key_cols] + ["_mor_del"]
        folded = compact_latest(u, self.key_cols, ["_mor_seq"], payload)
        written = self._write_buckets(
            folded.withColumn("bucket", self._bucket_col()), a.pv,
            expected_base=a.base,
        )
        if written:
            a.runs = [{
                "v": a.pv,
                "batch_id": a.batch_id if batch is not None
                else runs[-1].get("batch_id"),
                "buckets": sorted(written),
                "fstats": self._footer_fstats(a.pv, written),
            }]

    def _derived_records_per_file(self) -> int | None:
        """Rows-per-file cap that lands files near
        ``target_file_bytes``, from the COMMITTED table's own measured
        bytes/row: for every manifest bucket whose per-file row counts
        are committed, pair its rows with its on-disk parquet bytes
        and divide. Buckets without row stats (pre-row-stat commits,
        stats-dropping merges) contribute neither rows nor bytes, so
        the ratio never mixes counted rows with uncounted bytes.
        Driver-only (pointer read + dir stats, no job). ``None`` when
        the target is unset or nothing is measurable yet (first write:
        uncapped, self-corrects from the second write on)."""
        if self.target_file_bytes is None:
            return None
        ptr = self._read_pointer()
        if ptr is None:
            return None
        fstats_all = ptr.get("fstats") or {}
        rows = 0
        nbytes = 0
        for b, v in ptr["buckets"].items():
            fmap = fstats_all.get(str(b))
            if not fmap or any("__rows" not in z for z in fmap.values()):
                continue
            r = sum(z["__rows"] for z in fmap.values())
            if r <= 0:
                continue
            rows += r
            nbytes += self._bucket_dir_bytes(int(v), [int(b)])
        if rows <= 0 or nbytes <= 0:
            return None
        return max(1, int(self.target_file_bytes * rows / nbytes))

    def _parquet_files(self, v: int, b) -> list | None:
        """The parquet files (``os.DirEntry``) under ``v=<v>/bucket=<b>``,
        None when the directory is gone — driver-side metadata (one
        os.scandir, no Spark job), the same class of bookkeeping the
        zone-map manifest already does."""
        try:
            with os.scandir(f"{self.path}/v={v}/bucket={b}") as it:
                return [e for e in it if e.name.endswith(".parquet")]
        except FileNotFoundError:
            return None

    def _bucket_dir_bytes(self, v: int, buckets) -> int:
        """Parquet bytes under ``v=<v>/bucket=<b>`` for the given
        buckets."""
        return sum(
            e.stat().st_size
            for b in buckets
            for e in self._parquet_files(v, b) or []
        )

    def base_bytes(self) -> int:
        """Parquet bytes of the copy-on-write base (manifest buckets)."""
        ptr = self._read_pointer()
        return 0 if ptr is None else self._base_bytes(ptr)

    def _base_bytes(self, ptr: dict) -> int:
        by_version: dict[int, list[int]] = {}
        for b, v in ptr["buckets"].items():
            by_version.setdefault(int(v), []).append(int(b))
        return sum(
            self._bucket_dir_bytes(v, bs) for v, bs in by_version.items()
        )

    def pending_run_bytes(self) -> int:
        """Parquet bytes of all pending merge-on-read delta runs."""
        ptr = self._read_pointer()
        return 0 if ptr is None else self._run_bytes(ptr)

    def _run_bytes(self, ptr: dict) -> int:
        return sum(
            self._bucket_dir_bytes(int(r["v"]), r.get("buckets") or [])
            for r in ptr.get("runs") or []
        )

    def _max_files_per_bucket(self, ptr: dict) -> int:
        """Largest parquet-file count any live manifest bucket holds —
        the fragmentation measure of the file-count compaction tier."""
        return max(
            (
                len(self._parquet_files(v, b) or [])
                for b, v in ptr["buckets"].items()
            ),
            default=0,
        )

    def compact_by_size(
        self,
        minor_ratio: float | None = None,
        major_ratio: float | None = None,
        max_files_per_bucket: int | None = None,
        compact_every: int | None = None,
    ) -> str:
        """One evaluation of the table's maintenance policy — the tiers
        and their order are :class:`MaintenancePolicy`'s, decided by
        :meth:`_due_tier`, the one rule a merge carrying the same policy
        (``merge(maintain=...)``, how ``CdcPipeline`` and
        ``SecondaryIndex`` apply theirs) also decides by — then the due
        fold: :meth:`compact_runs` for ``"minor"``, :meth:`compact` for
        ``"major"``, and for ``"files"`` a major rewrite sized by
        ``target_file_bytes`` when the table has one. Returns the tier
        (``"none"`` when nothing was due); with every tier disabled it
        returns ``"none"`` without reading the pointer."""
        policy = MaintenancePolicy(
            minor_ratio, major_ratio, max_files_per_bucket, compact_every
        )
        if all(x is None for x in policy):
            return "none"
        ptr = self._read_pointer()
        if ptr is None:
            return "none"
        tier = self._due_tier(ptr, policy, incoming=False)
        if tier == "minor":
            self.compact_runs()
        elif tier == "major":
            self.compact()
        elif tier == "files":
            self._write(_Fold("files", self.target_file_bytes))
        return tier or "none"

    def _due_tier(
        self, ptr: dict, policy: MaintenancePolicy | None, incoming: bool
    ) -> str | None:
        """The one maintenance-tier rule (stated on
        :class:`MaintenancePolicy`): ``"minor"``, ``"major"``,
        ``"files"`` or None, decided on the driver from ``ptr`` alone
        (pointer metadata and directory stats, no Spark job).
        ``incoming`` counts a batch about to be written as one more run,
        for a merge-on-read merge asking before its write; byte tiers
        always weigh the COMMITTED runs."""
        if policy is None:
            return None
        minor_ratio, major_ratio, max_files, every = policy
        runs = ptr.get("runs") or []
        n = len(runs) + int(incoming)
        if n:
            if every is not None and n >= max(2, every):
                return "minor"
            if minor_ratio is not None or major_ratio is not None:
                pending = self._run_bytes(ptr)
                base = max(self._base_bytes(ptr), 1)
                if major_ratio is not None and pending >= major_ratio * base:
                    return "major"
                if (
                    minor_ratio is not None
                    and n >= 2
                    and pending >= minor_ratio * base
                ):
                    return "minor"
        if (
            max_files is not None
            and self._max_files_per_bucket(ptr) > max_files
        ):
            return "files"
        return None

    def fsck(self, deep: bool = False) -> dict:
        """Filesystem consistency check — the operational audit a
        production table runs after an incident (partial restore,
        manual cleanup, suspected vacuum bug): verify every path the
        CURRENT pointer references (manifest buckets, MoR run buckets)
        and every retained history entry's paths still exist, and list
        on-disk version dirs nothing references (orphans — crashed
        attempts or in-flight writers; vacuum's future work, never
        deleted here: fsck only READS).

        Returns ``{"ok", "missing", "missing_history", "orphans",
        "versions_on_disk", "versions_referenced"}`` — ``ok`` is True
        when the current pointer is fully readable (missing history
        only degrades time travel, missing current paths mean reads
        WILL raise). The commit log is the authority, exactly like the
        read path; no LIST is trusted over it.

        ``deep=True`` additionally audits the PHYSICAL files behind
        the current manifest against the committed per-file stats:
        every ``fstats`` file must exist (``missing_files``) and its
        parquet-footer row count must equal the committed ``__rows``
        (``row_mismatches`` — a mismatch means the file was replaced
        or truncated out-of-band and every zone/bloom stat for it is
        suspect, so pruned reads could silently skip live rows). All
        driver-side footer reads (pyarrow), no Spark job; still
        read-only. The footers probe through a 16-thread pool
        (I/O-bound round-trips), so a 10⁵-file manifest audits in
        minutes on an object store (~files × RTT / 16), not the hour
        a serial sweep would take. ``ok`` then also requires both
        lists empty.
        """
        ptr = self._read_pointer()
        if ptr is None:
            return {
                "ok": False,
                "missing": ["<pointer>"],
                "missing_history": [],
                "orphans": [],
                "versions_on_disk": 0,
                "versions_referenced": 0,
                "sidecars_missing": [],
            }

        def paths_of(entry: dict) -> list[str]:
            out = [
                f"v={v}/bucket={b}" for b, v in entry["buckets"].items()
            ]
            for r in entry.get("runs") or []:
                out += [
                    f"v={r['v']}/bucket={b}" for b in r.get("buckets") or []
                ]
            return out

        missing = [
            p for p in paths_of(ptr)
            if not os.path.isdir(f"{self.path}/{p}")
        ]
        referenced = self._ids([ptr])
        missing_history: list[str] = []
        entries = self.history()
        if self.retain_history > 0:
            retained = entries[-(self.retain_history + 1):-1]
            referenced |= self._ids(retained)
            for entry in retained:
                missing_history += [
                    p for p in paths_of(entry)
                    if not os.path.isdir(f"{self.path}/{p}")
                ]
        try:
            on_disk = {
                int(d.split("=")[1])
                for d in os.listdir(self.path)
                if d.startswith("v=")
            }
        except FileNotFoundError:
            on_disk = set()
        orphans = sorted(on_disk - referenced - self._ids(entries))
        # stats sidecars: referenced-but-absent ones are reported as
        # INFO, not corruption — a lost sidecar composes to absent
        # stats (reads stay exact, pruning degrades), so it never
        # flips ``ok``; an operator seeing the list knows why a scan
        # stopped skipping
        side_refs = {
            int(v)
            for refs in (ptr.get("stats_ref"), ptr.get("fstats_ref"))
            for v in (refs or {}).values()
        }
        sidecars_missing = sorted(
            v for v in side_refs
            if not os.path.isfile(self._sidecar_path(v))
        )
        out = {
            "ok": not missing,
            "missing": sorted(missing),
            "missing_history": sorted(missing_history),
            "orphans": orphans,
            "versions_on_disk": len(on_disk),
            "versions_referenced": len(referenced),
            "sidecars_missing": sidecars_missing,
        }
        if deep:
            # footer reads are independent I/O round-trips: a thread
            # pool turns O(files) sequential latency into O(files /
            # pool) — at ~10^5 files expect wall ≈ files × per-footer
            # RTT / 16 (object stores: ~10-30 ms each → minutes, not
            # the hour the serial loop would take). Results are
            # ordered deterministically after the fact, so the report
            # is pool-size-independent.
            from concurrent.futures import ThreadPoolExecutor

            import pyarrow.parquet as pq

            fstats_all = ptr.get("fstats") or {}
            jobs: list[tuple[str, int | None]] = []
            for b, v in ptr["buckets"].items():
                for fname, zone in sorted(
                    (fstats_all.get(str(b)) or {}).items()
                ):
                    jobs.append(
                        (f"v={v}/bucket={b}/{fname}", zone.get("__rows"))
                    )

            def probe(job: tuple[str, int | None]) -> tuple:
                rel, committed = job
                full_path = f"{self.path}/{rel}"
                if not os.path.isfile(full_path):
                    return ("missing", rel, None, None)
                if committed is None:
                    return ("ok", rel, None, None)  # pre-row-stat commit
                actual = pq.ParquetFile(full_path).metadata.num_rows
                if actual != committed:
                    return ("mismatch", rel, committed, actual)
                return ("ok", rel, None, None)

            with ThreadPoolExecutor(
                max_workers=min(16, max(4, len(jobs) or 1))
            ) as ex:
                results = list(ex.map(probe, jobs))
            missing_files = sorted(
                rel for kind, rel, _, _ in results if kind == "missing"
            )
            row_mismatches = [
                {
                    "path": rel,
                    "committed_rows": committed,
                    "actual_rows": actual,
                }
                for kind, rel, committed, actual in sorted(results)
                if kind == "mismatch"
            ]
            out["missing_files"] = missing_files
            out["row_mismatches"] = row_mismatches
            out["ok"] = out["ok"] and not missing_files and not row_mismatches
        return out

    def rebucket(self, n_buckets: int) -> None:
        """Change the table's bucket count via the documented full
        rewrite, online: read current contents, rewrite under the new
        hash-range, commit atomically.

        Readers pinned to the old pointer keep a consistent view until
        retention expires; the new pointer persists ``n_buckets`` so
        every future writer — whatever its constructor default — routes
        keys against the committed bucketing (a mismatched modulus
        would strand live rows in buckets a merge no longer probes).
        Guard metadata, schema, and batch id carry through unchanged.

        Use when the table outgrows its creation-time bucket count
        (bucket size should stay ~256 MB–1 GB; see the class docstring).

        **Map-only split (the 100 TB path):** when the new count is an
        integer MULTIPLE of the old (2×, 4×, …) and the table is pure
        copy-on-write, the rewrite skips the full-table shuffle:
        ``hash % (m·n) ≡ b (mod n)``, so every old bucket's rows land
        only in its own m children — each scan task splits its rows
        locally and the partitioned write routes them, no exchange. At
        100 TB that is the difference between shipping the whole table
        across the network and a local read+write per file. Cost: file
        count multiplies by up to m per scan task instead of one file
        per bucket (zone/bloom stats handle many files per bucket;
        :meth:`compact` restores packing). Non-multiple targets and
        tables with pending MoR runs (whose resolution already
        shuffles) take the general repartition path. The plan choice
        is recorded in ``self.last_write_report``.
        """
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self._write(_Rebucket(n_buckets))

    def changes_between(
        self, v_from: int, v_to: int, include_preimage: bool = False
    ) -> DataFrame:
        """Change data feed: the net row-level difference between two
        committed versions (Delta ``table_changes`` analogue) —
        ``change_type ∈ {insert, delete, update_post}`` plus the row
        image (the post-image for inserts/updates, the pre-image for
        deletes).

        ``include_preimage=True`` additionally emits one
        ``update_pre`` row per update carrying the OLD row image
        (Delta's ``update_preimage``) — the shape downstream
        maintainers need to RETRACT derived state keyed on a payload
        column (e.g. a secondary index deleting the stale posting
        when the indexed value changes). Columns the old version's
        schema lacked (post-evolution adds) come back as nulls.

        Computed as a full outer join of the two versions on the key
        (both sides read through the bucket manifests, so cost is two
        version reads + one keyed join — no log replay). Requires both
        versions readable, i.e. within ``retain_history`` of the
        current commit. Unchanged rows (identical non-key columns)
        don't appear.
        """
        if v_to <= v_from:
            raise ValueError(f"v_to ({v_to}) must be > v_from ({v_from})")
        old = self.read(at_version=v_from)
        new = self.read(at_version=v_to)
        payload = [c for c in new.columns if c not in self.key_cols]
        old_sel = old.select(
            *[F.col(k).alias(f"_ok_{k}") for k in self.key_cols],
            *[F.col(c).alias(f"_o_{c}") for c in payload if c in old.columns],
        )
        new_sel = new.select(
            *[F.col(k).alias(f"_nk_{k}") for k in self.key_cols],
            *[F.col(c).alias(f"_n_{c}") for c in payload],
        )
        cond = None
        for k in self.key_cols:
            eq = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
            cond = eq if cond is None else cond & eq
        joined = old_sel.join(new_sel, cond, "full_outer")
        first_nk = F.col(f"_nk_{self.key_cols[0]}")
        first_ok = F.col(f"_ok_{self.key_cols[0]}")
        changed = None
        for c in payload:
            if f"_o_{c}" in old_sel.columns:
                ne = ~(
                    F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
                )
            else:
                # column postdates the old version: its old value is
                # logically NULL, so a non-null new value IS a change —
                # skipping it would hide backfill-only updates from
                # every CDF consumer (index maintainers would never
                # retract/re-add the touched rows)
                ne = F.col(f"_n_{c}").isNotNull()
            changed = ne if changed is None else changed | ne
        change_type = (
            F.when(first_ok.isNull(), F.lit("insert"))
            .when(first_nk.isNull(), F.lit("delete"))
            .when(
                changed if changed is not None else F.lit(False),
                F.lit("update_post"),
            )
        )
        # the row image comes from the NEW side whenever the new side
        # has the row (insert / update_post — even when the new value
        # is NULL: an update that nulls a payload column must emit a
        # NULL post-image, or downstream index maintainers re-add the
        # stale old value and its retraction cancels itself); only a
        # DELETE (no new-side row) falls back to the old image. A
        # coalesce here would silently resurrect the old value on
        # update-to-NULL.
        def _image(c):
            if f"_o_{c}" not in old_sel.columns:
                return F.col(f"_n_{c}")
            return F.when(first_nk.isNull(), F.col(f"_o_{c}")).otherwise(
                F.col(f"_n_{c}")
            )

        out_cols = [
            F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
            for k in self.key_cols
        ] + [_image(c).alias(c) for c in payload]
        if not include_preimage:
            return (
                joined.withColumn("change_type", change_type)
                .filter(F.col("change_type").isNotNull())
                .select("change_type", *out_cols)
            )
        # pre-images in the SAME pass: each joined row yields 0-2 feed
        # rows (its post-image classification, plus an update_pre with
        # the OLD image when it is an update) via array_compact +
        # explode — the two version reads and the keyed join execute
        # once, not once per image side. Every struct field casts to
        # the CURRENT schema so evolved columns align (nulls where the
        # old version predates the column).
        is_update = (
            first_ok.isNotNull()
            & first_nk.isNotNull()
            & (changed if changed is not None else F.lit(False))
        )
        new_types = {f.name: f.dataType for f in new.schema.fields}
        post_struct = F.struct(
            change_type.alias("change_type"),
            *[
                F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}"))
                .cast(new_types[k])
                .alias(k)
                for k in self.key_cols
            ],
            *[_image(c).cast(new_types[c]).alias(c) for c in payload],
        )
        pre_struct = F.struct(
            F.lit("update_pre").alias("change_type"),
            *[
                F.col(f"_ok_{k}").cast(new_types[k]).alias(k)
                for k in self.key_cols
            ],
            *[
                (
                    F.col(f"_o_{c}")
                    if f"_o_{c}" in old_sel.columns
                    else F.lit(None)
                )
                .cast(new_types[c])
                .alias(c)
                for c in payload
            ],
        )
        rows = F.array_compact(
            F.array(
                F.when(change_type.isNotNull(), post_struct),
                F.when(is_update, pre_struct),
            )
        )
        return joined.select(F.explode(rows).alias("_r")).select("_r.*")

    def optimize(self, tombstone_horizon=None) -> dict:
        """One-call table maintenance — the periodic job a deployment
        schedules between merge windows: tombstone GC (if the table is
        order-guarded and a horizon is given), physical compaction
        (small files + manifest unpinning), and commit-log compaction
        ride along. Returns a summary dict.
        """
        dropped = 0
        if tombstone_horizon is not None and (
            (self._read_pointer() or {}).get("guard")
        ):
            dropped = self.gc_tombstones(tombstone_horizon)
        return {
            "tombstones_dropped": dropped,
            "files_after_compaction": self.compact(),
            "version": self.version,
        }

    def gc_tombstones(self, horizon) -> int:
        """Compact away delete tombstones older than a replay horizon.

        A tombstone's only job is to fend off a LATE upsert with a
        smaller guard tuple than the delete's (see
        :class:`_OrderGuarded`). Once the source can no longer replay
        events older than ``horizon`` (e.g. the Kafka retention bound
        or the stream's watermark), tombstones whose *first* guard
        value is ``< horizon`` are dead weight — without GC they
        accumulate forever on churn-heavy keys.

        Rewrites only the buckets that actually contain expired
        tombstones (driver sees ≤ n_buckets small ints, never rows);
        every other bucket carries forward by reference, like a merge.
        Guarded-merge semantics are untouched for any event at or past
        the horizon; resurrecting a pre-horizon key requires an event
        the horizon contract says cannot arrive. Returns the number of
        tombstones dropped.
        """
        return self._write(_GcTombstones(horizon)).result


class DeltaTableSink:
    """Delta MERGE sink (used when delta-spark is on the classpath).

    Single conditional merge per batch::

        MERGE INTO t USING s ON t.k = s.k
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op != 'd' THEN INSERT *

    (vs. the reference's three separate merges, cdc_stream.py:653-689).
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str]) -> None:
        if not HAS_DELTA:
            raise ImportError("delta-spark is not available in this environment")
        self.spark = spark
        self.path = path
        self.key_cols = key_cols

    def merge(self, compacted: DataFrame, op_col: str = "op", delete_op: str = "d") -> None:
        cond = " AND ".join(f"t.{k} = s.{k}" for k in self.key_cols)
        dt = DeltaTable.forPath(self.spark, self.path)
        (
            dt.alias("t")
            .merge(compacted.alias("s"), cond)
            .whenMatchedDelete(condition=f"s.{op_col} = '{delete_op}'")
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll(condition=f"s.{op_col} != '{delete_op}'")
            .execute()
        )
