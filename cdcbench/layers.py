"""Per-layer metrics of a traced run.

Sources: the benchmark's spans around each call into the engine, the
Spark event log (jobs and tasks per span), ``StreamingQueryProgress``
(Structured Streaming phases), the table's commit log (``history()``)
and the scan reports captured around each read. The live-phase
metrics cover the measured window; ``drain.*`` covers the catch-up
drain and ``query.*`` the last query pass. Every metric is emitted for
every workload; a layer a workload does not exercise reports 0.
Medians here are plain medians over the run's samples.
"""

from __future__ import annotations

import glob
import json
import math
import os
from datetime import datetime

from measure import median, percentile
from spans import read_event_log
from stargen import HEADLINE


def _med(values) -> float:
    m = median(list(values))
    return 0.0 if m is None else float(m)


def _progress_rows(progress, since: float) -> list[dict]:
    """One dict per micro-batch that read input and started at or after
    ``since`` (epoch seconds), in batch order."""
    rows = {}
    for p in progress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        start = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        if d.get("numInputRows", 0) > 0 and start >= since:
            rows[int(d["batchId"])] = d
    return [rows[b] for b in sorted(rows)]


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _sink_writes(history: list[dict], mirror: str, n_buckets: int) -> dict:
    """Buckets touched, files and bytes written per commit, from diffs
    of consecutive commit-log entries."""
    touched, new_dirs, runs_pending = [], set(), []
    for prev, cur in zip(history, history[1:]):
        changed = {b for b, v in cur["buckets"].items() if prev["buckets"].get(b) != v}
        prev_runs = {r["v"] for r in prev.get("runs") or []}
        new_runs = [r for r in cur.get("runs") or [] if r["v"] not in prev_runs]
        buckets = changed | {str(b) for r in new_runs for b in r["buckets"]}
        touched.append(len(buckets) / n_buckets)
        new_dirs |= {f"v={cur['buckets'][b]}/bucket={b}" for b in changed}
        new_dirs |= {f"v={r['v']}/bucket={b}" for r in new_runs for b in r["buckets"]}
        runs_pending.append(len(cur.get("runs") or []))
    files = size = 0
    for d in new_dirs:
        f, s = _dir_bytes(os.path.join(mirror, d))
        files, size = files + f, size + s
    return {"touched": touched, "files": files, "bytes": size, "runs": runs_pending}


def _stream_split(batches, pb, merges, dur):
    """Structured Streaming accounting of micro-batches: per-batch
    ``durationMs`` rows, and the share of trigger wall covered by
    framework time (trigger - addBatch) plus the traced
    ``process_batch``; the rest is the foreachBatch callback's own
    overhead."""
    dm = [b.get("durationMs", {}) for b in batches]
    accounted = total = 0.0
    for b, d in zip(batches, dm):
        s = pb.get(b["batchId"])
        if s is None:
            continue
        trig = d.get("triggerExecution", 0) / 1000
        total += trig
        accounted += trig - d.get("addBatch", 0) / 1000 + dur(s)
    outside = [dur(s) - dur(merges[b]) for b, s in pb.items() if b in merges]
    return dm, (accounted / total if total else 0.0), outside


def _compact_ratio(batch_ids, files_of, files) -> float:
    """Distinct keys ÷ events over the given batches."""
    events = keys = 0
    for b in batch_ids:
        changes = [c for f in files_of.get(b, []) for c in files(f)]
        events += len(changes)
        keys += len({k for _, k, _ in changes})
    return keys / events if events else 0.0


def _union_s(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(ctx: dict, eventlog_dir: str, keep: str | None) -> dict:
    tracer = ctx["tracer"]
    t0, t_end = ctx["t_timed"], ctx["t_live_end"]
    by_id = {s["id"]: s for s in tracer.spans}

    def dur(s):
        return s["end"] - s["start"]

    def named(name, lo=t0, hi=t_end):
        return [s for s in tracer.spans if s["name"] == name and lo <= s["start"] < hi]

    # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files
    logs = sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True))
    logs = logs or [p for p in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(p)]
    jobs = read_event_log(logs)

    def root_of(sid, names):
        while sid is not None and by_id.get(sid, {}).get("name") not in names:
            sid = by_id.get(sid, {}).get("parent")
        return sid

    def jobs_under(names, lo=t0, hi=t_end) -> dict[int, list]:
        out: dict[int, list] = {}
        for j in jobs.values():
            sid = root_of(j["span"], names)
            if sid is not None and lo <= by_id[sid]["start"] < hi:
                out.setdefault(sid, []).append(j)
        return out

    log = ctx["log"]
    ckpt = ctx["ckpt"]
    files_of: dict[int, list] = {}
    for f, b in ckpt.file_batch.items():
        files_of.setdefault(b, []).append(f)

    # -- Structured Streaming (live phase) -----------------------------
    batches = _progress_rows(ctx["progress"], t0)
    pb = {s["op"]: s for s in named("pipeline.process_batch")}
    merges = {s["op"]: s for s in named("sink.merge")}
    dm, accounted, outside = _stream_split(batches, pb, merges, dur)
    batch_jobs: dict[str, int] = {}
    for j in jobs.values():
        if j["batch"] is not None:
            batch_jobs[j["batch"]] = batch_jobs.get(j["batch"], 0) + 1

    # -- pipeline / sink -----------------------------------------------
    merge_jobs = jobs_under({"sink.merge"})
    maint = named("sink.maintain.compact_by_size") + [
        s for s in named("sink.maintain.compact") + named("sink.maintain.compact_runs")
        if by_id.get(s["parent"], {}).get("name") == "pipeline.process_batch"]
    tiers = [s.get("result") for s in named("sink.maintain.compact_by_size")]
    # commits from the last one before the measured batches on (folds
    # carry the batch id of the batch they followed)
    history = ctx["history"]
    first = batches[0]["batchId"] if batches else 0
    start = max((i for i, h in enumerate(history)
                 if h.get("batch_id") is not None and h["batch_id"] < first), default=0)
    writes = _sink_writes(history[start:], ctx["mirror"], ctx["n_buckets"])
    keys = sum(len({k for f in files_of.get(b["batchId"], []) for _, k, _ in log.files[f]})
               for b in batches)
    row_bytes = 0.0
    if history:
        f, s = 0, 0
        for b, v in history[-1]["buckets"].items():
            df, ds = _dir_bytes(os.path.join(ctx["mirror"], f"v={v}/bucket={b}"))
            f, s = f + df, s + ds
        row_bytes = s / max(1, ctx["rows_final"])

    # -- reads ---------------------------------------------------------
    reads = ctx["reads"]
    reports = [r["report"] for r in reads if r["kind"] == "scan" and r.get("report")]
    read_jobs = jobs_under({"read.lookup", "read.scan"})

    late = ctx["publisher"].late
    late_p90 = percentile(late, 0.9)
    timed_events = sum(len(log.files[i]) for i in ctx["timed_files"])
    m = {
        "gen.late_p90_s": (late_p90[0] if late_p90 else max(late, default=0.0), "s"),
        "gen.offered_events": (timed_events, "count"),
        "gen.gen_s": (ctx["gen_s"], "s"),
        "session.start_s": (ctx["marks"]["session"], "s"),
        "setup.bootstrap_s": (ctx["marks"]["bootstrap"], "s"),
        "setup.warm_s": (ctx["marks"]["warm"], "s"),
        "source.lag_files_end": (ctx["lag_end"], "count"),
        "source.lag_files_max": (max(ctx["lags"], default=0), "count"),
        "stream.batches": (len(batches), "count"),
        "stream.trigger_ms_p50": (_med(d.get("triggerExecution", 0) for d in dm), "ms"),
        "stream.add_batch_ms_p50": (_med(d.get("addBatch", 0) for d in dm), "ms"),
        "stream.wal_commit_ms_p50": (_med(d.get("walCommit", 0) for d in dm), "ms"),
        "stream.commit_offsets_ms_p50": (_med(d.get("commitOffsets", 0) for d in dm), "ms"),
        "stream.latest_offset_ms_p50": (_med(d.get("latestOffset", 0) for d in dm), "ms"),
        "stream.query_planning_ms_p50": (_med(d.get("queryPlanning", 0) for d in dm), "ms"),
        "stream.framework_gap_ms_p50": (
            _med(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dm), "ms"),
        "stream.rows_per_batch_p50": (_med(b["numInputRows"] for b in batches), "count"),
        "stream.jobs_per_batch_p50": (
            _med(batch_jobs.get(str(b["batchId"]), 0) for b in batches), "count"),
        "stream.accounted_share": (accounted, "ratio"),
        "pipeline.process_batch_s_p50": (_med(dur(s) for s in pb.values()), "s"),
        "pipeline.fan_out_s_p50": (_med(dur(s) for s in named("pipeline.fan_out")), "s"),
        "pipeline.outside_merge_s_p50": (_med(outside), "s"),
        "cdc.compact_ratio": (
            _compact_ratio([b["batchId"] for b in batches], files_of,
                           lambda f: log.files[f]), "ratio"),
        "sink.merge_s_p50": (_med(dur(s) for s in merges.values()), "s"),
        "sink.merge_jobs_p50": (_med(len(v) for v in merge_jobs.values()), "count"),
        "sink.merge_tasks_p50": (
            _med(sum(j["tasks"] for j in v) for v in merge_jobs.values()), "count"),
        "sink.buckets_touched_ratio": (_med(writes["touched"]), "ratio"),
        "sink.commits": (max(0, len(writes["touched"])), "count"),
        "sink.files_written": (writes["files"], "count"),
        "sink.bytes_written": (writes["bytes"], "bytes"),
        "sink.write_amp": (
            writes["bytes"] / (keys * row_bytes) if keys and row_bytes else 0.0, "ratio"),
        "sink.maintain_share": (
            sum(dur(s) for s in maint) / max(1e-9, sum(dur(s) for s in pb.values())), "ratio"),
        "sink.n_minor": (tiers.count("minor"), "count"),
        "sink.n_major": (tiers.count("major") + tiers.count("files"), "count"),
        "sink.runs_pending_p50": (_med(writes["runs"]), "count"),
        "sink.scan_buckets_kept_ratio": (_med(
            r["buckets_kept"] / r["buckets_total"] for r in reports if r["buckets_total"]),
            "ratio"),
        "sink.scan_files_kept_ratio": (_med(
            r["files_kept"] / r["files_total"] for r in reports if r["files_total"]),
            "ratio"),
        "sink.scan_run_rows_p50": (_med(r.get("run_rows") or 0 for r in reports), "count"),
        "sink.read_jobs_p50": (_med(len(v) for v in read_jobs.values()), "count"),
        "read.count": (len(reads), "count"),
        "read.lookup_s_p50": (_med(r["t"] for r in reads if r["kind"] == "lookup"), "s"),
        "read.scan_s_p50": (_med(r["t"] for r in reads if r["kind"] == "scan"), "s"),
        "proc.cpu_s_per_kevent": (
            ctx["cpu_live"] / (timed_events / 1000) if timed_events else 0.0, "s"),
        "proc.peak_rss_mb": (ctx["peak_rss_mb"], "MB"),
    }
    m.update(_drain_metrics(ctx.get("drain"), named, dur, files_of))
    m.update(_query_metrics(ctx.get("queries"), tracer.spans, jobs, root_of, dur))
    m["trace.spans"] = (len(tracer.spans), "count")
    m["trace.self_s"] = (tracer.self_s, "s")
    if keep:
        os.makedirs(keep, exist_ok=True)
        tracer.dump(os.path.join(keep, f"spans-{ctx['workload']}-{ctx['seed']}.jsonl"))
    return m


def _drain_metrics(drain, named, dur, files_of) -> dict:
    """The catch-up drain: large micro-batches, so per-row compute
    (parse, compaction, bucket writes) outweighs fixed cost."""
    drain = drain or {"t0": 0.0, "t1": 0.0, "progress": [], "events": 0,
                      "first": 0, "backlog": []}
    lo, hi = drain["t0"], drain["t1"]
    batches = _progress_rows(drain["progress"], lo)
    pb = {s["op"]: s for s in named("pipeline.process_batch", lo, hi)}
    merges = {s["op"]: s for s in named("sink.merge", lo, hi)}
    dm, accounted, outside = _stream_split(batches, pb, merges, dur)
    first, backlog = drain["first"], drain["backlog"]
    wall = hi - lo
    return {
        "drain.events_per_s": (drain["events"] / wall if wall > 0 else 0.0, "events/s"),
        "drain.batches": (len(batches), "count"),
        "drain.rows_per_batch_p50": (_med(b["numInputRows"] for b in batches), "count"),
        "drain.trigger_ms_p50": (_med(d.get("triggerExecution", 0) for d in dm), "ms"),
        "drain.framework_gap_ms_p50": (
            _med(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dm), "ms"),
        "drain.process_batch_s_p50": (_med(dur(s) for s in pb.values()), "s"),
        "drain.merge_s_p50": (_med(dur(s) for s in merges.values()), "s"),
        "drain.outside_merge_s_p50": (_med(outside), "s"),
        "drain.compact_ratio": (
            _compact_ratio([b["batchId"] for b in batches], files_of,
                           lambda f: backlog[f - first]), "ratio"),
        "drain.accounted_share": (accounted, "ratio"),
    }


def _query_metrics(queries, spans, jobs, root_of, dur) -> dict:
    """Per headline query of the last pass: wall and Spark jobs; and the
    pass's driver share, the part of its wall no Spark job covers."""
    last = queries["last"] if queries else -1
    qspans = {s["name"][len("query."):]: s for s in spans
              if s["name"].startswith("query.") and s["name"] != "query.pass"
              and s["op"] == last}
    names = {"query." + n for n in HEADLINE}
    under: dict[str, list] = {}
    for j in jobs.values():
        sid = root_of(j["span"], names)
        if sid is not None and j["end"] is not None:
            under.setdefault(sid, []).append((j["submit"], j["end"]))
    m = {}
    wall = covered = 0.0
    for n in HEADLINE:
        s = qspans.get(n)
        ivs = under.get(s["id"], []) if s else []
        m[f"query.{n}_s"] = (dur(s) if s else 0.0, "s")
        m[f"query.{n}.jobs"] = (len(ivs), "count")
        if s:
            wall += dur(s)
            covered += _union_s((max(a, s["start"]), min(b, s["end"])) for a, b in ivs)
    m["query.pass_s"] = (wall, "s")
    m["query.driver_share"] = (1 - covered / wall if wall else 0.0, "ratio")
    return m
