"""CDC-mirror benchmark: one workload per invocation.

    python3 cdcbench/run.py --workload live_cow --seed 1 --seconds 20 --trace 0

Run from the repository root. A run keeps a snapshot mirror current
from a seeded Debezium change stream (on ``serve_mor`` while one client
reads it):

1. set-up: start the session; publish the snapshot dump as the first
   file of the change stream and start the streaming query, which
   bootstraps the mirror with it (Kappa style);
2. warm-up: the live load below runs untimed until a fixed number of
   micro-batches has committed, so the window starts at the same point
   of the JIT's progress on a fast host and a slow one;
3. live phase (``--seconds``): a generator thread publishes change
   files on a fixed schedule (open loop) into the file source, which
   stands in for Kafka; Structured Streaming applies them with the
   default trigger. On ``serve_mor`` the main thread meanwhile reads
   the mirror at a fixed pace, alternating point lookups
   (``read_keys``) and cluster-column range scans (``read_where``);
4. checks: the final mirror equals the state folded from the
   generated log, and every read equals a state the mirror passed
   through while the read ran.

A traced run (``--trace 1``) then drains a catch-up backlog in large
batches and runs the engine's headline registry queries (each checked
against its DuckDB oracle), so the per-layer table covers large
batches and the query layer too.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See ``cdcbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import signal
import sys
import tempfile
import threading
import time

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stargen  # noqa: E402
from measure import TreeSampler, host_probe, percentile, steal_share  # noqa: E402

WORKLOADS = ("live_cow", "serve_mor")
#: sample floor: a p90 needs 100 samples so that 10 lie beyond it
MIN_FILES = 100
#: the untimed live load between set-up and the measured window ends
#: after a workload's ``warm_batches`` micro-batches, or after this
#: long if they take longer
WARM_CAP_S = 45
N_BUCKETS = 8
LOOKUP_KEYS = 10
#: zipcode range of one scan: ~0.5% of the table
SCAN_WIDTH = 450
#: the client starts one read per period (later if a read overruns)
READ_PERIOD_S = 1.0
#: the main thread samples the source lag this often between reads
POLL_S = 0.1
WAIT_TIMEOUT_S = 90
#: live files generated beyond the longest warm-up and the window, for
#: reads that overrun the end of the window
SPARE_S = 20
#: catch-up drain of the traced run: backlog files of this many events,
#: one file per micro-batch
DRAIN_FILES, DRAIN_FILE_EVENTS = 3, 20_000
#: query pass of the traced run (``stargen.HEADLINE`` on seeded
#: star-schema tables): the first pass warms the JIT, the last is
#: reported
STAR_SCALE = 0.01
QUERY_PASSES = 2
#: the record's columns; the mirror also keeps each change's op/ts_ms/seq
FIELDS = [f.split()[0] for f in gen.RECORD_DDL.split(", ")]


class WorkloadConfig:
    """Engine configuration of one workload."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.profile = gen.PROFILES[name]
        # concurrent readers need the files of recent versions kept
        self.table_kw = {"n_buckets": N_BUCKETS, "retain_history": 32}
        self.pipe_kw: dict = {}
        self.merge_mode = "cow"
        #: whether a client reads the mirror beside the writes
        self.reads = False
        #: live micro-batches of the warm-up. Batch walls keep falling
        #: over the first dozen or so batches while the JVM warms up; a
        #: warm-up of fixed work puts the window at the same point of
        #: that curve whatever the host's speed, where a fixed wall would
        #: put a slow host's window earlier on it, making it slower still.
        #: 12-15 s of live load on a quiet 4-vCPU host either way.
        self.warm_batches = 8
        if name == "serve_mor":
            self.merge_mode = "mor"
            self.reads = True
            self.warm_batches = 4
            self.table_kw.update(cluster_cols=["zipcode"], target_file_bytes=32 << 10)
            self.pipe_kw = {"compact_minor_ratio": 0.04, "compact_major_ratio": 0.1}


def window_s(profile: gen.Profile, seconds: float) -> float:
    """The measured window: ``seconds``, stretched so that at least
    ``MIN_FILES`` files fall due inside it."""
    return max(seconds, (MIN_FILES + 1) / profile.rate_files_s)


def files_needed(profile: gen.Profile, seconds: float) -> int:
    return math.ceil((WARM_CAP_S + window_s(profile, seconds) + SPARE_S) * profile.rate_files_s)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keep", default=None,
                   help="traced runs: write the spans into this directory")
    return p.parse_args(argv)


def host_env(work: str) -> dict:
    """Environment for a session sized to this host and confined to
    ``work``."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        cpus = os.cpu_count() or 1
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        # every JVM, the spark-submit launcher too: temp files stay in
        # ``work`` and no perf-data file is written
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # one core stays with the driver side (client, generator, Py4J,
        # planning): with every core running tasks, the stream and the
        # reads queued for CPU and run-to-run spread doubled
        "SPARK_GRAFT_CPUS": str(max(1, cpus - 1)),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_FAST_SCRATCH": "0",
        "TMPDIR": tmp,
    }


def ensure_cache(name: str, log: gen.ChangeLog, seed: int) -> str:
    """Render the seeded inputs once per ``(workload, seed)``, profile
    and length: a changed profile or length gets a fresh cache entry."""
    import hashlib

    key = repr((log.profile, len(log.files)))
    tag = hashlib.sha1(key.encode()).hexdigest()[:10]
    cache = os.path.join(ROOT, ".cdcbench", "cache", f"{name}-{seed}-{tag}")
    if os.path.exists(os.path.join(cache, "done")):
        return cache
    shutil.rmtree(cache, ignore_errors=True)
    os.makedirs(os.path.join(cache, "files"))
    for i in range(len(log.files)):
        with open(os.path.join(cache, "files", f"{i:05d}.jsonl"), "w") as f:
            f.write(log.lines(i))
    open(os.path.join(cache, "done"), "w").close()
    return cache


class Checkpoint:
    """Progress of the streaming query, read from outside through its
    checkpoint: ``sources/0`` maps files to batches and ``commits/<n>``
    marks batch ``n`` complete at the file's mtime."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.file_batch: dict[int, int] = {}
        self._parsed: set[str] = set()

    def refresh(self) -> None:
        src = os.path.join(self.path, "sources", "0")
        try:
            names = os.listdir(src)
        except FileNotFoundError:
            return
        for name in names:
            if name.startswith(".") or name in self._parsed:
                continue
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]
            for line in lines:
                e = json.loads(line)
                idx = int(os.path.basename(e["path"])[2:7])
                self.file_batch[idx] = int(e["batchId"])
            self._parsed.add(name)

    def commits(self) -> dict[int, float]:
        d = os.path.join(self.path, "commits")
        out = {}
        try:
            for name in os.listdir(d):
                if name.isdigit():
                    out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
        except FileNotFoundError:
            pass
        return out

    def applied(self) -> int:
        """Length of the prefix of files applied by committed batches."""
        self.refresh()
        done = self.commits()
        n = 0
        while self.file_batch.get(n) in done:
            n += 1
        return n


class Publisher(threading.Thread):
    """Open-loop load generator. Live file ``first + k`` is due at
    ``t0 + k / rate`` whatever the engine is doing; publishing stops
    before the first file due at or after ``stop_at`` (set by the main
    thread once the measured window is known). Running out of files
    sets ``exhausted``, which fails the run. Each file is written under
    a hidden name and renamed into the watched directory, so the source
    never sees a partial file."""

    def __init__(self, bodies: list[str], live_dir: str) -> None:
        super().__init__(daemon=True)
        self.bodies, self.live_dir = bodies, live_dir
        self.published = 0
        self.due: dict[int, float] = {}
        self.late: list[float] = []
        self.t_timed = self.stop_at = math.inf
        self.exhausted = False
        self.halt = threading.Event()
        self._last_ns = 0

    def publish(self, i: int) -> None:
        tmp = os.path.join(self.live_dir, f".f-{i:05d}.tmp")
        with open(tmp, "w") as f:
            f.write(self.bodies[i])
        # the file source orders new files by mtime in milliseconds:
        # keep mtimes strictly increasing so files apply in log order
        ns = max(time.time_ns(), self._last_ns + 2_000_000)
        os.utime(tmp, ns=(ns, ns))
        self._last_ns = ns
        os.rename(tmp, os.path.join(self.live_dir, f"f-{i:05d}.jsonl"))
        self.published = i + 1

    def start_at(self, t0: float, rate: float) -> None:
        self.t0, self.rate, self.first = t0, rate, self.published
        self.start()

    def timed(self) -> list[int]:
        """Files due inside the measured window."""
        return [i for i, due in sorted(self.due.items())
                if self.t_timed <= due < self.stop_at]

    def run(self) -> None:
        i = self.first
        while True:
            due = self.t0 + (i - self.first) / self.rate
            if due >= self.stop_at:
                break
            if i >= len(self.bodies):
                self.exhausted = True
                break
            if self.halt.wait(max(0.0, due - time.time())) or due >= self.stop_at:
                break
            self.publish(i)
            self.due[i] = due
            self.late.append(time.time() - due)
            i += 1


def row_dict(r) -> dict:
    return {f: r[f] for f in FIELDS}


class Client:
    """The main thread while the stream runs. With ``reading`` set it is
    the reader: on its own table handle, it starts one read every
    ``READ_PERIOD_S`` (the next one at once if a read overruns),
    alternating 10-key lookups and zipcode range scans, keys and ranges
    seeded. A fixed pace keeps the work it adds to the host the same
    on a fast host and a slow one. Between reads it samples the
    source's lag (files published but not yet committed)."""

    KINDS = ("lookup", "scan")

    def __init__(self, seed: int, table, log, ckpt, publisher, tracer, reading: bool) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.table, self.log, self.ckpt = table, log, ckpt
        self.publisher, self.tracer = publisher, tracer
        self.reading = reading
        self.reads: list[dict] = []
        self.lags: list[int] = []
        self.failed = 0
        self._n = 0

    def read(self, kind: str) -> dict:
        lo = self.ckpt.applied()
        rec = {"kind": kind, "lo": lo, "lag": self.publisher.published - lo}
        t0 = time.time()
        if kind == "lookup":
            rec["keys"] = [self.rng.randrange(self.log.key_space) for _ in range(LOOKUP_KEYS)]
            with _span(self.tracer, "read.lookup"):
                rows = self.table.read_keys(rec["keys"]).collect()
        else:
            z = self.rng.randint(gen.ZIP_LO, gen.ZIP_HI - SCAN_WIDTH)
            rec["range"] = (z, z + SCAN_WIDTH)
            with _span(self.tracer, "read.scan"):
                rows = self.table.read_where([("zipcode", "between", *rec["range"])]).collect()
            rec["report"] = dict(self.table.last_scan_report)
        rec["t"] = time.time() - t0
        rec["hi"] = self.publisher.published
        rec["rows"] = {r[gen.KEY]: row_dict(r) for r in rows}
        return rec

    def loop(self, until: float, done=None) -> None:
        """Run until ``until`` (epoch seconds) or until ``done()`` holds;
        no read starts later."""
        nxt = time.time()
        while True:
            now = time.time()
            if now >= until or (done is not None and done()):
                return
            if self.reading and now >= nxt:
                try:
                    self.reads.append(self.read(self.KINDS[self._n % len(self.KINDS)]))
                except Exception as e:  # noqa: BLE001 - a failed read is counted
                    print(f"# read failed: {e!r}", file=sys.stderr)
                    self.failed += 1
                self._n += 1
                nxt = max(nxt + READ_PERIOD_S, time.time())
                continue
            self.lags.append(self.publisher.published - self.ckpt.applied())
            wake = min(until, nxt) if self.reading else until
            time.sleep(max(0.0, min(POLL_S, wake - now)))


def check_reads(reads: list[dict], log: gen.ChangeLog) -> int:
    """Count reads that disagree with the log. A read started once the
    first ``lo`` files were committed and ended before file ``hi`` was
    published, so each key it returns must hold a state the key had
    after some prefix of files in ``[lo, hi]``; a scan must also return
    every key that stayed inside its range throughout."""
    state: dict = {}
    at = 0
    bad = 0
    for rd in sorted(reads, key=lambda r: r["lo"]):
        gen.fold(state, (c for f in log.files[at:rd["lo"]] for c in f))
        at = rd["lo"]
        window: dict[int, list] = {}
        for f in log.files[rd["lo"]:rd["hi"]]:
            for op, k, row in f:
                window.setdefault(k, []).append(None if op == "d" else row)

        def states(k):
            return [state.get(k)] + window.get(k, [])

        got = rd["rows"]
        if rd["kind"] == "lookup":
            ok = set(got) <= set(rd["keys"]) and all(
                got.get(k) in states(k) for k in rd["keys"])
        else:
            lo_z, hi_z = rd["range"]

            def inside(row):
                return row is not None and lo_z <= row["zipcode"] <= hi_z

            ok = all(inside(row) and row in states(k) for k, row in got.items())
            ok = ok and all(
                k in got for k, row in state.items()
                if inside(row) and all(inside(s) for s in window.get(k, [])))
        bad += not ok
    return bad


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _start_session(work: str, env: dict, trace: bool):
    from changedatacapture_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="cdcbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def run(args) -> dict:
    cfg = WorkloadConfig(args.workload)
    host_before = host_probe()
    t_gen = time.time()
    log = gen.ChangeLog(cfg.profile, args.seed, files_needed(cfg.profile, args.seconds))
    cache = ensure_cache(cfg.name, log, args.seed)
    bodies = []
    for i in range(len(log.files)):
        with open(os.path.join(cache, "files", f"{i:05d}.jsonl")) as f:
            bodies.append(f.read())
    star = None
    if args.trace:
        star = ensure_star(args.seed)
    gen_s = time.time() - t_gen

    work = os.path.join(ROOT, ".cdcbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = host_env(work)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    try:
        with TreeSampler() as mem:
            out = _session(args, cfg, log, bodies, star, work, env, mem)
        ctx = out.pop("ctx")
        ctx.update(gen_s=gen_s, peak_rss_mb=mem.peak_kb / 1024,
                   setup_s=ctx["t_setup"] - T_PROC - gen_s)
        if args.trace:
            from layers import layer_metrics

            out["metrics"] = layer_metrics(ctx, os.path.join(work, "eventlog"), args.keep)
            # the same end-to-end figures under tracing: compared with an
            # untraced run of the same seed they give the tracing overhead
            out["detail"]["e2e_traced"] = {k: v for k, (v, _) in e2e_metrics(ctx).items()}
        else:
            out["metrics"] = e2e_metrics(ctx)
        host_after = host_probe()
        out["host"] = {"before": host_before, "after": host_after,
                       "steal_share": steal_share(host_before, host_after)}
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ensure_star(seed: int) -> str:
    """The query pass's tables, written once per seed and scale."""
    path = os.path.join(ROOT, ".cdcbench", "cache", f"star-{seed}-{STAR_SCALE}")
    if not os.path.exists(os.path.join(path, "done")):
        shutil.rmtree(path, ignore_errors=True)
        stargen.write(path, seed, STAR_SCALE)
        open(os.path.join(path, "done"), "w").close()
    return path


def _session(args, cfg, log, bodies, star, work, env, mem) -> dict:
    from pyspark.sql.types import StructType

    from changedatacapture_spark.streaming import pipeline as pipeline_mod
    from changedatacapture_spark.streaming.pipeline import CdcPipeline, file_envelope_stream
    from changedatacapture_spark.streaming.sink import SnapshotTable

    prof = cfg.profile
    t0 = time.time()
    spark = _start_session(work, env, bool(args.trace))
    marks = {"session": time.time() - t0}
    mem.adopt_children()
    publisher = None
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark.sparkContext)
        mirror = os.path.join(work, "mirror")
        writer = SnapshotTable(spark, mirror, key_cols=[gen.KEY], **cfg.table_kw)
        pipe = CdcPipeline(spark, StructType.fromDDL(gen.RECORD_DDL), writer,
                           key_col=gen.KEY, merge_mode=cfg.merge_mode, **cfg.pipe_kw)
        if tracer:
            tracer.wrap(pipe, "process_batch", "pipeline.process_batch", op_arg="batch_id")
            tracer.wrap(pipeline_mod, "fan_out", "pipeline.fan_out")
            tracer.wrap(writer, "merge", "sink.merge", op_arg="batch_id")
            for m in ("compact_by_size", "compact_runs", "compact"):
                tracer.wrap(writer, m, "sink.maintain." + m)
        live = os.path.join(work, "live")
        os.makedirs(live)
        ckpt = Checkpoint(os.path.join(work, "ckpt"))
        publisher = Publisher(bodies, live)
        def wait_applied(n: int) -> bool:
            end = time.time() + WAIT_TIMEOUT_S
            while ckpt.applied() < n:
                if time.time() > end or query.exception() is not None:
                    return False
                time.sleep(0.02)
            return True

        # -- set-up: bootstrap the mirror through the stream -------------
        t_b = time.time()
        publisher.publish(0)
        query = pipe.start(file_envelope_stream(spark, live, max_files_per_trigger=10_000),
                           checkpoint_dir=ckpt.path)
        boot_ok = wait_applied(1)
        if cfg.merge_mode == "mor":
            # lay the bootstrapped base out at the target file size
            # (OPTIMIZE) before the live stream starts
            writer.compact(target_file_bytes=writer.target_file_bytes)
        t_setup = time.time()
        marks["bootstrap"] = t_setup - t_b

        # -- warm-up: the live load, untimed, for a fixed number of
        # micro-batches (batch 0 was the bootstrap)
        client = Client(args.seed, SnapshotTable(spark, mirror, key_cols=[gen.KEY], **cfg.table_kw),
                        log, ckpt, publisher, tracer, cfg.reads)
        publisher.start_at(t_setup, prof.rate_files_s)
        client.loop(t_setup + WARM_CAP_S, done=lambda: len(ckpt.commits()) > cfg.warm_batches)
        n_warm, n_warm_lags = len(client.reads), len(client.lags)

        # -- live phase ------------------------------------------------
        t_timed = time.time()
        marks["warm"] = t_timed - t_setup
        warm_batches = len(ckpt.commits()) - 1
        publisher.t_timed = t_timed
        live_end = t_timed + window_s(prof, args.seconds)
        publisher.stop_at = live_end
        cpu0 = mem.cpu_s()
        client.loop(live_end)
        reads, failed_reads = client.reads[n_warm:], client.failed
        lags = client.lags[n_warm_lags:] + [r["lag"] for r in reads]
        lag_end = publisher.published - ckpt.applied()
        publisher.join()
        t_live = time.time() - t_timed
        drained = wait_applied(publisher.published)
        cpu_live = mem.cpu_s() - cpu0
        stream_error = query.exception()
        progress = list(query.recentProgress)
        query.stop()
        t_live_end = time.time()

        # -- checks ----------------------------------------------------
        n_files = publisher.published
        expect = gen.fold({}, (c for f in log.files[:n_files] for c in f))
        final = {r[gen.KEY]: row_dict(r) for r in client.table.read().collect()}
        final_ok = (_same_state("final", final, expect) and drained and boot_ok
                    and stream_error is None and not publisher.exhausted)
        if publisher.exhausted:
            print(f"# generator ran out of files after {n_files}", file=sys.stderr)
        bad_reads = check_reads(client.reads, log)
        history = writer.history()
        ckpt.refresh()
        commits = ckpt.commits()
        timed_files = publisher.timed()
        fresh = [commits[ckpt.file_batch[i]] - publisher.due[i] for i in timed_files
                 if ckpt.file_batch.get(i) in commits]
        attempted = n_files - 1 + len(client.reads) + failed_reads
        failed = (bad_reads + failed_reads + (not final_ok)
                  + len(timed_files) - len(fresh))
        detail = {
            "final_ok": final_ok, "bad_reads": bad_reads, "failed_reads": failed_reads,
            "files": len(timed_files), "reads": len(reads), "warm_batches": warm_batches,
            "batch_s": [round(p.durationMs.get("triggerExecution", 0) / 1000, 2)
                        for p in progress if p.numInputRows > 0],
            "live_s": round(t_live, 3), "stream_error": str(stream_error or "") or None,
            "setup": {k: round(v, 2) for k, v in marks.items()},
        }
        ctx = {
            "workload": cfg.name, "seed": args.seed, "log": log, "reads": reads,
            "fresh": fresh, "publisher": publisher, "ckpt": ckpt, "progress": progress,
            "history": history, "marks": marks, "timed_files": timed_files,
            "cpu_live": cpu_live, "lag_end": lag_end, "lags": lags, "t_timed": t_timed,
            "t_setup": t_setup, "t_live_end": t_live_end,
            "mirror": mirror, "n_buckets": N_BUCKETS, "rows_final": len(expect),
            "tracer": tracer,
        }
        if tracer:
            drain = _drain(spark, pipe, log, publisher, ckpt, client.table, expect)
            queries = _query_pass(spark, star, tracer)
            attempted += 1 + len(stargen.HEADLINE) * QUERY_PASSES
            failed += (not drain["ok"]) + len(queries["mismatch"])
            detail.update(drain_ok=drain["ok"], query_mismatch=queries["mismatch"])
            ctx.update(drain=drain, queries=queries)
            # the event log is complete only once the session stops
            _stop_session(spark)
            spark = None
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "detail": detail, "ctx": ctx}
    finally:
        if publisher is not None:
            publisher.halt.set()
            if publisher.is_alive():
                publisher.join()
        if spark is not None:
            _stop_session(spark)


def _same_state(what: str, got: dict, expect: dict) -> bool:
    if got == expect:
        return True
    diff = [k for k in set(got) | set(expect) if got.get(k) != expect.get(k)]
    print(f"# {what} mismatch on {len(diff)} keys, e.g. "
          + json.dumps([[k, got.get(k), expect.get(k)] for k in sorted(diff)[:3]]),
          file=sys.stderr)
    return False


def _drain(spark, pipe, log, publisher, ckpt, table, expect) -> dict:
    """Catch-up after an outage: publish a backlog of large files that
    follows the applied log, drain it with an ``availableNow`` query on
    the same checkpoint (one file per micro-batch) and check the mirror
    against the fold of log and backlog."""
    from changedatacapture_spark.streaming.pipeline import file_envelope_stream

    first = publisher.published
    backlog = log.backlog(first, DRAIN_FILES, DRAIN_FILE_EVENTS)
    del publisher.bodies[first:]
    for j, changes in enumerate(backlog):
        publisher.bodies.append(gen.render(changes, log.backlog_seq(j, DRAIN_FILE_EVENTS)))
        publisher.publish(first + j)
    t0 = time.time()
    query = pipe.start(file_envelope_stream(spark, publisher.live_dir, max_files_per_trigger=1),
                       checkpoint_dir=ckpt.path, available_now=True)
    done = query.awaitTermination(WAIT_TIMEOUT_S * 2)
    t1 = time.time()
    if not done:
        query.stop()
    error = query.exception()
    progress = list(query.recentProgress)
    ckpt.refresh()
    expect = gen.fold(dict(expect), (c for f in backlog for c in f))
    final = {r[gen.KEY]: row_dict(r) for r in table.read().collect()}
    ok = bool(done) and error is None and ckpt.applied() == first + len(backlog)
    ok = _same_state("drain", final, expect) and ok
    return {"t0": t0, "t1": t1, "first": first, "backlog": backlog,
            "events": sum(len(f) for f in backlog), "progress": progress, "ok": ok}


def _canon(df) -> list[tuple]:
    """Order-insensitive form of a result frame: columns sorted by
    name, rows sorted, cells compared by ``repr`` for floats."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return [tuple("NaN" if isinstance(v, float) and math.isnan(v) else
                  repr(v) if isinstance(v, float) else v for v in row)
            for row in df.itertuples(index=False)]


def _query_pass(spark, star: str, tracer) -> dict:
    """``QUERY_PASSES`` passes of the headline registry queries, each
    query collected to pandas under a span ``query.<name>`` (op = pass
    index); then, untimed, the last pass's results are compared with
    the DuckDB oracle SQL of each query."""
    import duckdb

    import __spark_entry__ as entry

    fns, oracles = entry.queries(), entry.oracle_sql()
    frames = {}
    for p in range(QUERY_PASSES):
        with tracer.span("query.pass", op=p):
            for name in stargen.HEADLINE:
                with tracer.span("query." + name, op=p):
                    frames[name] = fns[name](spark, star).toPandas()
    con = duckdb.connect()
    for t in stargen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star}/{t}.parquet')")
    mismatch = []
    for name in stargen.HEADLINE:
        want = con.execute(oracles[name]).df()
        got = frames[name]
        if sorted(got.columns) != sorted(want.columns) or _canon(got) != _canon(want):
            print(f"# query {name} differs from its oracle: {len(got)} vs {len(want)} rows",
                  file=sys.stderr)
            mismatch.append(name)
    con.close()
    return {"last": QUERY_PASSES - 1, "mismatch": mismatch}


def _pct(values, q: float, name: str):
    got = percentile(values, q)
    if got is None:
        raise RuntimeError(f"{name}: {len(values)} samples cannot support p{round(q * 100)}")
    print(f"# {name} p{round(q * 100)}: n={got[1]}", file=sys.stderr)
    return got[0], "s"


def e2e_metrics(ctx) -> dict:
    return {
        "setup_s": (ctx["setup_s"], "s"),
        "freshness_p50_s": _pct(ctx["fresh"], 0.5, "freshness"),
        "freshness_p90_s": _pct(ctx["fresh"], 0.9, "freshness"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "changedatacapture_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args)
    print("# host " + json.dumps(out["host"]))
    print("# detail " + json.dumps(out["detail"]))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
