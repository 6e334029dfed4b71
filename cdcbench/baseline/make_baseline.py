"""Regenerate the committed baseline next to this file.

    python3 cdcbench/baseline/make_baseline.py            # all runs, then the tables
    python3 cdcbench/baseline/make_baseline.py --tables   # BASELINE.md from baseline.json

Run from the repository root. For each workload: one untraced and one
traced run of seed 1 (the per-layer table and the tracing overhead),
then two ten-seed sets of untraced runs, set A of every workload
before set B of any, so the sets lie apart in time. Each run's result
is saved into ``baseline.json`` as it ends, and runs already there are
skipped, so an interrupted pass resumes. ``BASELINE.md`` is rewritten
from ``baseline.json``; text under its ``## Notes`` heading is kept.
About 50 minutes on 4 vCPUs.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT_JSON = os.path.join(HERE, "baseline.json")
OUT_MD = os.path.join(HERE, "BASELINE.md")
SEED = 1
SETS = {"A": range(901, 911), "B": range(1001, 1011)}


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join("cdcbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    rec = {"wall_s": round(time.time() - t0, 1), "result": json.loads(lines[-1])}
    for line in lines:
        for tag in ("host", "detail"):
            if line.startswith(f"# {tag} "):
                rec[tag] = json.loads(line[len(tag) + 3:])
    return rec


def host_info(seconds: int) -> dict:
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    return {"seed": SEED, "seconds": seconds, "cpus": os.cpu_count(), "cpu_model": model,
            "mem_gib": round(mem, 1), "python": platform.python_version()}


def summarize(recs: list[dict]) -> dict:
    metrics = {}
    for name in recs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in recs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        metrics[name] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med}
    return {
        "n": len(recs), "seeds": [r["seed"] for r in recs], "metrics": metrics,
        "probe_s_median": statistics.median(
            p for r in recs for p in (r["host"]["before"]["probe_s"],
                                      r["host"]["after"]["probe_s"])),
        "steal_max": max(r["host"]["steal_share"] for r in recs),
        "wall_s_max": max(r["wall_s"] for r in recs),
        "failed": sum(r["result"]["failed"] for r in recs),
    }


def collect() -> dict:
    bj = bench_json()
    seconds = bj["run_seconds"]
    workloads = [w["name"] for w in bj["workloads"]]
    data = {"host": host_info(seconds), "runs": {}, "sets": {}, "set_runs": {}}
    if os.path.exists(OUT_JSON):
        with open(OUT_JSON) as f:
            old = json.load(f)
        if old.get("host", {}).get("seconds") == seconds:
            data.update({k: old[k] for k in ("runs", "set_runs") if k in old})

    def save():
        with open(OUT_JSON, "w") as f:
            json.dump(data, f, indent=1)

    for w in workloads:
        runs = data["runs"].setdefault(w, {})
        for kind, trace in (("untraced", 0), ("traced", 1)):
            if kind not in runs:
                runs[kind] = run_once(w, SEED, seconds, trace)
                print(f"{w} {kind}: {runs[kind]['wall_s']} s", flush=True)
                save()
    for set_name, seeds in SETS.items():
        for w in workloads:
            got = data["set_runs"].setdefault(w, {}).setdefault(set_name, {})
            for seed in seeds:
                if str(seed) not in got:
                    got[str(seed)] = dict(run_once(w, seed, seconds, 0), seed=seed)
                    res = got[str(seed)]["result"]
                    print(f"{w} {set_name} {seed}: {res['correct']} " + " ".join(
                        f"{k}={v['value']:.3f}" for k, v in res["metrics"].items()), flush=True)
                    save()
            data["sets"].setdefault(w, {})[set_name] = summarize(list(got.values()))
            save()
    return data


def _g(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def tables(data: dict) -> str:
    bj = bench_json()
    e2e = [m["name"] for m in bj["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in bj["per_layer"]]
    workloads = [w["name"] for w in bj["workloads"]]
    h = data["host"]
    out = [
        "# Baseline per-layer table", "",
        f"Traced runs (`--trace 1`) of every workload at seed {h['seed']}, `--seconds "
        f"{h['seconds']}`, on {h['cpus']} vCPUs ({h['cpu_model']}), {h['mem_gib']} GiB RAM, "
        f"Python {h['python']}. Written by `make_baseline.py` from `baseline.json`, which "
        "also holds each run's host calibration (load average, a 2M-iteration single-core "
        "probe, CPU steal share) and its `# detail` line.", "",
        "## End to end: ten-seed sets (untraced)", "",
        "Median [first quartile, third quartile] and (third − first quartile) ÷ median "
        "over ten seeds per set, quartiles as `statistics.quantiles(values, n=4)` gives "
        "them; set A of every workload ran before set B of any.", "",
        "| workload | set | seeds | " + " | ".join(f"`{n}`" for n in e2e)
        + " | probe median (s) | max steal | max run wall (s) | failed |",
        "|---|---|---|" + "---|" * len(e2e) + "---|---|---|---|",
    ]
    for w in workloads:
        for set_name, s in sorted(data["sets"].get(w, {}).items()):
            cells = [f"{m['median']:.3f} [{m['q1']:.3f}, {m['q3']:.3f}] ({m['iqr_share']:.3f})"
                     for m in (s["metrics"][n] for n in e2e)]
            out.append(f"| {w} | {set_name} | {s['seeds'][0]}–{s['seeds'][-1]} | "
                       + " | ".join(cells)
                       + f" | {s['probe_s_median']:.4g} | {s['steal_max']:.3g}"
                       f" | {s['wall_s_max']:.0f} | {s['failed']} |")
    out += ["", "Second set's median ÷ first set's median:", "",
            "| workload | " + " | ".join(f"`{n}`" for n in e2e) + " |",
            "|---|" + "---|" * len(e2e)]
    for w in workloads:
        sets = data["sets"].get(w, {})
        if "A" in sets and "B" in sets:
            out.append(f"| {w} | " + " | ".join(
                f"{sets['B']['metrics'][n]['median'] / sets['A']['metrics'][n]['median']:.3f}"
                for n in e2e) + " |")
    runs = data["runs"]
    out += ["", f"## End to end: untraced vs traced, seed {h['seed']}", "",
            "| metric | " + " | ".join(f"{w} | {w} traced" for w in workloads) + " |",
            "|---|" + "---|---|" * len(workloads)]
    for n in e2e:
        cells = []
        for w in workloads:
            cells.append(_g(runs[w]["untraced"]["result"]["metrics"][n]["value"]))
            cells.append(_g(runs[w]["traced"]["detail"]["e2e_traced"][n]))
        out.append(f"| `{n}` | " + " | ".join(cells) + " |")
    out += ["", "## Per layer (traced)", "",
            "| metric | unit | " + " | ".join(workloads) + " |",
            "|---|---|" + "---|" * len(workloads)]
    for n, unit in layer:
        out.append(f"| `{n}` | {unit} | " + " | ".join(
            _g(runs[w]["traced"]["result"]["metrics"][n]["value"]) for w in workloads) + " |")
    out += ["", "## Host calibration", "",
            "| run | wall (s) | loadavg before | probe before (s) | loadavg after "
            "| probe after (s) | steal share |",
            "|---|---|---|---|---|---|---|"]
    for w in workloads:
        for kind in ("untraced", "traced"):
            r = runs[w][kind]
            b, a = r["host"]["before"], r["host"]["after"]
            out.append(f"| {w} {kind} | {r['wall_s']} | {b['loadavg']} | {b['probe_s']} "
                       f"| {a['loadavg']} | {a['probe_s']} | {r['host']['steal_share']} |")
    return "\n".join(out) + "\n"


def main(argv) -> int:
    if "--tables" in argv:
        with open(OUT_JSON) as f:
            data = json.load(f)
    else:
        data = collect()
    notes = ""
    if os.path.exists(OUT_MD):
        with open(OUT_MD) as f:
            old = f.read()
        if "\n## Notes\n" in old:
            notes = "\n## Notes\n" + old.split("\n## Notes\n", 1)[1]
    with open(OUT_MD, "w") as f:
        f.write(tables(data) + notes)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
