"""Plan fingerprints of SnapshotTable's public reads, for comparing two
revisions of the read layer.

Builds one fixed table (range-clustered, a bloom column, several files
per bucket, a pending merge-on-read run and an attached secondary
index), then records for every read:

- ``files``: ``sorted(df.inputFiles())``;
- ``plan``: the ``explain("formatted")`` physical plan with expression
  and RDD ids masked;
- ``jobs_plan`` / ``jobs_collect``: Spark jobs run while building the
  DataFrame and during its ``.collect()``;
- ``rows``: the sorted collected rows (a result check, not a plan one).

Usage::

    python tools/read_plan_parity.py build DIR        # once
    python tools/read_plan_parity.py probe DIR A.json # at revision A
    # ... check out revision B, same DIR ...
    python tools/read_plan_parity.py probe DIR B.json
    python tools/read_plan_parity.py diff A.json B.json

``probe`` imports the package from the checkout the script sits in and
never writes to the table, so one built table serves both revisions
(data directory ids are time-based, so two builds never share paths).
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = ["k"]
READS = [
    ("read", lambda t: t.read()),
    ("read_buckets", lambda t: t.read_buckets([0, 2])),
    ("read_keys", lambda t: t.read_keys([1, 5, 77, 398, 1001])),
    ("read_where_range", lambda t: t.read_where([("v", "between", 100, 300)])),
    ("read_where_eq", lambda t: t.read_where([("tag", "=", "t7")])),
    ("read_where_in", lambda t: t.read_where([("tag", "in", ["t3", "t9"])])),
    ("read_where_index", lambda t: t.read_where([("band", "=", 7)])),
    ("read_in_values", lambda t: t.read_in_values("v", list(range(0, 400, 7)))),
]


def _spark():
    from changedatacapture_spark.session import get_spark

    return get_spark(shuffle_partitions=4)


def _table(spark, root: str):
    from changedatacapture_spark.streaming.sink import SnapshotTable

    return SnapshotTable(
        spark, f"{root}/t", KEYS, n_buckets=4, cluster_cols=["v"],
        max_records_per_file=25, bloom_cols=["tag"],
    )


def _index(spark, t):
    from changedatacapture_spark.streaming.index import SecondaryIndex

    return SecondaryIndex(spark, t, "band", n_buckets=4)


def build(root: str) -> None:
    spark = _spark()
    t = _table(spark, root)
    schema = "k long, v long, tag string, band long, op string"
    t.overwrite(
        spark.createDataFrame(
            [(k, (k * 37) % 400, f"t{k % 50}", k % 20, "c") for k in range(400)],
            schema,
        ).drop("op"),
        batch_id=0,
    )
    t.merge(
        spark.createDataFrame(
            [(5, 123, "t7", 7, "u"), (1001, 150, "t3", 7, "c"), (77, 0, "t0", 0, "d")],
            schema,
        ),
        batch_id=1,
        mode="mor",
    )
    _index(spark, t).sync()
    assert t._read_pointer().get("runs"), "no pending merge-on-read run"


def probe(root: str, out: str) -> None:
    spark = _spark()
    sc = spark.sparkContext
    t = _table(spark, root)
    t.attach_index(_index(spark, t))
    res = {}
    for name, fn in READS:
        sc.setJobGroup(f"plan:{name}", name)
        df = fn(t)
        sc.setJobGroup(f"collect:{name}", name)
        rows = sorted(tuple(r) for r in df.collect())
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = re.sub(r"#\d+", "#N", buf.getvalue())
        plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
        res[name] = {
            "files": sorted(df.inputFiles()),
            "plan": plan,
            "jobs_plan": len(sc.statusTracker().getJobIdsForGroup(f"plan:{name}")),
            "jobs_collect": len(
                sc.statusTracker().getJobIdsForGroup(f"collect:{name}")
            ),
            "rows": [list(r) for r in rows],
            "report": t.last_scan_report if name != "read" else None,
        }
    sc.setJobGroup("", "")
    with open(out, "w") as f:
        json.dump(res, f, indent=1, default=str)


def diff(a_path: str, b_path: str) -> int:
    """Print every read whose files, plan, job counts or rows differ;
    exit status 1 if any does. Scan reports are printed, not gated."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    bad = 0
    for name in a:
        for key in ("files", "plan", "jobs_plan", "jobs_collect", "rows"):
            same = a[name][key] == b[name][key]
            bad += not same
            print(f"{name:18s} {key:13s} {'same' if same else 'DIFFERENT'}")
        if a[name]["report"] != b[name]["report"]:
            print(f"{name:18s} report        {a[name]['report']} -> {b[name]['report']}")
    return 1 if bad else 0


if __name__ == "__main__":
    cmd, *args = sys.argv[1:]
    if cmd == "build":
        build(*args)
    elif cmd == "probe":
        probe(*args)
    elif cmd == "diff":
        sys.exit(diff(*args))
    else:
        sys.exit(f"unknown command {cmd!r}")
