"""Property-based differential test for merge-on-read storage.

The MoR invariant: for ANY changelog, ANY contiguous batch split
applied in time order, ANY per-batch storage mode (copy-on-write after
folding pending runs, or merge-on-read append), and ANY interleaving
of minor (``compact_runs``) and major (``compact``) compactions, the
resolved table equals one global compaction of the log — storage
layout is invisible to the logical result. Hypothesis drives the
adversarial cases: same-timestamp ties, delete-then-reinsert across
batch boundaries, single-key floods, batches that are all deletes.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# One event: (key, ts, op, value); seq is the list index (arrival
# order tie-break). Time-ordered batches are cut at random positions
# AFTER sorting by (ts, seq) — last-batch-wins then matches the
# global (ts, seq) compaction, the same contract the e2e queries use.
_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # tiny keyspace → collisions
        st.integers(min_value=0, max_value=3),  # ts ties
        st.sampled_from(["c", "u", "d"]),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=1,
    max_size=24,
)

_PLAN = st.lists(
    st.tuples(
        st.sampled_from(["mor", "cow"]),  # storage mode per batch
        st.sampled_from(["none", "minor", "major"]),  # post-batch fold
    ),
    min_size=1,
    max_size=4,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _expected(events):
    """Python fold: latest (ts, seq) wins; delete removes the key."""
    ordered = sorted(
        ((ts, seq, key, op, value)
         for seq, (key, ts, op, value) in enumerate(events))
    )
    state = {}
    for ts, seq, key, op, value in ordered:
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = value
    return sorted(state.items())


@given(_EVENTS, _PLAN, st.integers(min_value=0, max_value=2**31 - 1))
@_SETTINGS
def test_mor_any_split_any_mode_equals_global_compaction(
    spark, tmp_path_factory, events, plan, cut_seed
):
    import random

    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming.sink import SnapshotTable

    rows = sorted(
        (ts, seq, key, op, value)
        for seq, (key, ts, op, value) in enumerate(events)
    )
    n_batches = len(plan)
    rng = random.Random(cut_seed)
    cuts = sorted(rng.randint(0, len(rows)) for _ in range(n_batches - 1))
    bounds = [0] + cuts + [len(rows)]

    path = str(tmp_path_factory.mktemp("mor_prop") / "t")
    t = SnapshotTable(spark, path, ["key_id"], n_buckets=4)
    for i, (mode, fold) in enumerate(plan):
        chunk = rows[bounds[i]:bounds[i + 1]]
        if not chunk:
            continue
        df = spark.createDataFrame(
            [(k, ts, seq, op, v) for ts, seq, k, op, v in chunk],
            "key_id long, ts long, seq long, op string, value long",
        )
        compacted = compact_latest(df, ["key_id"], ["ts", "seq"])
        if mode == "cow" and (t._read_pointer() or {}).get("runs"):
            t.compact()  # cow requires folded runs — fold first
        t.merge(compacted, batch_id=i, mode=mode)
        if fold == "minor":
            t.compact_runs()
        elif fold == "major" and t.exists():
            t.compact()

    # every row lands in exactly one batch (bounds partition the log)
    # and min_size=1, so the table always exists — even an all-delete
    # bootstrap commits an empty manifest
    assert t.exists()
    got = sorted((r.key_id, r.value) for r in t.read().collect())
    assert got == _expected(events)


# size-based policy schedules: ratio pairs spanning never-fires (huge),
# always-fires-minor (0.0 minor, no major), always-fires-major, and the
# production-shaped middle (minor at 25% of base, major at 100%)
_RATIO_PLAN = st.lists(
    st.sampled_from(
        [(None, None), (0.0, None), (None, 0.0), (0.25, 1.0), (1e9, 1e9)]
    ),
    min_size=1,
    max_size=4,
)


@given(_EVENTS, _RATIO_PLAN, st.integers(min_value=0, max_value=2**31 - 1))
@_SETTINGS
def test_mor_any_size_policy_schedule_equals_global_compaction(
    spark, tmp_path_factory, events, ratio_plan, cut_seed
):
    """Size-based compaction (compact_by_size) under ANY per-batch
    threshold schedule — including degenerate always/never thresholds
    and mixed minor/major tiers — must leave the logical result equal
    to one global compaction of the log."""
    import random

    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming.sink import SnapshotTable

    rows = sorted(
        (ts, seq, key, op, value)
        for seq, (key, ts, op, value) in enumerate(events)
    )
    n_batches = len(ratio_plan)
    rng = random.Random(cut_seed)
    cuts = sorted(rng.randint(0, len(rows)) for _ in range(n_batches - 1))
    bounds = [0] + cuts + [len(rows)]

    path = str(tmp_path_factory.mktemp("mor_size_prop") / "t")
    t = SnapshotTable(spark, path, ["key_id"], n_buckets=4)
    for i, (minor_r, major_r) in enumerate(ratio_plan):
        chunk = rows[bounds[i]:bounds[i + 1]]
        if not chunk:
            continue
        df = spark.createDataFrame(
            [(k, ts, seq, op, v) for ts, seq, k, op, v in chunk],
            "key_id long, ts long, seq long, op string, value long",
        )
        compacted = compact_latest(df, ["key_id"], ["ts", "seq"])
        t.merge(compacted, batch_id=i, mode="mor")
        t.compact_by_size(minor_r, major_r)

    assert t.exists()
    got = sorted((r.key_id, r.value) for r in t.read().collect())
    assert got == _expected(events)


# whole policies per batch for the one-call path: every tier alone at
# an always-fires setting, the production-shaped byte pair, never-fires
_POLICY_PLAN = st.lists(
    st.sampled_from(
        [
            None,
            {"compact_every": 2},
            {"minor_ratio": 0.0},
            {"major_ratio": 0.0},
            {"minor_ratio": 0.25, "major_ratio": 1.0},
            {"max_files_per_bucket": 0},
            {"minor_ratio": 1e9, "major_ratio": 1e9},
        ]
    ),
    min_size=1,
    max_size=4,
)


@given(_EVENTS, _POLICY_PLAN, st.integers(min_value=0, max_value=2**31 - 1))
@_SETTINGS
def test_mor_fold_on_write_any_policy_equals_global_compaction(
    spark, tmp_path_factory, events, policy_plan, cut_seed
):
    """The one-call path (``merge(maintain=...)``: each batch rides
    whatever fold its policy finds due) under ANY batch split and ANY
    per-batch policy leaves the logical result equal to one global
    compaction of the log, and costs at most one commit per batch."""
    import random

    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming.sink import (
        MaintenancePolicy,
        SnapshotTable,
    )

    rows = sorted(
        (ts, seq, key, op, value)
        for seq, (key, ts, op, value) in enumerate(events)
    )
    n_batches = len(policy_plan)
    rng = random.Random(cut_seed)
    cuts = sorted(rng.randint(0, len(rows)) for _ in range(n_batches - 1))
    bounds = [0] + cuts + [len(rows)]

    path = str(tmp_path_factory.mktemp("mor_fused_prop") / "t")
    t = SnapshotTable(spark, path, ["key_id"], n_buckets=4)
    for i, policy in enumerate(policy_plan):
        chunk = rows[bounds[i]:bounds[i + 1]]
        df = spark.createDataFrame(
            [(k, ts, seq, op, v) for ts, seq, k, op, v in chunk],
            "key_id long, ts long, seq long, op string, value long",
        )
        compacted = compact_latest(df, ["key_id"], ["ts", "seq"])
        before = t.version
        t.merge(
            compacted, batch_id=i, mode="mor",
            maintain=None if policy is None else MaintenancePolicy(**policy),
        )
        assert t.version - before <= 1 or before == -1

    # the first batch creates the table, even an empty one
    assert t.exists()
    got = sorted((r.key_id, r.value) for r in t.read().collect())
    assert got == _expected(events)


@given(_EVENTS, _PLAN, st.integers(min_value=0, max_value=2**31 - 1))
@_SETTINGS
def test_join_view_invariant_under_mor_splits_and_folds(
    spark, tmp_path_factory, events, plan, cut_seed
):
    """JoinView x MoR composition (round-14): for ANY batch split, ANY
    per-batch storage mode, and ANY compaction interleaving on the
    FACT base, the incrementally-maintained join view equals the plain
    inner join of the final states — including a dim change landing on
    the last batch (label update + dim delete)."""
    import random

    from changedatacapture_spark.operators.cdc import compact_latest
    from changedatacapture_spark.streaming.pipeline import JoinView
    from changedatacapture_spark.streaming.sink import SnapshotTable

    rows = sorted(
        (ts, seq, key, op, value)
        for seq, (key, ts, op, value) in enumerate(events)
    )
    n_batches = len(plan)
    rng = random.Random(cut_seed)
    cuts = sorted(rng.randint(0, len(rows)) for _ in range(n_batches - 1))
    bounds = [0] + cuts + [len(rows)]

    root = tmp_path_factory.mktemp("jv_mor_prop")
    fact = SnapshotTable(spark, str(root / "fact"), ["key_id"], n_buckets=4)
    dim = SnapshotTable(spark, str(root / "dim"), ["dim_id"], n_buckets=2)
    view = SnapshotTable(spark, str(root / "view"), ["key_id"], n_buckets=4)
    jv = JoinView(
        spark, fact, dim, view,
        fact_key_cols=["key_id"], join_col="dim_id",
        dim_payload_cols=["label"],
    )
    dim.merge(
        spark.createDataFrame(
            [(d, f"L{d}", "c") for d in range(3)],
            "dim_id long, label string, op string",
        ),
        batch_id=0,
    )
    last_dim = spark.createDataFrame(
        [(0, "L0v2", "u"), (2, None, "d")],
        "dim_id long, label string, op string",
    )
    applied_any = False
    for i, (mode, fold) in enumerate(plan):
        chunk = rows[bounds[i]:bounds[i + 1]]
        dim_delta = last_dim if i == n_batches - 1 else None
        if not chunk and dim_delta is None:
            continue
        df = spark.createDataFrame(
            [(k, ts, seq, op, v, k % 3) for ts, seq, k, op, v in chunk],
            "key_id long, ts long, seq long, op string, value long, "
            "dim_id long",
        )
        compacted = compact_latest(df, ["key_id"], ["ts", "seq"])
        if chunk:
            if mode == "cow" and (fact._read_pointer() or {}).get("runs"):
                fact.compact()
            fact.merge(compacted, batch_id=i, mode=mode)
        if dim_delta is not None:
            dim.merge(dim_delta, batch_id=1)
        if fact.exists():
            jv.apply(compacted, dim_delta, batch_id=i)
            applied_any = True
        if chunk:
            if fold == "minor":
                fact.compact_runs()
            elif fold == "major":
                fact.compact()

    if not applied_any:
        return
    f = {r.key_id: (r.dim_id, r.value) for r in fact.read().collect()}
    d = {r.dim_id: r.label for r in dim.read().collect()}
    want = sorted(
        (k, dv, v, d[dv]) for k, (dv, v) in f.items() if dv in d
    )
    got = sorted(
        (r.key_id, r.dim_id, r.value, r.label) for r in view.read().collect()
    )
    assert got == want
