"""Seeded input generation for the CDC-mirror benchmark.

Everything the engine sees comes from here: a bootstrap snapshot and
a live change log, cut into files. The same ``(workload, seed)`` always produces the
same bytes. The expected mirror state is folded from the same log in
plain Python, independently of the engine.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

#: the mirrored table: the reference's ``customers`` source (FIXTURES F1)
RECORD_DDL = "customerId long, name string, email string, city string, zipcode long"
KEY = "customerId"
ZIP_LO, ZIP_HI = 10_000, 99_999
#: base of the generated ``ts_ms`` clock; events are 1 ms apart
TS0_MS = 1_700_000_000_000


@dataclass(frozen=True)
class Profile:
    """The input properties one workload varies."""

    boot_rows: int  # rows in the bootstrap snapshot
    file_events: int  # change events per live file
    rate_files_s: float  # offered rate of the open loop, files/s
    mix: tuple[float, float, float]  # c/u/d shares
    hot_exp: float  # key skew: 1.0 = uniform, larger = hotter head


PROFILES = {
    # the reference's uniform 50/30/20 mix over a large keyspace
    "live_cow": Profile(20_000, 50, 10.0, (0.5, 0.3, 0.2), 1.0),
    # update-heavy, skewed churn: many changes collapse per key
    "serve_mor": Profile(20_000, 25, 10.0, (0.2, 0.7, 0.1), 4.0),
}


def record(rng: random.Random, k: int) -> dict:
    return {
        KEY: k,
        "name": f"name-{k}-{rng.randrange(1000)}",
        "email": f"u{k}@example.com",
        "city": f"city-{rng.randrange(997)}",
        "zipcode": rng.randint(ZIP_LO, ZIP_HI),
    }


def _changes(rng: random.Random, profile: Profile, live: list, pos: dict, next_key: int,
             n_files: int, file_events: int) -> tuple[list, int]:
    """``n_files`` files of ``file_events`` changes each, drawn with the
    profile's mix and skew. ``live``/``pos`` (the live keys and their
    positions) are updated in place; returns ``(files, next_key)``."""
    files = []
    c_share, u_share, _ = profile.mix
    for _ in range(n_files):
        evs = []
        for _ in range(file_events):
            r = rng.random()
            if r < c_share or not live:
                k, next_key = next_key, next_key + 1
                pos[k] = len(live)
                live.append(k)
                evs.append(("c", k, record(rng, k)))
                continue
            k = live[int(len(live) * rng.random() ** profile.hot_exp)]
            if r < c_share + u_share:
                evs.append(("u", k, record(rng, k)))
            else:
                i = pos.pop(k)
                last = live.pop()
                if last != k:
                    live[i] = last
                    pos[last] = i
                evs.append(("d", k, None))
        files.append(evs)
    return files, next_key


def render(changes, seq0: int) -> str:
    """JSONL body of one file: one Debezium envelope per change, ``seq``
    and ``ts_ms`` increasing in log order from ``seq0``."""
    out = []
    for j, (op, k, row) in enumerate(changes):
        before = {KEY: k} if op == "d" else None
        env = {"payload": {"before": before, "after": row, "op": op,
                           "ts_ms": TS0_MS + seq0 + j}}
        out.append(json.dumps({"value": json.dumps(env), "seq": seq0 + j}))
    return "\n".join(out) + "\n"


class ChangeLog:
    """A seeded change log cut into files. ``files[0]`` is the bootstrap
    snapshot (``r`` ops, one per key); each of the ``n_files`` later
    files holds ``file_events`` live changes. A change is ``(op, key,
    row)`` with ``row`` the after image (``None`` for a delete). Inserts
    take fresh keys; updates and deletes pick a live key, skewed toward
    a hot head when ``hot_exp > 1``.
    """

    def __init__(self, profile: Profile, seed: int, n_files: int) -> None:
        rng = random.Random(seed)
        self.profile, self.seed = profile, seed
        self.files: list[list[tuple]] = [
            [("r", k, record(rng, k)) for k in range(profile.boot_rows)]
        ]
        live = list(range(profile.boot_rows))
        pos = {k: i for i, k in enumerate(live)}
        files, next_key = _changes(rng, profile, live, pos, profile.boot_rows,
                                   n_files, profile.file_events)
        self.files += files
        #: keys ever used: lookups draw from this range
        self.key_space = next_key

    def first_seq(self, i: int) -> int:
        p = self.profile
        return 0 if i == 0 else p.boot_rows + (i - 1) * p.file_events

    def lines(self, i: int) -> str:
        return render(self.files[i], self.first_seq(i))

    def backlog(self, after: int, n_files: int, file_events: int) -> list[list[tuple]]:
        """A catch-up backlog that follows the first ``after`` files:
        ``n_files`` files of ``file_events`` changes with the profile's
        mix and skew, over the keys live at that point. Seeded by the
        log's seed and ``after``; new keys start above ``key_space``.
        Render file ``j`` with ``render(files[j], backlog_seq(j))``."""
        rng = random.Random(self.seed * 1_000_003 + after)
        live = sorted(fold({}, (c for f in self.files[:after] for c in f)))
        pos = {k: i for i, k in enumerate(live)}
        files, _ = _changes(rng, self.profile, live, pos, self.key_space,
                            n_files, file_events)
        return files

    def backlog_seq(self, j: int, file_events: int) -> int:
        """First ``seq`` of backlog file ``j``: above every live file."""
        return self.first_seq(len(self.files)) + j * file_events


def fold(state: dict, changes) -> dict:
    """Apply ``(op, key, row)`` changes in order: the last op per key
    wins and a delete drops the key. Mutates and returns ``state``."""
    for op, k, row in changes:
        if op == "d":
            state.pop(k, None)
        else:
            state[k] = row
    return state
