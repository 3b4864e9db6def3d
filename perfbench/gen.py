"""Seeded inputs of the ``live`` workload.

``live_step`` is a pure function of the seed and the sizes passed in:
the same arguments give the same step, another seed gives a different
one.  Nothing imports the program under test, so the inputs do not
change when the program does.  (The ``reports`` workload reads the
bundled tables under ``data/``; only its query order is seeded.)
"""

from __future__ import annotations

import numpy as np

LIVE_COLLECTIONS = ("pageview", "purchase", "signup")


def live_step(seed: int, step: int, n_events: int, n_user_ops: int, n_users: int = 2000) -> dict:
    """One live step: ``n_events`` stream events (about 2% re-send an
    earlier uuid of the same step) over the three collections with
    Zipf-skewed user ids, plus ``n_user_ops`` ordered profile ops."""
    rng = np.random.default_rng([seed, 4, step])
    coll = rng.choice(3, n_events, p=[0.6, 0.25, 0.15])
    users = rng.zipf(1.4, n_events) % n_users
    day = rng.integers(0, 28, n_events)
    secs = rng.integers(0, 86_400, n_events)
    amount = rng.integers(1, 500, n_events)
    events = []
    for i in range(n_events):
        c = LIVE_COLLECTIONS[coll[i]]
        props = {
            "_user": int(users[i]),
            "_time": f"2024-03-{day[i] + 1:02d} {secs[i] // 3600:02d}:{secs[i] // 60 % 60:02d}:{secs[i] % 60:02d}",
            "event_type": c,
            "amount": int(amount[i]),
        }
        events.append(
            {"collection": c, "properties": props, "api": {"uuid": f"s{seed}-{step}-{i}"}}
        )
    dups = [events[int(j)] for j in rng.integers(0, n_events, max(1, n_events // 50))]
    ops = []
    kinds = rng.choice(4, n_user_ops, p=[0.4, 0.2, 0.3, 0.1])
    ou = rng.zipf(1.4, n_user_ops) % 200
    vals = rng.integers(0, 1000, n_user_ops)
    for i in range(n_user_ops):
        kind = ("set", "set_once", "increment", "unset")[kinds[i]]
        if kind == "set":
            props = {"plan": f"plan{vals[i] % 4}", "score": int(vals[i])}
        elif kind == "set_once":
            props = {"first_seen": f"step{step}"}
        elif kind == "increment":
            props = {"visits": int(vals[i] % 5 + 1)}
        else:
            props = {"plan": None}
        ops.append((int(ou[i]), kind, props))
    return {"events": events, "duplicates": dups, "user_ops": ops}
