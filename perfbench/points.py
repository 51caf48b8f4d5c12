"""Seeded synthetic point stream for the benchmark workloads.

Every property below is a pure function of the seed, so two runs with the
same seed send byte-identical points:

- ``region``: 20 values ``r00``..``r19``, uniform.
- ``event_type``: 5 values with fixed shares
  view 40 %, click 30 %, purchase 15 %, signup 10 %, error 5 %.
- ``device``: 200 values ``d000``..``d199`` drawn Zipf-like (p ~ 1/rank^1.1),
  so ``d000`` alone carries about 21 % of the points.
- ``value``: Gamma(shape 2, scale 10) rounded to cents and clipped to
  [0, 100] (mean about 20; the PERCENTILE fields bin [0, 100]).
- ``user_id``: a numeric val (integer-valued double in [0, 5000)).
  It must stay numeric: the store folds COUNTDISTINCT states through a
  double cast at compaction, so a string id would fail there.
- ``ts``: epoch seconds spread uniformly over ``days`` days from ``START``
  and sorted, except for a ``late_share`` of points that arrive out of
  order: each is moved back by Uniform(0, ``late_days``) days (clamped at
  ``START``), keeping its position in the stream.
"""

from __future__ import annotations

import numpy as np

START = 1_704_067_200  # 2024-01-01T00:00:00Z
DAY = 86_400
REGIONS = np.array([f"r{i:02d}" for i in range(20)])
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_SHARES = np.array([0.40, 0.30, 0.15, 0.10, 0.05])
DEVICES = np.array([f"d{i:03d}" for i in range(200)])
ZIPF_S = 1.1
USERS = 5000

_ZIPF_P = 1.0 / np.arange(1, len(DEVICES) + 1) ** ZIPF_S
_ZIPF_P /= _ZIPF_P.sum()


def generate(
    seed: int,
    n: int,
    days: float = 60.0,
    late_share: float = 0.0,
    late_days: float = 3.0,
) -> dict[str, np.ndarray]:
    """Column arrays of ``n`` points in stream order."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.uniform(START, START + days * DAY, n)).round(3)
    late = rng.random(n) < late_share
    back = rng.uniform(0.0, late_days * DAY, n)
    ts = np.where(late, np.maximum(START, ts - back), ts).round(3)
    return {
        "ts": ts,
        "region": REGIONS[rng.integers(0, len(REGIONS), n)],
        "event_type": EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_SHARES)],
        "device": DEVICES[rng.choice(len(DEVICES), n, p=_ZIPF_P)],
        "value": np.clip(rng.gamma(2.0, 10.0, n), 0.0, 100.0).round(2),
        "user_id": rng.integers(0, USERS, n).astype("float64"),
    }


DIMS = ("region", "event_type", "device")
VALS = ("value", "user_id")


def to_messages(cols: dict[str, np.ndarray], lo: int, hi: int) -> list[tuple]:
    """Points ``lo:hi`` as (ts, dims, vals) tuples for the RPC inserter."""
    ts = cols["ts"][lo:hi].tolist()
    dims = [cols[d][lo:hi].tolist() for d in DIMS]
    vals = [cols[v][lo:hi].tolist() for v in VALS]
    return [
        (ts[i], {d: dims[j][i] for j, d in enumerate(DIMS)},
         {v: vals[j][i] for j, v in enumerate(VALS)})
        for i in range(hi - lo)
    ]
