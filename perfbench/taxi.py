"""Seeded synthetic taxi day for the replay workload, with its ground truth.

One headerless CSV file per drop-off minute, in the reference's two ragged
row formats: yellow rows have 20 fields and green rows 22, and both carry
the drop-off timestamp in field 4. Arrivals are Poisson at one steady rate,
so every hour-batch is about the same size and the cost of a batch does not
depend on which hour it is. Every file gets a distinct modification time in
minute order, so a file stream with ``maxFilesPerTrigger=60`` reads exactly
one clock hour per micro-batch.

Drop-offs land either inside one of the two reference geofences or well
outside both, never near an edge, so the classification is unambiguous.
Every hour carries a planted drop-off surge at one headquarters in one
10-minute window whose previous window lies in the same hour, so the trend
rule fires inside (nearly) every batch. About 0.5% of rows are malformed,
to exercise the PERMISSIVE path:

- a row cut after 3 fields has no drop-off time and falls out of every window;
- a row whose drop-off time does not parse also falls out of every window;
- a row whose drop-off longitude is not a number is counted as ``none``.

The generator returns the ground truth: rows per hour-batch, counts per
(10-minute window, headquarters), and the alerts the same-batch trend rule
must raise.
"""

from __future__ import annotations

import os
import time

import numpy as np

DATE = "2015-12-01"
FILES_PER_BATCH = 60
WINDOW_S = 600
MIN_COUNT = 10

GOLDMAN = [
    (-74.0141012, 40.7152191),
    (-74.013777, 40.7152275),
    (-74.0141027, 40.7138745),
    (-74.0144185, 40.7140753),
]
CITIGROUP = [
    (-74.011869, 40.7217236),
    (-74.009867, 40.721493),
    (-74.010140, 40.720053),
    (-74.012083, 40.720267),
]
# centres well inside each geofence under even-odd ray casting; jitter
# stays far below the distance to any edge
_CENTRES = {"goldman": (-74.01405, 40.71470), "citigroup": (-74.01100, 40.72090)}
_JITTER = 0.00003
_OUTSIDE = (-73.985, 40.750)
_HQS = ("goldman", "citigroup")


def _ray_cast(poly, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    inside = np.zeros(len(x), dtype=bool)
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        if y1 == y2:
            continue
        cross = ((y1 > y) != (y2 > y)) & (x < (x2 - x1) * (y - y1) / (y2 - y1) + x1)
        inside ^= cross
    return inside


def classify(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """goldman first, then citigroup, else none (NaN coordinates → none)."""
    out = np.full(len(lon), "none", dtype=object)
    ok = ~(np.isnan(lon) | np.isnan(lat))
    g = ok & _ray_cast(GOLDMAN, lon, lat)
    c = ok & ~g & _ray_cast(CITIGROUP, lon, lat)
    out[g] = "goldman"
    out[c] = "citigroup"
    return out


def generate_day(
    out_dir: str,
    seed: int,
    first_hour: int = 0,
    hours: int = 24,
    mean_rows_per_minute: float = 290.0,
    geofence_share: float = 0.002,
    malformed_share: float = 0.005,
) -> dict:
    """Write one file per minute of ``hours`` clock hours from
    ``first_hour`` into ``out_dir``; return the ground truth."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    minutes = np.arange(first_hour * 60, (first_hour + hours) * 60)
    per_min = np.maximum(1, rng.poisson(mean_rows_per_minute, len(minutes))).astype(np.int64)

    # drop-off minute of every row, plus planted surges
    minute = np.repeat(minutes, per_min)
    hq_pick = rng.random(len(minute))
    where = np.full(len(minute), "none", dtype=object)
    where[hq_pick < geofence_share] = "goldman"
    where[(hq_pick >= geofence_share) & (hq_pick < 2 * geofence_share)] = "citigroup"
    surge_min, surge_hq = [], []
    for hour in range(first_hour, first_hour + hours):
        w = int(rng.integers(1, 6))  # windows 1..5: the previous one is in this hour
        hq = _HQS[int(rng.integers(0, 2))]
        # a few drop-offs in the previous window so it is present, then
        # a jump far above twice its count
        before, extra = 3, int(rng.integers(40, 61))
        surge_min.append(hour * 60 + (w - 1) * 10 + rng.integers(0, 10, before))
        surge_min.append(hour * 60 + w * 10 + rng.integers(0, 10, extra))
        surge_hq.extend([hq] * (before + extra))
    if surge_min:
        minute = np.concatenate([minute, np.concatenate(surge_min)])
        where = np.concatenate([where, np.array(surge_hq, dtype=object)])
    order = np.argsort(minute, kind="stable")
    minute, where = minute[order], where[order]
    n = len(minute)

    sec = rng.integers(0, 60, n)
    is_green = rng.random(n) < 0.11
    lon = np.full(n, _OUTSIDE[0]) + rng.uniform(-0.02, 0.02, n)
    lat = np.full(n, _OUTSIDE[1]) + rng.uniform(-0.02, 0.02, n)
    for hq, (cx, cy) in _CENTRES.items():
        sel = where == hq
        lon[sel] = cx + rng.uniform(-_JITTER, _JITTER, sel.sum())
        lat[sel] = cy + rng.uniform(-_JITTER, _JITTER, sel.sum())
    # the engine reads the 6-decimal text, so classify that
    lon = np.round(lon, 6)
    lat = np.round(lat, 6)
    bad = rng.random(n) < malformed_share
    bad_kind = rng.integers(0, 3, n)  # 0 truncated, 1 bad time, 2 bad lon

    ts_valid = ~(bad & (bad_kind < 2))
    lon_eff = np.where(bad & (bad_kind == 2), np.nan, lon)
    hq_eff = classify(lon_eff, lat)
    if not np.array_equal(hq_eff[~bad], where[~bad]):
        raise AssertionError("generated point classified outside its geofence")

    # text of every row
    clock = [f"{DATE} {h:02d}:{m:02d}:" for h in range(24) for m in range(60)]
    kind = np.where(bad, bad_kind, -1).tolist()
    text = []
    for m, s, x, y, g, k in zip(
        minute.tolist(), sec.tolist(), lon.tolist(), lat.tolist(), is_green.tolist(), kind
    ):
        pick = f"{clock[max(m - 60, m % 60)]}00"
        if k == 0:
            text.append(f"yellow,1,{pick}")
            continue
        drop = f"{clock[m]}xx" if k == 1 else f"{clock[m]}{s:02d}"
        xs = "lon?" if k == 2 else f"{x:.6f}"
        if g:
            text.append(
                f"green,2,{pick},{drop},N,1,-73.983749,40.694454,{xs},{y:.6f},"
                "1,2.18,9,0,0.5,1.96,0,,0.3,11.76,1,1"
            )
        else:
            text.append(
                f"yellow,1,{pick},{drop},1,2.30,-73.966812,40.793403,1,N,"
                f"{xs},{y:.6f},2,14,0,0.5,0,0,0.3,14.8"
            )
    bounds = np.searchsorted(minute, np.append(minutes, minutes[-1] + 1))

    base = time.time() - len(minutes) - 3600
    for i, m in enumerate(minutes.tolist()):
        path = os.path.join(out_dir, f"part-{DATE}-{m // 60:02d}{m % 60:02d}.csv")
        with open(path, "w") as f:
            f.write("\n".join(text[bounds[i] : bounds[i + 1]]) + "\n")
        os.utime(path, (base + i, base + i))

    # ground truth
    win = (minute * 60 + sec) // WINDOW_S * WINDOW_S  # seconds since midnight
    counts: dict[tuple[int, str], int] = {}
    for w, h in zip(win[ts_valid], hq_eff[ts_valid]):
        counts[(int(w), h)] = counts.get((int(w), h), 0) + 1
    rows_per_batch = np.bincount(
        minute // FILES_PER_BATCH - first_hour, minlength=hours
    ).tolist()
    return {
        "rows": n,
        "rows_per_batch": rows_per_batch,
        "counts": counts,
        "alerts": expected_alerts(counts),
    }


def expected_alerts(counts: dict[tuple[int, str], int]) -> set[tuple[str, int, int, int]]:
    """The same-batch trend rule, batch = one clock hour: within each hour
    and headquarters, a window alerts when the window exactly 600 s before
    it is also present, its count is at least MIN_COUNT and it grew by at
    least the previous count. Returns (hq, window_start_s, cnt, prev_cnt)."""
    alerts = set()
    by_key: dict[tuple[int, str], list[tuple[int, int]]] = {}
    for (w, h), c in counts.items():
        by_key.setdefault((w // 3600, h), []).append((w, c))
    for (_hour, h), wins in by_key.items():
        wins.sort()
        for (pw, pc), (w, c) in zip(wins, wins[1:]):
            if w - pw == WINDOW_S and c >= MIN_COUNT and c - pc >= pc:
                alerts.add((h, w, c, pc))
    return alerts
