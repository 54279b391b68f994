"""Seeded chunk files for `binlog_live`.

The input is an endless replay of one 30-day pass of `events` rows, shaped
like the engine's `events` test table (100 000 rows per pass, 2 000 users,
five event types). Row `id` is base row `id % 100000` of pass
`id // 100000`, shifted by 30 days per pass, so `ts` and `event_id` grow
with `id`. The rows are cut into chunk files on the feed schedule: the
warm feed, then the timed feed of steady files plus bursts. Each chunk is
written once, as `chunk_NNNNN.parquet`; `manifest.tsv` lists per chunk its
row count, due offset (ms, from the start of its feed), burst number (-1
for none), whether it belongs to the timed feed, and its largest `ts`
(epoch ms).
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = 100_000
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
PASS_US = 30 * 86_400 * 1_000_000
STEP_US = PASS_US // BASE_ROWS
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
USERS = 2000

STEADY_EVERY_MS, STEADY_ROWS = 200, 400   # 2 000 rows/s
BURST_FILES, BURST_ROWS, BURST_EVERY_MS = 10, 5000, 100  # 10 sink flushes in 1 s
# The last burst of the timed feed is due this long before it ends, so in a
# short run the steady chunks before it, not its catch-up, set the median.
LAST_BURST_BEFORE_END_MS, BURST_PERIOD_MS = 2000, 20_000
WARM_MS = 1000


def schedule(seconds):
    """(rows, due_ms, burst, timed) per chunk, rows numbered in this order."""
    warm = [(STEADY_ROWS, t, -1, False) for t in range(0, WARM_MS, STEADY_EVERY_MS)]
    steady = [(STEADY_ROWS, t, -1, True) for t in range(0, seconds * 1000, STEADY_EVERY_MS)]
    last = max(0, seconds * 1000 - LAST_BURST_BEFORE_END_MS)
    bursts = [(BURST_ROWS, b + f * BURST_EVERY_MS, n, True)
              for n, b in enumerate(range(last % BURST_PERIOD_MS, last + 1, BURST_PERIOD_MS))
              for f in range(BURST_FILES)]
    return warm + sorted(steady + bursts, key=lambda c: c[1])


def generate(seed, seconds, out_dir):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    jitter = rng.integers(0, STEP_US, BASE_ROWS)
    user = rng.integers(0, USERS, BASE_ROWS)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), BASE_ROWS)]
    value = rng.integers(0, 20_000, BASE_ROWS) / 100.0
    props = np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, BASE_ROWS)])
    manifest, row = [], 0
    for idx, (rows, due, burst, timed) in enumerate(schedule(seconds)):
        ids = np.arange(row, row + rows, dtype=np.int64)
        i, k = ids % BASE_ROWS, ids // BASE_ROWS
        ts = START_US + k * PASS_US + i * STEP_US + jitter[i]
        pq.write_table(pa.table({
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": user[i],
            "event_type": etype[i],
            "value": value[i],
            "props": props[i],
        }), out / f"chunk_{idx:05d}.parquet")
        manifest.append(f"{idx}\t{rows}\t{due}\t{burst}\t{int(timed)}\t{int(ts.max()) // 1000}")
        row += rows
    (out / "manifest.tsv").write_text("\n".join(manifest) + "\n")
