"""Seeded inputs for the benchmark.

The batch tables come from ``tools/gen_scale_data.generate``, imported
and used unchanged. The stream plan is a pure function of the seed and
of the generated ``events`` table: which events arrive in which
time-ordered slice, which payloads are corrupt, and which events are
delivered late. The program only ever sees the generated tables and the
slice files made from them.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Scale factor of the generated tables: 10k events, 60k lineitems,
# 500 documents, 500 embeddings. Per-query fixed cost dominates at this
# size, which is what the construction and planning layers spend.
SF = 0.01
VOCAB = "legacy"

# stream replay: 30 days of events cut into 4 slices of 7.5 days
N_SLICES = 4
CORRUPT_SHARE = 0.02
LATE_SHARE = 0.01
# a late event of slice s arrives in slice s + LATE_SLICES; by then the
# watermark has reached the end of slice s + 1, at least one slice
# (7.5 days) past the event, so it is at least 2 days behind every window
# the event could still open
LATE_SLICES = 2
CORRUPT_PAYLOADS = (b'{"event_id": 17, "ts": ', b"not json at all")


def generate_tables(seed: int, out_dir: str) -> dict[str, int]:
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import gen_scale_data

    return gen_scale_data.generate(SF, out_dir, seed=seed, vocab_mode=VOCAB)


def stream_plan(seed: int, events_path: str) -> dict[str, np.ndarray]:
    """Per-event delivery slice plus corrupt and late flags.

    Exactly ``round(share * n)`` events are chosen for each flag, so the
    shares are the same for every seed. Late events are drawn among the
    on-time slices early enough to have a delivery slice."""
    t = pq.read_table(events_path, columns=["event_id", "ts"])
    event_id = t.column("event_id").to_numpy()
    ts = t.column("ts").cast("int64").to_numpy()
    n = len(event_id)
    t0 = ts.min()
    span = ts.max() - t0 + 1
    event_slice = ((ts - t0) * N_SLICES // span).astype("int64")
    rng = np.random.default_rng([seed, 7])
    order = rng.permutation(n)
    n_corrupt = round(CORRUPT_SHARE * n)
    corrupt = np.zeros(n, bool)
    corrupt[order[:n_corrupt]] = True
    eligible = order[n_corrupt:]
    eligible = eligible[event_slice[eligible] < N_SLICES - LATE_SLICES]
    late = np.zeros(n, bool)
    late[eligible[: round(LATE_SHARE * n)]] = True
    delivery = event_slice + np.where(late, LATE_SLICES, 0)
    return {
        "event_id": event_id,
        "slice": delivery,
        "corrupt": corrupt,
        "late": late,
    }
