"""Seeded clickstream generator for the benchmark.

Produces a RetailRocket-shaped event log (2,756,101 events) as numpy
columns and writes it in the two layouts the workloads read:

* ``csv``     - RetailRocket ``events.csv`` (timestamp,visitorid,event,
  itemid,transactionid), time-ordered; the ``replay_full`` input;
* ``chunks``  - canonical parquet chunks of ``CHUNK_EVENTS`` events in time
  order, plus a far-future sentinel chunk; the ``stateful_sessions`` input.

The profile: heavy-tailed events per visitor (truncated power law, capped
at ``MAX_EVENTS_PER_VISITOR``), Zipf-skewed item popularity over
``N_ITEMS`` items, a 96.7 / 2.5 / 0.8 % view / addtocart / transaction mix
with ``transactionid`` only on transactions, and each visitor's events
clustered into sessions (about 15 % of a visitor's gaps exceed 30 min).

The same seed gives byte-identical files. The program under test only
ever sees the written files. Run as a process:

    python3 perfbench/gen.py csv    --seed 1 --out events.csv [--events N]
    python3 perfbench/gen.py chunks --seed 1 --out DIR --events 20000
"""

from __future__ import annotations

import argparse
import os
import sys
from dataclasses import dataclass

import numpy as np

N_EVENTS = 2_756_101
#: item universe; with the Zipf skew ~235k distinct items occur in the log
N_ITEMS = 250_000
MAX_EVENTS_PER_VISITOR = 8_000
#: exponent of the per-visitor event-count power law; with the cap this
#: gives ~2.1 events per visitor, i.e. ~1.3M visitors for the full log
VISITOR_ALPHA = 2.4
#: Zipf exponent of item popularity (rank r has weight (r + 10) ** -s)
ITEM_ZIPF_S = 0.9
EVENT_TYPES = ("view", "addtocart", "transaction")
EVENT_MIX = (0.967, 0.025, 0.008)
LONG_GAP_SHARE = 0.15
SESSION_GAP_S = 1800
#: RetailRocket's time span: 2015-05-03 .. 2015-09-18 (epoch ms)
T0_MS = 1_430_622_000_000
SPAN_MS = 138 * 86_400_000
#: events per parquet chunk, as a Kafka poll of ``max.poll.records`` = 10000
CHUNK_EVENTS = 10_000


@dataclass(frozen=True)
class Events:
    """Columns of a generated log, sorted by (timestamp, visitorid)."""

    timestamp: np.ndarray  # int64 epoch ms
    visitorid: np.ndarray  # int64
    event: np.ndarray  # int8 index into EVENT_TYPES
    itemid: np.ndarray  # int64
    transactionid: np.ndarray  # int64, -1 where absent

    def __len__(self) -> int:
        return len(self.timestamp)

    def head(self, n: int) -> "Events":
        """The first ``n`` events in time order."""
        return Events(*(getattr(self, f)[:n] for f in self.__dataclass_fields__))


def _visitor_counts(rng: np.random.Generator, n_events: int) -> np.ndarray:
    """Events per visitor: truncated power law k ** -alpha on 1..cap, drawn
    until the counts cover ``n_events``; the last visitor is trimmed."""
    k = np.arange(1, MAX_EVENTS_PER_VISITOR + 1, dtype=np.float64)
    p = k ** -VISITOR_ALPHA
    p /= p.sum()
    mean = float((k * p).sum())
    counts = rng.choice(MAX_EVENTS_PER_VISITOR, size=int(n_events / mean * 1.05) + 16, p=p) + 1
    csum = np.cumsum(counts)
    while csum[-1] < n_events:  # vanishingly rare: top up
        extra = rng.choice(MAX_EVENTS_PER_VISITOR, size=1024, p=p) + 1
        counts = np.concatenate([counts, extra])
        csum = np.cumsum(counts)
    n_vis = int(np.searchsorted(csum, n_events)) + 1
    counts = counts[:n_vis].copy()
    counts[-1] -= int(csum[n_vis - 1] - n_events)
    return counts


def generate(seed: int, n_events: int = N_EVENTS) -> Events:
    rng = np.random.default_rng(seed)
    counts = _visitor_counts(rng, n_events)
    n_vis = len(counts)
    # visitor ids: a random injective map into a sparse id space
    vids = rng.permutation(n_vis * 2)[:n_vis].astype(np.int64)
    visitorid = np.repeat(vids, counts)
    first = np.zeros(n_events, dtype=bool)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    first[starts] = True

    # inter-event gaps (seconds): short in-session gaps, or with probability
    # LONG_GAP_SHARE a session break well past the 30-minute gap
    is_long = rng.random(n_events) < LONG_GAP_SHARE
    short = np.minimum(rng.exponential(90.0, n_events), SESSION_GAP_S - 1)
    # a visitor's long gaps shrink with its event count so every timeline
    # fits the span (heavy visitors are dense, light ones spread out)
    n_long = np.maximum(counts * LONG_GAP_SHARE, 1.0)
    long_mean_s = np.clip(SPAN_MS / 1000 * 0.5 / n_long, 3600.0, 3 * 86_400.0)
    long = SESSION_GAP_S + 1 + rng.exponential(1.0, n_events) * np.repeat(long_mean_s, counts)
    gap_ms = np.where(is_long, long, short) * 1000.0
    gap_ms = (gap_ms + rng.integers(0, 1000, n_events)).astype(np.int64)
    gap_ms[first] = 0
    offs = np.cumsum(gap_ms)
    offs -= np.repeat(offs[starts], counts)
    length = offs[np.cumsum(counts) - 1]
    room = np.maximum(SPAN_MS - length, 0)
    origin = T0_MS + (rng.random(n_vis) * room).astype(np.int64)
    timestamp = np.repeat(origin, counts) + offs

    # item popularity: Zipf-like over ranks, ranks mapped to random ids
    w = (np.arange(N_ITEMS, dtype=np.float64) + 10.0) ** -ITEM_ZIPF_S
    w /= w.sum()
    ranks = rng.choice(N_ITEMS, size=n_events, p=w)
    item_ids = rng.permutation(N_ITEMS * 2)[:N_ITEMS].astype(np.int64)
    itemid = item_ids[ranks]

    event = rng.choice(len(EVENT_TYPES), size=n_events, p=EVENT_MIX).astype(np.int8)
    transactionid = np.full(n_events, -1, dtype=np.int64)
    is_tx = event == 2
    transactionid[is_tx] = rng.integers(0, 20_000, int(is_tx.sum()))

    order = np.lexsort((visitorid, timestamp))
    return Events(
        timestamp=timestamp[order],
        visitorid=visitorid[order],
        event=event[order],
        itemid=itemid[order],
        transactionid=transactionid[order],
    )


def _event_names(ev: Events) -> np.ndarray:
    return np.array(EVENT_TYPES, dtype=object)[ev.event]


def write_csv(ev: Events, path: str) -> None:
    """RetailRocket ``events.csv`` layout; an absent transactionid is an
    empty field."""
    import pyarrow as pa
    import pyarrow.csv as pcsv

    tx = pa.array(ev.transactionid, mask=ev.transactionid < 0)
    table = pa.table(
        {
            "timestamp": ev.timestamp,
            "visitorid": ev.visitorid,
            "event": pa.array(_event_names(ev), pa.string()),
            "itemid": ev.itemid,
            "transactionid": tx,
        }
    )
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write((",".join(table.column_names) + "\n").encode())
        pcsv.write_csv(
            table, fh, pcsv.WriteOptions(include_header=False, quoting_style="none")
        )
    os.replace(tmp, path)


def _canonical_table(ev: Events, lo: int, hi: int):
    """Canonical stream schema (``sources.readers.CANON_EVENT_SCHEMA``):
    visitorid, event, event_time (UTC µs), itemid, event_id, value."""
    import pyarrow as pa

    return pa.table(
        {
            "visitorid": pa.array(ev.visitorid[lo:hi], pa.int64()),
            "event": pa.array(_event_names(ev)[lo:hi], pa.string()),
            "event_time": pa.array(ev.timestamp[lo:hi] * 1000, pa.timestamp("us", tz="UTC")),
            "itemid": pa.array(ev.itemid[lo:hi], pa.int64()),
            "event_id": pa.array(np.arange(lo, hi, dtype=np.int64), pa.int64()),
            "value": pa.array(np.zeros(hi - lo), pa.float64()),
        }
    )


#: the sentinel chunk's single event lies this far after the last real one,
#: so the watermark passes every open session's timeout
SENTINEL_AFTER_MS = 30 * 86_400_000
SENTINEL_VISITOR = -1


def write_chunks(ev: Events, out_dir: str, n_events: int, chunk: int = CHUNK_EVENTS) -> int:
    """The first ``n_events`` events as time-ordered canonical parquet
    chunks of ``chunk`` events, plus one sentinel chunk. File mtimes
    increase strictly so the file source's (mtime, path) order is event
    order. Returns the number of files written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = min(n_events, len(ev))
    base = 1_600_000_000
    files = 0
    for i, lo in enumerate(range(0, n, chunk)):
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        pq.write_table(_canonical_table(ev, lo, min(lo + chunk, n)), path)
        os.utime(path, (base + i, base + i))
        files += 1
    sentinel = pa.table(
        {
            "visitorid": pa.array([SENTINEL_VISITOR], pa.int64()),
            "event": pa.array(["view"], pa.string()),
            "event_time": pa.array(
                [(int(ev.timestamp[n - 1]) + SENTINEL_AFTER_MS) * 1000],
                pa.timestamp("us", tz="UTC"),
            ),
            "itemid": pa.array([0], pa.int64()),
            "event_id": pa.array([-1], pa.int64()),
            "value": pa.array([0.0], pa.float64()),
        }
    )
    path = os.path.join(out_dir, f"chunk-{files:05d}.parquet")
    pq.write_table(sentinel, path)
    os.utime(path, (base + files, base + files))
    return files + 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("layout", choices=("csv", "chunks"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", type=int, default=N_EVENTS, help="first N events to write")
    a = ap.parse_args(argv)
    ev = generate(a.seed)
    if a.layout == "csv":
        write_csv(ev.head(a.events), a.out)
    else:
        write_chunks(ev, a.out, a.events)
    return 0


if __name__ == "__main__":
    sys.exit(main())
