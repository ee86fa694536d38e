"""Seeded input generators for the benchmark's workloads.

The events table has the schema and value domains of the program's
fixture `events` table (TESTDATA.md): the same columns and parquet types,
event kinds and `props` JSON keys. The same seed always gives the same
files.

Where the traffic's shape comes from (perfbench/README.md, "Inputs"):

- events per user: the fixture holds 66.7 events per user at every scale
  (10,000 rows over 150 users at sf0.01, 100,000 over 1,500 at sf0.1), so
  a table of n rows has n / 66.7 users;
- the stream's population is the fixture's sf0.1 user count, 1,500;
- an online user sends one heartbeat per 60 s (the reference's
  `heart_beat=60`, SURVEY.md §6), and the reference's streaming jobs take
  a batch every 1-2 minutes (SURVEY.md §6, R1), so one batch holds
  1-2 minutes of traffic (500 events, about 1.25 minutes).

Not taken from any source (unverified, chosen for the benchmark): the
Zipf skew of users (the fixture's users are uniform; a skewed key is
what the sessionizers and the state store meet in production), the mean
session length and the mean gap between sessions.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SERVICES = np.array(["0101", "0104", "0301", "0701", "0103", "0105"])
# one play event of the online-status stream, as the harness reads it:
# little-endian, packed; kind 0 start, 1 heartbeat, 2 finish; service an
# index into SERVICES
STREAM_RECORD = np.dtype([("batch", "<i4"), ("user_id", "<i8"), ("ts_ms", "<i8"),
                          ("kind", "i1"), ("service", "i1")])
EPOCH_2024_US = 1704067200 * 1000000  # 2024-01-01T00:00:00Z

EVENTS_PER_USER = 100000 / 1500  # the fixture's, at sf0.01 and sf0.1 alike
USER_SKEW = 0.7  # unverified
REPORT_DAY_ROWS = 150000
REPORT_DAY_PARTS = 8

STREAM_USERS = 1500  # the fixture's sf0.1 population
HEARTBEAT_MS = 60000  # reference heart_beat=60 s
SESSION_MIN = 30  # unverified: mean heartbeats (minutes) per session
GAP_MIN = 60  # unverified: mean minutes offline between sessions, mean-weight user
STREAM_BATCH = 500  # events per batch: about 1.25 minutes of traffic


def zipf_weights(rng, n_users, s):
    """Weight of each user id in [0, n_users), mean 1: the rank-r user
    has weight r^-s, and ranks are shuffled onto ids so heavy users are
    spread over the key space."""
    w = 1.0 / np.arange(1, n_users + 1) ** s
    return (w / w.mean())[rng.permutation(n_users)]


def events(rng, n, n_users, skew, days=30):
    """The `events` table: one row per event, event_id in time order,
    strictly increasing timestamps (no two events share an instant, so
    every per-user time order is total)."""
    span = days * 86400 * 1000000 - n
    ts = np.sort(rng.integers(0, span, size=n)) + np.arange(n) + EPOCH_2024_US
    w = zipf_weights(rng, n_users, skew)
    users = rng.choice(n_users, size=n, p=w / w.sum()).astype(np.int64)
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def write(table, path, parts=1):
    """One parquet file, or with parts > 1 a directory of that many part
    files (row slices in order), the layout a Spark job writes."""
    if parts == 1:
        pq.write_table(table, path, compression="snappy")
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"), compression="snappy")


def report_day(seed, out, scale=1.0):
    """A month of play events for the nightly ETL + report family, landed
    as REPORT_DAY_PARTS part files; `scale` shrinks the table (and its
    users with it) for the warm-up input."""
    rng = np.random.default_rng([seed, 1])
    n = int(REPORT_DAY_ROWS * scale)
    write(events(rng, n, round(n / EVENTS_PER_USER), USER_SKEW),
          os.path.join(out, "events.parquet"), REPORT_DAY_PARTS)


def play_stream(seed, path, n_batches):
    """At least `n_batches` batches of play events for the online-status
    machine, written as packed STREAM_RECORDs.

    Simulated a minute at a time. Every user heartbeats at a fixed phase
    of the minute while online. An online user ends its session with
    probability 1 / SESSION_MIN a minute (a `finish` instead of the
    heartbeat); an offline user starts one with probability
    weight / GAP_MIN, so Zipf-heavy users come back sooner. Users start in
    the steady state of that process.

    Batch 0 brings every user into the state store before any batch is
    timed: a `start` for each, and a `finish` for those offline at minute
    0. Later batches are STREAM_BATCH events each, in time order; ties
    cannot occur, since phases are distinct."""
    rng = np.random.default_rng([seed, 3])
    n = STREAM_USERS
    p_start = np.minimum(1.0, zipf_weights(rng, n, USER_SKEW) / GAP_MIN)
    p_end = 1.0 / SESSION_MIN
    online = rng.random(n) < p_start / (p_start + p_end)
    phase = rng.choice(HEARTBEAT_MS, size=n, replace=False).astype(np.int64)
    service = rng.integers(0, len(SERVICES), size=n)
    t0 = 1704067200000 + 2 * HEARTBEAT_MS

    offline0 = np.flatnonzero(~online)
    cols = [(np.arange(n), phase - 2 * HEARTBEAT_MS, np.zeros(n, np.int8), service.copy()),
            (offline0, phase[offline0] - HEARTBEAT_MS, np.full(len(offline0), 2, np.int8),
             service[offline0])]
    warm = len(cols[0][0]) + len(cols[1][0])
    total, minute = 0, 0
    while total < n_batches * STREAM_BATCH:
        r = rng.random(n)
        ends = online & (r < p_end)
        starts = ~online & (r < p_start)
        beats = online & ~ends
        # a new session may pick another service
        service[starts] = rng.integers(0, len(SERVICES), size=int(starts.sum()))
        act = np.flatnonzero(ends | starts | beats)
        kind = np.where(starts[act], 0, np.where(ends[act], 2, 1)).astype(np.int8)
        cols.append((act, minute * HEARTBEAT_MS + phase[act], kind, service[act]))
        online = (online & ~ends) | starts
        total += len(act)
        minute += 1
    users = np.concatenate([c[0] for c in cols])
    ts = np.concatenate([c[1] for c in cols]) + t0
    kinds = np.concatenate([c[2] for c in cols])
    services = np.concatenate([c[3] for c in cols])
    order = np.argsort(ts, kind="stable")
    users, ts, kinds, services = users[order], ts[order], kinds[order], services[order]
    keep = warm + n_batches * STREAM_BATCH
    rec = np.zeros(keep, dtype=STREAM_RECORD)
    rec["batch"] = np.concatenate([np.zeros(warm, np.int32),
                                   1 + np.arange(keep - warm, dtype=np.int32) // STREAM_BATCH])
    rec["user_id"] = users[:keep]
    rec["ts_ms"] = ts[:keep]
    rec["kind"] = kinds[:keep]
    rec["service"] = services[:keep]
    rec.tofile(path)
