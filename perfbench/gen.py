"""Seeded CustomerEvent generator for the benchmark.

Two inputs come from one seed:

* ``write_batch_events`` writes an ``events``-shaped parquet table (the
  columns of the fixture's ``events`` table) that ``Enrich.curated``
  turns into CustomerEvents for the O8 batch cycle.
* ``write_stream_payloads`` writes pre-rendered Kafka-shaped records for
  the streaming leg: a sequence key, the planted event-time offset and
  the JSON ``value`` split around its ``event_ts``, which is only known
  at send time (``event_ts`` = creation stamp + planted offset).

Both plant anomalies with the rules ``graft.CustomerEvents.synth`` uses
on ``event_id`` (stream: on the sequence key): null id 1/97, null name
1/101, null email 1/89, invalid email 1/53, null country 1/50, invalid
country 1/67, null plan 1/71, invalid plan when user_id % 5 == 4, future
event +48 h 1/61, stale backdate 26 h 1/103, late backdate 1-24 h 1/20,
schema drift v2 1/100 and v3 1/200.

``expected_batch_counts`` and ``expected_stream_counts`` derive the
run-report counts from the generated input with these rules alone, so
the correctness checks never go through the engine's enrich layer.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COUNTRIES = ["US", "CA", "GB", "DE", "FR", "AU", "JP", "IN", "BR", "MX"]
PLANS = ["free", "basic", "premium", "enterprise", "invalid_plan"]
EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "signup"]
PAGES = ["/", "/home", "/search", "/cart", "/checkout", "/account"]

# 2024-01-01 and 2024-02-01 (graft.CustomerEvents.AsOf), epoch ms UTC.
JAN_1_MS = 1704067200000
AS_OF_MS = 1706745600000
LATE_THRESHOLD_MS = 900_000
HOUR_MS = 3_600_000


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def event_offset_ms(ids):
    """Planted event-time offset relative to the creation time, per id."""
    ids = np.asarray(ids, dtype=np.int64)
    off = np.zeros(len(ids), dtype=np.int64)
    late = ids % 20 == 0
    off[late] = -(1 + ids[late] % 24) * HOUR_MS
    off[ids % 103 == 0] = -26 * HOUR_MS
    off[ids % 61 == 0] = 48 * HOUR_MS
    return off


def planted_late(ids):
    return event_offset_ms(ids) < -LATE_THRESHOLD_MS


def _dq_failed(ids, user_ids, timestamp_ok):
    ids = np.asarray(ids, dtype=np.int64)
    email_ok = (ids % 89 != 0) & (ids % 53 != 0)
    id_ok = ids % 97 != 0
    plan_ok = (ids % 71 != 0) & (np.asarray(user_ids) % 5 != 4)
    return ~(email_ok & id_ok & timestamp_ok & plan_ok)


# ---- batch input (etl_cycle) ------------------------------------------------

def batch_events(seed, n):
    """The ``events`` table for one seed as a pyarrow Table."""
    rng = _rng(seed, 1)
    base = int(rng.integers(0, 1_000_000))
    event_id = np.arange(base + 1, base + n + 1, dtype=np.int64)
    user_id = rng.integers(0, 50_000, n, dtype=np.int64)
    ts_ms = JAN_1_MS + rng.integers(0, AS_OF_MS - JAN_1_MS, n, dtype=np.int64)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.random(n) * 500.0, 2)
    props_domain = np.array(
        [json.dumps({"page": p, "ab": g}, separators=(",", ":"))
         for p in PAGES for g in ("a", "b")], dtype=object)
    props = props_domain[rng.integers(0, len(props_domain), n)]
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[kinds],
                               pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def write_batch_events(seed, n, path):
    """Write the table for one seed to ``path``; returns the table."""
    table = batch_events(seed, n)
    pq.write_table(table, path, row_group_size=1 << 16, compression="snappy")
    return table


def expected_batch_counts(table):
    """RunReport counts that ``PipelineRun.run`` must report for
    ``Enrich.curated`` of ``table``."""
    ids = table.column("event_id").to_numpy()
    uids = table.column("user_id").to_numpy()
    ts_ms = table.column("ts").cast(pa.int64()).to_numpy() // 1000
    off = event_offset_ms(ids)
    event_s = (ts_ms + off) // 1000
    timestamp_ok = event_s <= AS_OF_MS // 1000
    return {
        "total": int(len(ids)),
        "late": int(planted_late(ids).sum()),
        "dq_failures": int(_dq_failed(ids, uids, timestamp_ok).sum()),
        "drift": int((ids % 100 == 0).sum()),
    }


# ---- streaming input (ingest_stream) ---------------------------------------

def stream_records(seed, n):
    """Pre-rendered records: (key, planted event-time offset ms,
    JSON head, JSON tail); the value is head + str(event_ts) + tail."""
    rng = _rng(seed, 2)
    keys = np.arange(1, n + 1, dtype=np.int64)
    user_id = rng.integers(0, 50_000, n, dtype=np.int64)
    signup_ts = JAN_1_MS - (user_id % 730 + 1) * 86_400_000
    off = event_offset_ms(keys)
    out = []
    for k, u, signup, o in zip(keys.tolist(), user_id.tolist(),
                               signup_ts.tolist(), off.tolist()):
        if k % 50 == 0:
            country = None
        elif k % 67 == 0:
            country = "XX"
        else:
            country = COUNTRIES[u % 10]
        head = {
            "id": None if k % 97 == 0 else f"cust_{u}",
            "name": None if k % 101 == 0 else f"user_{u}",
            "email": (None if k % 89 == 0 else "invalid-email" if k % 53 == 0
                      else f"user_{u}@example{u % 5}.com"),
            "signup_ts": signup,
            "country": country,
            "plan": None if k % 71 == 0 else PLANS[u % 5],
        }
        tail = {
            "version": 3 if k % 200 == 0 else 2 if k % 100 == 0 else 1,
            "marketing_opt_in": (u % 2 == 0) if k % 100 == 0 else None,
            "customer_segment": (["high_value", "standard", "churn_risk"][u % 3]
                                 if k % 200 == 0 else None),
        }
        h = json.dumps(head, separators=(",", ":"))[:-1]
        t = json.dumps(tail, separators=(",", ":"))[1:]
        out.append((k, o, h + ',"event_ts":', "," + t))
    return out


def write_stream_payloads(seed, n, path):
    """One record per line: key, offset, head, tail, tab-separated."""
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for k, o, h, t in stream_records(seed, n):
            f.write(f"{k}\t{o}\t{h}\t{t}\n")


def expected_stream_counts(seed, n):
    """Counts the dual sink must hold after all ``n`` records committed;
    a future event fails ``dq_timestamp_valid`` against processing time."""
    keys = np.arange(1, n + 1, dtype=np.int64)
    user_id = _rng(seed, 2).integers(0, 50_000, n, dtype=np.int64)
    return {
        "offered": int(n),
        "late": int(planted_late(keys).sum()),
        "dq_failures": int(_dq_failed(keys, user_id, keys % 61 != 0).sum()),
    }
