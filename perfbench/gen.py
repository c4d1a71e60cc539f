"""Seeded input generator for the importer benchmark.

One record set, two renderings:

* ``records.jsonl`` - the event-record JSON that ``StreamImport.importLoop``
  parses (``event_id, ts_ms, user_id, event_type, value, k``), one record
  per line in publish (arrival) order;
* ``events.parquet`` - the events-table shape that ``ImporterCore`` reads
  (``event_id, ts, user_id, event_type, value, props``), same records,
  same order.

``meta.json`` records the make-up of the set (counts, shares, spans) so a
run's inputs can be described without re-reading them.

The traffic dimensions the importer depends on are all drawn from the
seed: active instances, records per instance, the share of records that
arrive before their instance's ``signup`` association, event-time disorder
(kept far inside the loop's watermarks, so no record is late), the share
of fatal errors (``k >= 90``), and instances that return after the
bounded fold has evicted them.

Usage: python3 gen.py <workload> <seed> <out_dir> [--seconds N]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in epoch millis: event time starts here
EPOCH0_MS = 1704067200000
MIN = 60 * 1000
HOUR = 60 * MIN

# Per-workload make-up. No published figures on the importer's traffic
# (instances, records per instance, arrival disorder, error shares) were
# available, so every value here is an assumption, picked for the reason
# beside it; the README lists them. Sizes follow the run length, so that a
# run measures the same number of rounds whatever its length.
COMMON = dict(
    # one signup and Poisson(5) other records per instance: a transfer's
    # short life of a few state changes
    recs_mean=6.0,
    # instances whose signup arrives behind some of their records: enough
    # that the out-of-order buffer holds rows in every micro-batch
    late_signup=0.15,
    # arrival behind event time: well inside the out-of-order buffer's
    # 30 min watermark, so no record is late by construction
    disorder_ms=10 * MIN,
    # share of error records that are fatal (k >= 90): the fatal status
    # path gets rows in every run
    fatal=0.05,
)
PROFILES = {
    "import_drain": dict(
        COMMON,
        # backlog records per second of run length: a round drains in
        # about a quarter of the run on a 4-core host (~33 k records/s),
        # so a run measures four rounds; the backlog drains as one
        # micro-batch, which must fit the heap
        records_per_run_s=9400,
        returning=0.0,
        # 6 h of event time: the backlog of an outage of a few hours
        span_ms=6 * HOUR),
    "import_paced": dict(
        COMMON,
        # records/s: a rate this host sustains with margin (a micro-batch
        # of 3 s of records takes about 2.5 s)
        rate=1500,
        # instances that come back after their fold state was evicted:
        # a few, so the sink's incarnation merge runs in every run
        returning=0.03,
        # the stream's first seconds settle the fresh query (first
        # batches, new state stores) and are not measured; the measured
        # part lasts this many seconds per second of run length
        settle_s=5, measured_per_run_s=1.0,
        # event time runs this many ms per wall second: several fold
        # eviction horizons (1 h, plus the 2 h watermark) pass per run
        event_ms_per_s=HOUR),
    "entity_backfill": dict(
        COMMON,
        # archive records per second of run length: a round of six
        # entity builds takes about 40 % of the run on a 4-core host, so
        # a run measures three rounds
        records_per_run_s=4000,
        returning=0.03,
        # one day of export
        span_ms=24 * HOUR),
}

# record roles after the one signup per instance (ImporterCore mapping);
# assumed shares, so that every role has rows in every run
OTHER_TYPES = np.array(["click", "view", "purchase", "error"])
OTHER_P = [0.35, 0.30, 0.20, 0.15]


def profile(workload, seconds):
    p = dict(PROFILES[workload])
    if "rate" in p:
        stream_s = p["settle_s"] + p["measured_per_run_s"] * seconds
        p["instances"] = max(1, int(round(p["rate"] * stream_s / p["recs_mean"])))
        p["span_ms"] = int(p["event_ms_per_s"] * stream_s)
    else:
        p["instances"] = max(1, int(round(p["records_per_run_s"] * seconds / p["recs_mean"])))
    return p


def generate(workload, seed, seconds=10):
    """Return (columns dict in publish order, meta dict)."""
    p = profile(workload, seconds)
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    n = p["instances"]
    span = p["span_ms"]
    # unique instance keys, spread over every tenant (key % 10)
    user = np.arange(n, dtype=np.int64) * 16 + rng.integers(1, 16, n)
    life = rng.integers(2 * MIN, 30 * MIN, n)
    start = rng.integers(0, max(1, span - 30 * MIN - p["disorder_ms"]), n)
    n_other = rng.poisson(p["recs_mean"] - 1.0, n).clip(0, 60)
    # returning instances: a second burst after the fold evicted them
    # (idle > horizon + watermark = 3 h) and before the out-of-order
    # buffer forgets their association (24 h)
    gap = rng.integers(4 * HOUR, 10 * HOUR, n)
    burst = rng.integers(1, 4, n)
    returns = (rng.random(n) < p["returning"]) & \
        (start + life + gap + 10 * MIN < span - p["disorder_ms"])

    counts = 1 + n_other + np.where(returns, burst, 0)
    total = int(counts.sum())
    inst = np.repeat(np.arange(n), counts)
    first = np.concatenate(([0], np.cumsum(counts)[:-1]))
    pos = np.arange(total) - first[inst]
    # roles: position 0 is the signup, the rest drawn from OTHER_P
    etype = OTHER_TYPES[rng.choice(4, total, p=OTHER_P)].astype(object)
    etype[pos == 0] = "signup"
    # event times inside the instance's life; the return burst after the gap
    in_burst = pos > n_other[inst]
    off = rng.integers(0, life[inst])
    off = np.where(in_burst, life[inst] + gap[inst] + rng.integers(0, 10 * MIN, total), off)
    # signup comes first unless the instance is a late-signup one: then it
    # takes a random time inside the life, behind some of its records
    late = rng.random(n) < p["late_signup"]
    sig_off = np.where(late, rng.integers(0, life), 0)
    off = np.where(pos == 0, sig_off[inst], off)
    ts = EPOCH0_MS + start[inst] + off
    arrival = ts + rng.integers(0, p["disorder_ms"] + 1, total)

    is_err = etype == "error"
    fatal = rng.random(total) < p["fatal"]
    k = np.where(is_err & fatal, rng.integers(90, 100, total),
                 np.where(is_err, rng.integers(0, 90, total),
                          rng.integers(0, 100, total)))
    cents = np.where(etype == "purchase", rng.integers(100, 50001, total),
                     rng.integers(1, 5001, total))

    order = np.lexsort((pos, inst, arrival))
    cols = {
        "event_id": np.arange(total, dtype=np.int64),
        "ts_ms": ts[order].astype(np.int64),
        "user_id": user[inst][order],
        "event_type": etype[order],
        "value": cents[order] / 100.0,
        "k": k[order].astype(np.int64),
    }
    # share of records published before their instance's signup
    o_inst = inst[order]
    o_sig = (pos[order] == 0)
    seen_sig = np.zeros(n, dtype=bool)
    pre = 0
    for i, s in zip(o_inst.tolist(), o_sig.tolist()):
        if s:
            seen_sig[i] = True
        elif not seen_sig[i]:
            pre += 1
    meta = {
        "workload": workload, "seed": seed, "records": total,
        "instances": n, "records_per_instance": total / n,
        "pre_signup_share": pre / total,
        "fatal_errors": int((is_err & (k >= 90)).sum()),
        "returning_instances": int(returns.sum()),
        "disorder_ms": p["disorder_ms"], "event_span_ms": int(ts.max() - ts.min()),
        "purchase_cents": int(cents[etype == "purchase"].sum()),
        "purchases": int((etype == "purchase").sum()),
    }
    if "rate" in p:
        meta["rate"] = p["rate"]
        meta["settle_records"] = int(p["rate"] * p["settle_s"])
    return cols, meta


def json_lines(cols):
    """The importLoop rendering: one JSON object per record."""
    return [
        '{"event_id":%d,"ts_ms":%d,"user_id":%d,"event_type":"%s","value":%r,"k":%d}'
        % row for row in zip(cols["event_id"].tolist(), cols["ts_ms"].tolist(),
                             cols["user_id"].tolist(), cols["event_type"].tolist(),
                             cols["value"].tolist(), cols["k"].tolist())]


def events_table(cols):
    """The ImporterCore rendering: the events-table shape."""
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts_ms"] * 1000, pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"].tolist(), pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(['{"k": %d}' % v for v in cols["k"].tolist()], pa.string()),
    })


def write(workload, seed, out_dir, seconds=10):
    cols, meta = generate(workload, seed, seconds)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "records.jsonl"), "w") as f:
        f.write("\n".join(json_lines(cols)))
        f.write("\n")
    table = events_table(cols)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    # the untimed warm-up reads a prefix of the same records
    os.makedirs(os.path.join(out_dir, "warm"), exist_ok=True)
    pq.write_table(table.slice(0, max(1, len(table) // 5)),
                   os.path.join(out_dir, "warm", "events.parquet"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    return meta


if __name__ == "__main__":
    args = sys.argv[1:]
    secs = 10
    if "--seconds" in args:
        i = args.index("--seconds")
        secs = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 3 or args[0] not in PROFILES:
        sys.exit("usage: gen.py {%s} <seed> <out_dir> [--seconds N]" % "|".join(PROFILES))
    print(json.dumps(write(args[0], int(args[1]), args[2], secs)))
