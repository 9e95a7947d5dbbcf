#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

Writes everything a workload needs into one directory, from the seed and the
traffic dimensions alone (the same arguments always give the same files):

  events.parquet   the tick tape, in the engine's `events` schema
                   (event_id BIGINT, ts TIMESTAMP[us], user_id BIGINT,
                   event_type STRING, value DOUBLE, props STRING)
  requests.json    serve requests (symbol, as-of) and the late-listing probes
  entities.parquet the training-set entity frame (symbol, event_timestamp)
  wire/f*.json     ingest files: JSON lines in StreamSources.kafkaWireSchema
  wire_book.json   the generator's own per-file bookkeeping of the wire files
  dims.json        the dimensions used, echoed by the benchmark

Run standalone:  python3 perfbench/gen.py --seed 1 --out DIR --ticks 1000
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
# Wire ticks sit on distinct 125 ms slots: `time / 1000` is then exact in
# binary floating point, so the engine's millis -> timestamp conversion is
# exact and every symbol's latest tick is unique.
WIRE_STEP_MS = 125

# Defaults, measured on the repo's sf0.1 `events` fixture where it has the
# dimension (perfbench/README.md, "Generator", gives each source):
#   ticks, symbols, days  100,000 events over 1,500 user_ids (symbols), 30 days
#   zipf                  0.11, the slope of log(ticks) on log(rank) per symbol
#   late_share            0: no symbol's first tick comes after a quarter of the span
#   violating_share       0.234: share of `Tables.trades` rows `Ingest.tradeRules` rejects
#   disorder_share        0: in arrival (event_id) order, time never goes back
# The fixture is parquet, so it has no malformed records and no file size:
# malformed_share and file_ticks are stand-ins, not measurements.
DIMS = {
    "ticks": 100_000, "symbols": 1500, "zipf": 0.11, "days": 30,
    "late_share": 0.0, "malformed_share": 0.02, "violating_share": 0.234,
    "disorder_share": 0.0, "file_ticks": 500, "files": 0,
    "requests": 2000, "entities": 100,
}
# serve's late-listing probes: as-of before the first tick of this many
# symbols, plus one symbol that never trades
PRE_LISTING_PROBES = 3


def zipf_probs(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def gen_tape(rng, d):
    n, nsym, days = d["ticks"], d["symbols"], d["days"]
    span = days * DAY_US
    # strictly increasing times: every tick time is unique
    gaps = np.floor(rng.exponential(span / n, n)).astype(np.int64) + 1
    ts = T0_US + np.cumsum(gaps)
    sym = rng.choice(np.arange(1, nsym + 1), size=n, p=zipf_probs(nsym, d["zipf"]))
    # late listings: a share of symbols (never the most traded) first trade
    # part-way through the span; their earlier ticks go to symbol 1
    n_late = int(round(nsym * d["late_share"]))
    late = rng.choice(np.arange(2, nsym + 1), size=n_late, replace=False) if n_late else np.array([], np.int64)
    listing = {int(s): int(T0_US + rng.integers(span // 4, span // 2)) for s in late}
    for s, t in listing.items():
        sym[(sym == s) & (ts < t)] = 1
    # per-symbol random walk in time order, rounded to cents
    base = rng.uniform(20.0, 400.0, nsym + 1)
    steps = rng.normal(0.0, 0.0015, n)
    order = np.lexsort((ts, sym))
    walk = np.empty(n)
    s_sorted, st = sym[order], steps[order]
    cs = np.cumsum(st)
    starts = np.r_[0, np.flatnonzero(np.diff(s_sorted)) + 1]
    offs = np.repeat(cs[starts] - st[starts], np.diff(np.r_[starts, n]))
    walk[order] = cs - offs
    price = np.round(base[sym] * np.exp(walk), 2)
    kinds = np.array(["purchase", "click", "view"])
    etype = kinds[rng.choice(3, size=n, p=[0.45, 0.45, 0.10])]
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(sym.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(price, type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in (ids % 97)]),
    })
    first = {}
    for s, t in zip(sym[order][starts], ts[order][starts]):
        first[int(s)] = int(t)
    return table, first, listing, int(ts[-1]) + 1


def gen_requests(rng, d, first, listing, end):
    nsym = d["symbols"]
    traded = np.array(sorted(first))
    p = zipf_probs(nsym, d["zipf"])[traded - 1]
    syms = rng.choice(traded, size=d["requests"], p=p / p.sum())
    reqs = []
    for s in syms:
        lo = first[int(s)]
        reqs.append([str(int(s)), int(rng.integers(lo, end))])
    # late-listing probes: as-of before a symbol's first tick (the late-listed
    # ones, else the first few), plus a symbol that never trades
    before = sorted(listing) or [int(s) for s in traded[:PRE_LISTING_PROBES]]
    probes = [[str(s), int(rng.integers(T0_US, first.get(s, end)))] for s in before]
    probes.append([str(nsym + 1000), int(end)])
    return {"requests": reqs, "late_probes": probes}


def gen_entities(rng, d, first, end):
    syms = np.array(sorted(first))
    pick = rng.choice(syms, size=d["entities"])
    at = [int(rng.integers(first[int(s)], end)) for s in pick]
    return pa.table({
        "symbol": pa.array([str(int(s)) for s in pick]),
        "event_timestamp": pa.array(at, type=pa.timestamp("us", tz="UTC")),
    })


VIOLATIONS = ["price", "volume", "side", "crossed", "wide"]


def gen_wire(rng, d, out):
    """Ingest files, and per file: clean rows, DLQ rows, and each symbol's
    latest clean tick (time_us, trade_id, price)."""
    nf, ft, nsym = d["files"], d["file_ticks"], d["symbols"]
    os.makedirs(os.path.join(out, "wire"), exist_ok=True)
    p = zipf_probs(nsym, d["zipf"])
    base = rng.uniform(20.0, 400.0, nsym + 1)
    book = []
    tid = 0
    for f in range(nf):
        n = ft
        slot0 = f * ft
        t_ms = (T0_US // 1000) + (slot0 + np.arange(n)) * WIRE_STEP_MS
        sym = rng.choice(np.arange(1, nsym + 1), size=n, p=p)
        price = np.round(base[sym] * np.exp(rng.normal(0.0, 0.01, n)), 2)
        volume = (1 + rng.integers(0, 100, n)).astype(np.float64)
        side = np.where(rng.random(n) < 0.5, "buy", "sell")
        half = rng.integers(1, 7, n) / 100.0
        bid = np.round(price - half, 2)
        ask = np.round(price + half, 2)
        kind = rng.random(n)
        bad_json = kind < d["malformed_share"]
        violate = (~bad_json) & (kind < d["malformed_share"] + d["violating_share"])
        vkind = rng.integers(0, len(VIOLATIONS), n)
        lines = []
        latest = {}
        clean = dlq = 0
        for i in range(n):
            tid += 1
            if bad_json[i]:
                lines.append('{"time": %d, "symbol": "%d", "price": ' % (t_ms[i], sym[i]))
                dlq += 1
                continue
            rec = {"time": int(t_ms[i]), "symbol": str(int(sym[i])),
                   "price": float(price[i]), "volume": float(volume[i]),
                   "trade_id": str(tid), "side": str(side[i]),
                   "bid": float(bid[i]), "ask": float(ask[i])}
            if violate[i]:
                v = VIOLATIONS[vkind[i]]
                if v == "price":
                    rec["price"] = -rec["price"]
                elif v == "volume":
                    rec["volume"] = 150.0
                elif v == "side":
                    rec["side"] = "hold"
                elif v == "crossed":
                    rec["bid"], rec["ask"] = rec["ask"], rec["bid"]
                else:
                    rec["ask"] = round(rec["bid"] + 0.5, 2)
                dlq += 1
            else:
                clean += 1
                key = (int(t_ms[i]) * 1000, tid, float(price[i]))
                s = rec["symbol"]
                if s not in latest or key > tuple(latest[s]):
                    latest[s] = list(key)
            lines.append(json.dumps(rec, separators=(",", ":")))
        # out of order within the file: swap a share of adjacent lines
        for i in np.flatnonzero(rng.random(n - 1) < d["disorder_share"]):
            lines[i], lines[i + 1] = lines[i + 1], lines[i]
        with open(os.path.join(out, "wire", "f%05d.json" % f), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        book.append({"clean": clean, "dlq": dlq, "latest": latest,
                     "max_time_us": int(t_ms[-1]) * 1000})
    return book


def generate(seed, out, dims):
    d = dict(DIMS)
    d.update({k: v for k, v in dims.items() if v is not None})
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    meta = {"seed": seed, "dims": d}
    if d["ticks"] > 0:
        table, first, listing, end = gen_tape(rng, d)
        pq.write_table(table, os.path.join(out, "events.parquet"))
        with open(os.path.join(out, "requests.json"), "w") as fh:
            json.dump(gen_requests(rng, d, first, listing, end), fh)
        pq.write_table(gen_entities(rng, d, first, end),
                       os.path.join(out, "entities.parquet"))
        meta["late_listed"] = len(listing)
    if d["files"] > 0:
        with open(os.path.join(out, "wire_book.json"), "w") as fh:
            json.dump(gen_wire(rng, d, out), fh)
    with open(os.path.join(out, "dims.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    for k, v in DIMS.items():
        ap.add_argument("--" + k.replace("_", "-"), type=type(v), default=None)
    a = ap.parse_args()
    dims = {k: getattr(a, k) for k in DIMS}
    print(json.dumps(generate(a.seed, a.out, dims)))


if __name__ == "__main__":
    main()
