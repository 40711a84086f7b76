"""Seeded input generator for the RCO refresh benchmark.

Writes `events.parquet` files with the schema and physical types of the
project's `events` test table (TESTDATA.md): int64 event_id,
TIMESTAMP(MICROS) ts, int64 user_id, string event_type, double value,
string props `{"k": n}`, one snappy row group. So the Spark adapters
(`sources.Tables.events`, `model.Rco`) and the DuckDB twins read them
unchanged. The same seed
and shape give byte-identical files.

How the columns map onto the canonical downtime log (`model.Rco`):
user_id is the production LINE, ts the stop start, value the downtime
in minutes, event_type the level-1 cause (error/click/purchase are the
CO causes of the test predicate), and k%5==4 makes the level-2 cause
"Changeover Failure", which every fleet site predicate accepts.

The upsert workload's store is pre-loaded once per build from a fixed
history (FIXTURE_SEED, `--history`); each run's seed draws the lookback
that is upserted over it, overlapping the history's last two days the
way a re-extracted lookback overlaps what the previous run loaded.

Usage: python3 gen.py <workload> <seed> <outDir> [--history]
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z, the start of the sf tables
TYPES = np.array(["error", "click", "purchase", "view", "signup"])
CO_TYPES = 3  # the first three TYPES match the CO predicates
# CO_Trigger_Parameter (minutes) of the three RcoEtl.fleetSiteParams
# configs, in config order
TRIGGER_P = [120.0, 60.0, 240.0]
FIXTURE_SEED = 0
# RCOBENCH_TINY=1 shrinks every shape (the benchmark's own tests)
TINY = os.environ.get("RCOBENCH_TINY") == "1"

# Workload shapes: (lines, trigger-config index) per site.
SHAPES = {
    # the sf0.1 shape, thinner: sparse stops over many lines, one site,
    # written to a fresh store every pass
    "backfill_wide": {"sites": [(300, 0)], "days": 30, "mode": "sparse",
                      "per_line_day": 2.2, "store": "fresh"},
    # one reference-shaped site: 9 lines with dense stops and CO bursts
    # whose gaps straddle P, 4P/3 and 3P/2; 14 days of history are
    # pre-loaded into the store, then every pass upserts a 3-day
    # lookback that overlaps the history's last two days
    "site_hourly": {"sites": [(9, 0)], "days": 15, "history_days": 14,
                    "lookback_days": 3, "mode": "dense",
                    "per_line_day": 40.0, "store": "preloaded"},
}


if TINY:
    for _s in SHAPES.values():
        _s["sites"] = [(max(1, n // 30), cfg) for n, cfg in _s["sites"]]


def sparse_line(rng, days, per_line_day):
    n = rng.poisson(per_line_day * days)
    t = np.sort(rng.uniform(0, days * DAY, n))
    typ = rng.integers(0, 5, n)
    k = rng.integers(0, 100, n)
    val = np.round(rng.exponential(50.0, n), 2)
    return t, typ, k, val


def dense_line(rng, days, per_line_day, p):
    """Production stops (about `per_line_day` a day between bursts) with
    CO bursts. A burst is 3-8 CO events of one
    changeover; the gap from one event's end to the next start is drawn
    around P, 4P/3 and 3P/2 so every sessionize disjunct (and its
    negation) fires, giving long CO chains and wide first-stop/Gantt
    windows."""
    horizon = days * DAY
    ts, typ, ks, vals = [], [], [], []
    t = float(rng.uniform(0, 3600))
    mean_gap = DAY / per_line_day
    gap_factors = np.array([0.3, 0.6, 0.95, 1.05, 1.3, 1.4, 1.55, 2.0])
    while t < horizon:
        if rng.random() < 0.12:
            n = int(rng.integers(3, 9))
            ctype = int(rng.integers(0, CO_TYPES))
            k = 4 + 5 * int(rng.integers(0, 20))  # k%5==4: Changeover
            for _ in range(n):
                if t >= horizon:
                    break
                if rng.random() < 0.3:  # change cause trio or brandcode
                    k = 4 + 5 * int(rng.integers(0, 20))
                v = round(float(rng.uniform(2.0, 30.0)), 2)
                ts.append(t); typ.append(ctype); ks.append(k); vals.append(v)
                gap = p * float(rng.choice(gap_factors)) * \
                    float(rng.uniform(0.97, 1.03))
                t += v * 60 + gap * 60
        else:
            v = round(float(rng.exponential(15.0)), 2)
            ts.append(t); typ.append(int(rng.integers(0, 5)))
            ks.append(int(rng.integers(0, 100))); vals.append(v)
            t += v * 60 + float(rng.exponential(mean_gap))
    keep = np.array(ts) < horizon
    return (np.array(ts)[keep], np.array(typ)[keep], np.array(ks)[keep],
            np.array(vals)[keep])


def generate(workload, seed):
    """Per site, per line: (user_id, start seconds, cause index, k,
    downtime minutes) arrays."""
    rng = np.random.default_rng([seed, sorted(SHAPES).index(workload)])
    shape = SHAPES[workload]
    sites, uid = [], 0
    for n_lines, cfg in shape["sites"]:
        cols = []
        for _ in range(n_lines):
            if shape["mode"] == "sparse":
                t, typ, k, v = sparse_line(rng, shape["days"],
                                           shape["per_line_day"])
            else:
                t, typ, k, v = dense_line(rng, shape["days"],
                                          shape["per_line_day"],
                                          TRIGGER_P[cfg])
            cols.append((np.full(len(t), uid), t, typ, k, v))
            uid += 1
        sites.append(cols)
    return sites


def table(parts, t_lo, t_hi):
    """Concatenate per-line columns, keep [t_lo, t_hi) days, order by
    time and number the rows like the sf tables (event_id = rank)."""
    u = np.concatenate([p[0] for p in parts])
    t = np.concatenate([p[1] for p in parts])
    typ = np.concatenate([p[2] for p in parts])
    k = np.concatenate([p[3] for p in parts])
    v = np.concatenate([p[4] for p in parts])
    keep = (t >= t_lo * DAY) & (t < t_hi * DAY)
    u, t, typ, k, v = u[keep], t[keep], typ[keep], k[keep], v[keep]
    order = np.lexsort((u, t))
    u, t, typ, k, v = u[order], t[order], typ[order], k[order], v[order]
    micros = (EPOCH0 * 1_000_000 + np.floor(t * 1e6)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(len(t), dtype=np.int64)),
        "ts": pa.array(micros, type=pa.timestamp("us")),
        "user_id": pa.array(u.astype(np.int64)),
        "event_type": pa.array(TYPES[typ].tolist(), type=pa.string()),
        "value": pa.array(v.astype(np.float64)),
        "props": pa.array([f'{{"k": {int(x)}}}' for x in k],
                          type=pa.string()),
    })


def write(tbl, d):
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "events.parquet"),
                   compression="snappy", row_group_size=max(1, len(tbl)))


def main(workload, seed, out, history=False):
    """Write each site's events (its lookback, or with `history` the
    fixture history) under out/sites/<server>/, their union as
    out/events.parquet (the correctness check's input), and
    out/manifest.json with the seed and shape."""
    shape = SHAPES[workload]
    if history:
        seed = FIXTURE_SEED
        lo, hi, part = 0, shape["history_days"], "history"
    else:
        lo = shape["days"] - shape.get("lookback_days", shape["days"])
        hi, part = shape["days"], "lookback"
    sites = generate(workload, seed)
    manifest = {"workload": workload, "seed": seed, "part": part,
                "days": [lo, hi], "sites": []}
    manifest.update({k: shape[k] for k in ("mode", "per_line_day", "store")})
    everything = []
    for i, (parts, (n_lines, cfg)) in enumerate(zip(sites, shape["sites"])):
        server = f"Site{i:02d}"
        tbl = table(parts, lo, hi)
        write(tbl, os.path.join(out, "sites", server, part))
        manifest["sites"].append({"server": server, "config": cfg,
                                  "lines": n_lines, "events": len(tbl)})
        everything += parts
    write(table(everything, lo, hi), out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    m = main(sys.argv[1], int(sys.argv[2]), sys.argv[3],
             history="--history" in sys.argv[4:])
    print(json.dumps(m, sort_keys=True))
