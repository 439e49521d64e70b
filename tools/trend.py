#!/usr/bin/env python
"""Trend assembly: min-of-N Spark runs vs DuckDB timings at
sf0.1 / sf1 / sf5 over the shared oracle-checked surface, with BOTH the
cold column (cross-round comparable) and the WARM column (each
Bench run re-executes every plan once more after the cold timing — the
steady-state number a reused plan pays), plus the box-hour CALIBRATION
block so cross-round deltas decompose into box-drift x code.

Inputs under target/trend/ (written by tools/sweep.sh):
  bench_{sf01,sf1,sf5}_{a,b}.json   raw Bench lines (queries + queries_warm)
  duck_{sf01,sf1,sf5}.json          time_oracle.py output (per-SF oracle)
  cal_spark_*.json / cal_duck_*.json  calibration workloads
"""
import glob
import json
import os

D = 'target/trend'
RUNS = ('a', 'b', 'c', 'd')  # c/d = optional targeted re-runs
CAL_QS = ('q01_scan_timerange', 'q35_lineitem_pricing')


def load(p):
    raw = open(p).read()
    if '{' not in raw:
        raise ValueError(f'{p}: no JSON object (empty/truncated run?)')
    return json.loads(raw[raw.index('{'):])


def spark_min(sf, key='queries'):
    out = {}
    found = False
    for run in RUNS:
        try:
            qs = load(f'{D}/bench_{sf}_{run}.json').get(key, {})
            found = found or bool(qs)
        except FileNotFoundError:
            continue
        for k, v in qs.items():
            out[k] = min(out.get(k, 1e18), v)
    if not found:
        print(f'WARN: no bench runs for {sf} '
              f'(expected bench_{sf}_{{{",".join(RUNS)}}}.json)')
    return out


def duck(sf):
    try:
        return {k: v for k, v in load(f'{D}/duck_{sf}.json').items()
                if not k.startswith('_')}
    except (FileNotFoundError, ValueError) as e:
        print(f'WARN: duck_{sf} unusable ({e}) — {sf} ratios omitted')
        return {}


sp = {sf: spark_min(sf) for sf in ('sf01', 'sf1', 'sf5')}
spw = {sf: spark_min(sf, 'queries_warm') for sf in ('sf01', 'sf1', 'sf5')}
du = {sf: duck(sf) for sf in ('sf01', 'sf1', 'sf5')}

for sf in ('sf01', 'sf1', 'sf5'):
    shared = sorted(set(sp[sf]) & set(du[sf]))
    ts = sum(sp[sf][k] for k in shared)
    tw = sum(spw[sf].get(k, sp[sf][k]) for k in shared)
    td = sum(du[sf][k] for k in shared)
    ratio = f"{ts/td:.2f}x" if td > 0 else "n/a (no oracle data)"
    wratio = f"{tw/td:.2f}x" if td > 0 else "n/a"
    print(f"{sf}: {len(shared)}q spark {ts:.1f}s (warm {tw:.1f}s) "
          f"duck {td:.1f}s ratio {ratio} (warm {wratio})")

shared5 = set(sp['sf5']) & set(du['sf5'])
rows = sorted(shared5, key=lambda k: -sp['sf5'][k])[:12]
print('\n| query | sf0.1 | sf1 | sf5 | sf5 warm |')
print('|---|---|---|---|---|')
for k in rows:
    cells = []
    for sf, table in (('sf01', sp), ('sf1', sp), ('sf5', sp), ('sf5', spw)):
        s, d = table[sf].get(k), du[sf].get(k)
        # `is not None`: a legitimate 0.00s timing must render, not vanish
        if s is not None and d is not None:
            cells.append(f"{s:.2f}s / {s/d:.2f}×" if d > 0 else f"{s:.2f}s / n-a")
        else:
            cells.append("—")
    print(f"| {k} | {cells[0]} | {cells[1]} | {cells[2]} | {cells[3]} |")

print('\ncalibration anchors (fixed q01+q35 @ sf0.1):')
for p in sorted(glob.glob(f'{D}/cal_spark_*.json')):
    tag = os.path.basename(p)[len('cal_spark_'):-len('.json')]
    try:
        qs = load(p)['queries']
        tot = sum(qs.get(q, 0.0) for q in CAL_QS)
        print(f'  spark[{tag}]: {tot:.3f}s '
              f'({", ".join(f"{q}={qs[q]:.3f}" for q in CAL_QS if q in qs)})')
    except (ValueError, KeyError) as e:
        print(f'  spark[{tag}]: unusable ({e})')
for p in sorted(glob.glob(f'{D}/cal_duck_*.json')):
    tag = os.path.basename(p)[len('cal_duck_'):-len('.json')]
    try:
        qs = {k: v for k, v in load(p).items() if not k.startswith('_')}
        tot = sum(qs.get(q, 0.0) for q in CAL_QS)
        print(f'  duck[{tag}]:  {tot:.3f}s '
              f'({", ".join(f"{q}={qs[q]:.3f}" for q in CAL_QS if q in qs)})')
    except (ValueError, KeyError) as e:
        print(f'  duck[{tag}]: unusable ({e})')
