#!/usr/bin/env python3
"""Per-query bench regression gate.

Usage: tools/benchgate.py <bench.json> [baseline.json] [max_ratio]

Compares a fresh `graft.Bench` record (target/bench_latest.json, or the
full stdout line; min-of-2, post round-6 harness fix) against the
committed BENCH_BASELINE.json, after normalizing by the all-cores
calibration ratio (calib_par_ms) so a contended host doesn't fire false
alarms. Fails (exit 1) when any query exceeds max_ratio (default 2.0)
times its baseline, or errored, or vanished. Warns CROSS-SHAPE when the
record's core count (`cpus`) differs from the baseline's or the baseline
records none: the calibration probe cannot see core count, so such a
ratio compares host shapes, not code.

Refresh the baseline deliberately (never silently) by copying a healthy
run's JSON over BENCH_BASELINE.json in the same commit that explains why.
"""
import json
import sys


def calib(d):
    vals = [d.get("calib_par_ms"), d.get("calib_par_ms_post")]
    vals = [v for v in vals if v]
    return sum(vals) / len(vals) if vals else None


def main():
    cur_path = sys.argv[1]
    base_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_BASELINE.json"
    max_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    # Bench prints TWO stdout lines since round 12 (full-fidelity first,
    # then a compact tail-window variant for the round driver); gate on
    # the full line — the one carrying the calibration fields.
    cur = None
    for line in open(cur_path):
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if cur is None or "calib_par_ms" in d:
            cur = d
    if cur is None:
        print(f"benchgate: no parseable bench JSON in {cur_path}")
        sys.exit(1)
    base = json.load(open(base_path))
    # host-speed normalization: if this run's parallel calibration is 1.4x
    # the baseline's, allow 1.4x more wall per query before alarming
    c_cur, c_base = calib(cur), calib(base)
    norm = (c_cur / c_base) if (c_cur and c_base) else 1.0
    # a FASTER host must not hide a regression; only slower hosts get slack
    norm = max(norm, 1.0)
    if base.get("cpus") is None or cur.get("cpus") != base.get("cpus"):
        print(f"CROSS-SHAPE  record cpus={cur.get('cpus')} vs baseline "
              f"cpus={base.get('cpus')}: the ratios below compare host shapes")
    bad = []
    floor = 0.25  # sub-250ms queries are noise-dominated even at min-of-2
    for name, b in sorted(base["queries"].items()):
        c = cur["queries"].get(name)
        if c is None:
            bad.append(f"{name}: missing from current run")
        elif c < 0:
            bad.append(f"{name}: errored")
        elif b > 0 and max(c, b) > floor and c > max_ratio * norm * b:
            bad.append(f"{name}: {c:.2f}s vs baseline {b:.2f}s "
                       f"({c / b:.1f}x, allowed {max_ratio * norm:.1f}x)")
    if cur.get("errors"):
        bad.append(f"errored queries: {cur['errors']}")
    for line in bad:
        print("FAIL  " + line)
    n_new = [q for q in cur["queries"] if q not in base["queries"]]
    print(f"benchgate: {len(base['queries'])} baselined, {len(bad)} regressions, "
          f"{len(n_new)} unbaselined (host norm {norm:.2f})")
    if n_new:
        print("unbaselined (add to BENCH_BASELINE.json next refresh): "
              + ", ".join(sorted(n_new)))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
