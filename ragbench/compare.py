#!/usr/bin/env python3
"""Compare two ragbench results of the same workload, metric by metric.

    python3 ragbench/compare.py ragbench/.results/<a>.json ragbench/.results/<b>.json

Each result file carries the host stamp of the run that made it. Results
taken with different cpu counts are refused (exit 3): the embed pool is
min(2 x cores, 64) threads and Spark runs local[cores], so their figures
measure different systems. A differing calibration or load is printed as a
warning, since it may explain a difference without forbidding the compare.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    ha, hb = a["info"]["host"], b["info"]["host"]
    if ha["cpus"] != hb["cpus"]:
        print(f"refused: cpu counts differ ({ha['cpus']} vs {hb['cpus']})", file=sys.stderr)
        return 3
    if a["info"]["workload"] != b["info"]["workload"]:
        print("refused: different workloads", file=sys.stderr)
        return 3
    for key in ("calib_s", "calib_par_s"):
        if max(ha[key], hb[key]) > 1.15 * min(ha[key], hb[key]):
            print(f"warning: {key} differs by more than 15% ({ha[key]:.3f} vs {hb[key]:.3f})")
    if max(ha["load1m"], hb["load1m"]) > ha["cpus"]:
        print(f"warning: load average above the cpu count ({ha['load1m']} / {hb['load1m']})")
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    for name in ma:
        if name not in mb:
            continue
        va, vb = ma[name]["value"], mb[name]["value"]
        ratio = f"{vb / va:.3f}x" if va else "n/a"
        print(f"{name:32s} {va:14.4f} {vb:14.4f} {ratio:>9s} {ma[name]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
