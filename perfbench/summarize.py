"""Spread and medians of the benchmark's run records.

    python3 perfbench/summarize.py [--write-baseline] [--write-band]

Reads every `.perfbench/out/run-*.json`, groups the runs by workload and
trace mode, and prints for each metric its run count, median, quartiles
(`statistics.quantiles(values, n=4)`) and spread (quartile distance as a
share of the median). With `--write-baseline` it stores the medians in
`perfbench/baseline.json`, keyed by the host's core count. With
`--write-band` it sets the host's quiet band in `perfbench/quiet_band.json`
from the host probes of all the runs: for the probe before and the probe
after the passes, [q1 - FENCE * (q3 - q1), q3 + FENCE * (q3 - q1)].
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".perfbench", "out")
FENCE = 3.0


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def _one_core_count(recs: list[dict]) -> int:
    cores = {r["cores"] for r in recs}
    if len(cores) != 1:
        raise SystemExit(f"records from several core counts: {sorted(cores)}")
    return cores.pop()


def _write_band(recs: list[dict]) -> None:
    cores = str(_one_core_count(recs))
    bands = []
    for i in range(2):
        q1, _, q3 = _quartiles([r["probes"][i] for r in recs])
        bands.append([round(q1 - FENCE * (q3 - q1), 3), round(q3 + FENCE * (q3 - q1), 3)])
    path = os.path.join(HERE, "quiet_band.json")
    with open(path) as f:
        band = json.load(f)
    band["probe_s"][cores] = bands
    band["runs"][cores] = len(recs)
    with open(path, "w") as f:
        json.dump(band, f, indent=1)
        f.write("\n")


def main() -> None:
    recs = []
    for path in sorted(glob.glob(os.path.join(OUT, "run-*.json"))):
        with open(path) as f:
            recs.append(json.load(f))
    groups: dict[tuple[str, int], list[dict]] = {}
    for rec in recs:
        groups.setdefault((rec["args"]["workload"], rec["args"]["trace"]), []).append(rec)
    baseline: dict = {}
    for (workload, trace), group in sorted(groups.items()):
        print(f"{workload} trace {trace}: {len(group)} runs, seeds "
              + " ".join(str(r["args"]["seed"]) for r in group))
        for name in sorted({k for r in group for k in r["metrics"]}):
            vals = [r["metrics"][name]["value"] for r in group if name in r["metrics"]]
            unit = group[0]["metrics"][name]["unit"]
            q1, med, q3 = _quartiles(vals)
            spread = (q3 - q1) / med if med else 0.0
            print(f"  {name:<30} n={len(vals):<3} median {med:12.4f} {unit:<6}"
                  f" q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:.3f}")
            baseline.setdefault(workload, {})[name] = {
                "median": med, "q1": q1, "q3": q3, "runs": len(vals), "unit": unit
            }
    if "--write-baseline" in sys.argv[1:]:
        with open(os.path.join(HERE, "baseline.json"), "w") as f:
            json.dump({"cores": _one_core_count(recs), "workloads": baseline}, f,
                      indent=1, sort_keys=True)
            f.write("\n")
    if "--write-band" in sys.argv[1:]:
        _write_band(recs)


if __name__ == "__main__":
    main()
