"""Stability and tracing-overhead report for the benchmark.

Runs the acceptance protocol on every workload in BENCHMARK.json: two
sets of ``--runs`` untraced runs, each run with its own seed.  For every
end-to-end metric it prints each set's median and quartile spread
(Q3 - Q1, as a share of the median), and the second median's move
against the first, both against the metric's bound.  Each set also
shows the median host-interference signals of its runs (``steal_frac``
and ``calib_s``, from the run's ``# host`` line), so a slow host can be
told apart from a slower program.  Then, per workload, untraced and
traced runs with one seed alternate twice: the two traced runs show
which per-layer counters repeat exactly, and the traced pass time is set
next to the untraced runs made at the same moment.

Usage (from the repository root)::

    python3 perfbench/report.py --runs 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HOST_KEYS = ("steal_frac", "calib_s")


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """One run's result object, with its ``# host`` values under "host"."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{' '.join(cmd)} exited {r.returncode}")
    out = json.loads(lines[-1])
    host = next(line for line in lines if line.startswith("# host "))
    out["host"] = {k: float(v) for k, v in
                   (kv.split("=") for kv in host.split()[2:])}
    print(f"# {workload} seed={seed} trace={trace} host={out['host']} "
          f"{ {k: round(m['value'], 4) for k, m in out['metrics'].items()} }",
          file=sys.stderr, flush=True)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    n = ap.parse_args().runs
    workloads = [w["name"] for w in spec["workloads"]]

    sets = [{wl: [run_once(spec, wl, seed, 0)
                  for seed in range(1 + k * n, 1 + (k + 1) * n)]
             for wl in workloads} for k in range(2)]
    for wl in workloads:
        for k, s in enumerate(sets, 1):
            runs = s[wl]
            host = {h: statistics.median(r["host"][h] for r in runs)
                    for h in HOST_KEYS}
            print(f"{wl:12s} set {k}: correct={all(r['correct'] for r in runs)} "
                  f"failed={sum(r['failed'] for r in runs)}/"
                  f"{sum(r['attempted'] for r in runs)} "
                  f"median steal_frac {host['steal_frac']:.4f} "
                  f"calib_s {host['calib_s']:.5f}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            (m1, s1), (m2, s2) = (
                spread([r["metrics"][name]["value"] for r in s[wl]]) for s in sets)
            move = m2 / m1 - 1 if m["better"] == "lower" else m1 / m2 - 1
            # the acceptance rule bounds every metric's move, and every
            # spread except set-up's
            ok = move <= bound and (name == "setup_s" or max(s1, s2) <= bound)
            print(f"{wl:12s} {name:16s} set 1 {m1:9.4f} {m['unit']} "
                  f"(spread {s1:.3f})  set 2 {m2:9.4f} (spread {s2:.3f})  "
                  f"move {move:+.3f}  bound {bound}  {'ok' if ok else 'OUTSIDE'}",
                  flush=True)

    for wl in workloads:
        u1, t1, u2, t2 = (run_once(spec, wl, 1, trace) for trace in (0, 1, 0, 1))
        counters = [k for k, m in t1["metrics"].items()
                    if m["unit"] in ("count", "bytes")]
        same = sorted(k for k in counters
                      if t1["metrics"][k]["value"] == t2["metrics"][k]["value"])
        moved = sorted(set(counters) - set(same))
        traced = statistics.median(
            [t["metrics"]["trace.pass_s"]["value"] for t in (t1, t2)])
        untraced = statistics.median(
            [u["metrics"]["pass_s"]["value"] for u in (u1, u2)])
        print(f"{wl:12s} traced pass_s {traced:.4f} vs untraced {untraced:.4f} "
              f"({traced / untraced - 1:+.1%}); counters repeating exactly: "
              f"{same}; differing: {moved}", flush=True)


if __name__ == "__main__":
    main()
