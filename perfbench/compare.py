"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the result files `run.py` writes to
perfbench/out/results/ (untraced runs only are read; runs whose checks
failed are kept). For every workload it prints each set's failed and
attempted checks and its host probe, then for every end-to-end metric in
BENCHMARK.json each set's median and quartiles and one label:

- regressed (checks): the new set fails a larger share of its checks
  than the base set, whatever its timings;
- unresolved (host drift): the sets' median host probes (`host.loop_ms`,
  a fixed pure-Python loop timed before and after each run) differ by
  more than HOST_DRIFT, so the host, not the program, may have moved;
- improved: the new set wins at least 9 of 10 pairs (runs paired by
  seed, ties counting for neither) and the medians differ by more than
  the base set's own quartile distance;
- unresolved: a set's quartile distance, as a share of its median, is
  wider than the metric's bound, and not every new run beats every base
  run;
- regressed: the new median is worse than the base median by more than
  the bound;
- within bound: otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# two sets whose host probes differ by more than this share are not
# compared: on a shared host every metric follows the probe
HOST_DRIFT = 0.15


def load(directory: str) -> dict[str, dict[int, dict]]:
    """workload -> seed -> {"metrics", "failed", "attempted", "host_ms"}."""
    runs: dict[str, dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace"):
            continue
        res, named = rec["result"], rec["named"]
        runs.setdefault(rec["workload"], {})[rec["env"]["seed"]] = {
            "metrics": {k: m["value"] for k, m in res["metrics"].items()},
            "failed": res["failed"],
            "attempted": res["attempted"],
            "host_ms": (named["host.loop_ms.before"] + named["host.loop_ms.after"]) / 2,
        }
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def label(base: dict[int, float], new: dict[int, float], better: str, bound: float) -> str:
    sign = 1.0 if better == "lower" else -1.0  # sign * (new - base) > 0 is worse
    b, n = list(base.values()), list(new.values())
    bq1, bmed, bq3 = quartiles(b)
    nq1, nmed, nq3 = quartiles(n)
    pairs = [(base[s], new[s]) for s in base if s in new] or list(zip(b, n))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    if pairs and wins >= 0.9 * len(pairs) and abs(nmed - bmed) > (bq3 - bq1):
        return "improved"
    spread = max((bq3 - bq1) / abs(bmed), (nq3 - nq1) / abs(nmed))
    every_better = all(sign * (y - x) < 0 for x in b for y in n)
    if spread > bound and not every_better:
        return "unresolved"
    if sign * (nmed - bmed) / abs(bmed) > bound:
        return "regressed"
    return "within bound"


def checks(runs: dict[int, dict]) -> tuple[int, int]:
    return sum(r["failed"] for r in runs.values()), sum(r["attempted"] for r in runs.values())


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for wl in sorted(set(base) | set(new)):
        b_runs, n_runs = base.get(wl, {}), new.get(wl, {})
        if not b_runs or not n_runs:
            print(f"{wl}: missing in one set\n")
            continue
        (bf, ba), (nf, na) = checks(b_runs), checks(n_runs)
        b_host = statistics.median(r["host_ms"] for r in b_runs.values())
        n_host = statistics.median(r["host_ms"] for r in n_runs.values())
        drift = n_host / b_host - 1
        print(f"{wl}: failed/attempted checks base {bf}/{ba}, new {nf}/{na}; "
              f"host probe median base {b_host:.1f} ms, new {n_host:.1f} ms ({drift:+.0%})")
        print(f"  {'metric':18} {'base q1/med/q3':>32} {'new q1/med/q3':>32}  label")
        for m in spec["end_to_end"]:
            name = m["name"]
            b = {s: r["metrics"][name] for s, r in b_runs.items() if name in r["metrics"]}
            n = {s: r["metrics"][name] for s, r in n_runs.items() if name in r["metrics"]}
            if not b or not n:
                print(f"  {name:18} missing in one set")
                continue
            if nf / na > bf / ba:
                verdict = "regressed (checks)"
            elif abs(drift) > HOST_DRIFT:
                verdict = "unresolved (host drift)"
            else:
                verdict = label(b, n, m["better"], m["bound"])
            fmt = lambda xs: "/".join(f"{q:.4g}" for q in quartiles(list(xs.values())))  # noqa: E731
            print(f"  {name:18} {fmt(b):>32} {fmt(n):>32}  {verdict} (n={len(b)}/{len(n)})")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
