"""Self-test: every workload at a tiny size, untraced and traced.

    python3 perfbench/selftest.py

Asserts that each run exits 0, emits every BENCHMARK.json metric of its
mode with the declared unit, and reports no failed check (fail_ratio 0).
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for wl in workloads.WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", "7",
                   "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                bad.append(f"{wl} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            for m in spec[kind]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    bad.append(f"{wl} trace={trace}: metric {m['name']} missing or wrong unit: {got}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                bad.append(f"{wl} trace={trace}: {res['failed']}/{res['attempted']} checks failed")
            print(f"ok? {wl} trace={trace}: attempted={res['attempted']} failed={res['failed']}",
                  flush=True)
    for b in bad:
        print("FAIL", b)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
