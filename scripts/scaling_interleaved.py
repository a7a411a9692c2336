"""Regime-matched N-vs-4N scaling pairs — BENCH/BASELINE.md §1 caveat.

This VM's throughput drifts between half-hour regimes (±15-30% and a
~1.5x slow mode), so an efficiency ratio computed from legs run in
different batches can be off by the regime delta alone.  This harness
interleaves the lo and hi legs back-to-back inside each rep
(lo, hi, lo, hi, ...), so every ratio is computed from adjacent runs,
and appends one raw JSON line per leg to BENCH/scaling_raw.jsonl
(commit-tagged by bench.py).

Usage: python scripts/scaling_interleaved.py N_ROWS [reps=2] [lo=4] [hi=16]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cpus: int, n_rows: int) -> dict:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_N=str(n_rows),
        PYTHONPATH=REPO,
        # this harness does its own interleaved reps across bench
        # invocations; the in-bench crawl-rep median would triple legs
        SPARK_GRAFT_BENCH_CRAWL_REPS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=14400,
    )
    if out.returncode != 0:
        raise RuntimeError(
            f"bench.py ({cpus} cpus, n={n_rows}) exited "
            f"{out.returncode}; stderr tail:\n{out.stderr[-4000:]}"
        )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_rows = int(sys.argv[1])
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    lo = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    hi = int(sys.argv[4]) if len(sys.argv) > 4 else 16
    factor = hi / lo
    raw_path = os.path.join(REPO, "BENCH", "scaling_raw.jsonl")
    effs = []
    with open(raw_path, "a") as f:
        for rep in range(1, reps + 1):
            pair = {}
            for cpus in (lo, hi):
                r = run(cpus, n_rows)
                pair[cpus] = r["value"]
                f.write(json.dumps(r) + "\n")
                f.flush()
                print(
                    f"rep{rep} n={n_rows} local[{cpus}]: {r['value']} urls/s "
                    f"({r['queries']['crawl_frontier']} s)",
                    flush=True,
                )
            eff = (pair[hi] / pair[lo]) / factor
            effs.append(eff)
            print(f"rep{rep} pair efficiency = {eff:.3f}", flush=True)
    print(f"all pair efficiencies: {[round(e, 3) for e in effs]}", flush=True)


if __name__ == "__main__":
    main()
