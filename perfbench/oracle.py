"""Reference-model digests for one (workload, seed).

Runs ``reference_model/spider1_ref.crawl`` on the same frontier the
engine is given and writes the digests as JSON.  The benchmark starts
this as a subprocess at process start, so the untimed oracle overlaps
Spark start-up instead of adding to the run.

    python3 perfbench/oracle.py --workload frontier_image --seed 42 --out d.json
    python3 perfbench/oracle.py --write-golden     # refresh golden.json

``--write-golden`` recomputes the default seed's digests and input
fingerprints for every workload; run it only after a reviewed change
to the fixtures or the reference model.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def compute(name: str, seed: int) -> dict:
    wl = W.load_spec()["workloads"][name]
    raw = W.expected_frontier(int(wl["rows"]), int(wl["hosts"]), W.gen_seed(seed))
    return {
        "workload": name,
        "seed": seed,
        "fingerprint": W.fingerprint(wl, raw),
        "oracle": W.oracle_digests(wl, raw),
    }


def write_json_atomic(path: str, obj: dict) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()
    if a.write_golden:
        spec = W.load_spec()
        seed = int(spec["default_seed"])
        write_json_atomic(
            W.GOLDEN_PATH, {n: compute(n, seed) for n in sorted(spec["workloads"])}
        )
        return 0
    if not (a.workload and a.out and a.seed is not None):
        ap.error("--workload, --seed and --out are required")
    write_json_atomic(a.out, compute(a.workload, a.seed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
