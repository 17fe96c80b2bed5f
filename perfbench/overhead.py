"""Tracing overhead: the end-to-end difference between a traced and an
untraced run of the same workload and seed.

    python3 perfbench/overhead.py --workload query_llm_ops --seed 1 --seconds 1

Prints, for every end-to-end figure of the record line, the untraced
value, the traced value and their ratio.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def record(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["record"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain = record(args.workload, args.seed, args.seconds, 0)["end_to_end"]
    traced = record(args.workload, args.seed, args.seconds, 1)["end_to_end"]
    rows = {
        name: {
            "untraced": plain[name]["value"],
            "traced": traced[name]["value"],
            "ratio": traced[name]["value"] / plain[name]["value"] if plain[name]["value"] else None,
            "unit": plain[name]["unit"],
        }
        for name in plain
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows}, indent=1))


if __name__ == "__main__":
    main()
