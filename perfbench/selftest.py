"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py            # generators and names (seconds)
    python3 perfbench/selftest.py --traced   # also the bypass prediction (minutes)

Run from the repository root. Checks that the same seed gives
byte-identical inputs and expected totals and another seed different
ones, that every workload and metric name in ``BENCHMARK.json`` matches
``[A-Za-z0-9_.-]+``, and with ``--traced`` that the Python-boundary
counters read 0 on the workloads that never cross it.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np

import gen
from workloads import WORKLOADS

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SCRATCH = os.path.join(".perfbench_work", "selftest")


def same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def generate(kind: str, seed: int, out: str) -> object:
    rng = np.random.default_rng(seed)
    if kind == "donors":
        return gen.gen_donors(rng, out, 2_000, 5_000)
    if kind == "star":
        return gen.gen_star(rng, out, 0.002)
    return gen.gen_documents(rng, out, 300)


def check_generators() -> None:
    for kind in ("donors", "star", "documents"):
        outs = [os.path.join(SCRATCH, f"{kind}-{i}") for i in range(3)]
        results = [generate(kind, seed, out) for seed, out in zip((7, 7, 8), outs)]
        if not same_tree(outs[0], outs[1]) or results[0] != results[1]:
            raise AssertionError(f"{kind}: one seed gave two different inputs")
        if same_tree(outs[0], outs[2]):
            raise AssertionError(f"{kind}: two seeds gave the same inputs")
        if kind == "donors" and results[0] == results[2]:
            raise AssertionError("donors: two seeds gave the same expected totals")
        print(f"ok  {kind}: seed-deterministic, seed-sensitive")


def check_names() -> None:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    bad = [n for n in names if not NAME.fullmatch(n)]
    if bad:
        raise AssertionError(f"names outside [A-Za-z0-9_.-]+: {bad}")
    unknown = [w["name"] for w in bench["workloads"] if w["name"] not in WORKLOADS]
    if unknown:
        raise AssertionError(f"BENCHMARK.json workloads not defined: {unknown}")
    print(f"ok  {len(names)} workload and metric names")


def check_bypass() -> None:
    """The Python-boundary counters are 0 where no plan crosses it."""
    for workload in ("donors_csv", "star_mix"):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", "1"],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        result = json.loads(out)
        nonzero = {k: v["value"] for k, v in result["metrics"].items()
                   if k.startswith("python.") and v["value"] != 0}
        if not result["correct"] or nonzero:
            raise AssertionError(f"{workload}: correct={result['correct']} {nonzero}")
        print(f"ok  {workload}: python.* counters all 0")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        check_generators()
        check_names()
        if args.traced:
            check_bypass()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
