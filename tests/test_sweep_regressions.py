"""The sweep diff rule behind ``tools/sweep_times.py --diff``: no query
>1.5× its prior warm time, over the queries both sweeps carry.

Queries with prior warm < 0.25 s are exempt (constant overhead
dominates; ratios there are noise), as are queries present in only one
artifact (debuts / retirements). Times compare raw, so both sweeps must
come from the same host.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _sweep(**warm: float) -> dict:
    return {"queries": {n: {"warm": w, "cold": w} for n, w in warm.items()}}


def test_compare_sweeps_raw_rules():
    from sweep_times import compare_sweeps

    prev = _sweep(slow=1.0, floor=0.24, edge=0.25, gone=1.0)
    cur = _sweep(slow=1.51, floor=10.0, edge=0.375, debut=50.0)
    # 1.51x from 1.0 s is flagged; 10 s from a 0.24 s prior is under the
    # floor; exactly 1.5x is not "grew >1.5x"; queries in only one
    # sweep never enter the comparison
    assert compare_sweeps(prev, cur) == [("slow", 1.0, 1.51)]
    # the floor is inclusive: a 0.25 s prior is compared
    assert compare_sweeps(_sweep(q=0.25), _sweep(q=0.38)) == [
        ("q", 0.25, 0.38)
    ]
    assert compare_sweeps({}, cur) == []
