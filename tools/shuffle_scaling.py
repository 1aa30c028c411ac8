#!/usr/bin/env python
"""Empirical shuffle-SCALING exponents — the 100 TB question asked of
the data instead of the plan text.

    python tools/shuffle_scaling.py [--json SHUFFLE_SCALING.json]
                                    [--reuse-hi SHUFFLE_AUDIT.json]

SHUFFLE_AUDIT.json proves each query's shuffle volume is what its plan
shape promises at ONE scale. This tool runs the same audit at TWO
scales (sf0.01 and sf0.1 — a 10× row step in every corpus table) and
fits the growth law:

    exponent = log(shuffle_hi / shuffle_lo) / log(10)

An exponent ≤ ~1 means the shuffle grows no faster than the data — the
plan survives a 100× scale-up with 100× the hardware. An exponent
meaningfully above 1 is a quadratic-risk smell (pair explosion,
bucket² growth, re-partitioned width) that no single-scale audit can
see; each such query must carry a written adjudication
(tests/test_shuffle_scaling.py) separating SEMANTIC growth (a
pair-emitting operator whose OUTPUT is the quadratic object, or a
graph whose edge set densifies) from accidental growth (a join that
should have been broadcast).

The denominator is the NOMINAL row step, not measured input_bytes:
at these scales parquet input_bytes is dominated by fixed per-file
footer/page metadata (tpch_q2 reads 32 KB at sf0.01 vs 59 KB at
sf0.1 for 10× the rows), so a measured-bytes denominator inflates
exponents ~2–4× on dimension-heavy queries. Measured input bytes are
kept per query as a diagnostic (`input_ratio`).

Mechanics: each scale's audit runs `tools/shuffle_audit.py` in its own
subprocess session. Queries whose sf0.1 shuffle stays
under FLOOR_BYTES are classified "bounded" — broadcast / dimension /
constant-overhead shapes where a ratio of two tiny numbers is noise,
and whose absolute bound is itself the scale argument.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FLOOR_BYTES = 256 * 1024  # below this at sf0.1, ratios are noise
NOMINAL_RATIO = 10.0  # sf0.01 → sf0.1 is a 10× row step in every table
SUPERLINEAR = 1.3
MILD = 1.1


def run_audit(sf_dir: str, out_json: str) -> None:
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "shuffle_audit.py"),
            "--sf",
            sf_dir,
            "--json",
            out_json,
        ],
        check=True,
    )


def classify(lo: dict, hi: dict) -> dict:
    """Growth record for one query from its low-/high-scale audit rows."""
    if "error" in lo or "error" in hi:
        return {"class": "error"}
    s_lo = lo["shuffle_write_bytes"]
    s_hi = hi["shuffle_write_bytes"]
    row = {"shuffle_lo": s_lo, "shuffle_hi": s_hi,
           "input_lo": lo["input_bytes"], "input_hi": hi["input_bytes"]}
    if s_hi < FLOOR_BYTES:
        row["class"] = "bounded"
        return row
    if lo["input_bytes"] > 0:
        row["input_ratio"] = round(hi["input_bytes"] / lo["input_bytes"], 2)
    if s_lo == 0:
        row["class"] = "emergent"  # zero → ≥FLOOR across the step
        return row
    exp = math.log(s_hi / s_lo) / math.log(NOMINAL_RATIO)
    row["exponent"] = round(exp, 3)
    row["class"] = (
        "superlinear" if exp > SUPERLINEAR
        else "mildly_super" if exp > MILD
        else "linear_or_less"
    )
    return row


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--reuse-hi",
        default=None,
        help="existing sf0.1 SHUFFLE_AUDIT.json to reuse instead of "
        "re-running the high-scale audit",
    )
    args = ap.parse_args()

    with tempfile.TemporaryDirectory() as td:
        lo_path = os.path.join(td, "lo.json")
        run_audit("/root/testdata/sf0.01", lo_path)
        if args.reuse_hi:
            hi_path = args.reuse_hi
        else:
            hi_path = os.path.join(td, "hi.json")
            run_audit("/root/testdata/sf0.1", hi_path)
        with open(lo_path, encoding="utf-8") as fh:
            lo = json.load(fh)
        with open(hi_path, encoding="utf-8") as fh:
            hi = json.load(fh)

    out: dict[str, dict] = {}
    # Queries present in only ONE audit are surfaced, not silently
    # skipped (ADVICE r13): a name mismatch between scales would
    # otherwise make a query invisibly escape scaling scrutiny.
    lo_names = {n for n in lo["queries"] if not n.startswith("_")}
    hi_names = {n for n in hi["queries"] if not n.startswith("_")}
    unmatched = sorted(lo_names ^ hi_names)
    for name in unmatched:
        side = "lo-only" if name in lo_names else "hi-only"
        print(f"# UNMATCHED ({side}): {name}", file=sys.stderr)
    for name in sorted(lo_names & hi_names):
        out[name] = classify(lo["queries"][name], hi["queries"][name])
        cls = out[name]["class"]
        exp = out[name].get("exponent", "")
        print(f"{name:42s} {cls:16s} {exp}")

    counts: dict[str, int] = {}
    for row in out.values():
        counts[row["class"]] = counts.get(row["class"], 0) + 1
    artifact = {
        "lo_sf": "sf0.01",
        "hi_sf": hi.get("sf_dir", "sf0.1"),
        "floor_bytes": FLOOR_BYTES,
        "class_counts": dict(sorted(counts.items())),
        # the escape hatches, on record: rows classified "error"
        # bypass the exponent gate, and unmatched names never got a
        # row at all — the pytest gate pins both counts to zero
        "unmatched_queries": unmatched,
        "queries": dict(sorted(out.items())),
    }
    print(f"# class counts: {artifact['class_counts']}", file=sys.stderr)
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
