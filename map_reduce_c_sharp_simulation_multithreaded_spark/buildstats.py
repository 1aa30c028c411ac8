"""Build ledger and the one build-once memo.

Several queries front a build-once/use-many artifact — the trained
k-means codebooks (sim_ivf_trained_topk, dedup_semantic_clusters_
trained), the trained PQ books and the near-dup cluster index
(_fp_cluster_labels) — whose one-time cost lands in whichever
invocation happens to run first. Each of them goes through
:func:`memo_build`: IVF index BUILD is a one-time offline step while
SEARCH runs per query (the FAISS train/add/search split), so repeat
invocations against the same unchanged data reuse the artifact and pay
only the retrieval plan.

A timing harness that can't see the build mis-reads that cold spike as
the query's plan cost. The memo-miss branch calls :func:`record_build`;
the one measurement loop, ``tools/sweep_times.run_queries`` (bench.py,
the sweep and the shuffle audit all call it), drains the ledger after
every query and attaches ``builds`` to that query's row, so the record
separates BUILD from SEARCH explicitly.

Process-local and intentionally tiny: no locks (the harnesses are
single-threaded drivers), no persistence (a fresh process rebuilds and
re-reports, which is exactly the cold story worth recording).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Hashable
from typing import TypeVar

T = TypeVar("T")

_LEDGER: list[dict] = []
_MEMO: dict[tuple, object] = {}


def record_build(kind: str, seconds: float, detail: str = "") -> None:
    """Report a completed one-time build (memo-miss branch only)."""
    _LEDGER.append(
        {"kind": kind, "sec": round(seconds, 3), "detail": detail}
    )


def drain() -> list[dict]:
    """Return and clear all builds reported since the last drain."""
    out = list(_LEDGER)
    _LEDGER.clear()
    return out


def _table_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, size, mtime_ns) of every file under ``<table>.parquet``
    (a directory of part files or one file)."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    paths = [root]
    if os.path.isdir(root):
        paths = sorted(
            os.path.join(d, f) for d, _, files in os.walk(root) for f in files
        )
    out = []
    for p in paths:
        try:
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((p, -1, -1))
    return tuple(out)


def memo_build(
    kind: str,
    detail: str,
    sf_dir: str,
    table: str,
    params: Hashable,
    build: Callable[[], T],
) -> T:
    """Return ``build()``'s result, built once per
    ``(kind, params, sf_dir, files of sf_dir/<table>.parquet)``.

    A miss runs ``build()``, reports its wall time to the ledger and
    stores the result; a hit returns the stored object and reports
    nothing. The key carries every file's size and mtime, so rewriting
    the parquet in-process rebuilds instead of serving an artifact
    derived from the old data."""
    key = (kind, params, sf_dir, _table_fingerprint(sf_dir, table))
    if key not in _MEMO:
        t0 = time.perf_counter()
        _MEMO[key] = build()
        record_build(kind, time.perf_counter() - t0, detail)
    return _MEMO[key]
