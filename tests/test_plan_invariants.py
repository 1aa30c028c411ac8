"""Repo-wide physical-plan invariants over EVERY registered query.

The scale rules the engine claims (SCALE.md, VERDICT.md audits) are
asserted mechanically here, so a future query can't silently violate
them:

- **No row-at-a-time Python UDFs** (`BatchEvalPython`): the slow path
  the reference's hot loop never pays (``D/Program.cs:451`` does its
  cast/agg in compiled code) and neither do we — Python crosses the
  boundary only through Arrow-batched nodes (`ArrowEvalPython`,
  `FlatMapGroupsInPandas`, `FlatMapCoGroupsInPandas`, `MapInPandas`,
  `PythonMapInArrow`) or the declared UDTF (`BatchEvalPythonUDTF`,
  a table function evaluated per input ROW GROUP, part of the API
  surface).
- **No unpartitioned cartesian products** (`CartesianProduct`): the
  one intentional all-pairs shape (brute-force cosine baseline) is a
  *broadcast* nested-loop join — the build side is the bounded query
  set, never a shuffled n×n product.
- **Only reviewed window partition keys** (SCALE.md "Window
  inventory"): ``Window.partitionBy(k)`` places EVERY row of a key on
  one task with no partial aggregation and no AQE relief, so a window
  is only safe when rows-per-key is bounded by something a task can
  hold. Every key must be in :data:`ALLOWED_PARTITION_KEYS` with its
  bound, and a global window (empty partition spec) only appears in
  the queries of :data:`ALLOWED_GLOBAL_WINDOW_QUERIES`.

All three are checked on the INITIAL physical plan —
``executedPlan()`` before any action returns the pre-AQE physical plan
(ADVICE r5 wording fix). That is the right surface for these
invariants: AQE re-planning cannot *introduce* a banned node (it can
only convert shuffle joins to broadcasts, never conjure a Python eval
node, a cartesian product or a Window). It also sees windows the
optimizer introduces, which the analyzed plan does not.

Blind spot, explicit: queries whose returned frame is a checkpoint or
memory-sink tail plan as a scan of that tail, so windows inside their
loop/stream bodies don't appear here; their own pytest suites cover
those bodies.
"""

from __future__ import annotations

import re

import pytest

from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry

# Row-wise scalar Python UDF node; the negative lookahead admits the
# Python UDTF node (BatchEvalPythonUDTF), which is registered API
# surface with its own oracle (udtf_chunk_windows).
_ROWWISE_UDF = re.compile(r"BatchEvalPython(?!UDTF)")


# key -> the rows-per-key bound that makes a window over it safe
# (classes from SCALE.md "Window inventory")
ALLOWED_PARTITION_KEYS = {
    # per-document position: bounded by the row's own text width
    "_id": "span-island merges — positions per document",
    "doc_id": "per-document term stats",
    # per-entity history: the unit the semantics must co-locate anyway
    "user_id": "one user's event history",
    "sess_id": "one session's events",
    "o_custkey": "one customer's order history",
    "c_nationkey": "customers per nation — dimension-bounded (25)",
    # pre-reduced input: the feeding aggregation collapsed multiplicity
    "o_orderstatus": "window over a <=15-row (status x priority) table",
    "w1": "aggregated bigram counts — continuations <= vocabulary",
    "window-T600000ms": "streaming (window, event_type) counts — enum-bounded",
    # bounded by algorithm constants
    "query_id": "per-query shortlist — k x probes",
    "vec_id": "candidate cells per vector — <= nlist",
    "ps_partkey": "EUROPE (part, supplier) costs per part — bounded "
    "by suppliers-per-part (TPC-H: <= ~100 at any SF; r14 q2 rewrite)",
    "cluster_id": "SemDeDup k-proportional-to-n occupancy (measured)",
    # sharded two-phase escape hatch / small-domain stream keys
    "lang": "language domain is small; sharded variant exists for skew",
    "source": "source domain is small; two-phase shard documented",
    "shard": "explicit shard key of the two-phase pattern",
    "_shard": "explicit shard key of the two-phase pattern",
}

# A windowspecdefinition with an EMPTY partition spec is a GLOBAL
# window: Spark logs "WindowExec: No Partition Defined ... Moving all
# data to a single partition" and puts EVERY input row on one task —
# the worst case of the hot-key class by construction (VERDICT r12
# wrong #2). :func:`window_partition_keys` records it as the sentinel
# "<global>", and unlike column keys the review is PER QUERY: a global
# window is only safe when the frame feeding it is already reduced to
# a task-sized row count, which is a property of that query's plan,
# not of any key. Each entry names the feeding frame's rows bound
# (SCALE.md "Window inventory").
ALLOWED_GLOBAL_WINDOW_QUERIES = {
    "curation_budget_mixture": (
        "both global windows run over the per-source aggregate "
        "(plans/mlprep.py greedy budget walk) — <= #sources rows (20 "
        "at sf0.01), reduced before the window"
    ),
    "window_ratio_to_report": (
        "ratio-to-report denominator over the nation-level aggregate "
        "— <= #nations rows (25), dimension-bounded"
    ),
    "text_bm25_topk": (
        "rank window over orderBy().limit(10) — TakeOrderedAndProject "
        "reduces the corpus to 10 rows BEFORE the window"
    ),
    "retrieval_hybrid_rrf": (
        "three rank windows, each over a limit(20)/limit(20)/limit(10) "
        "shortlist — all frames list-k-bounded before the window"
    ),
    "text_zipf_slope": (
        "rank window over the top-50 limit frame (the full-vocabulary "
        "top-k is TakeOrderedAndProject, NOT this window)"
    ),
    "text_bpe_vocab_apply": (
        "rank window over the per-SYMBOL frequency table — symbols "
        "are the character alphabet + n_rounds merges (~130 rows), "
        "alphabet-bounded, not corpus-bounded"
    ),
}


def _split_top_args(plan: str, open_idx: int) -> list[str]:
    """Split the argument list of the call whose '(' sits at
    ``open_idx`` into top-level comma-separated pieces."""
    depth, start, out = 1, open_idx + 1, []
    i = start
    while i < len(plan) and depth:
        c = plan[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                out.append(plan[start:i])
        elif c == "," and depth == 1:
            out.append(plan[start:i])
            start = i + 1
        i += 1
    return out


# A sort order always renders as "<expr> ASC NULLS FIRST" / "<expr>
# DESC NULLS LAST" inside windowspecdefinition — anchor on that
# suffix, not substring containment, so a partition-key EXPRESSION
# whose text merely contains " ASC"/" DESC" (e.g. a string literal)
# cannot be silently dropped from the inventory (ADVICE r12).
_SORT_ORDER_RX = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")


def window_partition_keys(plan: str) -> set[str]:
    """Partition-key expressions of every ``windowspecdefinition`` in
    a plan string, exprIds stripped. Sort orders carry ``ASC``/``DESC``
    suffixes and the frame is ``specifiedwindowframe(...)``; everything
    else in the spec's argument list is a partition key. A spec with
    ZERO partition keys is a global window, recorded as the sentinel
    ``<global>``."""
    keys: set[str] = set()
    for m in re.finditer(r"windowspecdefinition\(", plan):
        part_keys: list[str] = []
        for a in _split_top_args(plan, m.end() - 1):
            a = a.strip()
            if (
                not a
                or a.startswith("specifiedwindowframe(")
                or _SORT_ORDER_RX.search(a)
            ):
                continue
            part_keys.append(re.sub(r"#\d+L?", "", a))
        keys.update(part_keys or ["<global>"])
    return keys


def _window_violations(name: str, keys: set[str]) -> list[str]:
    """Why ``name``'s window partition ``keys`` fail the review; empty
    when they pass."""
    out = []
    unlisted = sorted(keys - set(ALLOWED_PARTITION_KEYS) - {"<global>"})
    if unlisted:
        out.append(
            f"window partition keys outside the reviewed inventory: "
            f"{unlisted} — a Window over a key whose rows-per-key grows "
            f"with the corpus is a one-task straggler at scale (no "
            f"combiner, no AQE). Either rewrite as groupBy+semi-join / "
            f"min(struct) / sharded two-phase (see SCALE.md 'Window "
            f"inventory') or add the key to ALLOWED_PARTITION_KEYS WITH "
            f"its boundedness argument and a SCALE.md table row"
        )
    reviewed = name in ALLOWED_GLOBAL_WINDOW_QUERIES
    if "<global>" in keys and not reviewed:
        out.append(
            "unreviewed GLOBAL window (empty partition spec — ALL rows "
            "on one task): partition the window, pre-reduce the frame "
            "and add the query to ALLOWED_GLOBAL_WINDOW_QUERIES with its "
            "rows bound, or rewrite as an aggregate + broadcast join"
        )
    elif reviewed and "<global>" not in keys:
        out.append(
            "listed in ALLOWED_GLOBAL_WINDOW_QUERIES but its plan has no "
            "global window — retire the entry"
        )
    return out


def _initial_plan(df) -> str:
    # pre-action executedPlan() == the initial (pre-AQE) physical plan
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name", sorted(registry.all_queries()), ids=lambda n: n
)
def test_plan_invariants(spark, sf_dir, name):
    q = registry.all_queries()[name]
    plan = _initial_plan(q.fn(spark, sf_dir))
    assert not _ROWWISE_UDF.search(plan), (
        f"{name}: row-at-a-time Python UDF (BatchEvalPython) in plan"
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: unpartitioned CartesianProduct in plan"
    )
    violations = _window_violations(name, window_partition_keys(plan))
    assert not violations, f"{name}: {violations}"


def test_global_window_allowlist_names_registered_queries():
    """The per-query check above retires a dead entry only while its
    query is registered; a renamed or removed query is caught here."""
    unknown = sorted(
        set(ALLOWED_GLOBAL_WINDOW_QUERIES) - set(registry.all_queries())
    )
    assert not unknown, (
        f"ALLOWED_GLOBAL_WINDOW_QUERIES names unregistered queries: "
        f"{unknown} — retire them"
    )


def test_window_gate_fails_on_unreviewed_entry():
    """Red-test proof: the per-query review flags an unreviewed global
    window, an unlisted key and a dead global-window entry, and passes
    an allowlisted key."""
    assert _window_violations("some_new_query", {"<global>"})
    assert _window_violations("some_new_query", {"l_orderkey"})
    assert _window_violations("text_bm25_topk", {"doc_id"})
    assert _window_violations("doc_id_query", {"doc_id"}) == []
    assert _window_violations("text_bm25_topk", {"<global>"}) == []
    # ...and the extractor actually emits the sentinel for an empty
    # partition spec, anchored on the real plan syntax.
    plan = (
        "Window [sum(x#1L) windowspecdefinition(y#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RangeFrame, unboundedpreceding$(), "
        "currentrow$()))], [y#2 ASC NULLS FIRST]"
    )
    assert window_partition_keys(plan) == {"<global>"}
    # a partitioned spec still extracts its key, and a key expression
    # containing ' ASC' as a literal is NOT dropped (ADVICE r12 #4)
    plan2 = (
        "Window [row_number() windowspecdefinition(concat(k#3,  ASC)#9, "
        "y#2 DESC NULLS LAST, specifiedwindowframe(RowFrame, "
        "unboundedpreceding$(), currentrow$()))]"
    )
    assert window_partition_keys(plan2) == {"concat(k,  ASC)"}
