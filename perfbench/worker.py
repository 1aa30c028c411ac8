"""One fresh driver process of a benchmark run (started by ``run.py``).

Times its own set-up (package import, ``session.get_spark`` and a first
trivial job), runs the workload's first pass, then timed warm passes
until ``--seconds`` have elapsed (at least three). Every pass's output
is checked against the expected results ``run.py`` computed. With
``--trace`` the first pass and half of the warm passes are traced
(spans + JVM counters); the untraced warm passes between them give the
tracing overhead.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import Any  # noqa: E402

from tracing import JvmCounters, Tracer, jvm_peak_rss_mb, wrap_function  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "map_reduce_c_sharp_simulation_multithreaded_spark"


class Runner:
    """Runs and checks passes of one workload on one session."""

    def __init__(self, spark: Any, args: argparse.Namespace, expected: Any,
                 tracer: Tracer) -> None:
        from map_reduce_c_sharp_simulation_multithreaded_spark import oracle
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
        from map_reduce_c_sharp_simulation_multithreaded_spark.sources import (
            csv_reference,
        )

        self.spark = spark
        self.spec = WORKLOADS[args.workload]
        self.args = args
        self.expected = expected
        self.tracer = tracer
        self.oracle = oracle
        self.csv = csv_reference
        self.queries = registry.all_queries()
        self.counters = JvmCounters(spark) if args.trace else None
        self.n_actions = 0
        self.executions = 0
        self.failed = 0

    def run_pass(self, traced: bool) -> dict[str, Any]:
        self.tracer.enabled = traced
        first_span = len(self.tracer.spans)
        counts: dict[str, float] = {}
        wall = 0.0
        mismatches = 0
        extra: dict[str, float] = {}
        items = self.spec["queries"] or ["donors"]
        for name in items:
            group = f"perfbench-{self.n_actions}"
            self.n_actions += 1
            self.spark.sparkContext.setJobGroup(group, name)
            if traced:
                self.counters.mark()
            try:
                if self.spec["queries"]:
                    dt, ok = self._query(name)
                else:
                    dt, ok, extra = self._donors()
            except Exception:  # a failing execution is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                dt, ok = 0.0, False
            wall += dt
            print(f"perfbench: {name} {dt:.3f}s", file=sys.stderr)
            self.executions += 1
            if not ok:
                self.failed += 1
                mismatches += 1
                print(f"perfbench: {name} output check failed", file=sys.stderr)
            if traced:
                for k, v in self.counters.read(group).items():
                    counts[k] = counts.get(k, 0.0) + v
            # plans that .cache() their fold outputs never unpersist them:
            # left cached, the next pass would skip the folds it measures
            self.spark.catalog.clearCache()
        self.tracer.enabled = False
        out: dict[str, Any] = {"wall_s": wall, "traced": traced}
        if traced:
            spans = self.tracer.spans[first_span:]
            out["layer"] = {**counts, **extra, **layer_times(self.tracer, spans),
                            "oracle.mismatches": mismatches}
        return out

    def _query(self, name: str) -> tuple[float, bool]:
        fn = self.queries[name].fn
        t0 = time.perf_counter()
        with self.tracer.span("plans", name):
            df = fn(self.spark, self.args.data)
        if self.tracer.enabled:
            with self.tracer.span("catalyst", "executedPlan"):
                df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec", "collect"):
            rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t0
        with self.tracer.span("oracle", "compare"):
            ocols, orows = self.expected[name]
            ok = self.oracle.compare(list(df.columns), rows, ocols, orows)["ok"]
        return dt, ok

    def _donors(self) -> tuple[float, bool, dict[str, float]]:
        csv = self.csv
        out_dir = os.path.join(self.args.work, "result")
        t0 = time.perf_counter()
        with self.tracer.span("sources", "read_donors"):
            donors = csv.read_donors(self.spark, os.path.join(self.args.data, "donors.csv"))
        with self.tracer.span("sources", "read_donations"):
            donations = csv.read_donations(
                self.spark, os.path.join(self.args.data, "donations.csv"))
        with self.tracer.span("sources", "donations_by_state"):
            result = csv.donations_by_state(donors, donations, strict=True)
        with self.tracer.span("sinks", "write_result_csv"):
            csv.write_result_csv(result, out_dir)
        dt = time.perf_counter() - t0
        with self.tracer.span("oracle", "compare"):
            got, written = read_result_csv(out_dir)
            ok = got.keys() == self.expected.keys() and all(
                abs(got[k] - self.expected[k]) <= 1 for k in got)
        shutil.rmtree(out_dir)
        return dt, ok, {"sinks.bytes_written": written}


def read_result_csv(out_dir: str) -> tuple[dict[str, int], int]:
    """Parse the sink's part files back: ``{state: cents}`` and bytes."""
    got: dict[str, int] = {}
    written = 0
    for fn in sorted(os.listdir(out_dir)):
        if not fn.startswith("part-"):
            continue
        path = os.path.join(out_dir, fn)
        written += os.path.getsize(path)
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            state, amount = line.rsplit(",", 1)
            got[state] = round(float(amount) * 100)
    return got, written


def layer_times(tracer: Tracer, spans: list[dict[str, Any]]) -> dict[str, float]:
    """Per-layer timings of one traced pass from its spans."""
    def total(layer: str, *names: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["layer"] == layer and (not names or s["name"] in names))

    self_s = tracer.self_times(spans)
    out = {
        "catalog.load_s": total("catalog"),
        "catalog.calls": float(sum(s["layer"] == "catalog" for s in spans)),
        "plans.build_s": self_s.get("plans", 0.0),
        "catalyst.plan_s": total("catalyst"),
        "exec.collect_s": total("exec"),
        "sources.read_s": total("sources", "read_donors", "read_donations"),
        "sources.plan_s": total("sources", "donations_by_state"),
        "sinks.write_s": total("sinks"),
        "oracle.check_s": total("oracle"),
    }
    for layer in ("catalog", "plans", "catalyst", "exec", "sources", "sinks", "oracle"):
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())

    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    with tracer.span("session", "import"):
        from map_reduce_c_sharp_simulation_multithreaded_spark import catalog, session
        from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
        from map_reduce_c_sharp_simulation_multithreaded_spark.sources import (  # noqa: F401
            csv_reference,
        )
        registry.all_queries()  # imports every plan module
    t_import = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = session.get_spark(cpus=args.cpus)
    t_spark = time.perf_counter()
    with tracer.span("session", "warmup"):
        spark.range(1000).count()
    t_ready = time.perf_counter()
    setup = {
        "import_s": t_import - T_START,
        "get_spark_s": t_spark - t_import,
        "warmup_s": t_ready - t_spark,
        "setup_s": t_ready - T_START,
    }
    if args.trace:
        wrap_function(PACKAGE, catalog, "load_table", tracer, "catalog")

    with open(args.expected, "rb") as f:
        expected = pickle.load(f)  # written by run.py for this run
    runner = Runner(spark, args, expected, tracer)
    first = runner.run_pass(traced=bool(args.trace))
    result: dict[str, Any] = {"setup_s": setup["setup_s"], "first_pass_s": first["wall_s"]}
    passes = []
    t0 = time.perf_counter()
    min_passes = 4 if args.trace else 3  # traced: at least U, T, T, U
    while len(passes) < min_passes or time.perf_counter() - t0 < args.seconds:
        # untraced, traced, traced, untraced, ...: a steady drift (JIT)
        # shifts both halves alike, so their medians stay comparable
        passes.append(runner.run_pass(traced=bool(args.trace) and len(passes) % 4 in (1, 2)))
    result["passes"] = [p["wall_s"] for p in passes if not p["traced"]]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        keys = traced[0]["layer"].keys()
        layer = {k: statistics.median(p["layer"][k] for p in traced) for k in keys}
        for k in ("python.boot_ms", "python.init_ms"):
            layer[k] = first["layer"][k]  # paid once per process
        for k, v in setup.items():
            if k != "setup_s":
                layer[f"session.{k}"] = v
        layer["session.self_s"] = setup["setup_s"]
        layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        layer["trace.traced_pass_s"] = statistics.median(p["wall_s"] for p in traced)
        result["layer"] = layer
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
    result["executions"] = runner.executions
    result["failed"] = runner.failed
    stop_spark(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def stop_spark(spark: Any) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
