"""mrcs_spark benchmark: one command per workload run.

    python3 perfbench/run.py --workload {donors_csv,star_mix,text_dedup} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. A run

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (outside every timing) and computes the expected
   results once: the generator's own per-state totals for
   ``donors_csv``, each query's registered DuckDB oracle otherwise;
2. starts one fresh driver process (``worker.py``) on a ``local[N]``
   session, N = the cores in this process's affinity mask. It times its
   set-up, then runs the first pass and timed warm passes for
   ``--seconds`` (at least three). Every pass's output is checked;
3. prints an info line (host, grant, seed, load, input sizes, sample
   counts) and, last, one JSON line with ``correct``, ``attempted``,
   ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics: ``setup_s``,
``first_pass_s``, ``pass_s`` (fastest warm pass) and ``ok_frac`` (checked
executions that matched, over those attempted; it stands for
``failed_frac``, which is 0 and so cannot carry a relative bound).
``--trace 1`` runs the process traced and reports the per-layer
metrics: the medians over traced warm passes, interleaved with
untraced ones so that ``trace.overhead_s`` is traced minus untraced
``pass_s``; Python worker boot/init come from the first pass, where
they are paid. ``session.jvm_peak_rss_mb`` is informational: peak JVM
memory varies too much between identical runs to bound.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

import gen
from workloads import WORKLOADS

PACKAGE = "map_reduce_c_sharp_simulation_multithreaded_spark"
RUN_TIMEOUT_S = 170


def generate(workload: str, seed: int, data: str) -> tuple[object, dict]:
    """Write the inputs; return (expected results, input sizes)."""
    rng = np.random.default_rng(seed)
    inputs = WORKLOADS[workload]["inputs"]
    if workload == "donors_csv":
        expected = gen.gen_donors(rng, data, inputs["n_donors"], inputs["n_donations"])
        rows = inputs["n_donors"] + inputs["n_donors"] // 50 + inputs["n_donations"]
        return expected, {"rows": rows, "states": len(expected)}
    if workload == "star_mix":
        counts = gen.gen_star(rng, data, inputs["sf"])
    else:
        counts = {"documents": gen.gen_documents(rng, data, inputs["docs"])}
    return None, {"rows": sum(counts.values()), **counts}


def oracle_answers(queries: list[str], data: str) -> dict:
    """Each query's DuckDB oracle answer over the generated tables."""
    import duckdb

    from map_reduce_c_sharp_simulation_multithreaded_spark import oracle
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry

    con = duckdb.connect()
    for entry in sorted(os.listdir(data)):
        con.execute(
            f"CREATE VIEW {entry.removesuffix('.parquet')} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data, entry)}/*.parquet')"
        )
    all_q = registry.all_queries()
    return {
        q: oracle.oracle_result(con, registry.resolve_oracle(all_q[q].oracle, data))
        for q in queries
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run_worker(argv: list[str], env: dict[str, str], out: str, deadline: float) -> dict:
    """Run one worker process (and everything it starts) to completion,
    killing it at ``deadline`` (a ``time.monotonic()`` value)."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "worker.py"),
         *argv, "--out", out],
        stdout=sys.stderr, env=env, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:  # the JVM and Python daemons share the worker's group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker {argv} ended with {code}")
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {kind: {m["name"]: m["unit"] for m in bench[kind]}
             for kind in ("end_to_end", "per_layer")}
    kind = "per_layer" if args.trace else "end_to_end"
    load1 = os.getloadavg()[0]
    cpus = len(os.sched_getaffinity(0))
    spec = WORKLOADS[args.workload]

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(data)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    expected, sizes = generate(args.workload, args.seed, data)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    if spec["queries"]:
        expected = oracle_answers(spec["queries"], data)
    expected_s = time.perf_counter() - t0
    expected_path = os.path.join(work, "expected.pkl")
    with open(expected_path, "wb") as f:
        pickle.dump(expected, f)

    env = dict(
        os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    run = run_worker(
        ["--workload", args.workload, "--data", data, "--work", work,
         "--expected", expected_path, "--cpus", str(cpus),
         "--seconds", str(args.seconds), "--trace", str(args.trace)],
        env, os.path.join(work, "result.json"), deadline)
    attempted, failed, passes = run["executions"], run["failed"], run["passes"]
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "grant": f"local[{cpus}]", "loadavg_1m": load1,
        "pass_samples": len(passes), "input": sizes,
        "input_bytes": dir_bytes(data), "gen_s": gen_s, "expected_s": expected_s,
    }
    if args.trace:
        layer = dict.fromkeys(units["per_layer"], 0.0)
        layer.update(run["layer"])
        untraced = statistics.median(passes)
        layer.update({
            "trace.untraced_pass_s": untraced,
            "trace.overhead_s": layer["trace.traced_pass_s"] - untraced,
            "failed_frac": failed / attempted,
            "oracle.expected_s": expected_s,
        })
        metrics = {k: layer[k] for k in units["per_layer"]}
    else:
        metrics = {
            "setup_s": run["setup_s"],
            "first_pass_s": run["first_pass_s"],
            # the fastest, not the median: other load on the host only
            # ever adds time, and the passes still speed up as the JIT
            # warms, so the median carries both kinds of noise
            "pass_s": min(passes),
            "ok_frac": (attempted - failed) / attempted,
        }
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, f"{work}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[kind][k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
