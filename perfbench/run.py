"""Benchmark of the index engine: two workloads, end-to-end metrics with
an oracle check, and a traced run with per-layer metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout (the directory holding ``mahout_spark/``).
Spark runs as ``local[<cores>]`` with one closed-loop client. All files
the run writes stay under ``.perfbench/`` in the checkout; the work
directory is removed at the end, traced runs leave their spans in
``.perfbench/spans-<workload>-<seed>.jsonl``.

The second-to-last line of standard output is a report (run environment,
corpus and query-stream facts, every end-to-end metric including
``error_rate``, sample counts; traced runs add per-layer self times and
the tracer's own overhead). The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_sha() -> str:
    """Hash of the engine's sources: identifies the code under test even
    in a checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mahout_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def environment(bench) -> dict:
    import pyspark

    from perfbench import corpus as gen

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": bench.spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
        "engine_sha": engine_sha(),
        "seed": bench.seed,
        "corpus_docs": gen.N_DOCS,
        "docs_per_shard": gen.DOCS_PER_SHARD,
        "driver_memory": bench.spark.conf.get("spark.driver.memory"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="time box of the repeated part of the run")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mahout_spark", "__init__.py")):
        print(f"perfbench: no mahout_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    pb = os.path.join(ROOT, ".perfbench")
    work = os.path.join(pb, f"run-{os.getpid()}")
    # the JVM and the Python workers inherit these: every scratch file
    # stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    from perfbench import corpus as gen
    from perfbench import metrics
    from perfbench.workloads import Bench, peak_memory_mb

    t0 = time.perf_counter()
    bench = Bench(work, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.setup()
        getattr(bench, f"run_{args.workload}")()
        py_mb, non_heap = peak_memory_mb(bench.spark)
        bench.peak_mb = py_mb + bench.live_heap_mb + sum(non_heap.values())
        bench.facts["peak_mb"] = {"python": py_mb,
                                  "jvm_live_heap": bench.live_heap_mb,
                                  "jvm_non_heap": non_heap}
        env = environment(bench)
    finally:
        with bench.phase("teardown"):
            bench.close()
            shutil.rmtree(work, ignore_errors=True)
    bench.facts["phase_s"]["total"] = time.perf_counter() - t0

    e2e = metrics.end_to_end(bench)
    report = {
        "workload": args.workload,
        "env": env,
        "corpus": gen.corpus_stats(bench.C, bench.heads),
        **bench.facts,
        "end_to_end": {**e2e, "error_rate": bench.check.error_rate},
        "samples": {k: len(v) for k, v in sorted(bench.samples.items())},
        "failures": bench.check.notes,
    }
    if args.trace:
        values = metrics.per_layer(bench)
        table = metrics.PER_LAYER
        report["spans"] = len(bench.tracer.spans)
        report["layer_map"] = {
            n: {"moves": list(moves), "on": list(on),
                "flat": list(metrics.FLAT.get(n, ()))}
            for n, (_, _, moves, on) in table.items() if moves
        }
        spans = os.path.join(pb, f"spans-{args.workload}-{args.seed}.jsonl")
        bench.tracer.write(spans)
        report["spans_file"] = os.path.relpath(spans, ROOT)
    else:
        values, table = e2e, metrics.END_TO_END
    missing = sorted(set(table) - set(values))
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": bench.check.failed == 0,
        "attempted": bench.check.attempted,
        "failed": bench.check.failed,
        "metrics": {n: {"value": values[n], "unit": table[n][0]} for n in table},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
