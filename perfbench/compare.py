"""Difference of the end-to-end metrics of two runs of the benchmark.

    python3 perfbench/run.py --workload search --seed 3 --seconds 10 --trace 0 > a.out
    python3 perfbench/run.py --workload search --seed 3 --seconds 10 --trace 1 > b.out
    python3 perfbench/compare.py a.out b.out

Each file is a run's standard output; its report line (the second to
last) carries every end-to-end metric, traced or not. With an untraced
run first and a traced run of the same seed second, the differences are
the tracing overhead as the end-to-end numbers see it (next to the
tracer's own bookkeeping time, ``trace.overhead_s``).
"""

from __future__ import annotations

import json
import sys


def report(path: str) -> dict:
    with open(path) as f:
        return json.loads(f.read().splitlines()[-2])["report"]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (report(p) for p in argv)
    if (a["workload"], a["env"]["nproc"]) != (b["workload"], b["env"]["nproc"]):
        print("runs differ in workload or core count; not comparable",
              file=sys.stderr)
        return 1
    for name, va in a["end_to_end"].items():
        vb = b["end_to_end"][name]
        share = (vb - va) / va if va else float("nan")
        print(f"{name:28s} {va:14.4f} {vb:14.4f} {vb - va:+12.4f} {share:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
