"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. With ``--trace 0`` the last line of stdout
is a JSON object with the end-to-end metrics; with ``--trace 1`` it holds the
per-layer metrics instead, and the spans are written to
``.perfbench/traces/``. The exit code is 1 when the correctness gate fails.

The launcher pins the environment before Spark starts, and records it in
the trace file:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use. Without it every CLI
  verb's ``get_spark`` resets ``spark.sql.shuffle.partitions`` to 32 on the
  shared session, and ingest writes eight times the files.
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temp dir inside
  ``.perfbench/`` (and the JVM's perf-data file off), so the run writes only
  inside the checkout.
- ``PYTHONPATH`` starting with the checkout, so Spark's Python workers can
  import the package (they raise ``ModuleNotFoundError`` otherwise).

No process the run starts outlives it: the launcher adopts orphaned
descendants (a Python worker whose JVM ended first) and, before it exits,
waits for every descendant to end, killing any still running after a grace
period.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_env(work: str) -> dict:
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


PR_SET_CHILD_SUBREAPER = 36
# seconds descendants get to end on their own before they are killed
END_GRACE_S = 30


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose parent ends, so
    that end_descendants() sees it and can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def end_descendants() -> None:
    """Wait until no descendant is left, reaping the adopted ones."""
    from perfbench.metrics import descendants

    deadline = time.monotonic() + END_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass  # no children left
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            print(f"perfbench: killing descendants still running: {left}", file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass  # ended meanwhile
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mistral_ocr_spark")):
        print("perfbench: no mistral_ocr_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workload import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    env = pin_env(work)
    print(f"perfbench env: {json.dumps(env)}", file=sys.stderr)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    run.env = env
    adopt_orphans()
    try:
        result = run.execute()
    finally:
        end_descendants()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
