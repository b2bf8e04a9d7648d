"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (IQR / median) against its bound.

    python3 perfbench/spread.py --workload crawl_large --seeds 1-10

Runs are sequential, from the checkout root, with ``--trace 0`` and the
``run_seconds`` of BENCHMARK.json. A run that leaves a process behind in the
checkout stops the check.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def pids() -> set[int]:
    return {int(d) for d in os.listdir("/proc") if d.isdigit()}


def leftovers(before: set[int]) -> list[str]:
    """Processes started since ``before`` was listed, other than this one,
    whose working directory is in the checkout."""
    out = []
    for pid in pids() - before - {os.getpid()}:
        try:
            cwd = os.readlink(f"/proc/{pid}/cwd")
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue  # ended while listing, or not ours to read
        if cwd == ROOT or cwd.startswith(ROOT + os.sep):
            out.append(f"{pid} {cmd[:200]}")
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    before = pids()
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        left = leftovers(before)
        if left:
            print(f"seed {seed}: processes left running:\n" + "\n".join(left), file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        stolen = re.search(r"stolen_cpu=([0-9.]+)", proc.stderr)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"stolen_cpu={stolen.group(1) if stolen else '?'} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        spread = float("nan")
        if len(xs) >= 2:
            q1, _q2, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else "  <-- above a third of its bound"
        print(f"{k:20s} median {med:10.4g}  spread {spread:6.3f}  bound {b}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
