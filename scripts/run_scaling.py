#!/usr/bin/env python
"""Scaling efficiency N -> 4N cores over the benchmark's north-star job.

    python scripts/run_scaling.py

N is a quarter of the CPU affinity mask (at least 1).  For seeds 0-2, at
both N and 4N cores, runs

    taskset -c <first k CPUs> python3 perfbench/run.py \\
        --workload geotag_manifest --seed s --seconds 12 --trace 0

perfbench sizes local[nproc] from the affinity mask, so the pin sets the
core count; it also pins the Python UDF workers, which run outside Spark's
task accounting and would otherwise spread over every core of the machine.
Every run must report ``correct``.  Efficiency = median images/s at 4N
divided by 4 x the median at N (the north rule asks for >= 0.8); the result
goes to BENCH/scaling.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD = "geotag_manifest"
SEEDS = (0, 1, 2)
OUT = os.path.join(REPO, "BENCH", "scaling.md")


def run_at(cpus: list[int], seed: int) -> float:
    """images/s of one perfbench run pinned to ``cpus``."""
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, os.path.join(REPO, "perfbench", "run.py"),
        "--workload", WORKLOAD, "--seed", str(seed), "--seconds", "12", "--trace", "0",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=1800)
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    if out.returncode != 0 or not result.get("correct"):
        sys.exit(f"perfbench run not correct at {len(cpus)} cores, seed {seed}:\n{out.stderr[-2000:]}")
    return result["metrics"]["images_per_s"]["value"]


def main() -> None:
    mask = sorted(os.sched_getaffinity(0))
    n = max(1, len(mask) // 4)
    widths = (n, 4 * n)
    if len(mask) < widths[1]:
        sys.exit(f"need {widths[1]} CPUs for N={n} -> 4N, have {len(mask)}")

    ips: dict[int, list[float]] = {k: [] for k in widths}
    for seed in SEEDS:  # both widths per seed, so drift hits both alike
        for k in widths:
            ips[k].append(run_at(mask[:k], seed))
            print(f"local[{k}] seed {seed}: {ips[k][-1]:,.0f} images/s", flush=True)

    med = {k: statistics.median(v) for k, v in ips.items()}
    eff = med[widths[1]] / (4 * med[n])
    rows = "\n".join(
        f"| local[{k}] | {', '.join(f'{v:,.0f}' for v in ips[k])} | {med[k]:,.0f} |" for k in widths
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        fh.write(f"""# Scaling efficiency N -> 4N (generated {datetime.now(timezone.utc).isoformat(timespec="seconds")})

`python scripts/run_scaling.py`: perfbench `{WORKLOAD}` (1M images: scan,
encode, polygon join, tile manifest), `--seconds 12 --trace 0`, seeds
{", ".join(map(str, SEEDS))} at both widths, each run a fresh JVM pinned
with `taskset` to the first k CPUs of a {len(mask)}-CPU affinity mask.
Every run was `correct`.

| cores | images/s per seed | median |
|---|---|---|
{rows}

**Scaling efficiency N -> 4N: {eff:.3f}** (median(4N) / (4 x median(N));
the north rule asks for >= 0.8).
""")
    print(f"efficiency: {eff:.3f}")


if __name__ == "__main__":
    main()
