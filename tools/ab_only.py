"""Interleaved fresh-JVM A/B runner for bench sections (round 12).

Runs ``bench.py --only <section>`` in alternating variant order
(ABBA BAAB ...) with a fresh interpreter/JVM per run — the driver's
measurement shape — and reports per-variant min/median. Variants are
(env overrides) dicts, so code under test stays identical on disk.
The library has no A/B switches of its own, so a variant varies the
run environment, e.g. the core count or the driver memory.

Usage:
    python tools/ab_only.py <section> <rounds> VAR=a,b[,c]

Example:
    python tools/ab_only.py dedup_simhash 4 SPARK_GRAFT_CPUS=4,8
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(section: str, env_over: dict[str, str]) -> float:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env.update(env_over)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--only", section],
        capture_output=True, text=True, env=env, cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith('{"metric"'):
            d = json.loads(line)
            return d["queries"][section]
    raise RuntimeError(
        f"no bench line for {section}: {out.stdout[-500:]}\n{out.stderr[-500:]}"
    )


def main() -> None:
    section = sys.argv[1]
    rounds = int(sys.argv[2])
    knob, _, vals = sys.argv[3].partition("=")
    variants = vals.split(",")
    results: dict[str, list[float]] = {v: [] for v in variants}
    # interleave: forward then reverse each round to cancel drift
    for r in range(rounds):
        order = variants if r % 2 == 0 else list(reversed(variants))
        for v in order:
            t = run_once(section, {knob: v})
            results[v].append(t)
            with open("/proc/loadavg") as f:
                load = f.read().split()[0]
            print(f"round{r} {knob}={v}: {t:.3f}s (load {load})",
                  flush=True)
    print()
    for v in variants:
        xs = sorted(results[v])
        print(
            f"{knob}={v}: min={xs[0]:.3f} med={statistics.median(xs):.3f} "
            f"all={[round(x, 3) for x in xs]}"
        )


if __name__ == "__main__":
    main()
