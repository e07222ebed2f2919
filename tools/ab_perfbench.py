"""Interleaved perfbench A/B between two checkouts.

Usage, from anywhere:

    python tools/ab_perfbench.py --parent DIR --change DIR \
        --workload {build,refresh} --seeds A-B

For each seed N in A..B it runs the benchmark command of
``BENCHMARK.json`` (``python3 perfbench/run.py --workload W --seed N
--seconds <run_seconds> --trace 0``) once in each checkout, one run at a
time; the side that runs first alternates from seed to seed, so a drift
in host speed does not land on one side. Each run's last JSON line is
read. A table follows with, per end-to-end metric of ``BENCHMARK.json``:
both medians, the change/parent ratio of the medians, the pairs the
change won (ties count for neither side), the parent's IQR/median, and
whether the change is worse than the parent by more than the metric's
bound. Runs that report ``correct: false`` or failed ops, or print no
JSON line, are listed; their figures are kept, not dropped.

Standard library only; ``BENCHMARK.json`` is read from the change
checkout and never written.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 900


def _run(checkout: str, command: list[str], workload: str, seed: int, seconds) -> dict:
    args = command + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ]
    try:
        proc = subprocess.run(
            args, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    tail = (proc.stderr.strip().splitlines() or ["(no output)"])[-1]
    return {"error": f"exit {proc.returncode}, no JSON line: {tail}"}


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _value(res: dict, name: str) -> float | None:
    m = res.get("metrics", {}).get(name)
    return None if m is None else float(m["value"])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 51-55")
    args = p.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    seeds = _seeds(args.seeds)
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = _run(sides[side], bench["command"], args.workload, seed, bench["run_seconds"])
            runs[side].append(res)
            figures = " ".join(
                f"{m['name']}={_value(res, m['name']):.4g}"
                for m in bench["end_to_end"]
                if _value(res, m["name"]) is not None
            )
            print(f"seed {seed} {side}: correct={res.get('correct')} "
                  f"failed={res.get('failed')} {res.get('error', figures)}", flush=True)

    print(f"\nworkload={args.workload} seeds={seeds[0]}-{seeds[-1]} pairs={len(seeds)}")
    print(f"{'metric':20s} {'parent':>12s} {'change':>12s} {'ratio':>7s} "
          f"{'won':>7s} {'p_iqr/med':>9s} {'bound':>6s}  verdict")
    regressed = False
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [
            (_value(a, name), _value(b, name))
            for a, b in zip(runs["parent"], runs["change"])
        ]
        pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
        if not pairs:
            print(f"{name:20s} no values")
            continue
        pv, cv = [a for a, _ in pairs], [b for _, b in pairs]
        pm, cm = statistics.median(pv), statistics.median(cv)
        won = sum(1 for a, b in pairs if (b < a if lower else b > a))
        if len(pv) >= 2 and pm:
            q1, _, q3 = statistics.quantiles(pv, n=4)
            spread = f"{(q3 - q1) / pm:9.3f}"
        else:
            spread = f"{'n/a':>9s}"
        ratio = cm / pm if pm else float("nan")
        worse = (ratio - 1) if lower else (1 - ratio)
        crosses = worse > m["bound"]
        regressed |= crosses
        print(f"{name:20s} {pm:12.5g} {cm:12.5g} {ratio:7.3f} "
              f"{won:3d}/{len(pairs):<3d} {spread} {m['bound']:6.2f}  "
              f"{'WORSE THAN BOUND' if crosses else 'within bound'}")

    for side in ("parent", "change"):
        bad = [
            (seed, r) for seed, r in zip(seeds, runs[side])
            if "error" in r or not r.get("correct") or r.get("failed")
        ]
        attempted = sum(r.get("attempted", 0) for r in runs[side])
        failed = sum(r.get("failed", 0) for r in runs[side])
        print(f"{side}: {failed} of {attempted} ops failed; {len(bad)} runs not clean")
        for seed, r in bad:
            detail = r.get("error") or f"correct={r.get('correct')} failed={r.get('failed')}"
            print(f"  seed {seed}: {detail}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
