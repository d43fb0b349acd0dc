"""Paired, interleaved A/B of two checkouts on one perfbench workload.

Usage (from anywhere)::

    python scripts/ab_perfbench.py PARENT_DIR CHANGE_DIR \
        --workload kpi_stream --seeds 2-11 --seconds 10 [--log ab.jsonl]

For each seed it runs ``python3 perfbench/run.py --workload W --seed S
--seconds T --trace 0`` once in each checkout, one after the other,
and swaps which checkout goes first on every pair. Each run's JSON
result is appended to ``--log`` as it arrives.

For every end-to-end metric of the change's ``BENCHMARK.json`` it
prints each side's median and quartiles, the change's win fraction
(pairs where the change reads better; ties count for neither), and
whether the median gap clears the parent's quartile spread: a gain is
claimed only when the change wins at least 9 of 10 pairs and its
median is better than the parent's by more than the distance between
the parent's quartiles.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text: str) -> list[int]:
    """``"2-5,9"`` → ``[2, 3, 4, 5, 9]``."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        raise RuntimeError(f"{checkout} seed {seed} exited {proc.returncode}:\n{tail}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summarize(pairs: list[dict], metrics: list[dict]) -> list[str]:
    """One line per metric: medians and quartiles of both sides, the
    change's wins over the pairs, and the spread rule's verdict."""
    out = []
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        wins = sum(sign * (c - p) < 0 for p, c in zip(par, chg))
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        gap = sign * (pmed - cmed)  # > 0: the change is better
        clears = gap > pq3 - pq1
        gain = clears and wins >= 0.9 * len(pairs)
        out.append(
            f"{name} [{m['unit']}]: parent {pmed:.4g} (q1 {pq1:.4g}, q3 {pq3:.4g})"
            f" | change {cmed:.4g} (q1 {cq1:.4g}, q3 {cq3:.4g})"
            f" | change {(cmed - pmed) / pmed:+.1%}, wins {wins}/{len(pairs)}"
            f" | gap {gap:+.4g} vs parent IQR {pq3 - pq1:.4g}:"
            f" {'clears' if clears else 'does not clear'}"
            f" | gain {'claimed' if gain else 'not claimed'}"
        )
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=parse_seeds, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--log", help="append each run's result here (JSON lines)")
    args = p.parse_args(argv)

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json"), encoding="utf-8") as f:
        metrics = json.load(f)["end_to_end"]

    pairs = []
    for k, seed in enumerate(args.seeds):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds)
            pair[side] = res
            vals = {n: round(v["value"], 4) for n, v in res["metrics"].items()}
            print(
                f"seed {seed} {side}: correct={res['correct']} "
                f"failed={res['failed']}/{res['attempted']} {vals}",
                flush=True,
            )
            if args.log:
                with open(args.log, "a", encoding="utf-8") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": seed,
                                        "side": side, "result": res}) + "\n")
        pairs.append(pair)

    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds}")
    for line in summarize(pairs, metrics):
        print(line)
    bad = [
        (p["seed"], s) for p in pairs for s in ("parent", "change")
        if not p[s]["correct"] or p[s]["failed"]
    ]
    print(f"runs not correct or with failures: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
