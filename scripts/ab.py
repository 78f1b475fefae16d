"""Interleaved A/B of the benchmark between a git ref and this checkout.

Usage:
    python scripts/ab.py <ref> --workload curate_corpus --seeds 101-110 \
        [--seconds S] [--trace 0] [--json out.json]

Side A is the committed tree of ``<ref>`` (exported with ``git archive``
into a fresh temporary directory, so no worktree is registered and the
build sees only committed files); side B is the tree this script sits
in. For each seed, both sides run ``perfbench/run.py`` with identical
arguments, one after the other, in alternating order (A first on even
pairs, B first on odd ones), so a drift of the host's speed over the
A/B run hits both sides alike.

Prints one line per run (seed, side, timed ops, attempted, failed,
correct), then for every metric of the runs' result lines that is not
zero in every run each side's
median and quartiles, the relative change of the medians, the number
of pairs B won (the direction comes from BENCHMARK.json), A's
interquartile range and the run-order effect: the median over pairs of
(first run - second run) / second run, whichever side ran first. A
change far smaller than the order effect is run order, not the code.
``--seconds`` defaults to BENCHMARK.json's ``run_seconds``. ``--json``
saves the runs' result lines, timed-op counts and which side ran
first.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list:
    """'101-105,601' -> [101, 102, 103, 104, 105, 601]."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export_ref(ref: str, dest: str) -> None:
    """The committed files of ``ref`` under ``dest``."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", ref], check=True, capture_output=True
    ).stdout
    os.makedirs(dest)
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def run_bench(tree: str, args, seed: int) -> dict:
    """One ``perfbench/run.py`` run in ``tree``: its result line plus
    the timed-op count from the report's first line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(
            f"{' '.join(cmd)} in {tree} exited {p.returncode}:\n"
            f"{p.stderr[-3000:]}"
        )
    res = json.loads(lines[-1])
    m = re.search(r"timed ops (\d+)", p.stdout)
    res["timed_ops"] = int(m.group(1)) if m else None
    return res


def quartiles(values: list) -> tuple:
    """(q1, median, q3), linear interpolation between order statistics."""
    v = sorted(values)

    def q(f):
        x = f * (len(v) - 1)
        i = int(x)
        return v[i] + (v[min(i + 1, len(v) - 1)] - v[i]) * (x - i)

    return q(0.25), q(0.5), q(0.75)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def directions() -> dict:
    """metric name -> 'lower' | 'higher', from BENCHMARK.json."""
    spec = benchmark_spec()
    return {
        m["name"]: m["better"]
        for key in ("end_to_end", "per_layer")
        for m in spec.get(key, [])
    }


def summarize(pairs: list) -> list:
    """Report lines for the metrics of (seed, A result, B result, side
    that ran first) pairs."""
    better = directions()
    names = sorted(pairs[0][1]["metrics"])
    out = [
        f"{'metric':34} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28}"
        f" {'change':>8} {'B wins':>7} {'A IQR':>9} {'order':>8}"
    ]
    for name in names:
        got = [
            (a["metrics"][name]["value"], b["metrics"][name]["value"])
            for _s, a, b, _f in pairs
        ]
        if not any(x or y for x, y in got):
            continue  # a metric of another workload
        qa, qb = quartiles([x for x, _ in got]), quartiles([y for _, y in got])
        change = (qb[1] - qa[1]) / abs(qa[1]) * 100 if qa[1] else float("nan")
        way = better.get(name)
        wins = (
            f"{sum((y < x) if way == 'lower' else (y > x) for x, y in got)}"
            f"/{len(got)}"
            if way
            else "-"
        )
        a_q, b_q = (f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (qa, qb))
        first_second = [
            (x, y) if first == "A" else (y, x)
            for (x, y), (*_r, first) in zip(got, pairs)
        ]
        order = quartiles(
            [(f - s) / abs(s) * 100 if s else float("nan")
             for f, s in first_second]
        )[1]
        out.append(
            f"{name:34} {a_q:>28} {b_q:>28} {change:>+7.1f}% {wins:>7}"
            f" {qa[2] - qa[0]:>9.4g} {order:>+7.1f}%"
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("ref", help="git ref of side A, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,105")
    ap.add_argument("--seconds", type=float,
                    default=benchmark_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write the runs' results here")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="ab-")
    tree_a = os.path.join(work, "a")
    try:
        export_ref(args.ref, tree_a)
        trees = {"A": tree_a, "B": ROOT}
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            res = {}
            order = "AB" if i % 2 == 0 else "BA"
            for side in order:
                r = res[side] = run_bench(trees[side], args, seed)
                print(
                    f"pair {i} seed {seed} {side}: timed ops {r['timed_ops']}, "
                    f"attempted {r['attempted']}, failed {r['failed']}, "
                    f"correct {r['correct']}",
                    flush=True,
                )
            pairs.append((seed, res["A"], res["B"], order[0]))
        print(f"\n{args.workload}, A = {args.ref}, B = {ROOT}, "
              f"{len(pairs)} pairs, --seconds {args.seconds} --trace {args.trace}")
        print("\n".join(summarize(pairs)))
        if args.json:
            with open(args.json, "w") as f:
                json.dump({"args": vars(args), "pairs": [
                    {"seed": s, "A": a, "B": b, "first": f}
                    for s, a, b, f in pairs
                ]}, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
