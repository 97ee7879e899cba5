#!/usr/bin/env python3
"""A/B two git revisions on the repo benchmark, in alternating pairs.

    python3 tools/ab.py BASE CHANGE --workload replicate --seeds 2001-2010
    python3 tools/ab.py HEAD~1 HEAD --workload analytics --seeds 3001,3002 --log ab.jsonl

Extracts each revision with `git archive` into its own temporary
directory outside the repo, then runs, for each seed,

    python3 perfbench/run.py --workload W --seed S --seconds 10 --trace 0

once in each checkout. The side that runs first alternates from pair to
pair, so a host that drifts during the set weighs on both sides alike.
Prints one line per run, then for each end-to-end metric that
BENCHMARK.json declares: each side's median and quartiles, the pairs the
change wins, the change of the medians against the metric's bound, and
whether the gain rule holds (the change better on at least 9 of 10
pairs, and its median better by more than the base's interquartile
range). Every run's result line is appended to `--log` when given.
The checkouts are removed on exit.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SECONDS = 10  # the run length BENCHMARK.json declares


def seeds_of(text):
    """`2001-2010` or `2001,2005,2009` (or a mix) → list of ints."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def extract(rev, into):
    """`git archive` of `rev` unpacked into `into`; returns its commit id."""
    sha = subprocess.run(["git", "-C", str(REPO), "rev-parse", "--verify", rev + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    tar = into / "src.tar"
    subprocess.run(["git", "-C", str(REPO), "archive", "--format=tar", "-o", str(tar), sha],
                   check=True)
    with tarfile.open(tar) as t:
        t.extractall(into / "tree", filter="data")
    tar.unlink()
    return sha


def run(tree, workload, seed, trace):
    """One benchmark run in `tree`: (result dict or None, wall seconds)."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}  # per-checkout builds
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None, wall
    return result, wall


def values(result):
    """A result line's metrics as {name: number}; run.py prints each as
    {"value": x, "unit": u}."""
    return {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, pairs):
    """Print each metric's medians, quartiles, wins, bound and gain rule."""
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m.get("bound")
        ok = [(values(b)[name], values(c)[name]) for b, c in pairs
              if name in values(b) and name in values(c)]
        if len(ok) < 2:
            print(f"{name}: fewer than two complete pairs")
            continue
        (b1, b2, b3), (c1, c2, c3) = quartiles([x for x, _ in ok]), quartiles([y for _, y in ok])
        wins = sum((y < x) if lower else (y > x) for x, y in ok)
        gain, iqr = (b2 - c2) if lower else (c2 - b2), b3 - b1
        rule = wins >= math.ceil(0.9 * len(ok)) and gain > iqr
        print(f"{name} ({m['better']} is better):")
        print(f"  base   median {b2:.4g}  q1 {b1:.4g}  q3 {b3:.4g}  IQR {iqr:.4g}")
        print(f"  change median {c2:.4g}  q1 {c1:.4g}  q3 {c3:.4g}  change/base {c2 / b2:.3f}")
        print(f"  change wins {wins}/{len(ok)} pairs; median gain {gain:.4g} vs base IQR"
              f" {iqr:.4g}: gain rule {'holds' if rule else 'does not hold'}")
        if bound is not None:
            worse, spread = max(0.0, -gain / b2), iqr / b2
            verdict = "OUT of bound" if worse > bound else "within bound"
            if spread > bound:
                verdict += f"; base IQR/median {spread:.3f} exceeds the bound: unresolved"
            print(f"  worse by {worse:.3f} of the base median (bound {bound}): {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="the parent revision (any git rev)")
    ap.add_argument("change", help="the changed revision (any git rev)")
    ap.add_argument("--workload", required=True, choices=["replicate", "analytics"])
    ap.add_argument("--seeds", required=True, help="e.g. 2001-2010 or 2001,2003")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--log", help="append every run's result line (JSON) to this file")
    a = ap.parse_args()

    root = Path(tempfile.mkdtemp(prefix="ab-")).resolve()
    try:
        sides = {}
        for side, rev in (("base", a.base), ("change", a.change)):
            (root / side).mkdir()
            sha = extract(rev, root / side)
            sides[side] = root / side / "tree"
            print(f"{side}: {rev} = {sha[:12]}", flush=True)
        end_to_end = json.loads((sides["change"] / "BENCHMARK.json").read_text())["end_to_end"]
        names = {m["name"] for m in end_to_end}
        log = open(a.log, "a") if a.log else None
        pairs = []
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {}
            for side in order:
                result, wall = run(sides[side], a.workload, seed, a.trace)
                got[side] = result
                shown = " ".join(f"{k}={v:.4g}" for k, v in sorted(values(result).items())
                                 if k in names)
                status = (f"correct={result['correct']} failed={result['failed']}"
                          if result else "no result")
                print(f"pair {i + 1} seed {seed} {side:6s} {shown} {status} wall={wall:.0f}s",
                      flush=True)
                if log:
                    log.write(json.dumps({"pair": i + 1, "seed": seed, "side": side,
                                          "rev": a.base if side == "base" else a.change,
                                          "workload": a.workload, "result": result}) + "\n")
                    log.flush()
            pairs.append((got["base"], got["change"]))
        if a.trace == 0:
            summarize(end_to_end, pairs)
        bad = [s for p in pairs for s in p if not s or not s["correct"] or s["failed"]]
        print(f"runs with no result, correct=false or failed>0: {len(bad)}")
        return 1 if bad else 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
