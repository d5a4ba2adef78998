#!/usr/bin/env python3
"""Alternating A/B runs of perfbench: a parent revision against the working tree.

    python3 tools/ab.py --parent <rev> --seeds 301-308 [--workload kg_build]
                        [--tmp-root <dir>]

Run it from the root of a graft checkout. It exports <rev> with
`git archive` into a temporary directory (beside the working tree unless
--tmp-root names another place), then, for each seed, runs
`perfbench/run.py --trace 0` once in the exported tree ("parent") and once
in the working tree ("change"), each for BENCHMARK.json's `run_seconds`.
The order alternates: parent first for the first seed, change first for
the second, and so on, so a drift of the host over the session lands on
both sides alike.

It prints one line per pair, then for each end-to-end metric that
BENCHMARK.json declares: the median and quartiles of each side, the
parent's interquartile range, the change of the medians, and the number of
pairs the change won (ties count for neither side). The temporary tree is
deleted at the end. perfbench/run.py ends its own processes on a timeout;
an interrupt here kills the running one's whole process tree.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def fail(msg):
    print(f"ab: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev, tmp_root):
    """`git archive` of rev, unpacked into a fresh directory under tmp_root."""
    base = tempfile.mkdtemp(prefix="graft-ab-", dir=tmp_root)
    tree = os.path.join(base, "parent")
    os.makedirs(tree)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", tree], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        shutil.rmtree(base, ignore_errors=True)
        fail(f"could not export {rev}")
    return base, tree


def kill_tree(pid):
    """SIGKILL pid and its descendants: run.py starts its JVM in a session
    of its own, so killing run.py's process group would miss it."""
    children = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, stack = [], [pid]
    while stack:
        p = stack.pop()
        tree.append(p)
        stack += children.get(p, [])
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(tree, workload, seed, seconds):
    """One perfbench run in tree: its result JSON, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate()
    except BaseException:
        kill_tree(p.pid)
        p.communicate()
        raise
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    result = json.loads(lines[-1])
    result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--seeds", required=True, help="e.g. 301-308 or 5,9,12")
    ap.add_argument("--workload", default="kg_build")
    ap.add_argument("--tmp-root", default=os.path.dirname(ROOT),
                    help="where the exported parent tree goes (default: beside the working tree)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "perfbench", "run.py")):
        fail("run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    if "run_seconds" not in bench:
        fail("BENCHMARK.json declares no run_seconds")
    seconds = bench["run_seconds"]
    seeds = parse_seeds(args.seeds)

    base, parent_tree = export(args.parent, args.tmp_root)
    pairs = []
    try:
        for i, seed in enumerate(seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run(parent_tree if side == "parent" else ROOT,
                                args.workload, seed, seconds)
            bad = [s for s in order if got[s] is None or got[s].get("failed", 1) != 0
                   or not got[s].get("correct", False)]
            if bad:
                print(f"seed {seed}: {'/'.join(bad)} failed or incorrect; pair dropped", flush=True)
                continue
            pm, cm = got["parent"]["metrics"], got["change"]["metrics"]
            pairs.append((seed, pm, cm))
            cells = "  ".join(f"{n} {pm[n]:.4g} -> {cm[n]:.4g}" for n, _ in metrics if n in pm and n in cm)
            print(f"seed {seed} ({order[0]} first): {cells}", flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)

    print(f"\n{args.workload}: {len(pairs)} pairs, parent {args.parent} vs working tree")
    print(f"{'metric':<16}{'parent median [q1, q3]':>28}{'change median [q1, q3]':>28}"
          f"{'parent IQR':>12}{'delta':>9}{'wins':>8}")
    for name, better in metrics:
        ps = [p[name] for _, p, c in pairs if name in p and name in c]
        cs = [c[name] for _, p, c in pairs if name in p and name in c]
        if not ps:
            continue
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(ps, cs))
        pm, cm = statistics.median(ps), statistics.median(cs)
        (pq1, pq3), (cq1, cq3) = quartiles(ps), quartiles(cs)
        delta = f"{(cm - pm) / pm * 100:+.1f}%" if pm else "n/a"
        print(f"{name:<16}{f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>28}{f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>28}"
              f"{pq3 - pq1:>12.4g}{delta:>9}{wins:>5}/{len(ps)}")


if __name__ == "__main__":
    main()
