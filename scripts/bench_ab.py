"""Paired A/B runs of the repo benchmark: a base revision against this checkout.

    python3 scripts/bench_ab.py [--base REV] [--workload NAME] [--pairs N]
        [--seed-start S] [--trace 0|1] [--log FILE]

Run it from anywhere inside a checkout. The change side is this checkout's
working tree, as it is; the base side is REV (default HEAD), checked out
with `git worktree` into a temporary directory that is removed at the end.
Both sides build once before the first timed run. Pair i runs seed
S + i on both sides for BENCHMARK.json's run_seconds, and the side that
goes first alternates between pairs, so slow drift of the machine's load
falls on both sides alike.

For every end-to-end metric in BENCHMARK.json (per-layer metrics with
--trace 1, which have no bound) the report gives each side's
median and quartiles, the change/base ratio of the medians and the pairs
the change won (ties count for neither side). A metric is a GAIN when the
change won at least 9/10 of the pairs and its median is better than the
base's by more than the base's interquartile range. It is WORSE when the
median is worse by more than the metric's bound. Otherwise it is "flat".
Every run's result line is appended to --log (JSON lines) when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def prebuild(root):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=root, check=True)


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, text=True, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def report(runs, metrics):
    """Print the per-metric table; returns True when some metric is WORSE."""
    worse = False
    pairs = sorted({r["pair"] for r in runs})
    print(f"{'metric':<30}{'base median [q1, q3]':>30}{'change median [q1, q3]':>30}"
          f"{'ratio':>8}{'wins':>8}  verdict")
    for m in metrics:
        name, lower, bound = m["name"], m["better"] == "lower", m.get("bound")
        by = {(r["pair"], r["side"]): r["metrics"][name]["value"]
              for r in runs if r["result"] and name in r["metrics"]}
        complete = [p for p in pairs if (p, "base") in by and (p, "change") in by]
        if not complete:
            print(f"{name:<30} no complete pair")
            continue
        base = [by[(p, "base")] for p in complete]
        change = [by[(p, "change")] for p in complete]
        mb, mc = statistics.median(base), statistics.median(change)
        (b1, b3), (c1, c3) = quartiles(base), quartiles(change)
        wins = sum(1 for b, c in zip(base, change) if (c < b if lower else c > b))
        gain = (mb - mc) if lower else (mc - mb)
        if wins >= 0.9 * len(complete) and gain > (b3 - b1):
            verdict = "GAIN"
        elif bound is not None and -gain > bound * mb:
            verdict = f"WORSE (beyond bound {bound})"
            worse = True
        else:
            verdict = "flat"
        # a base median of 0 (no spill on either side) has no ratio
        ratio = f"{mc / mb:.3f}" if mb else "n/a"
        print(f"{name:<30}{f'{mb:.3f} [{b1:.3f}, {b3:.3f}]':>30}"
              f"{f'{mc:.3f} [{c1:.3f}, {c3:.3f}]':>30}{ratio:>8}"
              f"{f'{wins}/{len(complete)}':>8}  {verdict}")
    for side in ("base", "change"):
        mine = [r for r in runs if r["side"] == side]
        bad = sum(1 for r in mine if not r["result"] or not r["result"]["correct"])
        failed = sum(r["result"]["failed"] for r in mine if r["result"])
        print(f"{side}: {len(mine)} runs, {bad} incorrect or without a result, "
              f"{failed} failed operations")
    return worse


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--workload", default="batch_recompute")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-start", type=int, default=301)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log")
    a = ap.parse_args()

    root = git("rev-parse", "--show-toplevel", cwd=os.getcwd())
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    base_rev = git("rev-parse", a.base, cwd=root)
    base_dir = tempfile.mkdtemp(prefix="bench_ab_base_")
    git("worktree", "add", "--detach", base_dir, base_rev, cwd=root)
    runs = []
    try:
        sides = {"base": base_dir, "change": root}
        for d in sides.values():
            prebuild(d)
        for i in range(a.pairs):
            seed = a.seed_start + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                result = run_once(sides[side], a.workload, seed, seconds, a.trace)
                run = {"pair": i, "seed": seed, "side": side, "first": order[0],
                       "workload": a.workload, "trace": a.trace,
                       "base_rev": base_rev, "result": result,
                       "metrics": result["metrics"] if result else {}}
                runs.append(run)
                shown = {k: round(v["value"], 3) for k, v in run["metrics"].items()
                         if k in {m["name"] for m in bench["end_to_end"]}}
                print(f"pair {i} seed {seed} {side:<6} "
                      f"correct={result['correct'] if result else None} {shown}",
                      file=sys.stderr, flush=True)
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps(run) + "\n")
    finally:
        git("worktree", "remove", "--force", base_dir, cwd=root)
    print(f"{a.workload}: {a.pairs} pairs, base {base_rev[:10]} vs this checkout, "
          f"seeds {a.seed_start}-{a.seed_start + a.pairs - 1}, --seconds {seconds} "
          f"--trace {a.trace}")
    # a traced run reports the per-layer metrics instead, which have no bound
    listed = bench["per_layer"] if a.trace else bench["end_to_end"]
    return 1 if report(runs, listed) else 0


if __name__ == "__main__":
    sys.exit(main())
