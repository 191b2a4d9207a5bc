#!/usr/bin/env python3
"""Alternated A/B runs of the benchmark: a base revision against a head revision.

    python3 tools/ab.py --base HEAD~1 --workload load_drain --pairs 10
    python3 tools/ab.py --base v1 --head v2 --workload query_mix --pairs 10 --trace 1

Both revisions are exported with `git archive` into a work directory (one
tree each, reused while its revision is unchanged), and each pair runs
`perfbench/run.py` once in each tree with the same seed, alternating which
side runs first, for BENCHMARK.json's `run_seconds`. A run whose
`host_steal_pct` exceeds MAX_STEAL_PCT is run again (up to RERUNS times): the
hypervisor gave that share of the CPUs to other guests, which slows the
wall-clock metrics by itself. One untimed run per side first builds the tree
and fills the file cache.

Prints, per metric, each side's median and quartiles, the head's wins and
ties, and the median change as a share of the metric's bound in
BENCHMARK.json; writes every run and the summary to one JSON artifact. The
gain rule: the head wins at least nine in ten pairs and the medians differ
by more than the base's interquartile range. Run from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

# A run above this host steal share is run again, at most RERUNS times.
MAX_STEAL_PCT = 2.0
RERUNS = 3


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def rev_parse(rev):
    return subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def export(commit, dest):
    """The committed tree of `commit` at `dest`, exported once per commit."""
    stamp = os.path.join(dest, ".ab_commit")
    if os.path.exists(stamp) and open(stamp).read().strip() == commit:
        return
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", commit], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {commit} failed")
    with open(stamp, "w") as f:
        f.write(commit + "\n")


def run_once(tree, workload, seed, seconds, trace):
    """One perfbench run in `tree`: (result line, info dict, exit code)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        log(f"run failed in {tree} (exit {p.returncode}): {p.stderr[-2000:]}")
        return None, {"wall_s": time.time() - t0}, p.returncode
    info = json.loads(lines[-2]).get("info", {})
    info["wall_s"] = round(time.time() - t0, 1)
    return json.loads(lines[-1]), info, 0


def measured(tree, workload, seed, seconds, trace):
    """A run below the steal threshold, after at most RERUNS repeats;
    every attempt is kept."""
    attempts = []
    for _ in range(RERUNS + 1):
        res, info, code = run_once(tree, workload, seed, seconds, trace)
        steal = float(info.get("host_steal_pct", "nan"))
        attempts.append({"result": res, "info": info, "exit": code, "steal_pct": steal})
        if res is not None and steal <= MAX_STEAL_PCT:
            break
        log(f"seed {seed}: steal {steal:.2f} % (limit {MAX_STEAL_PCT} %) or failed run; running again")
    return attempts


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, metrics):
    """Per metric: each side's median and quartiles, the head's wins and
    ties over the pairs, and the change against the metric's bound."""
    out = {}
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        vals = {"base": [], "head": []}
        wins = ties = n = 0
        for p in pairs:
            got = {}
            for side in ("base", "head"):
                res = p[side][-1]["result"]
                if res is not None and name in res["metrics"]:
                    got[side] = res["metrics"][name]["value"]
                    vals[side].append(got[side])
            if len(got) == 2:
                n += 1
                if got["head"] == got["base"]:
                    ties += 1
                elif (got["head"] > got["base"]) == higher:
                    wins += 1
        if not vals["base"] or not vals["head"]:
            continue
        s = {"pairs": n, "head_wins": wins, "ties": ties}
        for side in ("base", "head"):
            q1, q3 = quartiles(vals[side])
            s[side] = {"median": statistics.median(vals[side]), "q1": q1, "q3": q3,
                       "runs": vals[side]}
        b, h = s["base"]["median"], s["head"]["median"]
        # positive when the head is worse, as a share of the base median
        worse = ((b - h) if higher else (h - b)) / b if b else 0.0
        s["worse_frac"] = worse
        if "bound" in m:
            s["bound"] = m["bound"]
            s["worse_of_bound"] = worse / m["bound"]
        iqr = s["base"]["q3"] - s["base"]["q1"]
        s["gain_rule_met"] = n > 0 and wins >= 0.9 * n and abs(h - b) > iqr and worse < 0
        out[name] = s
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="base revision")
    ap.add_argument("--head", default="HEAD", help="head revision (default HEAD)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seed", type=int, default=301, help="seed of the first pair; pair i uses seed+i")
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"))
    ap.add_argument("--out", default=None, help="JSON artifact (default <workdir>/ab_<workload>.json)")
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("--pairs must be at least 1")

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    seconds = spec["run_seconds"]
    trees = {}
    commits = {"base": rev_parse(a.base), "head": rev_parse(a.head)}
    for side, commit in commits.items():
        trees[side] = os.path.join(a.workdir, side)
        export(commit, trees[side])
        log(f"{side}: {commit[:12]} at {trees[side]}; untimed warm-up run")
        run_once(trees[side], a.workload, a.seed - 1, min(seconds, 5), a.trace)

    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {"seed": seed, "order": list(order)}
        for side in order:
            pair[side] = measured(trees[side], a.workload, seed, seconds, a.trace)
        pairs.append(pair)
        brief = []
        rate = "traced.rows_per_s" if a.trace else "rows_per_s"
        for side in ("base", "head"):
            last = pair[side][-1]
            v = last["result"]["metrics"].get(rate, {}).get("value") if last["result"] else None
            brief.append(f"{side} steal={last['steal_pct']:.2f}% {rate}={v}")
        log(f"pair {i + 1}/{a.pairs} seed={seed} first={order[0]}: " + "; ".join(brief))

    summary = summarize(pairs, metrics)
    print(f"{'metric':<40} {'base median [q1, q3]':>30} {'head median [q1, q3]':>30} "
          f"{'wins':>7} {'worse':>8} {'of bound':>9} gain")
    for name, s in summary.items():
        def side(k):
            return f"{s[k]['median']:.4g} [{s[k]['q1']:.4g}, {s[k]['q3']:.4g}]"
        ob = f"{s['worse_of_bound']:+.2f}" if "worse_of_bound" in s else "-"
        print(f"{name:<40} {side('base'):>30} {side('head'):>30} "
              f"{s['head_wins']:>3}/{s['pairs']:<3} {100 * s['worse_frac']:>+7.1f}% {ob:>9} "
              f"{'yes' if s['gain_rule_met'] else 'no'}")
    failed = sum(1 for p in pairs for side in ("base", "head")
                 if p[side][-1]["result"] is None or not p[side][-1]["result"]["correct"])
    artifact = {"workload": a.workload, "base": commits["base"], "head": commits["head"],
                "pairs": a.pairs, "seconds": seconds, "trace": a.trace, "first_seed": a.seed,
                "max_steal_pct": MAX_STEAL_PCT, "reruns": RERUNS, "failed_runs": failed,
                "summary": summary, "runs": pairs}
    out = a.out or os.path.join(a.workdir, f"ab_{a.workload}.json")
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    log(f"wrote {out}; {failed} failed or incorrect runs")


if __name__ == "__main__":
    main()
