#!/usr/bin/env python3
"""Paired A/B of the repository benchmark: a parent revision against the
working tree, with a verdict per end-to-end metric.

Usage (from the repository root):

    python3 tools/ab.py --parent HEAD --workload state query_mix --pairs 10

The parent is exported with `git archive` into a temporary directory, which
is removed on exit and on failure (a clean export, as a fresh checkout of the
committed files; no worktree is registered in .git).

Each side first runs once unrecorded (this builds it and warms the host).
Then, per workload, pair i runs the `BENCHMARK.json` command with
`--workload W --seed 1+i --seconds run_seconds --trace 0` on both sides,
the parent first in even pairs and the change first in odd ones. Every run's
metrics are printed as they arrive. The report gives, per workload and
end-to-end metric, both medians, the parent's IQR/median, the change's wins,
the median per-pair change/parent ratio, the sign-test p-value of the wins
and a verdict from `decide`, using each metric's bound from BENCHMARK.json.
A workload whose change runs fail a larger share of operations than the
parent's is reported as regressed on `failed_share`, and one with more change
runs that printed no result (a crash, or the run limit of perfbench/run.py)
as regressed on `runs_without_result`.
"""
import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    """(q1, median, q3), inclusive method.

    >>> quartiles([1, 2, 3, 4, 5])
    (2.0, 3, 4.0)
    >>> quartiles([7])
    (7, 7, 7)
    """
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, statistics.median(xs), q3


def sign_test(wins, losses):
    """Exact two-sided sign-test p-value of `wins` against `losses` (ties
    are not counted in either).

    >>> sign_test(10, 0)
    0.001953125
    >>> round(sign_test(8, 2), 4)
    0.1094
    >>> sign_test(3, 3), sign_test(0, 0)
    (1.0, 1.0)
    """
    n = wins + losses
    tail = sum(math.comb(n, i) for i in range(min(wins, losses) + 1)) / 2 ** n
    return min(1.0, 2 * tail)


def decide(parent, change, better, bound):
    """The verdict for one metric on one workload.

    `parent[i]` and `change[i]` ran as pair i; `better` is "lower" or
    "higher"; `bound` is the relative worsening the benchmark allows.
    - `worse`: how much worse the change's median is, relative to the
      parent's median (negative when it is better).
    - `spread`: the parent's IQR over its median.
    - `wins`: pairs where the change reads better (ties count for neither).
    - `ratio`: the median over pairs of change/parent (None when every
      parent value is 0).
    - `p_sign`: `sign_test` of the wins against the pairs where the
      change reads worse.
    Verdict:
    - "ok" when every change run reads better than every parent run;
    - otherwise "unresolved" when `spread` is wider than `bound`;
    - otherwise "regressed" when `worse` exceeds `bound`, else "ok".

    >>> r = decide([10, 11, 12, 10, 11, 12], [10.5, 11, 12, 10, 11, 12], "lower", 0.25)
    >>> r["verdict"], r["wins"], round(r["spread"], 3), r["ratio"], r["p_sign"]
    ('ok', 0, 0.136, 1.0, 1.0)
    >>> decide([10, 10, 10, 10], [13, 13, 13, 13], "lower", 0.25)["verdict"]
    'regressed'
    >>> decide([100, 100, 100, 100], [80, 80, 80, 80], "higher", 0.25)["verdict"]
    'ok'
    >>> decide([100, 100, 100, 100], [70, 70, 70, 70], "higher", 0.25)["verdict"]
    'regressed'
    >>> decide([6, 8, 12, 14], [10, 10, 10, 10], "lower", 0.25)["verdict"]
    'unresolved'
    >>> r = decide([6, 8, 12, 14], [5, 5, 5, 5], "lower", 0.25)
    >>> r["verdict"], r["wins"], round(r["ratio"], 3), r["p_sign"]
    ('ok', 4, 0.521, 0.125)
    >>> r = decide([0, 0], [0, 0], "lower", 0.05)
    >>> r["verdict"], r["ratio"]
    ('ok', None)
    """
    if len(parent) != len(change) or not parent:
        raise ValueError("need one parent and one change value per pair")
    sign = 1 if better == "lower" else -1
    q1, pm, q3 = quartiles(parent)
    cm = statistics.median(change)
    scale = abs(pm) if pm else 1.0
    worse = sign * (cm - pm) / scale
    spread = (q3 - q1) / scale
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    ratios = [c / p for p, c in zip(parent, change) if p]
    if max(sign * c for c in change) < min(sign * p for p in parent):
        verdict = "ok"
    elif spread > bound:
        verdict = "unresolved"
    elif worse > bound:
        verdict = "regressed"
    else:
        verdict = "ok"
    return {"parent_median": pm, "change_median": cm, "worse": worse,
            "spread": spread, "wins": wins, "pairs": len(parent),
            "ratio": statistics.median(ratios) if ratios else None,
            "p_sign": sign_test(wins, losses), "verdict": verdict}


def export(rev, into):
    """Writes the committed files of `rev` under `into`."""
    os.makedirs(into)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", into], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run_once(tree, spec, workload, seed):
    """One benchmark run in `tree`: its result object, or None."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE)
    lines = proc.stdout.decode(errors="replace").strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr.decode(errors="replace")[-2000:])
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--parent", required=True, help="parent revision")
    p.add_argument("--workload", nargs="+", required=True)
    p.add_argument("--pairs", type=int, default=10)
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = spec["end_to_end"]
    # SIGTERM unwinds like Ctrl-C, so the temp dir is removed either way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with tempfile.TemporaryDirectory(prefix="graft-ab-") as tmp:
        trees = {"parent": os.path.join(tmp, "parent"), "change": ROOT}
        export(a.parent, trees["parent"])
        for side in ("parent", "change"):
            if run_once(trees[side], spec, a.workload[0], 1) is None:
                raise SystemExit(f"{side}: the unrecorded first run failed")

        report = {}
        for w in a.workload:
            runs = {"parent": [], "change": []}
            for i in range(a.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_once(trees[side], spec, w, 1 + i)
                    if r is None:  # no result line: timed out or crashed
                        r = {"correct": False, "attempted": 0, "failed": 0,
                             "metrics": {}, "no_result": True}
                    runs[side].append(r)
                    print(json.dumps({"workload": w, "pair": i, "side": side,
                                      "seed": 1 + i, **r}), flush=True)
            rows = {}
            for m in e2e:
                name = m["name"]
                ok = [i for i in range(a.pairs)
                      if all(name in runs[s][i]["metrics"] for s in runs)]
                if not ok:
                    rows[name] = {"verdict": "unresolved", "pairs": 0}
                    continue
                rows[name] = decide(
                    [runs["parent"][i]["metrics"][name]["value"] for i in ok],
                    [runs["change"][i]["metrics"][name]["value"] for i in ok],
                    m["better"], m["bound"])
            share = {s: sum(r["failed"] for r in runs[s]) /
                     max(1, sum(r["attempted"] for r in runs[s])) for s in runs}
            lost = {s: sum(1 for r in runs[s] if r.get("no_result")) for s in runs}
            rows["failed_share"] = {
                "parent": share["parent"], "change": share["change"],
                "verdict": "regressed" if share["change"] > share["parent"] else "ok"}
            rows["runs_without_result"] = {
                "parent": lost["parent"], "change": lost["change"],
                "verdict": "regressed" if lost["change"] > lost["parent"] else "ok"}
            report[w] = rows

    for w, rows in report.items():
        print(f"\n{w}")
        print(f"  {'metric':<18}{'parent':>12}{'change':>12}{'worse':>8}"
              f"{'p.iqr/med':>10}{'wins':>7}{'ratio':>8}{'p.sign':>8}  verdict")
        for name, r in rows.items():
            if name in ("failed_share", "runs_without_result"):
                print(f"  {name:<18}{r['parent']:>12.4g}{r['change']:>12.4g}"
                      f"{'':>41}  {r['verdict']}")
            elif r["pairs"]:
                print(f"  {name:<18}{r['parent_median']:>12.4g}"
                      f"{r['change_median']:>12.4g}{r['worse']:>+8.3f}"
                      f"{r['spread']:>10.3f}{r['wins']:>4}/{r['pairs']:<2}"
                      f"{'n/a' if r['ratio'] is None else format(r['ratio'], '.3f'):>8}"
                      f"{r['p_sign']:>8.3f}  {r['verdict']}")
            else:
                print(f"  {name:<18}{'no pairs':>24}  {r['verdict']}")
    print(json.dumps({"ab": report}))
    if any(r["verdict"] == "regressed" for rows in report.values()
           for r in rows.values()):
        sys.exit(1)


if __name__ == "__main__":
    main()
