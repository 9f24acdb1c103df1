#!/usr/bin/env python3
"""Alternating A/B runs of one perfbench workload: a parent revision
against this checkout.

    python3 scripts/ab.py <parent-rev> --workload ann_serve [--pairs 10]
        [--seed 2001] [--seconds 10] [--parent-dir DIR] [--out FILE]

The parent revision is exported with `git archive` into DIR (default: a
fresh temporary directory; a DIR that already holds an export of the
same commit is reused, so its perfbench build is too). Pair i runs
`perfbench/run.py --trace 0` once on each side with seed `seed + i`,
the parent first on even pairs and the change first on odd ones. Both
sides build from their own sources the first time they run.

Prints, per end-to-end metric of the workload's report, each side's
median and quartiles and the pairs the change won (ties count for
neither side; "better" is read from BENCHMARK.json). A gain is claimed
only when the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's interquartile range. With
--out, the per-run metrics and the summary are written as JSON.
Nothing under perfbench/ is changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, into):
    """Export `rev` into `into` unless it already holds that commit."""
    commit = git("rev-parse", rev + "^{commit}")
    stamp = os.path.join(into, ".ab_commit")
    if os.path.exists(stamp) and open(stamp).read().strip() == commit:
        return commit
    os.makedirs(into, exist_ok=True)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", commit],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", into], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab: git archive {rev} failed")
    with open(stamp, "w") as fh:
        fh.write(commit + "\n")
    return commit


def run(checkout, workload, seed, seconds):
    """One untraced run: the metrics of its final JSON line, or None."""
    p = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(f"ab: {checkout} seed {seed} exited {p.returncode} "
              "with no result", file=sys.stderr)
        return None
    out = json.loads(lines[-1])
    metrics = {k: v["value"] if isinstance(v, dict) else v
               for k, v in out.get("metrics", {}).items()}
    return dict(metrics, correct=out.get("correct"),
                failed=out.get("failed"), attempted=out.get("attempted"))


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, metrics):
    rows = {}
    for name, better in metrics:
        both = [(p, c) for p, c in pairs
                if p and c and name in p and name in c]
        if not both:
            continue
        par = [p[name] for p, _ in both]
        chg = [c[name] for _, c in both]
        sign = 1 if better == "higher" else -1
        wins = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
        losses = sum(1 for p, c in zip(par, chg) if sign * (c - p) < 0)
        pq1, pq3 = quartiles(par)
        cq1, cq3 = quartiles(chg)
        pm, cm = statistics.median(par), statistics.median(chg)
        iqr = pq3 - pq1
        rows[name] = {
            "better": better, "pairs": len(both), "wins": wins,
            "losses": losses,
            "parent": {"median": pm, "q1": pq1, "q3": pq3},
            "change": {"median": cm, "q1": cq1, "q3": cq3},
            "parent_iqr": iqr,
            "gain": wins * 10 >= 9 * len(both) and sign * (cm - pm) > iqr,
        }
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=2001)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--parent-dir")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    parent_dir = args.parent_dir or tempfile.mkdtemp(prefix="ab_parent_")
    commit = export(args.parent, parent_dir)
    print(f"ab: parent {commit[:10]} in {parent_dir}; change {ROOT}",
          flush=True)

    pairs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = [("parent", parent_dir), ("change", ROOT)]
        if i % 2:
            order.reverse()
        got = {side: run(d, args.workload, seed, args.seconds)
               for side, d in order}
        pairs.append((got["parent"], got["change"]))
        print(json.dumps({"pair": i, "seed": seed,
                          "first": order[0][0], **got}), flush=True)

    summary = summarize(pairs, metrics)
    for name, r in summary.items():
        print(f"{name}: parent {r['parent']['median']:.4g} "
              f"[{r['parent']['q1']:.4g}, {r['parent']['q3']:.4g}]  "
              f"change {r['change']['median']:.4g} "
              f"[{r['change']['q1']:.4g}, {r['change']['q3']:.4g}]  "
              f"wins {r['wins']}/{r['pairs']} ({r['better']} is better)  "
              f"gain={'yes' if r['gain'] else 'no'}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"parent": commit, "workload": args.workload,
                       "seeds": [args.seed, args.seed + args.pairs - 1],
                       "pairs": [{"parent": p, "change": c}
                                 for p, c in pairs],
                       "summary": summary}, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
