#!/usr/bin/env python3
"""A/B the benchmark: a parent ref against the current checkout.

    python3 tools/perfbench_ab.py --parent HEAD --seeds 10 \
        --workload ann_lifecycle --workload corpus_pipeline:3 \
        --claim ann_lifecycle:op_p50_s

Run from the repository root. The parent ref's tree is exported with
`git archive` into a directory under $TMPDIR (no worktree is registered
in the repository, so an interrupted run leaves nothing in .git); the
change side is the current checkout, uncommitted edits included. Each
seed runs `python3 perfbench/run.py` once on each side, and the side
that runs first alternates with the seed. The export is removed at the
end. Nothing under perfbench/ and not BENCHMARK.json is read for
anything but the metric list.

Per workload and end-to-end metric it prints each side's median and
quartiles and how many pairs the change won. For a claimed metric it
prints the verdict of a claimed gain: the change wins at least 9 of 10
pairs and the median gap exceeds the parent's interquartile range. For
every other metric it prints whether the change's median stays within
the metric's BENCHMARK.json bound of the parent's.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def run_side(root, workload, seed, seconds, trace):
    """One benchmark run in `root`; the parsed result line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{root}: {workload} seed {seed} exited with {p.returncode}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def export(ref, into):
    """The tree of `ref`, extracted under `into` (git archive | tar)."""
    os.makedirs(into)
    archive = subprocess.Popen(["git", "archive", "--format=tar", ref], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", into], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {ref} failed")


def report(workload, results, bench, claims):
    """Print one workload's table; True when every check passes."""
    ok = True
    pairs = len(results["parent"])
    print(f"\n== {workload}: {pairs} pairs ==")
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in results[side])
        attempted = sum(r["attempted"] for r in results[side])
        correct = all(r["correct"] for r in results[side])
        print(f"{side:>7}: correct={correct} failed {failed}/{attempted}")
        ok &= correct
    share = {s: sum(r["failed"] for r in results[s]) / max(1, sum(r["attempted"] for r in results[s]))
             for s in ("parent", "change")}
    if share["change"] > share["parent"]:
        print(f"FAIL: failed share {share['change']:.4f} > parent {share['parent']:.4f}")
        ok = False
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [r["metrics"][name]["value"] for r in results["parent"] if name in r["metrics"]]
        chg = [r["metrics"][name]["value"] for r in results["change"] if name in r["metrics"]]
        if len(par) != pairs or len(chg) != pairs:
            print(f"{name}: missing from some runs")
            ok = False
            continue
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq, pm, p3 = quartiles(par)
        cq, cm, c3 = quartiles(chg)
        rel = (cm - pm) / pm if pm else 0.0
        line = (f"{name:>12}: parent {pm:.4g} [{pq:.4g}, {p3:.4g}]  change {cm:.4g} "
                f"[{cq:.4g}, {c3:.4g}]  {rel:+.1%}  change better on {wins}/{pairs}")
        if name in claims:
            gap = (pm - cm) if lower else (cm - pm)
            win_ok = wins >= 0.9 * pairs
            gap_ok = gap > (p3 - pq)
            verdict = "GAIN" if win_ok and gap_ok else "NO GAIN"
            line += (f"  | claimed: wins {'ok' if win_ok else 'short'}, median gap {gap:.4g}"
                     f" vs parent IQR {p3 - pq:.4g} -> {verdict}")
            ok &= win_ok and gap_ok
        else:
            worse = 0.0 if not pm else ((cm - pm) if lower else (pm - cm)) / pm
            within = worse <= m["bound"]
            line += f"  | bound {m['bound']:.0%}: {'within' if within else 'EXCEEDED'}"
            ok &= within
        print(line)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    ap.add_argument("--seeds", type=int, default=10, help="pairs per workload (seeds 1..N)")
    ap.add_argument("--workload", action="append",
                    help="workload to run, as name or name:pairs (repeatable; "
                         "default: every BENCHMARK.json workload)")
    ap.add_argument("--seconds", type=float, default=None,
                    help="window per run (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--claim", action="append", default=[],
                    help="workload:metric whose gain is claimed (repeatable)")
    ap.add_argument("--out", help="write every run's result line here as JSON")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        raise SystemExit("run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pairs = {}
    for w in a.workload or [w["name"] for w in bench["workloads"]]:
        name, _, n = w.partition(":")
        pairs[name] = int(n) if n else a.seeds
    workloads = list(pairs)
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]

    scratch = tempfile.mkdtemp(prefix="perfbench_ab_")
    parent = os.path.join(scratch, "parent")
    runs = {}
    try:
        export(a.parent, parent)
        for w in workloads:
            res = {"parent": [], "change": []}
            for seed in range(1, pairs[w] + 1):
                order = ("parent", "change") if seed % 2 else ("change", "parent")
                for side in order:
                    r = run_side(parent if side == "parent" else root, w, seed, seconds, a.trace)
                    res[side].append(r)
                    vals = {k: v["value"] for k, v in r["metrics"].items()
                            if k in {m["name"] for m in bench["end_to_end"]}}
                    print(f"[ab] {w} seed {seed} {side}: {vals}", file=sys.stderr, flush=True)
            runs[w] = res
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f)
    ok = True
    for w in workloads:
        claims = {c.split(":", 1)[1] for c in a.claim if c.split(":", 1)[0] == w}
        ok &= report(w, runs[w], bench, claims)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
