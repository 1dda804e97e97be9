#!/usr/bin/env python3
"""Alternating parent/change pairs of the serving benchmark.

    python3 scripts/bench_pairs.py --rev <parent> --workload ingest --pairs 10 \
        [--seed 1] [--root DIR] [--keep] [--trace]

Run from the root of a checkout. The script exports `--rev` with
`git archive` into DIR/parent and copies the working tree (tracked and
untracked files that .gitignore does not exclude) into DIR/change. The two
copies share no build output (`target/`, `project/target`, `.bench_build/`),
so neither side's build can clobber the other's classes. It then runs N pairs
of `servebench/run.py --workload W --seed S+i --seconds <run_seconds>`, with
`run_seconds` read from BENCHMARK.json; pair i runs on seed S+i, and the side
that goes first alternates from pair to pair. A side's first run also builds
that tree, outside the timed window.

It prints one row per end-to-end metric of BENCHMARK.json: each side's median
and quartiles, how many pairs the change won (ties count for neither side),
the relative change of the median, and three verdicts:

  >IQR   yes when the change's median is BETTER than the parent's (in the
         metric's `better` direction) by more than the parent's interquartile
         range (IQR); a move in the worse direction is never `yes`.
  gain   yes when the change also won at least nine tenths of the pairs run
         (a pair missing a side counts as not won) — the rule a claimed gain
         must meet.
  verdict  WORSE THAN BOUND when the change's median is worse than the
         parent's by more than the metric's bound, else ok.

With --trace every run is traced (`--trace 1`), and the rows are the
`per_layer` metrics of BENCHMARK.json instead: each side's median and
quartiles, the pairs the change won and the relative change of the median,
with no >IQR, gain or bound verdict (per-layer numbers are for reading, not
gating). A metric a run does not report is left out of that pair. Any
workload servebench knows can be traced, `mixed` included.

Below the end-to-end rows, untraced runs also print per-route rows read from
each run's `REPORT` line (`query_range_p50_ms`, `remote_read_p50_ms`,
`series_p50_ms`, `write_p50_ms`, whichever the workload reports): medians,
quartiles, pairs won and the relative change, with no verdict. They let a move
in the geometric-mean `latency_p50_ms` be attributed to a route.

The failed-request share of each side is printed too. Every raw result line
is kept in DIR/results.jsonl. The exit code is non-zero when a run fails, an
operation fails, or (untraced only) a bound is broken. DIR defaults to a fresh
temporary directory; the two trees are removed at the end unless --keep is
given, the results file is kept.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def export_parent(rev, dst):
    os.makedirs(dst)
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=ROOT,
                             stdout=subprocess.PIPE, check=True).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=archive, check=True)


def copy_worktree(dst):
    """Copy the files git would see (tracked, plus untracked but not
    ignored) — never a build output listed in .gitignore."""
    out = subprocess.run(["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
                         cwd=ROOT, stdout=subprocess.PIPE, check=True).stdout
    for rel in sorted({p for p in out.decode().split("\0") if p}):
        src = os.path.join(ROOT, rel)
        if not os.path.isfile(src):  # deleted in the working tree
            continue
        os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
        shutil.copy2(src, os.path.join(dst, rel))


ROUTES = ("query_range_p50_ms", "remote_read_p50_ms", "series_p50_ms", "write_p50_ms")


def run_once(tree, workload, seed, seconds, trace):
    """One servebench run in `tree`; returns its result dict (the last
    stdout line) with the `REPORT` line's per-route p50s added under
    "routes", or None when the run produced no result."""
    proc = subprocess.run(
        [sys.executable, "servebench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        log(proc.stderr[-3000:])
        return None
    result = json.loads(lines[-1])
    report = next((json.loads(l[len("REPORT "):]) for l in reversed(lines) if l.startswith("REPORT ")), {})
    details = report.get("details", {})
    result["routes"] = {k: details[k]["value"] for k in ROUTES if isinstance(details.get(k), dict)}
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--rev", required=True, help="parent revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair; pair i uses seed+i")
    ap.add_argument("--root", help="scratch directory for the two trees (default: a fresh temp dir)")
    ap.add_argument("--keep", action="store_true", help="keep the two trees")
    ap.add_argument("--trace", action="store_true",
                    help="traced runs; report the per_layer metrics, with no verdicts")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["per_layer" if a.trace else "end_to_end"]

    root = a.root or tempfile.mkdtemp(prefix="bench_pairs_")
    parent, change = os.path.join(root, "parent"), os.path.join(root, "change")
    for d in (parent, change):
        shutil.rmtree(d, ignore_errors=True)
    export_parent(a.rev, parent)
    copy_worktree(change)
    log(f"bench_pairs: parent={a.rev} -> {parent}; change=working tree -> {change}")

    runs = {"parent": [], "change": []}
    trees = {"parent": parent, "change": change}
    broken = False
    out_path = os.path.join(root, "results.jsonl")
    try:
        with open(out_path, "a") as out:
            for i in range(a.pairs):
                seed = a.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    r = run_once(trees[side], a.workload, seed, seconds, a.trace)
                    out.write(json.dumps({"pair": i, "seed": seed, "side": side, "result": r}) + "\n")
                    out.flush()
                    if r is None:
                        log(f"pair {i} seed {seed} {side}: NO RESULT")
                        broken = True
                    else:
                        runs[side].append((i, r))
                        v = {m["name"]: r["metrics"].get(m["name"], {}).get("value") for m in metrics}
                        log(f"pair {i} seed {seed} {side}: failed={r['failed']}/{r['attempted']} {v}")

        both = sorted({i for i, _ in runs["parent"]} & {i for i, _ in runs["change"]})
        by = {s: dict(runs[s]) for s in runs}
        print(f"workload {a.workload}: {len(both)} complete pairs at {seconds} s, seeds {a.seed}..{a.seed + a.pairs - 1}"
              + (", traced" if a.trace else ""))
        print(f"{'metric':<{32 if a.trace else 24}} {'parent med (q1-q3)':>26} {'change med (q1-q3)':>26} {'wins':>6} {'Δmed':>8}"
              + ("" if a.trace else f" {'bound':>6}  >IQR gain verdict"))
        # per-route rows (untraced): read-only, no verdict
        routes = [] if a.trace else [{"name": k, "better": "lower", "route": True} for k in ROUTES]
        for m in metrics + routes:
            name, lower = m["name"], m["better"] == "lower"
            if m.get("route"):
                value = lambda side, i: by[side][i].get("routes", {}).get(name)
            else:
                value = lambda side, i: by[side][i]["metrics"].get(name, {}).get("value")
            pairs = [pc for pc in ((value("parent", i), value("change", i)) for i in both) if None not in pc]
            if not pairs:
                continue
            pv, cv = [p for p, _ in pairs], [c for _, c in pairs]
            pq, cq = quartiles(pv), quartiles(cv)
            wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
            rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
            if a.trace or m.get("route"):
                print(f"{name:<{32 if a.trace else 24}} {pq[1]:>10.3f} ({pq[0]:.3f}-{pq[2]:.3f}) {cq[1]:>10.3f} ({cq[0]:.3f}-{cq[2]:.3f})"
                      f" {wins:>3}/{len(pv):<2} {rel:>+8.1%}")
                continue
            worse = rel if lower else -rel
            over = worse > m["bound"]
            better_by = pq[1] - cq[1] if lower else cq[1] - pq[1]
            clear = better_by > pq[2] - pq[0]
            gain = clear and wins * 10 >= 9 * a.pairs
            broken |= over
            print(f"{name:<24} {pq[1]:>10.3f} ({pq[0]:.3f}-{pq[2]:.3f}) {cq[1]:>10.3f} ({cq[0]:.3f}-{cq[2]:.3f})"
                  f" {wins:>3}/{len(both):<2} {rel:>+8.1%} {m['bound']:>6.2f}  {'yes' if clear else 'no ':<4}"
                  f" {'yes' if gain else 'no ':<4} {'WORSE THAN BOUND' if over else 'ok'}")
        for s in ("parent", "change"):
            att = sum(r["attempted"] for _, r in runs[s])
            fail = sum(r["failed"] for _, r in runs[s])
            print(f"{s}: {fail}/{att} operations failed")
            broken |= fail > 0
        print(f"raw results: {out_path}")
    finally:
        if not a.keep:
            for d in (parent, change):
                shutil.rmtree(d, ignore_errors=True)
    sys.exit(1 if broken else 0)


if __name__ == "__main__":
    main()
