#!/usr/bin/env python3
"""Run interleaved parent/change pairs of one benchmark workload and sum them up.

    python3 tools/ab.py --base HEAD~1 --head HEAD --workload cdc_sync --pairs 10 [--trace 1]

Each revision is exported once (`git archive`) into .ab/<commit>/ at the
repo root and measured with its own perfbench/run.py, which builds that
tree on first use. Pair i runs both sides with the same seed (2 + i, or
1 + i traced) and alternates which side runs first. Every result line is
appended to .ab/<base>_<head>_<workload>[_trace].jsonl as it arrives.

The summary has one row per metric of the workload's BENCHMARK.json set
(end-to-end, or per-layer with --trace 1): each side's median, the base
runs' interquartile range, how many pairs the head won (ties count for
neither), and whether the gap between the medians exceeds the base IQR.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
AB = ROOT / ".ab"


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def commit_of(rev):
    out = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"[ab] not a commit: {rev}")
    return out.stdout.strip()


def export(commit):
    """The revision's tree under .ab/, exported once and reused after."""
    tree = AB / commit[:12]
    done = tree / ".ab-exported"
    if not done.exists():
        tree.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(tree)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"[ab] git archive {commit} failed")
        done.write_text(commit)
    return tree


def run(tree, workload, seed, seconds, trace):
    """One run.py result, or None when the run failed."""
    cmd = [sys.executable, str(tree / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        log(f"{tree.name} seed {seed}: run.py exit {proc.returncode}")
        return None
    return json.loads(lines[-1])




def summary(spec, pairs, trace):
    metrics = spec["per_layer" if trace else "end_to_end"]
    rows = [("metric", "unit", "base", "head", "change", "base IQR", "head wins", "gap > IQR")]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        got = [(b["metrics"].get(name, {}).get("value"), h["metrics"].get(name, {}).get("value"))
               for b, h in pairs]
        got = [(b, h) for b, h in got if b is not None and h is not None]
        if not got:
            continue
        base, head = [b for b, _ in got], [h for _, h in got]
        mb, mh = statistics.median(base), statistics.median(head)
        wins = sum((h < b) if lower else (h > b) for b, h in got)
        change = f"{(mh - mb) / mb * 100:+.1f}%" if mb else "n/a"
        iqr, beyond = "n/a", "n/a"  # one base run has no spread
        if len(base) > 1:
            q = statistics.quantiles(base, n=4, method="inclusive")
            iqr, beyond = f"{q[2] - q[0]:.4g}", "yes" if abs(mh - mb) > q[2] - q[0] else "no"
        rows.append((name, m["unit"], f"{mb:.4g}", f"{mh:.4g}", change, iqr,
                     f"{wins}/{len(got)}", beyond))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())
    for side, i in (("base", 0), ("head", 1)):
        runs = [p[i] for p in pairs]
        print(f"{side}: {len(runs)} runs, correct {sum(r['correct'] for r in runs)}/{len(runs)}, "
              f"ops failed {sum(r['failed'] for r in runs)} of {sum(r['attempted'] for r in runs)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    commits = {"base": commit_of(args.base), "head": commit_of(args.head)}
    trees = {side: export(c) for side, c in commits.items()}
    spec = json.loads((trees["base"] / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"[ab] {args.workload} is not a workload of the base's BENCHMARK.json")
    record = AB / (f"{commits['base'][:12]}_{commits['head'][:12]}_{args.workload}"
                   + ("_trace" if args.trace else "") + ".jsonl")
    pairs = []
    for i in range(args.pairs):
        seed = (1 if args.trace else 2) + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        got = {}
        for side in order:
            t0 = time.time()
            got[side] = run(trees[side], args.workload, seed, spec["run_seconds"], args.trace)
            log(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                f"{'ok' if got[side] else 'FAILED'} in {time.time() - t0:.0f} s")
            with record.open("a") as f:
                f.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                    "commit": commits[side], "result": got[side]}) + "\n")
        if got["base"] and got["head"]:
            pairs.append((got["base"], got["head"]))
    print(f"{args.workload}: base {commits['base'][:12]} vs head {commits['head'][:12]}, "
          f"{len(pairs)} of {args.pairs} pairs complete, trace {args.trace}")
    if pairs:
        summary(spec, pairs, args.trace)
    return 0 if len(pairs) == args.pairs else 1


if __name__ == "__main__":
    sys.exit(main())
