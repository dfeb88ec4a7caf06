#!/usr/bin/env python3
"""Interleaved A/B runner: parent vs change, same benchmark code and settings.

    python3 perfbench/ab.py BASE_REV CHANGE_REV --workload analytic --pairs 10

Checks both revisions out as git worktrees under .perfbench/ab/, copies this
checkout's perfbench/ into each (so both sides run identical benchmark code),
then runs `pairs` pairs, alternating which side goes first. Pair i runs both
sides on seed 1000 + i. Every sample is kept in the output JSON. For each
end-to-end metric it prints each side's median and quartiles and the change's
win fraction (ties count for neither side), and calls a gain only when at
least ten pairs ran, the change wins at least nine tenths of them and the
medians differ by more than the parent's own interquartile spread.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True,
                          text=True).stdout.strip()


def worktree(rev, base):
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = base / sha[:12]
    if not path.is_dir():
        git("worktree", "add", "--detach", str(path), sha)
    shutil.rmtree(path / "perfbench", ignore_errors=True)
    shutil.copytree(HERE, path / "perfbench",
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    return sha, path


def run_side(path, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=path, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab: run failed in {path} (seed {seed})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", default="analytic")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", default=".perfbench/ab/result.json")
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    a = ap.parse_args(argv)

    base = ROOT / ".perfbench" / "ab"
    base.mkdir(parents=True, exist_ok=True)
    sides = {"base": worktree(a.base, base), "change": worktree(a.change, base)}
    samples = {"base": [], "change": []}
    try:
        for i in range(a.pairs):
            seed = 1000 + i
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                r = run_side(sides[side][1], a, seed)
                samples[side].append({"pair": i, "seed": seed, "first": side == order[0], **r})
                print(f"pair {i} seed {seed} {side}: failed {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4f}" for k, v in r["metrics"].items()),
                      flush=True)
    finally:
        if not a.keep:
            for path in {path for _, path in sides.values()}:
                subprocess.run(["git", "worktree", "remove", "--force", str(path)], cwd=ROOT)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    report = {}
    for name in samples["base"][0]["metrics"]:
        b = [s["metrics"][name]["value"] for s in samples["base"]]
        c = [s["metrics"][name]["value"] for s in samples["change"]]
        lower = better[name] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        losses = sum((y > x) if lower else (y < x) for x, y in zip(b, c))
        (bq1, bq3), (cq1, cq3) = quartiles(b), quartiles(c)
        bm, cm = statistics.median(b), statistics.median(c)
        gain = len(b) >= 10 and wins >= 0.9 * len(b) and abs(cm - bm) > (bq3 - bq1)
        report[name] = dict(base_median=bm, base_q1=bq1, base_q3=bq3, change_median=cm,
                            change_q1=cq1, change_q3=cq3, wins=wins, losses=losses,
                            pairs=len(b), win_fraction=wins / len(b), gain=gain)
        print(f"{name:<16} base {bm:.4f} [{bq1:.4f}, {bq3:.4f}]  change {cm:.4f} "
              f"[{cq1:.4f}, {cq3:.4f}]  change/base {cm / bm if bm else float('nan'):.3f}  "
              f"wins {wins}/{len(b)}  {'GAIN' if gain else 'no claim'}")
    failures = {s: sum(x["failed"] for x in samples[s]) for s in samples}
    print(f"failed executions: base {failures['base']}, change {failures['change']}")
    out = ROOT / a.out
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"workload": a.workload, "seconds": a.seconds,
                               "base": sides["base"][0], "change": sides["change"][0],
                               "samples": samples, "report": report,
                               "failed": failures}, indent=1))
    print(f"all samples in {out.relative_to(ROOT)}")


if __name__ == "__main__":
    main(sys.argv[1:])
