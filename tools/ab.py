#!/usr/bin/env python3
"""Interleaved A/B of two commits on the owlbench benchmark.

    python3 tools/ab.py BASE [CHANGE] --workload W --seeds A-B

BASE and CHANGE are git refs, each exported with ``git archive`` into a
temporary directory outside the repository.  CHANGE defaults to the working
tree: every file ``git ls-files -co --exclude-standard`` lists, so untracked
files count and ignored ones do not.

For each seed the harness runs one cold benchmark process per side (the
``command`` of ``BENCHMARK.json`` with ``--workload W --seed N --seconds``
its ``run_seconds``), with the working directory at that tree's root.  Which
side runs first alternates from pair to pair, so drift on the host falls on
both sides alike.  A run that exits nonzero, times out or prints no result
line counts as one failed operation for its side; otherwise the side is
charged the ``failed`` count the benchmark reports.

For every end-to-end metric of ``BENCHMARK.json`` it prints the per-pair
values, the change's wins (ties count for neither side), both medians, the
parent's quartiles and a verdict:

- ``gain``: the change wins at least 9 of 10 pairs, the medians differ by
  more than the parent's interquartile range, and the change has no more
  failed operations than the parent;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's ``bound`` times the parent's median;
- ``unresolved``: the parent's interquartile range exceeds ``bound`` times
  its median and not every change run beats every parent run;
- ``unchanged`` otherwise.

Quartiles are ``statistics.quantiles(n=4, method="inclusive")``.  The last
line of standard output is one JSON object with every verdict.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# one cold corpus_build takes under a minute on 4 cores; a run still going
# after this long is stuck, and counts as failed
RUN_TIMEOUT_S = 1800


def judge(pairs: list[tuple[float | None, float | None]], better: str, bound: float,
          failed_base: int, failed_change: int) -> dict:
    """Verdict on one metric from (parent, change) values per pair; a side
    whose run failed contributes None to that pair and cannot win it."""
    sign = 1.0 if better == "lower" else -1.0
    base = [p for p, _ in pairs if p is not None]
    change = [c for _, c in pairs if c is not None]
    wins = sum(1 for p, c in pairs if p is not None and c is not None and sign * (p - c) > 0)
    out = {"pairs": len(pairs), "wins": wins, "failed_base": failed_base,
           "failed_change": failed_change}
    if len(base) < 2 or not change:
        return {**out, "verdict": "unresolved", "gain": False, "regression": False,
                "unresolved": True}
    base_median, change_median = statistics.median(base), statistics.median(change)
    q1, _, q3 = statistics.quantiles(base, n=4, method="inclusive")
    iqr = q3 - q1
    every_run_better = all(sign * (p - c) > 0 for p in base for c in change)
    gain = (10 * wins >= 9 * len(pairs)
            and sign * (base_median - change_median) > iqr
            and failed_change <= failed_base)
    regression = sign * (change_median - base_median) > bound * abs(base_median)
    unresolved = iqr > bound * abs(base_median) and not every_run_better
    verdict = ("regression" if regression else "unresolved" if unresolved
               else "gain" if gain else "unchanged")
    return {**out, "base_median": base_median, "change_median": change_median,
            "base_q1": q1, "base_q3": q3, "gain": gain, "regression": regression,
            "unresolved": unresolved, "verdict": verdict}


def parse_seeds(text: str) -> list[int]:
    first, _, last = text.partition("-")
    seeds = list(range(int(first), int(last or first) + 1))
    if not seeds:
        raise argparse.ArgumentTypeError(f"empty seed range {text!r}")
    return seeds


def git(*args: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                          stdout=subprocess.PIPE, **kw)


def export_ref(ref: str, dest: Path) -> None:
    tar = git("archive", "--format=tar", ref).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def export_worktree(dest: Path) -> None:
    names = git("ls-files", "-z", "-co", "--exclude-standard").stdout.decode().split("\0")
    for name in filter(None, names):
        src = ROOT / name
        if not os.path.lexists(src):  # deleted in the working tree, not yet staged
            continue
        (dest / name).parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(src, dest / name, follow_symlinks=False)


def run_once(tree: Path, command: list[str], workload: str, seed: int,
             seconds: float) -> dict | None:
    """One cold benchmark process; its result object, or None if it failed."""
    cmd = [*command, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    try:
        proc = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"  {tree.name} seed {seed}: timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or not {"metrics", "attempted", "failed"} <= result.keys():
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        print(f"  {tree.name} seed {seed}: exit {proc.returncode}, no result\n{tail}",
              file=sys.stderr)
        return None
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", help="git ref of the parent")
    p.add_argument("change", nargs="?", help="git ref of the change (default: the working tree)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds, help="A-B, inclusive")
    args = p.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    metrics = bench["end_to_end"]
    labels = {"base": args.base, "change": args.change or "working tree"}

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {side: Path(tmp) / side for side in labels}
        for side, tree in trees.items():
            tree.mkdir()
        export_ref(args.base, trees["base"])
        if args.change:
            export_ref(args.change, trees["change"])
        else:
            export_worktree(trees["change"])

        results: dict[str, list[dict | None]] = {"base": [], "change": []}
        for i, seed in enumerate(args.seeds):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                r = run_once(trees[side], bench["command"], args.workload, seed,
                             bench["run_seconds"])
                results[side].append(r)
                shown = (" ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                                  for m in metrics) + f" failed={r['failed']}"
                         if r else "FAILED")
                print(f"seed {seed} {side}{' (first)' if side == order[0] else ''}: {shown}",
                      flush=True)

    failed = {side: sum(1 if r is None else r["failed"] for r in rs)
              for side, rs in results.items()}
    attempted = {side: sum(1 if r is None else r["attempted"] for r in rs)
                 for side, rs in results.items()}

    def value(r: dict | None, name: str) -> float | None:
        return r["metrics"][name]["value"] if r else None

    print(f"\n{args.workload}: base {labels['base']} vs change {labels['change']}, "
          f"seeds {args.seeds[0]}-{args.seeds[-1]}; failed operations "
          f"base {failed['base']}/{attempted['base']}, "
          f"change {failed['change']}/{attempted['change']}")
    verdicts = {}
    for m in metrics:
        name = m["name"]
        pairs = [(value(b, name), value(c, name))
                 for b, c in zip(results["base"], results["change"])]
        v = judge(pairs, m["better"], m["bound"], failed["base"], failed["change"])
        verdicts[name] = v
        print(f"{name} ({m['unit']}, {m['better']} is better, bound {m['bound']}):")
        print("  " + ", ".join(f"{s}: {'-' if b is None else f'{b:.4g}'}/"
                               f"{'-' if c is None else f'{c:.4g}'}"
                               for s, (b, c) in zip(args.seeds, pairs)))
        if "base_median" in v:
            print(f"  wins {v['wins']}/{v['pairs']}, median {v['base_median']:.6g} -> "
                  f"{v['change_median']:.6g}, base q1 {v['base_q1']:.6g} q3 {v['base_q3']:.6g}: "
                  f"{v['verdict']}")
        else:
            print(f"  wins {v['wins']}/{v['pairs']}: too few runs, {v['verdict']}")
    print(json.dumps({"workload": args.workload, "base": labels["base"],
                      "change": labels["change"], "seeds": [args.seeds[0], args.seeds[-1]],
                      "failed": failed, "attempted": attempted, "metrics": verdicts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
