"""A/B the benchmark of record: alternating pairs of perfbench runs.

    python tools/ab_perfbench.py --base REF --workload nested_ingest
        --seeds 501-510 [--trace 0] [--workdir DIR]

Exports ``--base`` (a git ref) with ``git archive`` into a temporary
directory outside the repository; the change side is a copy of the
working tree as ``git add -A`` would commit it. Each side runs
``perfbench/run.py`` from its own copy for the ``run_seconds`` of its
own ``BENCHMARK.json``, so each builds from its own source. For every seed the two sides run back to
back, base first on even pairs and change first on odd ones, so drift
on a shared host falls on both sides alike.

Per metric of the run's JSON line it prints each side's median and
quartiles, the number of pairs (same seed) the change won out of all
pairs run, and a verdict in the terms of ``BENCHMARK.json``:

- ``gain``: at least 10 pairs ran, the change won at least 9 in 10
  of them, its median is better by more than the distance between the
  base's quartiles, and it failed no more ops than the base. A pair in
  which either side crashed or failed an op counts as not won.
- ``worse``: its median is worse than the base median by more than the
  metric's bound.
- ``unresolved``: the base's quartiles lie further apart than the bound
  allows, and some change run does not beat every base run.
- ``same``: none of these.

Every run also reports its failed ops and the host's steal time over
the run (``/proc/stat``), which is how a noisy run is told from a slow
one. Nothing is written inside the repository.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import Dict, List, Optional, Sequence

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WIN_SHARE = 0.9  # pairs the change must win for a claimed gain
MIN_PAIRS = 10  # pairs run before a gain can be claimed


def parse_seeds(text: str) -> List[int]:
    """``"501-510"`` or ``"7,8,9"`` → list of seeds."""
    seeds: List[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(ref: Optional[str], dest: str) -> None:
    """Put the files of ``ref`` (or, for ``None``, the working tree's
    tracked and untracked-but-not-ignored files) under ``dest``."""
    os.makedirs(dest)
    if ref is not None:
        tar = subprocess.run(
            ["git", "-C", ROOT, "archive", ref], check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)
        return
    names = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "-co", "--exclude-standard"],
        check=True, capture_output=True,
    ).stdout.decode().split("\0")
    for name in filter(None, names):
        src = os.path.join(ROOT, name)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def cpu_times() -> List[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: Sequence[int], after: Sequence[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``/proc/stat`` samples (field 8 of the ``cpu`` line)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def run_once(checkout: str, args, seed: int) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
    before, t0 = cpu_times(), time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    run = {"seed": seed, "wall_s": time.time() - t0,
           "steal": steal_frac(before, cpu_times()),
           "metrics": {}, "attempted": 0, "failed": None}
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        run["error"] = (proc.stderr or proc.stdout)[-2000:]
        return run
    run["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    run["attempted"], run["failed"] = result["attempted"], result["failed"]
    return run


def _quartiles(values: List[float]):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q3


def _failures(runs: List[dict]) -> int:
    """Failed ops over ``runs``; a run that crashed counts as one."""
    return sum(1 if r["failed"] is None else r["failed"] for r in runs)


def summarize(runs: List[dict], spec: dict) -> List[dict]:
    """One row per metric of ``spec`` (a ``BENCHMARK.json``) that the
    runs report as non-zero. ``runs`` are dicts with ``side`` (``base`` or
    ``change``), ``seed``, ``metrics`` (empty for a crashed run) and
    ``failed`` (``None`` for a crashed run); a pair is the two sides'
    runs of one seed."""
    by_side: Dict[str, Dict[int, dict]] = {"base": {}, "change": {}}
    clean = set()  # (side, seed) of runs that finished with no failed op
    for run in runs:
        if run["metrics"]:
            by_side[run["side"]][run["seed"]] = run["metrics"]
        if run["failed"] == 0:
            clean.add((run["side"], run["seed"]))
    pairs = sorted({run["seed"] for run in runs})
    more_failed = _failures([r for r in runs if r["side"] == "change"]) > _failures(
        [r for r in runs if r["side"] == "base"])
    rows = []
    for m in spec["end_to_end"] + spec.get("per_layer", []):
        name, sign = m["name"], 1 if m["better"] == "lower" else -1
        base = [r[name] for r in by_side["base"].values() if name in r]
        change = [r[name] for r in by_side["change"].values() if name in r]
        if not any(base + change):  # absent, or a layer this workload skips
            continue
        b_med, c_med = statistics.median(base), statistics.median(change)
        b_q1, b_q3 = _quartiles(base)
        wins = sum(
            ("base", s) in clean and ("change", s) in clean
            and name in by_side["base"][s] and name in by_side["change"][s]
            and sign * (by_side["change"][s][name] - by_side["base"][s][name]) < 0
            for s in pairs
        )
        gain = sign * (b_med - c_med)  # > 0: the change is better
        bound = m.get("bound")
        if (len(pairs) >= MIN_PAIRS and wins >= math.ceil(WIN_SHARE * len(pairs))
                and gain > b_q3 - b_q1 and not more_failed):
            verdict = "gain"
        elif bound is not None and -gain > bound * abs(b_med):
            verdict = "worse"
        elif (bound is not None and b_q3 - b_q1 > bound * abs(b_med)
              and max(sign * c for c in change) >= min(sign * b for b in base)):
            verdict = "unresolved"
        else:
            verdict = "same"
        rows.append({
            "metric": name, "base_median": b_med, "base_q": (b_q1, b_q3),
            "change_median": c_med, "change_q": _quartiles(change),
            "rel": (c_med - b_med) / b_med if b_med else 0.0,
            "wins": wins, "pairs": len(pairs), "verdict": verdict,
        })
    return rows


def format_summary(rows: List[dict], runs: List[dict]) -> str:
    out = ["%-42s %24s %24s %8s %6s  %s" % (
        "metric", "base median [q1, q3]", "change median [q1, q3]", "delta", "wins", "verdict")]
    for r in rows:
        out.append("%-42s %24s %24s %+7.1f%% %6s  %s" % (
            r["metric"],
            "%.4g [%.4g, %.4g]" % ((r["base_median"],) + tuple(r["base_q"])),
            "%.4g [%.4g, %.4g]" % ((r["change_median"],) + tuple(r["change_q"])),
            100 * r["rel"], "%d/%d" % (r["wins"], r["pairs"]), r["verdict"]))
    for side in ("base", "change"):
        mine = [r for r in runs if r["side"] == side]
        out.append("%-6s failed ops %s; steal %s" % (
            side,
            " ".join("?" if r["failed"] is None else "%d/%d" % (r["failed"], r["attempted"])
                     for r in mine),
            " ".join("%.1f%%" % (100 * r["steal"]) for r in mine)))
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git ref of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 501-510 or 7,8,9")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", help="where the two checkouts go (default: a new temp dir)")
    args = ap.parse_args(argv)

    workdir = tempfile.mkdtemp(prefix="ab_perfbench-", dir=args.workdir)
    try:
        sides = {"base": os.path.join(workdir, "base"), "change": os.path.join(workdir, "change")}
        export(args.base, sides["base"])
        export(None, sides["change"])
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        runs = []
        for i, seed in enumerate(args.seeds):
            for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
                run = dict(run_once(sides[side], args, seed), side=side, pair=i)
                runs.append(run)
                shown = "" if args.trace else " ".join(
                    "%s=%.4g" % kv for kv in sorted(run["metrics"].items()))
                print("pair %d seed %d %-6s %s failed=%s steal=%.1f%% wall=%.0fs %s" % (
                    i, seed, side, shown, run["failed"], 100 * run["steal"],
                    run["wall_s"], run.get("error", "")[-300:]), flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    rows = summarize(runs, spec)
    print(format_summary(rows, runs))
    return 0 if all(r["failed"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
