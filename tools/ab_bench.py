"""A/B benchmark of the working tree against a parent revision.

Usage, from anywhere inside the repository:

    python3 tools/ab_bench.py [PARENT] [--seeds 1-10] [--workload W]

PARENT (default ``HEAD``) is checked out with ``git worktree add
--detach`` into a temporary directory; the change side is a temporary
copy of the working tree as it stands: its tracked files, uncommitted
edits included, and its untracked files that git does not ignore. So
neither side runs from the main checkout, and neither inherits its
caches or bench output. For each workload in
BENCHMARK.json (or each one ``--workload`` names), the benchmark command
runs once per seed on each side with ``--trace 0``, the side that runs
first alternating by seed, then once per side with ``--trace 1``. Each
run starts in its own checkout with PYTHONPATH cleared: Spark's Python
workers import the engine from the working directory, so a run started
elsewhere would measure the other tree.

For every end-to-end metric the report gives both sides' median and
quartiles, the median delta, the parent's IQR/median, the change's
wins, the bound and a status:

    worse       the change's median is worse by more than the bound
    unresolved  the parent's IQR/median exceeds the bound, and not
                every change run beats every parent run
    gain        over at least 10 pairs, the change wins at least 9 in
                10 and its median is better by more than the parent's
                IQR
    flat        otherwise

Metric names, directions and bounds are read from BENCHMARK.json. Each
parsed run, with its wall time, is appended to
``.bench_out/ab_bench-<time>.jsonl``. At the end, each side's median
run wall per workload is printed with the wall a full measurement would
take at that pace (4 + 22 runs per workload), next to the budget in
perfbench/DESIGN.md § Time budget. The
exit status is non-zero when a run crashes or is incorrect, or when the
change fails a larger share of ops than the parent. The worktree and
the copy are removed on exit, on an exception and on Ctrl-C or SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
#: fewer pairs than this never read as a gain
MIN_PAIRS = 10
#: a full measurement runs 4 + 22 times per workload and must end
#: within 3,420 s (perfbench/DESIGN.md § Time budget)
FULL_RUNS_PER_WORKLOAD = 4 + 22
FULL_BUDGET_S = 3420


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise ValueError(f"empty seed range {text!r}")
    return seeds


def schedule(seeds: list[int]) -> list[tuple[int, str]]:
    """(seed, side) in run order: every seed on both sides, with the
    side that runs first alternating from one seed to the next."""
    return [(s, side) for i, s in enumerate(seeds)
            for side in (SIDES if i % 2 == 0 else SIDES[::-1])]


def quartiles(xs: list[float]) -> tuple[float, ...]:
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


def compare(spec: dict, parent: list[float], change: list[float]) -> dict:
    """One end-to-end metric over runs paired by index. ``delta`` (the
    median change) and ``spread`` (the parent's IQR) are fractions of
    the parent's median."""
    sign = 1.0 if spec["better"] == "lower" else -1.0
    pq, cq = quartiles(parent), quartiles(change)
    base = abs(pq[1]) or 1.0
    delta = (cq[1] - pq[1]) / base
    worse_by = sign * delta
    spread = (pq[2] - pq[0]) / base
    wins = sum(sign * (c - p) < 0 for p, c in zip(parent, change))
    separated = max(sign * c for c in change) < min(sign * p for p in parent)
    if worse_by > spec["bound"]:
        status = "worse"
    elif spread > spec["bound"] and not separated:
        status = "unresolved"
    elif len(parent) >= MIN_PAIRS and wins * 10 >= 9 * len(parent) \
            and -worse_by > spread:
        status = "gain"
    else:
        status = "flat"
    return {"parent": pq, "change": cq, "delta": delta, "spread": spread, "wins": wins, "pairs": len(parent),
            "status": status}


def projection(walls: dict[str, list[float]]) -> tuple[dict[str, float], float]:
    """Median run wall per workload, and the wall of a full measurement
    at that pace: ``FULL_RUNS_PER_WORKLOAD`` runs of each workload."""
    med = {w: statistics.median(xs) for w, xs in walls.items()}
    return med, FULL_RUNS_PER_WORKLOAD * sum(med.values())


def report_walls(walls: dict[str, dict[str, list[float]]]) -> None:
    print(f"\nrun walls, and a full measurement ({FULL_RUNS_PER_WORKLOAD} runs per "
          f"workload) at that pace against its {FULL_BUDGET_S:,} s budget:")
    for side in SIDES:
        med, full = projection(walls[side])
        per = ", ".join(f"{w} {m:.1f} s" for w, m in med.items())
        print(f"  {side:<7} median run {per}; projected {full:,.0f} s "
              f"({full / FULL_BUDGET_S:.0%} of {FULL_BUDGET_S:,} s)")


def git(*args: str, cwd: str = ROOT) -> str:
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          capture_output=True).stdout.strip()


def describe(tree: str) -> str:
    dirty = "dirty" if git("status", "--porcelain", cwd=tree) else "clean"
    return f"{git('rev-parse', '--short', 'HEAD', cwd=tree)} ({dirty})"


def copy_tree(src: str, dst: str) -> None:
    """Copy ``src``'s working tree into ``dst``: the tracked files as
    they stand on disk and the untracked files that are not ignored."""
    names = git("ls-files", "-z", "--cached", "--others", "--exclude-standard", cwd=src)
    for name in filter(None, names.split("\0")):
        path = os.path.join(src, name)
        if not os.path.lexists(path):  # a tracked file deleted in the tree
            continue
        os.makedirs(os.path.dirname(os.path.join(dst, name)), exist_ok=True)
        shutil.copy2(path, os.path.join(dst, name), follow_symlinks=False)


def run_once(bench: dict, tree: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(cmd, cwd=tree, env=env, text=True, capture_output=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{' '.join(cmd)} in {tree} exited {p.returncode}:\n"
                           + p.stderr[-2000:])
    return json.loads(lines[-1])


def fmt_q(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def report(bench: dict, workload: str, runs: dict, traced: dict) -> None:
    seeds = sorted(runs["parent"])
    print(f"\n== {workload}: {len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}, "
          f"{bench['run_seconds']} s runs")
    print(f"{'metric':<24}{'parent med [q1, q3]':>37}{'change med [q1, q3]':>37}"
          f"{'delta':>9}{'IQR/med':>9}{'wins':>7}{'bound':>7}  status")
    for spec in bench["end_to_end"]:
        name = spec["name"]
        vals = {side: [runs[side][s]["metrics"][name]["value"] for s in seeds]
                for side in SIDES}
        r = compare(spec, vals["parent"], vals["change"])
        print(f"{name:<24}{fmt_q(r['parent']) + ' ' + spec['unit']:>37}"
              f"{fmt_q(r['change']) + ' ' + spec['unit']:>37}{r['delta']:>+9.1%}"
              f"{r['spread']:>9.1%}{r['wins']:>4}/{r['pairs']:<2}{spec['bound']:>7.0%}"
              f"  {r['status']}")
    print(f"-- traced per-layer (one run per side):\n"
          f"{'metric':<30}{'parent':>12}{'change':>12}{'delta':>9}")
    for spec in bench["per_layer"]:
        p, c = (traced[side]["metrics"][spec["name"]]["value"] for side in SIDES)
        delta = f"{(c - p) / abs(p):+.1%}" if p else ""
        print(f"{spec['name']:<30}{p:>12.4g}{c:>12.4g}{delta:>9} {spec['unit']}")


def main(argv=None) -> int:
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", nargs="?", default="HEAD")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workload", action="append", choices=names,
                   help="default: every workload in BENCHMARK.json")
    args = p.parse_args(argv)
    workloads = args.workload or names
    sys.stdout.reconfigure(line_buffering=True)  # each report line as it is made
    seeds = parse_seeds(args.seeds)
    parent_rev = git("rev-parse", "--verify", args.parent + "^{commit}")

    # SIGTERM unwinds like Ctrl-C, so the worktree is removed either way
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="ab_bench-")
    trees = {side: os.path.join(tmp, side) for side in SIDES}
    parent_tree = trees["parent"]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".bench_out", f"ab_bench-{time.strftime('%Y%m%d-%H%M%S')}.jsonl")
    ops = {side: [0, 0] for side in SIDES}  # failed, attempted
    walls = {side: {w: [] for w in workloads} for side in SIDES}
    incorrect = False
    try:
        git("worktree", "add", "--detach", parent_tree, parent_rev)
        copy_tree(ROOT, trees["change"])
        print(f"parent {describe(parent_tree)} at {parent_tree}\n"
              f"change {describe(ROOT)} copied to {trees['change']}")
        with open(log, "w") as out:
            for w in workloads:
                runs = {side: {} for side in SIDES}
                traced = {}
                for trace, order in ((0, schedule(seeds)), (1, schedule(seeds[:1]))):
                    for seed, side in order:
                        t0 = time.perf_counter()
                        res = run_once(bench, trees[side], w, seed, trace)
                        wall = time.perf_counter() - t0
                        walls[side][w].append(wall)
                        print(f"{w} seed {seed} trace {trace} {side}: failed "
                              f"{res['failed']}/{res['attempted']}, {wall:.1f} s",
                              file=sys.stderr, flush=True)
                        out.write(json.dumps({"side": side, "workload": w, "seed": seed,
                                              "trace": trace, "wall_s": round(wall, 3),
                                              "result": res}) + "\n")
                        out.flush()
                        incorrect |= not res["correct"]
                        ops[side][0] += res["failed"]
                        ops[side][1] += res["attempted"]
                        if trace:
                            traced[side] = res
                        else:
                            runs[side][seed] = res
                report(bench, w, runs, traced)
        report_walls(walls)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent_tree],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)
    share = {side: f / max(a, 1) for side, (f, a) in ops.items()}
    print(f"\nfailed ops: parent {ops['parent'][0]}/{ops['parent'][1]}, "
          f"change {ops['change'][0]}/{ops['change'][1]}; runs logged to {log}")
    if incorrect:
        print("an incorrect run was reported")
    return 1 if incorrect or share["change"] > share["parent"] else 0


if __name__ == "__main__":
    sys.exit(main())
