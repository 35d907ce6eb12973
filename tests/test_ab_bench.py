"""The A/B tool's parts that run no benchmark (`tools/ab_bench.py`): run
schedule, status rules, the metric list it reads from BENCHMARK.json,
the projected wall of a full measurement, and the copy of the working tree the change side runs from (on a
throwaway git repository). Runs no Spark."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name, rel):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ab = _load("ab_bench", "tools/ab_bench.py")
LOWER = {"name": "m", "unit": "s", "better": "lower", "bound": 0.25}
HIGHER = {**LOWER, "better": "higher"}
TIGHT = [10.0 + 0.01 * i for i in range(10)]


def test_parse_seeds():
    assert ab.parse_seeds("1-10") == list(range(1, 11))
    assert ab.parse_seeds("7") == [7]
    with pytest.raises(ValueError):
        ab.parse_seeds("5-4")


def test_schedule_same_seeds_first_side_alternates():
    seeds = list(range(1, 11))
    order = ab.schedule(seeds)
    for side in ab.SIDES:
        assert [s for s, sd in order if sd == side] == seeds
    firsts = [order[2 * i] for i in range(len(seeds))]
    seconds = [order[2 * i + 1] for i in range(len(seeds))]
    assert [s for s, _ in firsts] == [s for s, _ in seconds] == seeds
    assert [sd for _, sd in firsts] == ["parent", "change"] * 5
    assert all(a[1] != b[1] for a, b in zip(firsts, seconds))


def test_median_30_percent_worse_is_worse():
    assert ab.compare(LOWER, TIGHT, [1.3 * v for v in TIGHT])["status"] == "worse"


def test_wide_parent_spread_is_unresolved():
    wide = [6.0, 14.0] * 5
    r = ab.compare(LOWER, wide, list(reversed(wide)))
    assert r["spread"] > LOWER["bound"]
    assert r["status"] == "unresolved"


def test_wide_spread_resolved_when_every_change_run_is_better():
    wide = [10.0 + i for i in range(10)]
    r = ab.compare(LOWER, wide, [5.0 + 0.1 * i for i in range(10)])
    assert r["spread"] > LOWER["bound"]
    assert r["status"] == "gain"


def test_gain_needs_nine_wins_and_a_delta_over_the_iqr():
    nine = [8.0] * 9 + [11.0]
    assert ab.compare(LOWER, TIGHT, nine)["status"] == "gain"
    eight = [8.0] * 8 + [11.0] * 2
    assert ab.compare(LOWER, TIGHT, eight)["status"] == "flat"
    spread = [10.0, 11.0] * 5  # IQR/median about 9.5%
    assert ab.compare(LOWER, spread, [v - 0.5 for v in spread])["status"] == "flat"
    assert ab.compare(LOWER, TIGHT[:9], [8.0] * 9)["status"] == "flat"


def test_higher_is_better_flips_sign():
    assert ab.compare(HIGHER, TIGHT, [0.7 * v for v in TIGHT])["status"] == "worse"
    assert ab.compare(HIGHER, TIGHT, [1.3 * v for v in TIGHT])["status"] == "gain"
    assert ab.compare(LOWER, TIGHT, [0.7 * v for v in TIGHT])["status"] == "gain"


def test_metrics_come_from_benchmark_json(capsys):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert ab.load_benchmark() == bench
    # the benchmark emits exactly these end-to-end metrics and units
    run = _load("perfbench_run", "perfbench/run.py")
    assert run.END_TO_END_UNITS == {m["name"]: m["unit"] for m in bench["end_to_end"]}

    def result(scale):
        return {"metrics": {m["name"]: {"value": scale, "unit": m["unit"]}
                            for m in bench["end_to_end"] + bench["per_layer"]}}

    seeds = range(1, 11)
    runs = {"parent": {s: result(1.0) for s in seeds},
            "change": {s: result(2.0) for s in seeds}}
    traced = {"parent": result(1.0), "change": result(2.0)}
    ab.report(bench, "w", runs, traced)
    out = capsys.readouterr().out.splitlines()
    rows = {line.split()[0]: line for line in out if line.strip()}
    for m in bench["end_to_end"]:
        row = rows[m["name"]]
        assert f" {m['unit']} " in row
        assert f"{m['bound']:.0%}" in row
        assert row.endswith("worse" if m["better"] == "lower" else "gain")
    for m in bench["per_layer"]:
        assert rows[m["name"]].endswith(m["unit"])


def test_change_side_copies_tracked_and_unignored_files(tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    (src / "pkg").mkdir(parents=True)
    files = {".gitignore": "*.log\nout/\n", "pkg/a.py": "a = 1\n",
             "gone.py": "", "kept.py": "k = 1\n"}
    for name, text in files.items():
        (src / name).write_text(text)
    for cmd in (["init", "-q"], ["add", "-A"],
                ["-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "x"]):
        subprocess.run(["git", *cmd], cwd=src, check=True, capture_output=True)
    (src / "pkg/a.py").write_text("a = 2\n")         # edited, uncommitted
    (src / "gone.py").unlink()                        # deleted, uncommitted
    (src / "pkg/new.py").write_text("n = 1\n")       # untracked
    (src / "run.log").write_text("ignored\n")        # ignored
    (src / "out").mkdir()
    (src / "out/x.json").write_text("{}")             # ignored directory
    ab.copy_tree(str(src), str(dst))
    got = {str(p.relative_to(dst)) for p in dst.rglob("*") if p.is_file()}
    assert got == {".gitignore", "kept.py", "pkg/a.py", "pkg/new.py"}
    assert (dst / "pkg/a.py").read_text() == "a = 2\n"


def test_full_measurement_projection():
    walls = {"flagship_bulk": [80.0, 90.0, 200.0], "query_mix": [60.0, 61.0, 59.0]}
    med, full = ab.projection(walls)
    assert med == {"flagship_bulk": 90.0, "query_mix": 60.0}
    # 4 + 22 runs per workload at the median pace
    assert full == 26 * (90.0 + 60.0) == 3900.0
    assert ab.FULL_RUNS_PER_WORKLOAD == 26 and ab.FULL_BUDGET_S == 3420


def test_wall_report_prints_both_sides_against_the_budget(capsys):
    walls = {"parent": {"w": [100.0, 120.0]}, "change": {"w": [120.0, 140.0]}}
    ab.report_walls(walls)
    out = capsys.readouterr().out
    assert "parent  median run w 110.0 s; projected 2,860 s (84% of 3,420 s)" in out
    assert "change  median run w 130.0 s; projected 3,380 s (99% of 3,420 s)" in out
