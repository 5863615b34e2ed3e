"""scripts/measure.py: the A/B summary (no JVM) and one self-vs-self
A/B smoke run through the command line."""
from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(ROOT, "scripts", "measure.py")

_spec = importlib.util.spec_from_file_location("measure", SCRIPT)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


def _run(best: float, h: str = "h:1") -> dict:
    return {"q": {"best": best, "hash": h, "stats": {"jobs": 1}}}


def test_first_side_alternates_by_pair_index():
    assert [measure.first_side(i) for i in range(4)] == [
        "base", "change", "base", "change"]


def test_ties_count_for_neither_side():
    runs = [{"base": _run(b), "change": _run(c)}
            for b, c in ((2.0, 1.0), (2.0, 1.5), (1.0, 1.0), (1.0, 3.0))]
    q = measure.summarize(runs, ["q"])["q"]
    assert q["change_win_frac"] == 0.5
    assert q["base_median"] == 1.5
    assert q["change_median"] == 1.25


def test_base_quartile_spread():
    runs = [{"base": _run(b), "change": _run(1.0)} for b in (5, 1, 4, 2, 3)]
    assert measure.summarize(runs, ["q"])["q"]["base_quartile_spread"] == 2.0
    assert measure.quartile_spread([7.0]) == 0.0


def test_hash_mismatch_exits_nonzero():
    same = [{"base": _run(1.0), "change": _run(1.0)}]
    differ = [{"base": _run(1.0), "change": _run(1.0, "other:1")}]
    assert measure.exit_code(measure.summarize(same, ["q"])) == 0
    summary = measure.summarize(differ, ["q"])
    assert not summary["q"]["hashes_identical"]
    assert measure.exit_code(summary) == 1


@pytest.mark.parametrize("argv", [
    [], ["--passes", "0", "q"], ["--base", ".", "--pairs", "0", "q"],
    ["--conf", "no-equals-sign", "q"]])
def test_bad_arguments_are_rejected(argv):
    with pytest.raises(SystemExit):
        measure.parse_args(argv)


def test_relative_paths_survive_the_worker_directory():
    args = measure.parse_args(["--sf-dir", "sf", "--explain", "out", "q"])
    assert args.sf_dir == os.path.abspath("sf")
    assert args.explain == os.path.abspath("out")


def test_self_ab_smoke_run(sf_small):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, SCRIPT, "--base", ROOT, "--pairs", "1",
         "--passes", "1", "--sf-dir", sf_small, "pricing_summary"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=env, timeout=900)
    assert proc.returncode == 0, proc.stdout
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["pairs"] == 1 and result["first"] == ["base"]
    q = result["queries"]["pricing_summary"]
    assert q["hashes_identical"] and len(q["hash"]) == 1
    assert len(q["base_best"]) == len(q["change_best"]) == 1
    assert q["change_win_frac"] in (0.0, 1.0)
    for side in ("base_stats", "change_stats"):
        assert q[side]["jobs"] >= 1 and q[side]["input_records"] > 0
