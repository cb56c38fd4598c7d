"""Tests for the per-query bench drift gate: python3 -m pytest tools"""
import json
import math

import bench_drift


def run(tmp_path, prev, now, *flags):
    paths = []
    for name, queries in (("prev", prev), ("now", now)):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({"queries": queries}))
        paths.append(str(p))
    return bench_drift.main(paths + list(flags))


def test_zero_prev_above_floor_is_flagged(tmp_path, capsys):
    assert run(tmp_path, {"q": 0.0}, {"q": 0.9}) == 1
    assert "DRIFT: q: 0.000s -> 0.900s (infx)" in capsys.readouterr().out


def test_zero_prev_below_floor_is_ignored(tmp_path, capsys):
    assert run(tmp_path, {"q": 0.0, "z": 0.0}, {"q": 0.2, "z": 0.0}) == 0
    out = capsys.readouterr().out
    assert "sub-floor, ignored: q" in out
    assert "ignored: z" not in out


def test_zero_prev_touched_is_explained(tmp_path, capsys):
    assert run(tmp_path, {"q": 0.0}, {"q": 0.9}, "--touched", "q") == 0
    assert "touched (explained): q" in capsys.readouterr().out


def test_geomean_divides_by_summed_terms(tmp_path, capsys):
    # q0 has no log term (prev 0 s); the mean is over a and b only
    prev = {"a": 1.0, "b": 1.0, "q0": 0.0}
    now = {"a": 1.2, "b": 1.2, "q0": 0.1}
    assert run(tmp_path, prev, now) == 0
    out = capsys.readouterr().out
    assert f"geomean now/prev={math.exp(math.log(1.2)):.3f}" in out
    assert "common=3" in out
