"""Tests for the local oracle compare: python3 -m pytest tools"""
import importlib.util
import json
import os
import subprocess
import sys

import duckdb
import pytest

# Loaded under its own module name: perfbench/check.py is also `check`,
# and one pytest run over both directories must not hand either test
# module the other's.
_spec = importlib.util.spec_from_file_location(
    "tools_check", os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py"))
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)

SF = "/root/testdata/sf0.001"
SELECT = "SELECT r_regionkey, r_name FROM {region} ORDER BY 1"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason=f"fixture dir {SF} missing")


def dump(out, select=None):
    """A Verify-style out dir holding one query `q` with the oracle SELECT
    over `region`, and unless `select` is None its dump: `select` run by
    DuckDB over the same table."""
    out.mkdir(exist_ok=True)
    (out / "oracle_sql.json").write_text(json.dumps({"q": SELECT.format(region="region")}))
    if select is not None:
        (out / "q").mkdir()
        rel = select.format(region=f"read_parquet('{SF}/region.parquet')")
        duckdb.connect().execute(f"COPY ({rel}) TO '{out}/q/part-0.parquet' (FORMAT PARQUET)")
    return str(out)


def status_of(out):
    return [line.split()[1] for line in out.splitlines() if line.split()[:1] == ["q"]]


def test_untouched_dump_is_ok(tmp_path, capsys):
    assert check.main(SF, dump(tmp_path, SELECT)) == 0
    out = capsys.readouterr().out
    assert "== 1 OK, 0 rows-only, 0 problems ==" in out
    assert status_of(out) == []


@pytest.mark.parametrize("select, status", [
    ("SELECT r_regionkey, if(r_regionkey = 2, 'X', r_name) AS r_name FROM {region} ORDER BY 1",
     "VALUES"),
    ("SELECT r_regionkey, r_name FROM {region} WHERE r_regionkey > 0 ORDER BY 1", "ROWCOUNT"),
    ("SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM {region} ORDER BY 1",
     "TYPES_ONLY"),
    ("SELECT r_regionkey, r_name AS name FROM {region} ORDER BY 1", "COLS"),
    (None, "MISSING_DUMP"),
])
def test_planted_defect_is_a_problem(tmp_path, capsys, select, status):
    assert check.main(SF, dump(tmp_path, select)) == 1
    out = capsys.readouterr().out
    assert "== 0 OK, 0 rows-only, 1 problems ==" in out
    assert status_of(out) == [status]


def test_exit_status_gates_on_problems(tmp_path):
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")
    def code(out):
        return subprocess.run([sys.executable, script, SF, out], capture_output=True).returncode
    assert code(dump(tmp_path / "ok", SELECT)) == 0
    assert code(dump(tmp_path / "missing")) == 1
