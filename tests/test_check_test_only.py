"""Pre-snapshot gate 10 (tools/check_test_only.py) on a tiny tree: it
reports every package name the program does not reach, follows import
aliases, does not count an outside module's attribute as a reach, and
rejects stale allowlist entries."""

from __future__ import annotations

import importlib.util
import textwrap
from pathlib import Path

import pytest

GATE = Path(__file__).resolve().parents[1] / "tools" / "check_test_only.py"

TREE = {
    "bench.py": """
        import pandas as pd

        from mcm_problem_f_data_wrangling_spark.mod import used

        print(used(), pd.shadowed)
    """,
    "mcm_problem_f_data_wrangling_spark/__init__.py": "",
    "mcm_problem_f_data_wrangling_spark/mod.py": """
        def used():
            return 1


        def helper():
            return 2


        def only_tests():
            return helper()


        def orphan():
            return 3


        def aliased():
            return 4


        def shadowed():
            return 6
    """,
    "mcm_problem_f_data_wrangling_spark/sub/__init__.py": """
        from .impl import reexported  # noqa: F401
    """,
    "mcm_problem_f_data_wrangling_spark/sub/impl.py": """
        def reexported():
            return 5
    """,
    "mcm_problem_f_data_wrangling_spark/plans.py": """
        def query(fn):
            return fn


        @query
        def q01(spark, sf_dir):
            from .mod import aliased as _al

            return _al()
    """,
    "tests/__init__.py": "",
    "tests/test_mod.py": """
        from mcm_problem_f_data_wrangling_spark.mod import only_tests
        from mcm_problem_f_data_wrangling_spark.sub import reexported


        def test_it():
            assert only_tests() == 2 and reexported() == 5
    """,
}


@pytest.fixture
def gate_run(tmp_path, monkeypatch, capsys):
    """Write ``TREE`` under ``tmp_path``, run the gate's ``main()`` there
    with the given allowlist; returns (exit code, stdout)."""

    def run(allowlist=frozenset()) -> tuple[int, str]:
        for rel, src in TREE.items():
            path = tmp_path / rel
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(textwrap.dedent(src).lstrip())
        spec = importlib.util.spec_from_file_location("check_test_only", GATE)
        gate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gate)
        monkeypatch.setattr(gate, "ALLOWLIST", set(allowlist))
        monkeypatch.chdir(tmp_path)
        rc = gate.main()
        return rc, capsys.readouterr().out

    return run


def _reported(out: str) -> set[str]:
    return {
        line.split(": ")[1].split(" is not reached")[0]
        for line in out.splitlines()
        if "is not reached by the program" in line
    }


def test_helper_of_test_only_function_is_reported(gate_run):
    rc, out = gate_run()
    assert rc == 1
    assert {"only_tests", "helper"} <= _reported(out)
    assert "used" not in _reported(out)


def test_name_only_an_init_reexports_is_reported(gate_run):
    _, out = gate_run()
    assert "reexported" in _reported(out)


def test_name_with_no_reference_is_reported(gate_run):
    _, out = gate_run()
    assert "orphan" in _reported(out)


def test_attribute_of_outside_module_is_not_a_reach(gate_run):
    _, out = gate_run()
    assert "shadowed" in _reported(out)


def test_import_alias_in_query_body_keeps_name_live(gate_run):
    _, out = gate_run()
    reported = _reported(out)
    assert "aliased" not in reported
    assert "q01" not in reported and "query" not in reported


def test_stale_allowlist_entry_is_reported(gate_run):
    rc, out = gate_run({"used", "no_such_name", "orphan"})
    assert rc == 1
    assert "ALLOWLIST entry 'used' is reached without the allowlist" in out
    assert "ALLOWLIST entry 'no_such_name' is not defined" in out
    # an entry the program does not reach is neither reported nor stale
    assert "orphan" not in _reported(out) and "orphan'" not in out
