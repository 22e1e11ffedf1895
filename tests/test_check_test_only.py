"""Pre-snapshot gate 10 (tools/check_test_only.py) on a tiny tree: it
reports every package name the program does not reach, follows import
aliases, does not count an outside module's attribute as a reach, and
rejects stale allowlist entries; its parameter pass reports every
defaulted parameter no program call binds (a test's binding does not
count), counts every way the program can bind one, exempts
allowlisted reference code and parameters, rejects stale
parameter-allowlist entries, and on a clean tree prints the number of
defaulted parameters."""

from __future__ import annotations

import importlib.util
import textwrap
from pathlib import Path

import pytest

GATE = Path(__file__).resolve().parents[1] / "tools" / "check_test_only.py"

TREE = {
    "bench.py": """
        import pandas as pd

        from mcm_problem_f_data_wrangling_spark.mod import (
            alias_kw,
            as_value,
            by_position,
            never_bound,
            splatted,
            test_only_kw,
            used,
        )

        kw = {"opt": 2}
        print(used(), pd.shadowed, test_only_kw(0), alias_kw(0), by_position(0, 2))
        print(never_bound(0))
        print(splatted(0, **kw), list(map(as_value, [0])))
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


        def test_only_kw(x, opt=1):
            return x


        def never_bound(x, opt=1):
            return x


        def in_query(x, *, opt=1):
            return x


        def alias_kw(x, opt=1):
            return x


        def by_position(x, opt=1):
            return x


        def splatted(x, opt=1):
            return x


        def as_value(x, opt=1):
            return x


        def reference(x, opt=1):
            return x
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
            from .mod import alias_kw as _ak
            from .mod import aliased as _al
            from .mod import in_query

            return _al() + in_query(0, opt=2) + _ak(0, opt=2)
    """,
    "tests/__init__.py": "",
    "tests/test_mod.py": """
        from mcm_problem_f_data_wrangling_spark import mod
        from mcm_problem_f_data_wrangling_spark.mod import only_tests
        from mcm_problem_f_data_wrangling_spark.sub import reexported


        def test_it():
            assert only_tests() == 2 and reexported() == 5


        def test_options():
            assert mod.alias_kw(0, opt=3) == mod.test_only_kw(0, opt=3) == 0
            assert mod.in_query(0, opt=3) == 0
            assert mod.by_position(0, opt=3) == mod.splatted(0, opt=3) == 0
            assert mod.as_value(0, opt=3) == mod.reference(0, opt=3) == 0
    """,
}


@pytest.fixture
def gate_run(tmp_path, monkeypatch, capsys):
    """Write ``tree`` (default ``TREE``) under ``tmp_path``, run the
    gate's ``main()`` there with the given allowlists; returns (exit
    code, stdout)."""

    def run(allowlist=frozenset(), param_allowlist=frozenset(), tree=TREE) -> tuple[int, str]:
        for rel, src in tree.items():
            path = tmp_path / rel
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(textwrap.dedent(src).lstrip())
        spec = importlib.util.spec_from_file_location("check_test_only", GATE)
        gate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gate)
        monkeypatch.setattr(gate, "ALLOWLIST", set(allowlist))
        monkeypatch.setattr(gate, "PARAM_ALLOWLIST", set(param_allowlist))
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


def _unbound_params(out: str) -> set[str]:
    """``function.parameter`` for each parameter reported as unbound."""
    return {
        line.split(": ")[1].split("(")[0] + "." + line.split("(")[1].split("=)")[0]
        for line in out.splitlines()
        if "is bound by no program call" in line
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


def test_default_no_call_binds_is_reported(gate_run):
    rc, out = gate_run()
    assert rc == 1
    assert "never_bound.opt" in _unbound_params(out)


def test_keyword_only_tests_bind_is_reported(gate_run):
    rc, out = gate_run()
    assert rc == 1
    assert "test_only_kw.opt" in _unbound_params(out)


def test_allowlisted_unbound_parameter_passes(gate_run):
    _, out = gate_run(param_allowlist={"never_bound.opt"})
    assert "never_bound.opt" not in _unbound_params(out)
    assert "'never_bound.opt'" not in out


def test_keyword_bound_in_query_body_passes(gate_run):
    _, out = gate_run()
    assert "in_query.opt" not in _unbound_params(out)


def test_keyword_bound_through_import_alias_passes(gate_run):
    _, out = gate_run()
    assert "alias_kw.opt" not in _unbound_params(out)


def test_positional_binding_passes(gate_run):
    _, out = gate_run()
    assert "by_position.opt" not in _unbound_params(out)


def test_kwargs_pass_through_binds_every_parameter(gate_run):
    _, out = gate_run()
    assert "splatted.opt" not in _unbound_params(out)


def test_function_passed_as_value_binds_every_parameter(gate_run):
    _, out = gate_run()
    assert "as_value.opt" not in _unbound_params(out)


def test_parameter_of_allowlisted_reference_is_exempt(gate_run):
    _, out = gate_run({"reference"})
    assert "reference" not in _reported(out)
    assert "reference.opt" not in _unbound_params(out)


def test_stale_param_allowlist_entry_is_reported(gate_run):
    rc, out = gate_run(param_allowlist={"in_query.opt", "nowhere.opt", "test_only_kw.opt"})
    assert rc == 1
    assert "PARAM_ALLOWLIST entry 'in_query.opt' is bound by the program" in out
    assert "PARAM_ALLOWLIST entry 'nowhere.opt'" in out
    # an entry no program call binds is neither reported nor stale
    assert "test_only_kw.opt" not in _unbound_params(out)
    assert "'test_only_kw.opt'" not in out


def test_clean_tree_prints_the_defaulted_parameter_count(gate_run):
    tree = {
        "bench.py": """
            from mcm_problem_f_data_wrangling_spark.mod import f

            print(f(0), f(0, opt=2))
        """,
        "mcm_problem_f_data_wrangling_spark/__init__.py": "",
        "mcm_problem_f_data_wrangling_spark/mod.py": """
            def f(x, opt=1):
                return x
        """,
    }
    rc, out = gate_run(tree=tree)
    assert rc == 0
    assert "(1 defaulted parameters over the reached functions)" in out
