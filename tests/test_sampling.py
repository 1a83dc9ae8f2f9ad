"""The default run's sampling of the registry-wide sweeps (conftest.py)
must still reach every registered query through at least one sweep, so a
query added to the registry cannot fall between the residues unnoticed."""

from __future__ import annotations

import os
from types import SimpleNamespace

from nyc_taxi_lakehouse_spark.registry import all_queries

from . import conftest, test_determinism, test_oracle_parity, test_plan_lint


def _params(fn) -> list[str]:
    (mark,) = [m for m in fn.pytestmark if m.name == "parametrize"]
    return list(mark.args[1])


def test_default_sweeps_reach_every_query():
    reached: set[str] = set()
    for mod in (test_oracle_parity, test_plan_lint, test_determinism):
        fname = os.path.basename(mod.__file__)
        for f, base in conftest._SAMPLED:
            if f != fname:
                continue
            for param in _params(getattr(mod, base)):
                if conftest.sampled_in(f, base, param):
                    reached.add(param)
    missing = sorted(set(all_queries()) - reached)
    assert not missing, f"no default-run sweep reaches {missing}"


def test_named_node_ids_are_not_sampled():
    """A sampled-out test named by node ID runs; under a plain ``tests/``
    run it is deselected."""
    base = "test_query_parity"
    param = next(p for p in _params(test_oracle_parity.test_query_parity)
                 if not conftest.sampled_in("test_oracle_parity.py", base, p))
    path = os.path.join(os.path.dirname(__file__), "test_oracle_parity.py")

    def collect(*args):
        items = [SimpleNamespace(fspath=path, name=f"{base}[{param}]")]
        config = SimpleNamespace(
            invocation_params=SimpleNamespace(args=args),
            hook=SimpleNamespace(pytest_deselected=lambda items: None),
        )
        conftest.pytest_collection_modifyitems(config, items)
        return len(items)

    assert collect(f"tests/test_oracle_parity.py::{base}[{param}]") == 1
    if not conftest.FULL_TESTS:
        assert collect("tests/") == 0
