"""The bench harness and the scaling ladders time registry queries by name;
a renamed or deleted query must fail here, not an hour into a bench run.
No Spark session: the lists and the registry are plain Python."""

import importlib.util
import os

import bench
from changegen_spark.queries import all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ladders():
    spec = importlib.util.spec_from_file_location(
        "ladders", os.path.join(REPO, "tools", "ladders.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_harness_lists_name_registry_queries():
    ladders = _ladders()
    registry = set(all_queries())
    lists = {
        "bench.HEADLINE": bench.HEADLINE,
        "bench.SF1_QUERIES": bench.SF1_QUERIES,
        "bench.BUDGETS": list(bench.BUDGETS),
        "ladders.SF_LADDER_QUERIES": ladders.SF_LADDER_QUERIES,
        "ladders.SCALEUP_QUERIES": ladders.SCALEUP_QUERIES,
    }
    missing = {k: [n for n in v if n not in registry] for k, v in lists.items()}
    assert not any(missing.values()), missing
    assert set(bench.BUDGETS) <= set(bench.HEADLINE), set(bench.BUDGETS) - set(
        bench.HEADLINE
    )
