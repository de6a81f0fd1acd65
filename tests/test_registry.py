"""Registry consistency: every name the driver contract, the bench and the
plan-shape budgets refer to is one registered query with one oracle."""

import bench
import __spark_entry__ as entrymod
from .test_plan_shapes import EXCHANGE_BUDGET


def test_queries_and_oracles_share_names():
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_bench_and_budget_names_are_registered():
    registered = set(entrymod.queries())
    assert not set(bench.HEADLINE) - registered
    assert not set(EXCHANGE_BUDGET) - registered
