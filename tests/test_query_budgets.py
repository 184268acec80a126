"""Per-query plan budgets: every ``queries()`` entry at sf0.001 against
``tests/plan_budgets.json``.

Each row holds three exact values for one query:

- ``exchanges``: the shuffle exchanges the returned frame's executed plan
  runs (``planinfo.executed_exchange_count``), taken before it runs;
- ``python``: whether that plan has a Python stage
  (``planinfo.plan_has_python_stage``);
- ``jobs``: the Spark jobs that building the frame and one ``count()`` run.

A change that lowers a value updates its row; one that raises a value
shows that the trade pays (an interleaved ``scripts/ab_regression.py``
A/B). On a mismatch the failure prints the measured row, ready to paste.
"""

import json
import os

import pytest

import __spark_entry__ as entrymod
from bluegraph_spark.plans.planinfo import (
    executed_exchange_count,
    plan_has_python_stage,
)
from tests.graph_fixtures import _jobs_run_by

SF_DIR = "/root/testdata/sf0.001"
BUDGETS = os.path.join(os.path.dirname(__file__), "plan_budgets.json")
QUERIES = entrymod.queries()

with open(BUDGETS) as f:
    TABLE = json.load(f)


def measure(spark, name):
    """The budget row that ``queries()[name]`` measures at sf0.001."""

    def build_and_count():
        df = QUERIES[name](spark, SF_DIR)
        row = {
            "exchanges": executed_exchange_count(df),
            "python": plan_has_python_stage(df),
        }
        df.count()
        return row

    row, jobs = _jobs_run_by(spark, build_and_count)
    return {**row, "jobs": jobs}


def test_table_names_every_query():
    # names missing from the table or no longer in queries()
    assert sorted(set(TABLE) ^ set(QUERIES)) == []


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} absent")
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_plan_budget(spark, name):
    got = measure(spark, name)
    assert got == TABLE.get(name), f'measured row: "{name}": {json.dumps(got)}'
