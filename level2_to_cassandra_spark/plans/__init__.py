"""Physical-plan inspection utilities.

The engine's scale guarantees are properties of the PLAN (pushdown,
pruning, broadcast choice, no row-Python); these helpers make them
assertable — used by tests/test_plans.py and handy interactively:

    from level2_to_cassandra_spark.plans import plan_of, plan_report
    print(plan_report(df))

What a plan cost when it ran is read from the Spark event log by
``plans.profile.read_event_log``.
"""

from level2_to_cassandra_spark.plans.inspect import (  # noqa: F401
    plan_of,
    plan_report,
)

__all__ = ["plan_of", "plan_report"]
