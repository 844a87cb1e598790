"""Physical-plan assertions shared by the test modules."""


def plan_has_shuffle(df) -> bool:
    """True if the physical plan repartitions data across the cluster.
    Broadcast exchanges don't count — they replicate a small side, which is
    the cheap kind; the scale hazard is `Exchange hashpartitioning`."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan
