"""Plan introspection helpers (scale-contract checks)."""

from piper_spark.plans.explain import (  # noqa: F401
    executed_plan,
    plan_flags,
)
