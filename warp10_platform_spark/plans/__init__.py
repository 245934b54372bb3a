from warp10_platform_spark.plans.audit import (  # noqa: F401
    explain_formatted,
    plan_bytes,
    plan_report,
)
