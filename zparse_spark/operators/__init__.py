from zparse_spark.operators.rules import (  # noqa: F401
    span_rule_violations,
    uniqueness_violations,
    referential_violations,
    drift_violations,
)
