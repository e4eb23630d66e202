from zparse_spark.operators.rules import (  # noqa: F401
    span_rule_violations,
    uniqueness_violations,
    referential_violations,
    drift_violations,
)
from zparse_spark.operators.canonical import canonicalize_spans, span_fingerprint  # noqa: F401
