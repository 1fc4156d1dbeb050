"""Engine operators.

Reference-parity (SURVEY.md §2.1): sessionize (Q1a-d, F1), session_stats
(Q2a-d), departments (Q3a-d).

Beyond-reference (SURVEY.md §7.0 north star): dedup, similarity, text,
multimodal.
"""

from flink_clickstream_processor_msk_spark.operators.sessionize import (
    buy_sessions_plan,
    sessionize,
)
from flink_clickstream_processor_msk_spark.operators.session_stats import (
    session_stats_plan,
)
from flink_clickstream_processor_msk_spark.operators.departments import (
    department_counts_plan,
)

__all__ = [
    "sessionize",
    "buy_sessions_plan",
    "session_stats_plan",
    "department_counts_plan",
]
