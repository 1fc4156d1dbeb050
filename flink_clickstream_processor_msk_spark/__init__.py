"""PySpark-native clickstream analytics engine.

A brand-new engine with the query surface of
``aws-samples/flink-clickstream-processor-msk`` (a Flink 1.8 DataStream job,
see /root/reference), re-expressed Spark-first:

- DataFrame / Catalyst for every operator (batch AND streaming share the
  same expressions),
- Structured Streaming (``session_window`` + chained tumbling windows) for
  the streaming pipeline,
- beyond-reference operators for large-scale training-data pipelines
  (dedup, similarity search, text analysis, multimodal columns).

Reference parity map (file:line cites into /root/reference):

- Q1 per-user session windows  -> operators.sessionize
  (ClickstreamProcessor.java:127-130)
- F1 buy-session filter        -> operators.sessionize.buy_sessions_plan
  (ClickstreamProcessor.java:133-134)
- Q2 global 10s tumbling stats -> operators.session_stats
  (ClickstreamProcessor.java:141-144)
- Q3 per-department 10s counts -> operators.departments
  (ClickstreamProcessor.java:149-154)
- sources/sinks                -> sources/, streaming/sinks.py
  (ClickstreamProcessor.java:101-119, 208-268)
"""

from flink_clickstream_processor_msk_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
