"""PySpark-native analytics engine with the capabilities of the
reference Flink project ``agoclover/flink-project-UserBehaviorAnalysis``.

Brand-new Spark-first design (DataFrame / SQL / Catalyst / Structured
Streaming) — NOT a port of the reference's DataStream code. See
SURVEY.md for the capability inventory this package implements.

Layout:
    session.py    SparkSession builder tuned for the testdata + scale posture,
                  and the session artifact store (memos + scratch dirs)
    io.py         table loading / event-time normalization
    operators/    batch implementations of every SURVEY §2 capability
                  (+ §2.10 LLM-pipeline: text, similarity, multimodal)
    streaming/    micro-batch replay, watermarked windowed aggs,
                  applyInPandasWithState stateful processors
    sources/      CSV / Kafka / rate-generator connectors (§2.1)
    functions/    reusable column-expression helpers
"""

from flink_project_userbehavioranalysis_spark.session import get_spark
from flink_project_userbehavioranalysis_spark.io import load_table, load_events, TABLES

__all__ = ["get_spark", "load_table", "load_events", "TABLES"]
