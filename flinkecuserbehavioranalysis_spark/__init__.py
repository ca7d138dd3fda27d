"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference ``BigDataScholar/FlinkECUserBehaviorAnalysis``
(17 Flink DataStream jobs — see SURVEY.md), re-expressed Spark-first:

- batch semantics on the DataFrame/SQL API (Catalyst plans everything);
- streaming twins on Structured Streaming (watermarks + windowed aggs +
  ``applyInPandasWithState`` for the stateful/timer operators);
- large-scale training-data-pipeline extensions (dedup, similarity
  search, text analysis, multimodal plumbing) as first-class operators.

Nothing here is a port of the reference's execution model: the reference
hand-schedules keyed single-threaded dataflows; we declare logical plans
and let Catalyst/Tungsten/AQE pick physical strategy (see SURVEY.md §4).
"""

__version__ = "0.1.0"
