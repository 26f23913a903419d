"""speech_data_pipeline_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline (SSRon/speech_data_pipeline,
surveyed in SURVEY.md): segment/interval algebra, sessionization,
sweep-line overlap flattening, incremental anti-join processing, ML
inference UDF surfaces — plus the large-scale training-data operators a
100 TB corpus pipeline needs (dedup, similarity search, text
analysis) and pure-NumPy audio decode.

Design stance (SURVEY.md §7):
- DataFrame/SQL declarative plans; Catalyst owns physical strategy.
- Segment tables are first-class: ``(audio_id string, start double,
  end double, ...)``, partitioned by ``audio_id``, sorted by ``start``.
- Per-file sequential kernels live ONLY inside ``applyInPandas`` grouped
  by the partition key — never driver-side loops.
- UDFs are the slow path: built-in functions first, Arrow-batched
  pandas UDFs when unavoidable, row-at-a-time Python never.
"""

__version__ = "0.1.0"

from speech_data_pipeline_spark.session import get_spark  # noqa: F401
