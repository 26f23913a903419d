from speech_data_pipeline_spark.sources.catalog import (  # noqa: F401
    TABLES,
    derived_intervals,
    load_table,
)
