from speech_data_pipeline_spark.plans.incremental import (  # noqa: F401
    pending,
    pending_keys,
    run_incremental_stage,
    stage_counters,
)
