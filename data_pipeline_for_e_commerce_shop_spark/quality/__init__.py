from data_pipeline_for_e_commerce_shop_spark.quality.gates import (  # noqa: F401
    DataValidationError,
    null_violation_counts,
    ri_violations,
)
