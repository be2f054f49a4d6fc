from data_pipeline_for_e_commerce_shop_spark.functions.scalars import (  # noqa: F401
    money_sum,
    ratio,
    event_date,
)
