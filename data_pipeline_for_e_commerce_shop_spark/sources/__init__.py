from data_pipeline_for_e_commerce_shop_spark.sources.readers import (  # noqa: F401
    read_csv_entity,
)
from data_pipeline_for_e_commerce_shop_spark.sources.sinks import (  # noqa: F401
    write_partitioned,
    write_quarantine,
)
