from healthcare_etl_spark.sources.readers import (
    TABLE_NAMES,
    MissingInputError,
    load_table,
    local_frame,
    spread,
    spread_count,
    read_csv,
    read_jdbc,
)
from healthcare_etl_spark.sources.config import jdbc_config_from_env
from healthcare_etl_spark.sources.retry import (
    read_jdbc_with_retry,
    with_retry,
    write_jdbc_with_retry,
)
from healthcare_etl_spark.sources.synthetic import (
    SyntheticDocsDataSource,
    register_synthetic_source,
)
from healthcare_etl_spark.sources.writers import materialize, write_jdbc, write_table

__all__ = [
    "TABLE_NAMES",
    "MissingInputError",
    "SyntheticDocsDataSource",
    "jdbc_config_from_env",
    "load_table",
    "local_frame",
    "spread",
    "spread_count",
    "materialize",
    "read_csv",
    "read_jdbc",
    "read_jdbc_with_retry",
    "register_synthetic_source",
    "with_retry",
    "write_table",
    "write_jdbc",
    "write_jdbc_with_retry",
]
