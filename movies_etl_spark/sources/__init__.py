from movies_etl_spark.sources.readers import (  # noqa: F401
    TPCH_TABLES,
    load_table,
    read_csv,
    read_json_records,
)
from movies_etl_spark.sources.sinks import (  # noqa: F401
    write_jdbc,
    write_parquet,
    write_parquet_then_append,
)
