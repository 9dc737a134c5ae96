from mini_feature_store_spark.io.sources import (  # noqa: F401
    read_csv,
    read_json,
    read_parquet,
    read_table,
    load_testdata,
)
from mini_feature_store_spark.io.sinks import (  # noqa: F401
    insert_overwrite_table,
    write_csv,
    write_json,
    write_parquet,
)
