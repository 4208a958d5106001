from posting_lines_spark.sources.tables import (
    TABLES,
    load_csv,
    load_jdbc,
    load_jsonl,
    load_orc,
    load_table,
    read_parquet,
    register_views,
    stream_schema,
    write_jdbc,
    write_jsonl,
    write_orc,
)

__all__ = [
    "TABLES",
    "load_csv",
    "load_jdbc",
    "load_jsonl",
    "load_orc",
    "load_table",
    "read_parquet",
    "register_views",
    "stream_schema",
    "write_jdbc",
    "write_jsonl",
    "write_orc",
]
