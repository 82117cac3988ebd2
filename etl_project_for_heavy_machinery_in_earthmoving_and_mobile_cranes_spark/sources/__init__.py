from .readers import (  # noqa: F401
    read_csv,
    read_jsonl,
    read_orc,
    read_parquet,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
)
