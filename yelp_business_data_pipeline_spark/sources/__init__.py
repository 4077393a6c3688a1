from .layout import grid_surrogate, quantile_grid_surrogate, zorder_key
from .readers import load_testdata, read_json_lines
from .warc import (
    WARC_RECORD_SCHEMA,
    gunzip_members,
    parse_warc_bytes,
    read_warc_records,
    write_warc_bytes,
)
from .writers import (
    compact_parquet,
    export_csv,
    merge_upsert,
    shard_assignment,
    shard_manifest,
    write_training_shards,
    write_append_idempotent,
    write_overwrite,
)

__all__ = [
    "grid_surrogate",
    "quantile_grid_surrogate",
    "zorder_key",
    "load_testdata",
    "read_json_lines",
    "WARC_RECORD_SCHEMA",
    "gunzip_members",
    "parse_warc_bytes",
    "read_warc_records",
    "write_warc_bytes",
    "compact_parquet",
    "export_csv",
    "merge_upsert",
    "shard_assignment",
    "shard_manifest",
    "write_training_shards",
    "write_append_idempotent",
    "write_overwrite",
]
