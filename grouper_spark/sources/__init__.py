from .catalog import TABLES, sf_tag, staged_path, table
from .sinks import read_any, write_bucketed, write_partitioned

__all__ = [
    "TABLES",
    "table",
    "sf_tag",
    "staged_path",
    "read_any",
    "write_partitioned",
    "write_bucketed",
]
