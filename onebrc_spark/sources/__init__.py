"""Sources & sinks (SURVEY §2.1)."""

from onebrc_spark.sources.catalog import load_table, register_views
from onebrc_spark.sources.onebrc import read_measurements, write_measurements
from onebrc_spark.sources.generator import generate_measurements

__all__ = [
    "load_table",
    "register_views",
    "read_measurements",
    "write_measurements",
    "generate_measurements",
]
