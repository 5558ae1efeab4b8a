from .readers import TESTDATA_TABLES, load_table, read_csv_dim

__all__ = [
    "TESTDATA_TABLES",
    "load_table",
    "read_csv_dim",
]
