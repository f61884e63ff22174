"""Per-change benchmark of the excel_to_database_spark engine (see README.md)."""
