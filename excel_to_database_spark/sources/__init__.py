from excel_to_database_spark.sources.csv_sniff import sniff_delimiter
from excel_to_database_spark.sources.csv_source import matrix_to_df, read_csv_path, read_csv_text
from excel_to_database_spark.sources.excel_source import read_excel
from excel_to_database_spark.sources.jdbc_source import read_jdbc_table
from excel_to_database_spark.sources.payload import load_workbook_payload
from excel_to_database_spark.sources.xlsx_datasource import XlsxDataSource

__all__ = [
    "sniff_delimiter",
    "read_csv_text",
    "read_csv_path",
    "read_excel",
    "read_jdbc_table",
    "XlsxDataSource",
    "load_workbook_payload",
    "matrix_to_df",
]
