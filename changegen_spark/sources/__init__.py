from changegen_spark.sources.tables import TABLES, load_table, load_tables

__all__ = ["TABLES", "load_table", "load_tables"]
