from modevetl_spark.sources.catalog import TABLES, load

__all__ = ["TABLES", "load"]
