from thisishappening_spark.sources.tables import load_table

__all__ = ["load_table"]
