from billing_etl_v1_spark.sources.readers import TPCH_TABLES, register_views

__all__ = ["TPCH_TABLES", "register_views"]
