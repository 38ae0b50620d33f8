from openseize_spark.sources.tables import TABLES
