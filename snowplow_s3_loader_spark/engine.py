"""User-facing engine entry point — the `engine.sql()` / DataFrame surface
over the synthetic tables (SURVEY.md SS7.7).

A user of the reference gets a streaming loader; a user of this engine
additionally gets the full Spark SQL surface over their data:

    eng = Engine.at(spark, sf_dir)  # a directory of <table>.parquet files
    eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1")
    eng.table("events").groupBy("event_type").count()

Everything else is a plain function over DataFrames: import it from its
module (`operators.parse.classify`, `operators.profile.*`, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from snowplow_s3_loader_spark.session import tune_session
from snowplow_s3_loader_spark.tables import register_tables


class Engine:
    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = tables

    @classmethod
    def at(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        tune_session(spark)
        return cls(spark, register_tables(spark, sf_dir))

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.tables[name]
