from pyspark_data_engineering_assignment_spark.state.jdbc_store import JdbcStateStore
from pyspark_data_engineering_assignment_spark.state.store import ParquetStateStore, StateStore

__all__ = ["ParquetStateStore", "StateStore", "JdbcStateStore"]
